"""Document/text-pipeline queries (SURVEY.md §2.11 extensions): exact and
fuzzy dedup, text quality/stats, language-ID, fingerprints — over the
``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import (
    fixed_sum,
    fixed_sum_sql,
    fixed_term,
    fixed_term_sql,
    fixed_unscale,
    fixed_unscale_sql,
    unit_rand_sql,
)
from ..functions.text import (
    fold_case,
    fold_case_sql,
    tokens,
    tokens_sql,
    ws_normalize,
    ws_normalize_sql,
)
from ..operators.clusters import connected_components, connected_components_sql
from ..operators.neardup import (
    band_key,
    band_key_sql,
    hamming16_sql,
    jaccard,
    jaccard_sql,
    minhash_signature_sql,
    simhash_bits,
    simhash_bits_sql,
    word_shingles,
    word_shingles_sql,
)
from ..operators.textops import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    fingerprint,
    fingerprint_sql,
    predict_lang,
    quality_score,
    quality_score_sql,
    token_stats,
)
from ..session import pin
from . import register
from .common import T


def _token_arrays(d: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus the folded token array ``t``, pinned: the
    fold+regex tokenize is the expensive codegen stage since the
    WS_CLASS/fold_case contracts, and every caller reads the arrays
    more than once (measured 2.5x at sf0.1 unpinned, r11). The arrays
    are ~text-sized and replaying an explode over them is cheap."""
    return pin(d.select(*keep, tokens(fold_case(F.col("text"))).alias("t")))


# --------------------------------------------------------------------------
# Exact dedup: md5 of normalized text, lowest doc_id wins.
# --------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         md5({ws_normalize_sql('text')}) AS content_key
  FROM documents),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY content_key ORDER BY doc_id) rn,
            COUNT(*) OVER (PARTITION BY content_key) grp_n
  FROM keyed)
SELECT lang,
       COUNT(*) AS n_unique,
       CAST(SUM(grp_n - 1) AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
GROUP BY lang
"""


@register("exact_dedup_docs", oracle=_EXACT_DEDUP_ORACLE, tags=("dedup-exact", "D1"))
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup (hash-groupBy): survivors + dropped counts per
    lang. One shuffle on a uniform 128-bit key at any scale."""
    d = T(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        F.md5(ws_normalize(F.col("text"))).alias("content_key"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("content_key")
    ranked = keyed.withColumn(
        "rn", F.row_number().over(w.orderBy("doc_id"))
    ).withColumn("grp_n", F.count("*").over(w))
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_unique"),
            F.sum(F.col("grp_n") - 1).cast("bigint").alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (blocked by language).
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.05

_JACCARD_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, {word_shingles_sql('text')} AS sh
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {jaccard_sql('a.sh', 'b.sh')} AS jac
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {jaccard_sql('a.sh', 'b.sh')} >= {_JACCARD_THRESHOLD}
"""


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE, tags=("dedup-jaccard",))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard over same-language pairs, via the inverted
    shingle index (operators.neardup.jaccard_pairs_inverted): |∩| comes
    from a postings self-join + count, never from per-pair array
    intersection, and identical shingle sets collapse to representatives
    before the join — same output as the naive all-pairs oracle, ~60×
    faster at sf0.1, flat under replica stress, and the only shape that
    survives 100 TB."""
    from ..operators.neardup import jaccard_pairs_inverted

    d = T(spark, sf_dir, "documents")
    return jaccard_pairs_inverted(
        d, id_col="doc_id", text_col="text", block_col="lang", threshold=_JACCARD_THRESHOLD
    )


# --------------------------------------------------------------------------
# df-capped Jaccard: boilerplate-shingle pruning (drop shingles present in
# more than DF_CAP docs of a language block) before the pair comparison.
# --------------------------------------------------------------------------

_DF_CAP = 4

_JACCARD_PRUNED_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, {word_shingles_sql('text')} AS sh
  FROM documents),
ex AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM d),
freq AS (SELECT lang, shingle, count(*) AS df FROM ex GROUP BY 1, 2),
kept AS (
  SELECT e.doc_id, e.lang, e.shingle
  FROM ex e JOIN freq f ON e.lang = f.lang AND e.shingle = f.shingle
  WHERE f.df <= {_DF_CAP}),
sets AS (
  SELECT doc_id, lang, list(shingle ORDER BY shingle) AS sh
  FROM kept GROUP BY 1, 2)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {jaccard_sql('a.sh', 'b.sh')} AS jac
FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {jaccard_sql('a.sh', 'b.sh')} >= {_JACCARD_THRESHOLD}
"""


@register("ngram_jaccard_pruned", oracle=_JACCARD_PRUNED_ORACLE, tags=("dedup-jaccard",))
def ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs after dropping boilerplate shingles (doc
    frequency > 4 within a language). A shingle shared by millions of
    docs is a quadratic postings bucket with no near-dup signal — capping
    df bounds every bucket, the prerequisite for the postings self-join to
    survive 100 TB. The cap changes semantics (sets shrink), so the oracle
    applies the identical cap."""
    from ..operators.neardup import jaccard_pairs_inverted

    d = T(spark, sf_dir, "documents")
    return jaccard_pairs_inverted(
        d,
        id_col="doc_id",
        text_col="text",
        block_col="lang",
        threshold=_JACCARD_THRESHOLD,
        df_cap=_DF_CAP,
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding: candidate pairs without the quadratic join.
# --------------------------------------------------------------------------

_MH_HASHES = 12
_MH_BANDS = 6  # 2 rows per band → generous candidate recall

# The oracles' band chain: banded AS (SELECT doc_id, {_bands_select} FROM
# sigs) holds one key column per band, and long_bands AS ({_bands_union})
# reads it back as (doc_id, band, bh) rows.
_bands_select = ", ".join(
    f"{band_key_sql('sig', b, _MH_HASHES // _MH_BANDS)} AS bh{b}" for b in range(_MH_BANDS)
)
_bands_union = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, bh{b} AS bh FROM banded" for b in range(_MH_BANDS)
)

_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {word_shingles_sql('text')} AS shingles FROM documents),
sigs AS MATERIALIZED (
  SELECT doc_id, {minhash_signature_sql('shingles', _MH_HASHES)} AS sig, shingles FROM sh),
banded AS (
  SELECT doc_id, {_bands_select} FROM sigs),
long_bands AS ({_bands_union}),
cand AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_bands
  FROM long_bands l JOIN long_bands r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
  GROUP BY 1, 2)
SELECT c.id_a, c.id_b, c.n_bands, {jaccard_sql('sa.shingles', 'sb.shingles')} AS jac
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b
"""


@register("minhash_lsh_candidates", oracle=_MINHASH_ORACLE, tags=("dedup-minhash",))
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) signatures → 6 bands × 2 rows → bucket-join candidates →
    exact Jaccard verification. The LSH plan replaces the all-pairs cross
    join with an equi-join on (band, band_hash) — the 100 TB dedup shape.

    Identical shingle sets collapse to one representative BEFORE the
    signature/banding stage, and the verification Jaccard runs on rep
    pairs only; member pairs are re-expanded at output (identical sets ⇒
    identical signatures ⇒ all bands collide ⇒ n_bands=6, jac=1.0; cross
    pairs inherit their rep pair's values). Output is bit-identical to
    the uncollapsed plan while the banding join scales with DISTINCT
    documents — the stage that would otherwise blow up on a duplicate-
    heavy corpus."""
    from ..operators.neardup import (
        collapse_identical_sets,
        expand_collapsed_pairs,
        minhash_pairs_from_sets,
    )

    d = T(spark, sf_dir, "documents")
    shingled = (
        d.select(F.col("doc_id").alias("id"), F.col("text").alias("__txt"))
        .repartition("id")
        .select("id", word_shingles(F.col("__txt")).alias("sh"))
        # NULL-text docs (NULL shingle set) would collapse into the
        # empty-encoding group and emit within-group jac=1.0 pairs the
        # oracle's NULL jaccard drops; whitespace docs keep their ['']
        # singleton (both engines pair those at jac=1.0).
        .filter(F.size("sh") > 0)
        # r15: a second .repartition("id") sat here (since b400fce) —
        # select/filter preserve the first repartition's hash(id)
        # distribution, so it only re-shuffled the fattest intermediate
        # (the shingle arrays) to the layout they already had, inside the
        # checkpoint materialization of every minhash-family query.
    )
    # r14 (guide §5): groups feeds the banding, BOTH verification-join
    # sides and three expand branches — the before-plan re-ran the
    # scan+shingle+collapse subtree 7 times; the pin computes it once.
    groups = pin(collapse_identical_sets(shingled, id_col="id", set_col="sh"))
    reps = groups.select("id", "sh")
    cand = minhash_pairs_from_sets(reps, num_hashes=_MH_HASHES, bands=_MH_BANDS)
    ver = (
        cand.join(
            reps.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(reps.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b", "n_bands", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jac"))
    )
    return expand_collapsed_pairs(
        ver,
        groups,
        id_col="id",
        within_payload={
            "n_bands": F.lit(_MH_BANDS).cast("bigint"),
            "jac": F.lit(1.0),
        },
    )


# --------------------------------------------------------------------------
# Unigram-LM perplexity-proxy gate (the CCNet-style quality filter): train
# a unigram LM on the corpus itself, score each doc by mean token
# log-probability, gate the worst per-language quartile.
# --------------------------------------------------------------------------

_PPL_KEEP_FRAC = 0.75

# DuckDB twin of ``_unigram_scores``: the CTE list ending in ``scored``
# (doc_id, lang, logprob), its per-lang histogram CDF ``cdf`` (lang,
# logprob, cum) and the per-lang doc count ``n`` (lang, n_docs).
_UNIGRAM_SCORES_ORACLE = f"""toks AS (
  SELECT doc_id, lang, unnest({tokens_sql(fold_case_sql('text'))}) AS token FROM documents),
lm AS (
  SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
tot AS (SELECT lang, SUM(cnt) AS total FROM lm GROUP BY 1),
scored AS (
  SELECT t.doc_id, t.lang,
         round(AVG(ln(CAST(l.cnt AS DOUBLE) / tt.total)), 6) AS logprob
  FROM toks t
  JOIN lm l ON t.lang = l.lang AND t.token = l.token
  JOIN tot tt ON t.lang = tt.lang
  GROUP BY 1, 2),
hist AS (SELECT lang, logprob, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
cdf AS (
  SELECT lang, logprob, SUM(cnt) OVER (PARTITION BY lang ORDER BY logprob) AS cum
  FROM hist),
n AS (SELECT lang, COUNT(*) AS n_docs FROM scored GROUP BY 1)"""

_PPL_ORACLE = f"""
WITH {_UNIGRAM_SCORES_ORACLE},
q1 AS (
  SELECT c.lang, MIN(c.logprob) AS q1
  FROM cdf c JOIN n ON c.lang = n.lang
  WHERE c.cum >= {1 - _PPL_KEEP_FRAC} * n.n_docs
  GROUP BY 1)
SELECT s.doc_id, s.lang, s.logprob, (s.logprob >= q.q1) AS keep
FROM scored s JOIN q1 q ON s.lang = q.lang
"""


def _unigram_scores(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-trained unigram LM score shared by the perplexity gate
    and the CCNet buckets: ``scored`` (doc_id, lang, logprob), the
    per-lang score-value histogram CDF ``cdf`` (lang, logprob, cnt, cum)
    and the per-lang doc count ``n`` (lang, n_docs)."""
    from pyspark.sql import Window

    toks = _token_arrays(T(spark, sf_dir, "documents"), "doc_id", "lang").select(
        "doc_id", "lang", F.explode("t").alias("token")
    )
    # vocabulary-sized LM table, read by the totals and the scoring join
    lm = pin(toks.groupBy("lang", "token").agg(F.count("*").alias("cnt")))
    tot = lm.groupBy("lang").agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(lm, ["lang", "token"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("total"))), 6
            ).alias("logprob")
        )
    )
    hist = scored.groupBy("lang", "logprob").agg(F.count("*").alias("cnt"))
    wcdf = (
        Window.partitionBy("lang")
        .orderBy("logprob")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = hist.withColumn("cum", F.sum("cnt").over(wcdf))
    n = scored.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return scored, cdf, n


@register("unigram_perplexity_gate", oracle=_PPL_ORACLE, tags=("text-analysis", "F4"))
def unigram_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality gate: per-language unigram LM trained on
    the corpus itself (two partial-agg counts), each doc scored by mean
    token log-prob, docs strictly below the per-lang P25 score VALUE gated
    out (ties at the threshold survive). The LM is vocabulary-sized so the
    token join shuffles on token (no forced broadcast); scores
    round(·,6)-stabilize before thresholding.

    The threshold is an EXACT two-pass distributed quantile — CCNet's
    bucket-by-value semantics, no per-doc ranking window: (1) count docs
    per distinct (lang, logprob) value; (2) running-sum that HISTOGRAM to
    a CDF. The only window runs over histogram rows, whose cardinality is
    capped by the 6-dp value grid over the score's range (≈10⁶ rows per
    lang worst case, independent of corpus size) — a dominant language
    contributes its value histogram to the sort, never its doc set. The
    per-lang threshold (one row per lang) then broadcasts into a map-side
    keep flag. tests/test_quantile_deskew.py proves this equal to the
    per-doc cume_dist window form at oracle scale."""
    scored, cdf, n = _unigram_scores(spark, sf_dir)
    # cum is integral, so cum >= 0.25*n ⟺ cum >= ceil(0.25*n): the P25
    # threshold is the smallest score value whose CDF reaches a quarter.
    q1 = (
        cdf.join(F.broadcast(n), "lang")
        .filter(F.col("cum") >= F.lit(1 - _PPL_KEEP_FRAC) * F.col("n_docs"))
        .groupBy("lang")
        .agg(F.min("logprob").alias("q1"))
    )
    return scored.join(F.broadcast(q1), "lang").select(
        "doc_id",
        "lang",
        "logprob",
        (F.col("logprob") >= F.col("q1")).alias("keep"),
    )


# --------------------------------------------------------------------------
# Exact substring duplication (Lee et al. 2021 "Deduplicating Training
# Data..."): doc pairs sharing a verbatim _SS_N-token span. Span-level,
# not set-level — catches boilerplate/quotation reuse that Jaccard's
# whole-document ratio dilutes away.
# --------------------------------------------------------------------------

_SS_N = 8

_SUBSTR_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, {word_shingles_sql('text', _SS_N)} AS sh
  FROM documents),
ex AS (SELECT doc_id, lang, unnest(sh) AS gram FROM d),
pairs AS (
  SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b
    ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
FROM pairs
"""


@register("substring_dup_pairs", oracle=_SUBSTR_ORACLE, tags=("dedup-jaccard", "D3"))
def substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-language doc pairs sharing ≥1 verbatim 8-token span, with the
    shared-span count. Inverted 8-gram index (explode → equi-join →
    pair count): pairs sharing nothing never materialize, and an 8-gram
    posting list is short by construction (long spans are near-unique),
    so the join is skew-light at any corpus size."""
    from ..operators.neardup import collapse_identical_sets, expand_collapsed_pairs

    d = T(spark, sf_dir, "documents")
    # NULL lang never equi-joins in the base plan/oracle, and a NULL
    # text (NULL shingle set) has no postings — but the collapse would
    # key both into within-groups and emit phantom pairs (r14 NULL-
    # metadata battery class; proven divergent on a crafted fixture).
    # Drop both up front — output-identical to the uncollapsed join.
    sh8 = (
        d.select(
            F.col("lang").alias("blk"),
            F.col("doc_id").alias("id"),
            word_shingles(F.col("text"), _SS_N).alias("sh"),
        )
        .filter((F.size("sh") > 0) & F.col("blk").isNotNull())
        .repartition("id")
    )
    # r14 (guide §5): groups feeds the postings explode + three expand
    # branches — pin so the scan+8-gram-shingle+collapse runs once.
    groups = pin(
        collapse_identical_sets(sh8, id_col="id", set_col="sh", group_cols=("blk",))
    )
    ex = groups.select("blk", "id", F.explode("sh").alias("gram"))
    a = ex.select("blk", F.col("id").alias("id_a"), "gram")
    b = ex.select("blk", F.col("id").alias("id_b"), "gram")
    rep_pairs = (
        a.join(b, ["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    # identical span sets share every span ⇒ n_shared = |set|
    return expand_collapsed_pairs(
        rep_pairs,
        groups,
        id_col="id",
        within_payload={"n_shared": F.size("sh").cast("bigint")},
    )


# --------------------------------------------------------------------------
# Positional substring duplication (Lee et al. 2021, the actual max-span
# semantics): per doc pair, the length in tokens of the LONGEST verbatim
# shared span — adjacent shared 8-grams merged by position, not the
# set-level co-occurrence count of substring_dup_pairs above.
# --------------------------------------------------------------------------

_MAXSPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
seq AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= {_SS_N}),
g AS (
  SELECT doc_id, lang,
         unnest(range(1, len(toks) - {_SS_N - 1} + 1)) AS pos,
         unnest(list_transform(range(1, len(toks) - {_SS_N - 1} + 1),
                i -> array_to_string(list_slice(toks, i, i + {_SS_N - 1}), ' '))) AS gram
  FROM seq),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, a.pos - b.pos AS diag
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id),
runs AS (
  SELECT id_a, id_b, diag,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
  FROM m),
spans AS (
  SELECT id_a, id_b, COUNT(*) + {_SS_N - 1} AS span
  FROM runs GROUP BY id_a, id_b, diag, grp)
SELECT id_a, id_b, CAST(MAX(span) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY 1, 2
"""


@register("substring_max_span", oracle=_MAXSPAN_ORACLE, tags=("dedup-jaccard", "D3"))
def substring_max_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal shared verbatim span per same-language doc pair: positional
    8-gram postings equi-join → matches grouped per (pair, diagonal =
    pos_a − pos_b) → gaps-and-islands merge of positionally-consecutive
    matches → max run + 7 tokens. A shared span of L ≥ 8 tokens is exactly
    an (L−7)-long consecutive diagonal run, so the result is the true
    longest-common-substring length (in tokens) for every pair sharing any
    8-token span — the Lee et al. 2021 "Deduplicating Training Data"
    measure substring_dup_pairs only approximates at set level.

    Scale: postings of 8-grams are near-unique (long spans ⇒ short posting
    lists) so the join is skew-light; the only windows partition per
    (pair, diagonal), bounded by min doc length, never corpus-sized.
    Identical token SEQUENCES collapse to a representative first
    (ordered=True fingerprint) — duplicate-heavy corpora pay the
    positional join only per distinct doc; within-group pairs re-expand
    with max span = the full doc length. Docs under 8 tokens have no full
    8-gram and never pair (unlike substring_dup_pairs' clamped partial
    shingle)."""
    from pyspark.sql import Window

    from ..operators.neardup import collapse_identical_sets, expand_collapsed_pairs

    d = T(spark, sf_dir, "documents")
    # blk.isNotNull: NULL lang never equi-joins in the base plan/oracle,
    # but the ordered collapse would key NULL-lang identical sequences
    # into one within-group and emit phantom max-span pairs (r14 NULL-
    # metadata battery class).
    seqs = (
        d.select(
            F.col("lang").alias("blk"),
            F.col("doc_id").alias("id"),
            tokens(F.col("text")).alias("toks"),
        )
        .filter((F.size("toks") >= _SS_N) & F.col("blk").isNotNull())
        .repartition("id")
    )
    groups = collapse_identical_sets(
        seqs, id_col="id", set_col="toks", group_cols=("blk",), ordered=True
    )
    cnt = F.size("toks") - F.lit(_SS_N - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt).alias(f"t{i}") for i in range(_SS_N)]
    )
    grams = groups.select(
        "blk", "id", F.posexplode(zipped).alias("pos0", "s")
    ).select(
        "blk",
        "id",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col("s")[f"t{i}"] for i in range(_SS_N)]).alias("gram"),
    )
    a = grams.select("blk", F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "gram")
    b = grams.select("blk", F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "gram")
    m = (
        a.join(b, ["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    spans = runs.groupBy("id_a", "id_b", "diag", "grp").agg(
        (F.count("*") + F.lit(_SS_N - 1)).alias("span")
    )
    rep_pairs = spans.groupBy("id_a", "id_b").agg(
        F.max("span").cast("bigint").alias("max_span_tokens")
    )
    return expand_collapsed_pairs(
        rep_pairs,
        groups,
        id_col="id",
        within_payload={"max_span_tokens": F.size("toks").cast("bigint")},
    )


# --------------------------------------------------------------------------
# Substring-duplication REMOVAL (Lee et al. 2021's actual intervention):
# every token covered by an 8-gram already seen in an EARLIER same-lang doc
# is cut from the later doc; the earliest occurrence keeps its text.
# Reported as per-lang removal stats. Unlike the pair detectors above this
# is fully LINEAR: one min-doc-per-gram aggregate, one postings join back,
# and interval-union windows per doc — no pairwise stage at all, so no
# collapse machinery is needed and replicas cost O(copies).
# --------------------------------------------------------------------------

_REMOVAL_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
docs AS (SELECT doc_id, lang, len(toks) AS n_tok, toks FROM t),
g AS (
  SELECT doc_id, lang,
         unnest(range(1, greatest(len(toks) - {_SS_N - 1}, 0) + 1)) AS pos,
         unnest(list_transform(range(1, greatest(len(toks) - {_SS_N - 1}, 0) + 1),
                i -> array_to_string(list_slice(toks, i, i + {_SS_N - 1}), ' '))) AS gram
  FROM docs),
first_seen AS (SELECT lang, gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1, 2),
flagged AS (
  SELECT g.doc_id, g.lang, g.pos
  FROM g JOIN first_seen f ON g.lang = f.lang AND g.gram = f.gram
  WHERE f.first_doc < g.doc_id),
isl AS (
  SELECT doc_id, lang, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SS_N}
              THEN 1 ELSE 0 END AS brk
  FROM flagged),
isl2 AS (
  SELECT doc_id, lang, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl),
cov AS (
  SELECT doc_id, lang, MAX(pos) - MIN(pos) + {_SS_N} AS covered
  FROM isl2 GROUP BY doc_id, lang, island),
per_doc AS (SELECT doc_id, SUM(covered) AS removed FROM cov GROUP BY 1)
SELECT d.lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(p.doc_id) AS BIGINT) AS n_docs_affected,
  CAST(SUM(d.n_tok) AS BIGINT) AS tokens_total,
  CAST(COALESCE(SUM(p.removed), 0) AS BIGINT) AS tokens_removed
FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
GROUP BY d.lang
"""


@register("substring_dup_removal", oracle=_REMOVAL_ORACLE, tags=("dedup-jaccard", "D3"))
def substring_dup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token-removal stats for first-wins substring dedup: a
    token is removed iff it lies inside an 8-gram that some earlier
    same-lang doc already contains. Covered positions are the union of
    the flagged [pos, pos+7] intervals — gaps-and-islands per doc (break
    when the next flagged start is > 8 past the previous), island length
    = last−first+8.

    Scale: min-doc-id per (lang, gram) is one partial agg; flagging is a
    postings equi-join on the near-unique 8-gram key; the only windows
    partition per doc_id (bounded by doc length). No pairwise stage
    exists, so duplicate-heavy corpora cost O(total docs), and the
    removal decision is identical to running the pair detector against
    every earlier doc — but without materializing pairs."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    docs = (
        d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .repartition("doc_id")
    )
    elig = docs.filter(F.col("n_tok") >= _SS_N)
    cnt = F.size("toks") - F.lit(_SS_N - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt).alias(f"t{i}") for i in range(_SS_N)]
    )
    g = elig.select(
        "doc_id", "lang", F.posexplode(zipped).alias("pos0", "s")
    ).select(
        "doc_id",
        "lang",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col("s")[f"t{i}"] for i in range(_SS_N)]).alias("gram"),
    )
    first_seen = g.groupBy("lang", "gram").agg(F.min("doc_id").alias("first_doc"))
    flagged = (
        g.join(first_seen, ["lang", "gram"])
        .filter(F.col("first_doc") < F.col("doc_id"))
        .select("doc_id", "pos")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    lagp = F.lag("pos").over(wl)
    isl = flagged.withColumn(
        "brk",
        F.when(lagp.isNull() | (F.col("pos") - lagp > _SS_N), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "island", F.sum("brk").over(wl.rowsBetween(Window.unboundedPreceding, 0))
    )
    cov = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(_SS_N)).alias("covered")
    )
    per_doc = cov.groupBy("doc_id").agg(F.sum("covered").alias("removed"))
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("removed").cast("bigint").alias("n_docs_affected"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.coalesce(F.sum("removed"), F.lit(0)).cast("bigint").alias("tokens_removed"),
        )
    )


# --------------------------------------------------------------------------
# Incremental ingestion dedup: a doc is a dup iff some earlier doc shares
# an LSH band AND the signature-ESTIMATED Jaccard clears the threshold —
# the decision rule whose state is 12 hashes/doc (operators.neardup.
# incremental_minhash_dedup), evaluated here in its one-shot batch form.
# --------------------------------------------------------------------------

_INC_EST_THRESHOLD = 0.5

_inc_est_sql = (
    f"(CAST(len(list_filter(range(1, {_MH_HASHES + 1}), i -> l.sig[i] = r.sig[i]))"
    f" AS DOUBLE) / {_MH_HASHES}.0)"
)

_INC_DEDUP_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, lang, {word_shingles_sql('text')} AS shingles FROM documents),
sigs AS (
  SELECT doc_id, lang, {minhash_signature_sql('shingles', _MH_HASHES)} AS sig FROM sh),
banded AS (SELECT doc_id, sig, {_bands_select} FROM sigs),
long_bands AS ({_bands_union}),
cand AS (
  SELECT DISTINCT l0.doc_id AS id_a, r0.doc_id AS id_b
  FROM long_bands l0 JOIN long_bands r0
    ON l0.band = r0.band AND l0.bh = r0.bh AND l0.doc_id < r0.doc_id),
dups AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN sigs l ON l.doc_id = c.id_a
  JOIN sigs r ON r.doc_id = c.id_b
  WHERE {_inc_est_sql} >= {_INC_EST_THRESHOLD})
SELECT s.lang, COUNT(*) AS n_survivors
FROM sigs s LEFT JOIN dups d ON s.doc_id = d.doc_id
WHERE d.doc_id IS NULL
GROUP BY s.lang
"""


@register("incremental_dedup_survivors", oracle=_INC_DEDUP_ORACLE, tags=("dedup-minhash", "R2"))
def incremental_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot form of the incremental ingestion dedup: per-lang survivor
    counts under the earlier-doc-wins estimated-Jaccard rule. The rule
    compares each doc against ALL earlier docs, so this batch run equals
    any chunked incremental run over the same rows
    (tests/test_incremental_dedup.py proves associativity); the oracle
    replays band collision + signature agreement in SQL."""
    from ..operators.neardup import incremental_minhash_dedup

    d = T(spark, sf_dir, "documents")
    survivors, _ = incremental_minhash_dedup(
        d,
        None,
        id_col="doc_id",
        text_col="text",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        est_threshold=_INC_EST_THRESHOLD,
    )
    return survivors.groupBy("lang").agg(F.count("*").alias("n_survivors"))


# --------------------------------------------------------------------------
# Chained corpus dedup: exact → minhash-LSH candidates → jaccard verify →
# drop losers — the full near-dup pipeline a pretraining corpus runs.
# --------------------------------------------------------------------------

_DP_JAC = 0.5

_sig12 = minhash_signature_sql("shingles", _MH_HASHES)

_DEDUP_PIPE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, text,
         md5({ws_normalize_sql('text')}) AS ck
  FROM documents),
exact_survivors AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id) rn FROM keyed)
  WHERE rn = 1),
sh AS (SELECT doc_id, lang, {word_shingles_sql('text')} AS shingles FROM exact_survivors),
sigs AS (SELECT doc_id, {_sig12} AS sig, shingles FROM sh),
banded AS (SELECT doc_id, {_bands_select} FROM sigs),
long_bands AS ({_bands_union}),
cand AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b
  FROM long_bands l JOIN long_bands r
    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
  WHERE {jaccard_sql('sa.shingles', 'sb.shingles')} >= {_DP_JAC}),
final_survivors AS (
  SELECT s.doc_id, s.lang FROM exact_survivors s
  WHERE s.doc_id NOT IN (SELECT id_b FROM verified))
SELECT lang,
  (SELECT COUNT(*) FROM keyed k2 WHERE k2.lang IS NOT DISTINCT FROM f.lang) AS n_input,
  COUNT(*) AS n_survivors
FROM final_survivors f GROUP BY lang
"""


@register("corpus_dedup_pipeline", oracle=_DEDUP_PIPE_ORACLE, tags=("dedup-pipeline", "E2E"))
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash dedup → MinHash-LSH candidates on the survivors →
    Jaccard ≥ 0.5 verification → drop the higher id of each verified pair
    → per-lang survivor counts. The chained plan a 100 TB corpus dedup
    actually runs (each stage shrinks the next stage's input)."""
    from ..operators.dedup import anti_join_state, first_wins
    from ..operators.neardup import minhash_pairs_from_sets

    d = T(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "text",
        F.md5(ws_normalize(F.col("text"))).alias("ck"),
    )
    # r14 (guide §5): survivors feed three consumers (minhash, shingle
    # verify, final anti-join). The old repartition barrier relied on
    # ReuseExchange, which the differently-projected consumers defeated
    # (the before-plan carried 6 scan+dedup-window evaluations) — pin the
    # lineage so the exact-dedup window runs once per run.
    survivors = pin(
        first_wins(keyed, ["ck"], [F.col("doc_id")]).select("doc_id", "lang", "text")
    )

    # shingled once: the sets feed the banding AND both verification-join
    # sides
    sh = pin(survivors.select("doc_id", word_shingles(F.col("text")).alias("shingles")))
    cand = minhash_pairs_from_sets(
        sh.select(F.col("doc_id").alias("id"), F.col("shingles").alias("sh")),
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
    )
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= _DP_JAC)
        .select(F.col("id_b").alias("doc_id"))
    )
    final = anti_join_state(survivors, verified, ["doc_id"])
    # NULL lang is a real group (language-ID failed upstream): the
    # survivor↔input association must be null-safe, or the equi-join
    # silently drops the NULL-lang row the groupBy correctly produced
    # (round-9 NULL-metadata sweep). eqNullSafe keeps the broadcast.
    n_input = keyed.groupBy(F.col("lang").alias("lang_i")).agg(
        F.count("*").alias("n_input")
    )
    return (
        final.groupBy("lang")
        .agg(F.count("*").alias("n_survivors"))
        .join(F.broadcast(n_input), F.col("lang").eqNullSafe(F.col("lang_i")))
        .select("lang", "n_input", "n_survivors")
    )


# --------------------------------------------------------------------------
# SimHash signatures.
# --------------------------------------------------------------------------

_SIMHASH_ORACLE = f"""
SELECT doc_id, {simhash_bits_sql('text', 16, 'sh')} AS simhash
FROM documents
"""


@register("simhash_signatures", oracle=_SIMHASH_ORACLE, tags=("dedup-simhash",))
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (near-dup families share signatures;
    pairing is a groupBy on the signature — constant-cost vs corpus)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", simhash_bits(F.col("text"), 16, "sh").alias("simhash"))


# --------------------------------------------------------------------------
# SimHash banded Hamming pairs — the complete near-dup finder for the
# Hamming metric (pigeonhole-exact for distance < bands).
# --------------------------------------------------------------------------

_SH_PAIRS_ORACLE = f"""
WITH s AS (SELECT doc_id AS id, {simhash_bits_sql('text', 16, 'sh')} AS sig FROM documents),
banded AS (
  SELECT id, sig, band, (sig >> (band * 4)) & 15 AS bv
  FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST({hamming16_sql('a.sig', 'b.sig')} AS INTEGER) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
"""


@register("simhash_hamming_pairs_q", oracle=_SH_PAIRS_ORACLE, tags=("dedup-simhash", "lsh"))
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SimHash near-dup pairs (Hamming ≤ 3 over 16 bits, 4 bands):
    band equi-join → exact popcount(xor) verify. Exact by pigeonhole for
    distance < bands — the Google near-dup-crawl design as one Spark plan;
    signature computed once behind a barrier (operators/neardup.py)."""
    from ..operators.neardup import simhash_hamming_pairs

    d = T(spark, sf_dir, "documents")
    return simhash_hamming_pairs(d, bands=4, max_hamming=3)


# --------------------------------------------------------------------------
# Token/text statistics per source.
# --------------------------------------------------------------------------

_TOKSTATS_ORACLE = f"""
WITH s AS (
  SELECT source,
         len({tokens_sql('text')}) AS n_tokens,
         length(text) AS n_chars_m,
         len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_pieces
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars_m) AS BIGINT) AS total_chars,
       CAST(SUM(n_bpe_pieces) AS BIGINT) AS total_bpe_pieces
FROM s GROUP BY source
"""


@register("doc_token_stats", oracle=_TOKSTATS_ORACLE, tags=("text-analysis",))
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting rolled up per source."""
    d = token_stats(T(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_m").alias("total_chars"),
        F.sum("n_bpe_pieces").alias("total_bpe_pieces"),
    )


# --------------------------------------------------------------------------
# Quality scoring.
# --------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
SELECT doc_id, {quality_score_sql()} AS quality
FROM (SELECT doc_id, {tokens_sql('text')} AS toks, text FROM documents)
"""


@register("doc_quality_scores", oracle=_QUALITY_ORACLE, tags=("text-analysis",))
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality score per doc (length band + stopword
    signal + alpha ratio)."""
    d = quality_score(T(spark, sf_dir, "documents"))
    return d.select("doc_id", "quality")


# --------------------------------------------------------------------------
# Language-ID heuristic + confusion rollup.
# --------------------------------------------------------------------------

def _lang_score_sql(lang: str) -> str:
    words = list(LANG_STOPWORDS[lang])
    return f"CAST(len(list_intersect(list_distinct({tokens_sql('text')}), {words!r})) AS INTEGER)"


_best_sql = (
    "list_reduce(list_prepend({'s': -1, 'l': '~'}, ["
    + ", ".join("{'s': " + _lang_score_sql(lang) + f", 'l': '{lang}'}}" for lang in sorted(LANG_STOPWORDS))
    + "]), (acc, p) -> CASE WHEN p.s > acc.s THEN p ELSE acc END).l"
)

_LANGID_ORACLE = f"""
WITH p AS (SELECT lang, {_best_sql} AS lang_pred FROM documents)
SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY lang, lang_pred
"""


@register("lang_id_confusion", oracle=_LANGID_ORACLE, tags=("text-analysis", "lang-id"))
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID vs the labeled lang column
    (confusion-matrix rollup; deterministic argmax)."""
    d = predict_lang(T(spark, sf_dir, "documents"))
    return d.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Document fingerprints (rolling polynomial hash).
# --------------------------------------------------------------------------

_FP_ORACLE = f"""
SELECT doc_id, {fingerprint_sql('text')} AS fp FROM documents
"""


@register("doc_fingerprints", oracle=_FP_ORACLE, tags=("text-analysis", "fingerprint"))
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint of each document head (portable 31-base
    polynomial mod prime)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------------------------
# Term frequency: top-k tokens per language (tf via explode+count,
# SURVEY §2.11 text-analysis family + D8 top-k).
# --------------------------------------------------------------------------

_TOPTOK_ORACLE = f"""
WITH tf AS (
  SELECT lang, unnest({tokens_sql('text')}) AS token FROM documents),
counted AS (
  SELECT lang, token, COUNT(*) AS n FROM tf GROUP BY lang, token),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) rn
  FROM counted)
SELECT lang, token, n, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= 10
"""


@register("top_tokens_per_lang", oracle=_TOPTOK_ORACLE, tags=("text-analysis", "D8"))
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency top-10 per language: explode → two-level aggregation
    (partial map-side combine makes the token shuffle carry counts, not
    tokens) → windowed top-k."""
    d = T(spark, sf_dir, "documents")
    tf = d.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    counted = tf.groupBy("lang", "token").agg(F.count("*").alias("n"))
    from ..operators.dedup import top_k_per_group

    out = top_k_per_group(
        counted, ["lang"], [F.col("n").desc(), F.col("token")], k=10, rank_col="rank"
    )
    return out.select("lang", "token", "n", F.col("rank").cast("int").alias("rank"))


# --------------------------------------------------------------------------
# TF-IDF: top-3 distinguishing terms per document — the classic relevance
# weighting a curation pipeline uses for topic tagging / keyword reports.
# --------------------------------------------------------------------------

_TFIDF_K = 3

_TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, unnest({tokens_sql(fold_case_sql('text'))}) AS token FROM documents),
tfc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
  FROM tfc t JOIN dfc d ON t.token = d.token CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) rn
  FROM scored)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf,
       CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {_TFIDF_K}
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("text-analysis", "D8"))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per doc. tf and df are two partial-aggregated
    counts (the token shuffle carries counts, not tokens); the tf↔df join
    keys on token — vocabulary-sized, so no broadcast hint (AQE may still
    pick one at small scale); N arrives as a broadcast scalar. Scores are
    round(·,6)-stabilized before ranking (determinism.py libm rule), ties
    broken by token."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(fold_case(F.col("text")))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfc, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from ..operators.dedup import top_k_per_group

    out = top_k_per_group(
        scored,
        ["doc_id"],
        [F.col("tfidf").desc(), F.col("token")],
        k=_TFIDF_K,
        rank_col="rank",
    )
    return out.select(
        "doc_id",
        "token",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        "tfidf",
        F.col("rank").cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# BM25: rank the corpus against a query — the retrieval scorer used for
# decontamination lookups and quality-biased sampling.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "data", "query")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10

_bm25_terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql(fold_case_sql('text'))}) AS token FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
tfc AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN ({_bm25_terms_sql}) GROUP BY 1, 2),
dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         SUM(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * t.tf * ({_BM25_K1} + 1.0)
             / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
         ) AS score
  FROM tfc t
  JOIN dfc d ON t.token = d.token
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id),
ranked AS (
  SELECT doc_id, round(score, 6) AS score,
         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) rn
  FROM scored)
SELECT doc_id, score, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {_BM25_TOPK}
"""


@register("bm25_topk_docs", oracle=_BM25_ORACLE, tags=("text-analysis", "D8"))
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs for a fixed query (k1=1.2, b=0.75). Only postings
    of the query's terms survive the first filter, so every later stage is
    query-sized, not corpus-sized; corpus stats (N, avgdl) arrive as one
    broadcast row. Global top-k is two-phase: ``orderBy(...).limit(k)``
    (physical TakeOrderedAndProject — per-partition heaps merged on one
    task, never a full-corpus single-partition sort), THEN the rank
    window over the surviving ≤k rows. At 100 TB every executor
    contributes a k-row heap; only 10 rows ever see the global window."""
    d = T(spark, sf_dir, "documents")
    # token arrays: the doc-length and postings consumers
    toks = _token_arrays(d, "doc_id").select("doc_id", F.explode("t").alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.groupBy().agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tfc = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tfc.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tfc.join(F.broadcast(dfc), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * F.lit(_BM25_K1 + 1.0) / denom).alias("score"))
        .select("doc_id", F.round("score", 6).alias("score"))
    )
    from pyspark.sql import Window

    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


# --------------------------------------------------------------------------
# F5: token-overlap predicate (shares >3-char token, test_kimono.py:354).
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         list_filter(list_distinct({tokens_sql('text')}), t -> length(t) > 3) AS big_toks
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.big_toks, b.big_toks)) > 0
"""


@register("token_overlap_pairs", oracle=_OVERLAP_ORACLE, tags=("F5",))
def token_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-source doc pairs sharing at least one >3-char token (the
    filename/handle token-match predicate F5).

    Inverted-index shape (same as operators.neardup.jaccard_pairs_inverted):
    explode distinct big tokens into postings, equi-join postings on
    (source, token), distinct the surviving pairs. Pairs sharing no token
    never materialize — the self-join-then-arrays_overlap form is O(n² per
    source block) and dies at scale. The repartition on the join keys is a
    barrier so tokenize+explode runs once and ReuseExchange feeds both join
    sides from the same exchange.

    r14 (guide §2.3): identical big-token SETS collapse to one
    representative before the postings join (the predicate depends only
    on the set): duplicate-heavy corpora pay the quadratic postings cost
    on DISTINCT token sets only; member pairs re-expand at output.
    Within-group pairs (identical non-empty sets trivially share a
    token) are emitted directly; docs with NO >3-char token never pair
    in either form and are dropped up front. Output-identical — each doc
    belongs to exactly one group, so the expanded pairs stay distinct."""
    from ..operators.neardup import collapse_identical_sets, expand_collapsed_pairs

    sets = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.filter(
                F.array_distinct(tokens(F.col("text"))), lambda t: F.length(t) > 3
            ).alias("bt"),
        )
        # source.isNotNull: a NULL source never equi-joins in the base
        # plan/oracle, but the collapse would key NULL sources together
        # and emit phantom within-group pairs for identical token sets
        # (caught red by tests/test_nullmeta_adversarial.py, +12 rows).
        .filter((F.size("bt") > 0) & F.col("source").isNotNull())
        .repartition("doc_id")
    )
    groups = pin(
        collapse_identical_sets(sets, id_col="doc_id", set_col="bt", group_cols=("source",))
    )
    posts = groups.select(
        "source", F.col("doc_id").alias("id"), F.explode("bt").alias("token")
    ).repartition("source", "token")
    a = posts.alias("a")
    b = posts.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return expand_collapsed_pairs(rep_pairs, groups, id_col="doc_id", within_payload={})


# --------------------------------------------------------------------------
# Near-dup CLUSTERS: connected components over the verified LSH pairs —
# candidate pairs are only half the dedup story; survivors are picked per
# transitive component. Oracles compute the same components with the
# exact closure of operators.clusters.connected_components_sql.
# --------------------------------------------------------------------------

# The near-dup edge rule, once per engine: a verified LSH pair is a
# cluster edge when its Jaccard reaches _CLUSTER_JAC. The oracle side is
# a CTE list ending in near_dup_edges(id_a, id_b); its pair list is
# MATERIALIZED, so DuckDB runs the MinHash pipeline once however often
# the edges are read.
_CLUSTER_JAC = 0.2

_NEAR_DUP_EDGES_ORACLE = f"""pairs AS MATERIALIZED ({_MINHASH_ORACLE}),
near_dup_edges AS (SELECT id_a, id_b FROM pairs WHERE jac >= {_CLUSTER_JAC})"""


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edges (id_a, id_b): the verified LSH pairs at the cluster
    threshold. Unpinned — a caller that reads the edges twice pins them."""
    return (
        minhash_lsh_candidates(spark, sf_dir)
        .filter(F.col("jac") >= _CLUSTER_JAC)
        .select("id_a", "id_b")
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_NEAR_DUP_EDGES_ORACLE},
{connected_components_sql('near_dup_edges', 'id_a', 'id_b')}
SELECT node AS doc_id, lab AS cluster_rep,
       COUNT(*) OVER (PARTITION BY lab) AS cluster_size
FROM labels
"""


@register("neardup_clusters", oracle=_CLUSTERS_ORACLE, tags=("dedup-minhash", "clusters"))
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: verified LSH pairs → min-label
    propagation (operators.clusters.connected_components) → per-component
    sizes. Each round is one node-keyed equi-join + partial-agg min —
    distributed end-to-end, O(diameter) rounds, lineage truncated per
    round. The quadratic closure exists only in the DuckDB oracle."""
    labels = connected_components(_near_dup_edges(spark, sf_dir), src="id_a", dst="id_b")
    sizes = labels.groupBy("lab").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "lab")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lab").alias("cluster_rep"),
            F.col("cluster_size"),
        )
    )


_CLUSTER_DEDUP_ORACLE = f"""
WITH RECURSIVE {_NEAR_DUP_EDGES_ORACLE},
{connected_components_sql('near_dup_edges', 'id_a', 'id_b')},
dropped AS (SELECT node AS doc_id FROM labels WHERE node != lab)
SELECT d.lang,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
GROUP BY d.lang
"""


@register("cluster_dedup_stats", oracle=_CLUSTER_DEDUP_ORACLE, tags=("dedup-minhash", "clusters", "D1"))
def cluster_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transitive dedup: LSH pairs → connected components →
    keep one survivor (the min-id rep) per component → per-lang kept/
    dropped counts. The drop set is component-members-minus-reps (tiny),
    broadcast into a left join against the corpus — the full corpus is
    never shuffled."""
    labels = connected_components(_near_dup_edges(spark, sf_dir), src="id_a", dst="id_b")
    dropped = labels.filter(F.col("node") != F.col("lab")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("is_dup")
    )
    d = T(spark, sf_dir, "documents")
    j = d.join(F.broadcast(dropped), "doc_id", "left")
    dup = F.col("is_dup").isNotNull()
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(dup, 0).otherwise(1)).cast("bigint").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# Quality-aware dedup survivor selection: production dedup keeps the BEST
# doc per near-dup cluster (highest quality score, doc_id tiebreak), not
# the lowest id — the rule that decides what 100 TB of training data
# actually retains.
# --------------------------------------------------------------------------

_BEST_SURV_ORACLE = f"""
WITH RECURSIVE {_NEAR_DUP_EDGES_ORACLE},
{connected_components_sql('near_dup_edges', 'id_a', 'id_b')},
qual AS ({_QUALITY_ORACLE}),
scored AS (
  SELECT l.node AS doc_id, l.lab AS rep, q.quality
  FROM labels l JOIN qual q ON l.node = q.doc_id),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY rep ORDER BY quality DESC, doc_id) rn,
         COUNT(*) OVER (PARTITION BY rep) sz
  FROM scored)
SELECT rep AS cluster_rep, doc_id AS survivor_id,
       CAST(sz AS BIGINT) AS cluster_size,
       round(quality, 6) AS best_quality
FROM ranked WHERE rn = 1
"""


@register("cluster_best_survivors", oracle=_BEST_SURV_ORACLE, tags=("dedup-minhash", "clusters", "D8"))
def cluster_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster (transitive closure of verified LSH pairs at
    jac ≥ 0.2): the highest-quality member as survivor, ties to the
    lowest doc_id. Survivor selection is ONE ``max_by`` partial aggregate
    keyed on the cluster label — no per-cluster ranking window; the
    lexicographic (quality, −doc_id) struct makes the argmax total and
    deterministic at any parallelism. The quadratic closure exists only
    in the DuckDB oracle (min-label propagation on Spark)."""
    from ..operators.textops import quality_score

    labels = connected_components(_near_dup_edges(spark, sf_dir), src="id_a", dst="id_b")
    q = quality_score(T(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("node"), "quality"
    )
    j = labels.join(q, "node")
    return (
        j.groupBy("lab")
        .agg(
            F.max_by(
                "node", F.struct(F.col("quality"), (-F.col("node")).alias("neg"))
            ).alias("survivor_id"),
            F.count("*").cast("bigint").alias("cluster_size"),
            F.round(F.max("quality"), 6).alias("best_quality"),
        )
        .select(
            F.col("lab").alias("cluster_rep"),
            "survivor_id",
            "cluster_size",
            "best_quality",
        )
    )


# --------------------------------------------------------------------------
# Interpolated bigram-LM perplexity gate: one step closer to CCNet's
# KenLM scoring than the unigram gate — p(w2|w1) interpolated with the
# unigram marginal, same histogram-CDF quartile threshold.
# --------------------------------------------------------------------------

_BG_LAMBDA = 0.7  # bigram weight; (1-lambda) backs off to the unigram

_BIGRAM_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {tokens_sql(fold_case_sql('text'))} AS t FROM documents),
uni AS (
  SELECT lang, token, COUNT(*) AS cnt
  FROM (SELECT lang, unnest(t) AS token FROM toks) GROUP BY 1, 2),
utot AS (SELECT lang, SUM(cnt) AS total FROM uni GROUP BY 1),
trans AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i + 1])) AS w2
  FROM toks WHERE len(t) >= 2),
bi AS (SELECT lang, w1, w2, COUNT(*) AS bcnt FROM trans GROUP BY 1, 2, 3),
w1tot AS (SELECT lang, w1, SUM(bcnt) AS w1cnt FROM bi GROUP BY 1, 2),
scored AS (
  SELECT tr.doc_id, tr.lang,
         round(AVG(ln({_BG_LAMBDA} * (CAST(b.bcnt AS DOUBLE) / w1t.w1cnt)
                      + {1 - _BG_LAMBDA} * (CAST(u.cnt AS DOUBLE) / ut.total))), 6)
           AS logprob
  FROM trans tr
  JOIN bi b ON tr.lang = b.lang AND tr.w1 = b.w1 AND tr.w2 = b.w2
  JOIN w1tot w1t ON tr.lang = w1t.lang AND tr.w1 = w1t.w1
  JOIN uni u ON tr.lang = u.lang AND tr.w2 = u.token
  JOIN utot ut ON tr.lang = ut.lang
  GROUP BY 1, 2),
hist AS (SELECT lang, logprob, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
cdf AS (
  SELECT lang, logprob, SUM(cnt) OVER (PARTITION BY lang ORDER BY logprob) AS cum
  FROM hist),
n AS (SELECT lang, COUNT(*) AS n_docs FROM scored GROUP BY 1),
q1 AS (
  SELECT c.lang, MIN(c.logprob) AS q1
  FROM cdf c JOIN n ON c.lang = n.lang
  WHERE c.cum >= {1 - _PPL_KEEP_FRAC} * n.n_docs
  GROUP BY 1)
SELECT s.doc_id, s.lang, s.logprob, (s.logprob >= q.q1) AS keep
FROM scored s JOIN q1 q ON s.lang = q.lang
"""


@register("bigram_perplexity_gate", oracle=_BIGRAM_PPL_ORACLE, tags=("text-analysis", "F4"))
def bigram_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality gate: per-language
    p(w2|w1) = 0.7·(c(w1,w2)/c(w1·)) + 0.3·(c(w2)/c(·)), each doc scored
    by the mean transition log-probability, the per-lang worst quartile
    gated out by score VALUE. A step from the unigram gate toward CCNet's
    KenLM 5-gram scoring, with the same de-skewed threshold machinery:
    histogram-CDF exact quantile (the only window runs over the per-lang
    score-value histogram, never the doc set), threshold rows broadcast
    into a map-side keep flag.

    The LM tables shuffle on (lang, w1[, w2]) — vocabulary-sized, never
    collected; no smoothing is needed because the LM is trained on the
    corpus being scored, so every observed transition has count ≥ 1.
    The per-transition log-probability is folded into the (lang, w1, w2)
    LM table FIRST (all the count joins run at vocabulary size), so the
    fat transitions relation is joined exactly once. The token arrays
    feed three consumers (unigrams, transitions twice) and are pinned
    once."""
    d = T(spark, sf_dir, "documents")
    toks = _token_arrays(d, "doc_id", "lang")
    uni = (
        toks.select("lang", F.explode("t").alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    utot = uni.groupBy("lang").agg(F.sum("cnt").alias("total"))
    trans = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bi = pin(trans.groupBy("lang", "w1", "w2").agg(F.count("*").alias("bcnt")))
    w1tot = bi.groupBy("lang", "w1").agg(F.sum("bcnt").alias("w1cnt"))
    lm = (
        bi.join(w1tot, ["lang", "w1"])
        .join(uni.withColumnRenamed("token", "w2"), ["lang", "w2"])
        .join(F.broadcast(utot), "lang")
        .select(
            "lang",
            "w1",
            "w2",
            F.log(
                F.lit(_BG_LAMBDA) * (F.col("bcnt").cast("double") / F.col("w1cnt"))
                + F.lit(1 - _BG_LAMBDA)
                * (F.col("cnt").cast("double") / F.col("total"))
            ).alias("logp"),
        )
    )
    scored = (
        trans.join(lm, ["lang", "w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("logp"), 6).alias("logprob"))
    )
    from pyspark.sql import Window

    hist = scored.groupBy("lang", "logprob").agg(F.count("*").alias("cnt"))
    wcdf = (
        Window.partitionBy("lang")
        .orderBy("logprob")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = hist.withColumn("cum", F.sum("cnt").over(wcdf))
    n = scored.groupBy("lang").agg(F.count("*").alias("n_docs"))
    q1 = (
        cdf.join(F.broadcast(n), "lang")
        .filter(F.col("cum") >= F.lit(1 - _PPL_KEEP_FRAC) * F.col("n_docs"))
        .groupBy("lang")
        .agg(F.min("logprob").alias("q1"))
    )
    return scored.join(F.broadcast(q1), "lang").select(
        "doc_id",
        "lang",
        "logprob",
        (F.col("logprob") >= F.col("q1")).alias("keep"),
    )


# --------------------------------------------------------------------------
# N-gram diversity (distinct-1/distinct-2): the standard synthetic-text
# diversity metric — a generated corpus that loops templates shows a low
# distinct-n ratio long before exact dedup catches it.
# --------------------------------------------------------------------------

_DIVERSITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {tokens_sql(fold_case_sql('text'))} AS t FROM documents),
uni AS (SELECT source, unnest(t) AS g FROM toks),
bi AS (
  SELECT source,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks WHERE len(t) >= 2),
u AS (
  SELECT source, COUNT(*) AS n1, COUNT(DISTINCT g) AS d1 FROM uni GROUP BY source),
b AS (
  SELECT source, COUNT(*) AS n2, COUNT(DISTINCT g) AS d2 FROM bi GROUP BY source)
SELECT u.source,
       CAST(u.n1 AS BIGINT) AS n_unigrams,
       round(CAST(u.d1 AS DOUBLE) / u.n1, 6) AS distinct_1,
       CAST(b.n2 AS BIGINT) AS n_bigrams,
       round(CAST(b.d2 AS DOUBLE) / b.n2, 6) AS distinct_2
FROM u JOIN b USING (source)
"""


@register("ngram_diversity_by_source", oracle=_DIVERSITY_ORACLE, tags=("text-analysis",))
def ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-1 / distinct-2 per source (Li et al. 2016 dialog-diversity
    metrics): unique-to-total n-gram ratios — the cheap first check that a
    synthetic-data source isn't template-looping.

    Scale: two (source, gram)-keyed aggregations with map-side partial
    distinct; nothing materializes beyond the per-source gram sets that
    COUNT(DISTINCT) shuffles, which Spark expands to a two-stage exact
    distinct — vocabulary-bounded, not corpus-bounded."""
    d = T(spark, sf_dir, "documents")
    # token arrays: the uni + bi consumers
    toks = _token_arrays(d, "doc_id", "source")
    uni = toks.select("source", F.explode("t").alias("g"))
    bi = toks.filter(F.size("t") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("g"),
    )
    u = uni.groupBy("source").agg(
        F.count("*").alias("n1"), F.countDistinct("g").alias("d1")
    )
    b = bi.groupBy("source").agg(
        F.count("*").alias("n2"), F.countDistinct("g").alias("d2")
    )
    return u.join(b, "source").select(
        "source",
        F.col("n1").cast("bigint").alias("n_unigrams"),
        F.round(F.col("d1").cast("double") / F.col("n1"), 6).alias("distinct_1"),
        F.col("n2").cast("bigint").alias("n_bigrams"),
        F.round(F.col("d2").cast("double") / F.col("n2"), 6).alias("distinct_2"),
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency slope per language: natural text follows
# freq ∝ rank^-s with s ≈ 1; template-generated or boilerplate-heavy text
# bends the curve. Least-squares slope of ln(freq) on ln(rank) over the
# top tokens.
# --------------------------------------------------------------------------

_ZIPF_TOPK = 500

_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT lang, token, COUNT(*) AS cnt
  FROM (SELECT lang, unnest({tokens_sql(fold_case_sql('text'))}) AS token FROM documents)
  GROUP BY 1, 2),
ranked AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rnk
  FROM freq),
pts AS (
  SELECT lang, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked WHERE rnk <= {_ZIPF_TOPK}),
s AS (
  SELECT lang, COUNT(*) AS n,
         {fixed_sum_sql('x')} AS sx, {fixed_sum_sql('y')} AS sy,
         {fixed_sum_sql('x * y')} AS sxy, {fixed_sum_sql('x * x')} AS sxx
  FROM pts GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM s
"""


@register("zipf_slope_by_lang", oracle=_ZIPF_ORACLE, tags=("text-analysis",))
def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) vs ln(rank) over each language's
    top-500 tokens — the Zipf-law fit (natural text: slope ≈ −1);
    deviation flags template-generated or boilerplate-dominated sources.

    Scale: frequency is a (lang, token) agg; the rank window runs over
    the per-lang VOCABULARY histogram (corpus-sublinear), and Spark's
    WindowGroupLimit pushes rnk <= 500 into the per-partition sort so no
    language's vocab fully materializes in one task. Regression sums are
    trunc-scaled BIGINTs (exact, order-free)."""
    from ..operators.dedup import top_k_per_group

    d = T(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(tokens(fold_case(F.col("text")))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = top_k_per_group(
        freq,
        ["lang"],
        [F.col("cnt").desc(), F.col("token")],
        _ZIPF_TOPK,
        rank_col="rnk",
    )
    pts = ranked.select(
        "lang",
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    s = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        fixed_sum(x).alias("sx"),
        fixed_sum(y).alias("sy"),
        fixed_sum(x * y).alias("sxy"),
        fixed_sum(x * x).alias("sxx"),
    )
    return s.select(
        "lang",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# --------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
# MOSS scheme): hash every positional word 4-gram, slide a window of 8
# hashes, record the minimum of each full window (leftmost on ties).
# Guarantees every 11-token span shares >=1 recorded hash with any copy.
# --------------------------------------------------------------------------

_WIN_K = 4  # tokens per gram
_WIN_W = 8  # hashes per window
_POS_BITS = 1 << 20  # combined = hash * 2^20 + pos packs both in a BIGINT

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
seq AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= {_WIN_K}),
g AS (
  SELECT doc_id, lang,
         unnest(range(1, len(toks) - {_WIN_K - 1} + 1)) - 1 AS pos,
         unnest(list_transform(range(1, len(toks) - {_WIN_K - 1} + 1),
                i -> array_to_string(list_slice(toks, i, i + {_WIN_K - 1}), ' '))) AS gram
  FROM seq),
h AS (
  SELECT doc_id, lang, pos,
         CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS hv,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM g),
wmin AS (
  SELECT doc_id, lang, pos, n_grams,
         MIN(hv * {_POS_BITS} + pos) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS comb
  FROM h),
sel AS (
  SELECT DISTINCT doc_id, lang, n_grams,
         comb % {_POS_BITS} AS sel_pos, comb // {_POS_BITS} AS fp
  FROM wmin
  WHERE pos <= n_grams - {_WIN_W})
SELECT doc_id, lang,
  CAST(MAX(n_grams) AS BIGINT) AS n_grams,
  COUNT(*) AS n_selected,
  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp
FROM sel GROUP BY doc_id, lang
"""


@register("winnowing_fingerprints", oracle=_WINNOW_ORACLE, tags=("text-analysis", "X4", "dedup-jaccard"))
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection per document (the MOSS local
    plagiarism-detection scheme, Schleimer et al. SIGMOD 2003): the
    32-bit md5 hash of every positional word 4-gram, then the minimum
    hash of every full window of 8 consecutive hashes is recorded,
    leftmost position winning ties. The selected (hash, pos) set is the
    doc's fingerprint sketch — any shared span of w+k-1 = 11 tokens
    between two documents is guaranteed to share a recorded hash, with
    expected density 2/(w+1) of all grams.

    The per-window argmin is one window-function pass over combined
    = hash·2^20 + pos (min of the packed value IS the leftmost-min
    tie-break; doc positions are < 2^20). Windows partition per doc_id,
    bounded by document length — never corpus-sized. Docs shorter than
    w+k-1 tokens have no full window and produce no fingerprints,
    exactly like the reference scheme.

    Output: per doc, gram count, selected-position count, and distinct
    fingerprint count (the sketch size an index would store)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    seqs = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= _WIN_K
    )
    cnt = F.size("toks") - F.lit(_WIN_K - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt).alias(f"t{i}") for i in range(_WIN_K)]
    )
    grams = seqs.select(
        "doc_id",
        "lang",
        F.posexplode(zipped).alias("pos", "s"),
    ).select(
        "doc_id",
        "lang",
        "pos",
        F.concat_ws(" ", *[F.col("s").getField(f"t{i}") for i in range(_WIN_K)]).alias("gram"),
    )
    h = grams.select(
        "doc_id",
        "lang",
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint").alias("hv"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    lead = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wmin = h.select(
        "doc_id",
        "lang",
        "pos",
        "n_grams",
        F.min(F.col("hv") * F.lit(_POS_BITS) + F.col("pos")).over(lead).alias("comb"),
    )
    sel = (
        wmin.filter(F.col("pos") <= F.col("n_grams") - _WIN_W)
        .select(
            "doc_id",
            "lang",
            "n_grams",
            (F.col("comb") % _POS_BITS).alias("sel_pos"),
            F.floor(F.col("comb") / _POS_BITS).alias("fp"),
        )
        .distinct()
    )
    return sel.groupBy("doc_id", "lang").agg(
        F.max("n_grams").cast("bigint").alias("n_grams"),
        F.count("*").alias("n_selected"),
        F.countDistinct("fp").alias("n_distinct_fp"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV rate: what fraction of a language's token
# stream the top-V vocabulary covers — the corpus-side input to tokenizer
# vocabulary sizing.
# --------------------------------------------------------------------------

_VOCAB_V = 50

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT lang, unnest({tokens_sql('text')}) AS tok FROM documents),
freq AS (SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok),
vocab AS (
  SELECT lang, tok, n FROM (
    SELECT lang, tok, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
    FROM freq) WHERE rn <= {_VOCAB_V}),
tot AS (SELECT lang, SUM(n) AS total_tokens, COUNT(*) AS distinct_tokens
        FROM freq GROUP BY lang),
cov AS (SELECT lang, SUM(n) AS in_vocab FROM vocab GROUP BY lang)
SELECT t.lang,
  CAST(t.total_tokens AS BIGINT) AS total_tokens,
  CAST(t.distinct_tokens AS BIGINT) AS distinct_tokens,
  round(CAST(c.in_vocab AS DOUBLE) / t.total_tokens, 9) AS coverage,
  round(1.0 - CAST(c.in_vocab AS DOUBLE) / t.total_tokens, 9) AS oov_rate
FROM tot t JOIN cov c ON t.lang = c.lang
"""


@register("vocab_coverage_oov", oracle=_VOCAB_ORACLE, tags=("text-analysis", "X4"))
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V vocabulary coverage and OOV rate per language (V = 50): the
    fraction of the token stream covered by the V most frequent tokens
    (frequency desc, token asc tie-break) — the profiling number that
    sizes a tokenizer vocabulary against a corpus.

    Scale shape: raw tokens reduce to (lang, token) partial counts
    map-side, so the only full shuffle carries distinct-token rows, not
    the token stream. The per-lang top-V is a WindowGroupLimit over
    those counts (Spark pushes k = 50 into the sort; no language's token
    vocabulary materializes in one task) and the coverage division runs
    on V·langs rows."""
    from ..operators.dedup import top_k_per_group

    d = T(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    vocab = top_k_per_group(freq, ["lang"], [F.desc("n"), F.col("tok")], _VOCAB_V)
    tot = freq.groupBy("lang").agg(
        F.sum("n").alias("total_tokens"), F.count("*").alias("distinct_tokens")
    )
    cov = vocab.groupBy("lang").agg(F.sum("n").alias("in_vocab"))
    return tot.join(cov, "lang").select(
        "lang",
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("distinct_tokens").cast("bigint").alias("distinct_tokens"),
        F.round(F.col("in_vocab").cast("double") / F.col("total_tokens"), 9).alias("coverage"),
        F.round(F.lit(1.0) - F.col("in_vocab").cast("double") / F.col("total_tokens"), 9).alias(
            "oov_rate"
        ),
    )


# --------------------------------------------------------------------------
# Cross-source duplication overlap: for every pair of sources, how many
# distinct verbatim word-8-grams they share — the boilerplate / re-crawl
# diagnostic that says which feeds duplicate each other's content.
# --------------------------------------------------------------------------

_XSRC_N = 8

_XSRC_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT source, unnest({word_shingles_sql('text', _XSRC_N)}) AS gram
  FROM documents),
src AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
  COUNT(*) AS n_shared,
  round(CAST(COUNT(*) AS DOUBLE)
        / (sa.n_grams + sb.n_grams - COUNT(*)), 9) AS jaccard
FROM g a
JOIN g b ON a.gram = b.gram AND a.source < b.source
JOIN src sa ON sa.source = a.source
JOIN src sb ON sb.source = b.source
GROUP BY a.source, b.source, sa.n_grams, sb.n_grams
"""


@register("cross_source_overlap", oracle=_XSRC_ORACLE, tags=("dedup-jaccard", "X1"))
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: distinct verbatim word-8-grams
    shared between every pair of sources, plus the gram-set Jaccard —
    which crawls/feeds duplicate each other's content (boilerplate or
    re-crawl), the first question before setting mixture weights over
    sources.

    Scale shape: reduce to distinct (source, gram) postings first (one
    hash shuffle; map-side distinct inside each doc via the shingle
    set), then self-join the postings on the gram only — a gram present
    in s sources contributes C(s,2) rows, bounded by source-count
    squared per gram, never by corpus size. A df-cap on gram postings
    (as in ngram_jaccard_pruned) drops ubiquitous boilerplate grams
    before the join at 100 TB; per-source gram totals broadcast onto
    the pair rows. The posting table is pinned ONCE (r13): it feeds
    three consumers (per-source totals + both join sides), and while
    ReusedExchange usually covers the a/b pair, the totals branch
    re-ran the scan+explode+distinct — the diagnosed contributor to
    this query's 1.93× driver-context reading (r12's closest shave to
    the 2× gate)."""
    d = T(spark, sf_dir, "documents")
    g = pin(
        d.select(
            "source", F.explode(word_shingles(F.col("text"), _XSRC_N)).alias("gram")
        ).distinct()
    )
    src = g.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = g.select(F.col("source").alias("source_a"), "gram")
    b = g.select(F.col("source").alias("source_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = src.select(F.col("source").alias("source_a"), F.col("n_grams").alias("na"))
    sb = src.select(F.col("source").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                9,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Intra-document repeated span: the longest token span that occurs at
# least twice WITHIN one document (Lee et al. 2021's self-repetition;
# the degenerate-generation-loop detector for synthetic text).
# --------------------------------------------------------------------------

# 3-token grams (vs the cross-doc 8): intra-doc loops are short-period,
# and the fixture's ~128-token docs carry no verbatim 8-gram repeats at
# all — a 3-gram repeated twice is already a 5+-token degenerate span.
# --------------------------------------------------------------------------

_INTRA_N = 3

_INTRA_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
seq AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= {_INTRA_N}),
g AS (
  SELECT doc_id, lang,
         unnest(range(1, len(toks) - {_INTRA_N - 1} + 1)) AS pos,
         unnest(list_transform(range(1, len(toks) - {_INTRA_N - 1} + 1),
                i -> array_to_string(list_slice(toks, i, i + {_INTRA_N - 1}), ' '))) AS gram
  FROM seq),
m AS (
  SELECT a.doc_id, a.lang, a.pos AS pos_a, b.pos - a.pos AS diag
  FROM g a JOIN g b
    ON a.doc_id = b.doc_id AND a.gram = b.gram AND a.pos < b.pos),
runs AS (
  SELECT doc_id, lang, diag,
         pos_a - row_number() OVER (PARTITION BY doc_id, diag ORDER BY pos_a) AS grp,
         pos_a
  FROM m),
spans AS (
  SELECT doc_id, lang, COUNT(*) + {_INTRA_N - 1} AS span,
         COUNT(*) AS n_pos
  FROM runs GROUP BY doc_id, lang, diag, grp)
SELECT doc_id, lang,
  CAST(MAX(span) AS BIGINT) AS max_repeat_span,
  CAST(SUM(n_pos) AS BIGINT) AS n_repeat_grams
FROM spans GROUP BY doc_id, lang
"""


@register("intradoc_repeated_span", oracle=_INTRA_ORACLE, tags=("dedup-jaccard", "X4", "D3"))
def intradoc_repeated_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest token span repeated WITHIN a document: positional 3-gram
    self-join per doc (earlier-pos vs later-pos), matches grouped per
    (doc, diagonal = pos_b − pos_a), gaps-and-islands merge, max run + 2
    — a repeated span of L ≥ 3 tokens at offset d is exactly an
    (L−2)-long consecutive run on diagonal d, including overlapping
    periodic repeats (diag < 3 ⇒ a period-d loop like "the cat the cat
    …"). Lee et al. 2021's intra-document complement of
    substring_max_span, and the degenerate-generation-loop detector a
    synthetic-text pipeline gates on before training.

    Scale shape: the self-join keys on (doc_id, gram) so nothing crosses
    documents — partitions, joins, and windows are all doc-local and
    bounded by max-doc-length², never corpus-sized; a chunking pipeline
    caps doc length upstream. Docs with no repeated 3-gram produce no
    row (no repetition to report)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    seqs = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= _INTRA_N
    )
    cnt = F.size("toks") - F.lit(_INTRA_N - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt).alias(f"t{i}") for i in range(_INTRA_N)]
    )
    grams = seqs.select("doc_id", "lang", F.posexplode(zipped).alias("pos0", "s")).select(
        "doc_id",
        "lang",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col("s").getField(f"t{i}") for i in range(_INTRA_N)]).alias("gram"),
    )
    a = grams.select("doc_id", "lang", F.col("pos").alias("pos_a"), "gram")
    b = grams.select("doc_id", F.col("pos").alias("pos_b"), "gram")
    m = (
        a.join(b, ["doc_id", "gram"])
        .filter(F.col("pos_a") < F.col("pos_b"))
        .select("doc_id", "lang", "pos_a", (F.col("pos_b") - F.col("pos_a")).alias("diag"))
    )
    w = Window.partitionBy("doc_id", "diag").orderBy("pos_a")
    runs = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    spans = runs.groupBy("doc_id", "lang", "diag", "grp").agg(
        (F.count("*") + F.lit(_INTRA_N - 1)).alias("span"),
        F.count("*").alias("n_pos"),
    )
    return spans.groupBy("doc_id", "lang").agg(
        F.max("span").cast("bigint").alias("max_repeat_span"),
        F.sum("n_pos").cast("bigint").alias("n_repeat_grams"),
    )


# --------------------------------------------------------------------------
# n-gram containment pairs: asymmetric near-dup — |A∩B| / |A| detects a
# document quoted or embedded inside a larger one, which symmetric
# Jaccard dilutes away (Lee et al. 2021 use containment for exactly
# this). Same inverted-postings plan as the Jaccard family.
# --------------------------------------------------------------------------

_CONT_THRESHOLD = 0.15

_CONTAIN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, {word_shingles_sql('text')} AS sh FROM documents),
ex AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM d),
sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.shingle = b.shingle
                     AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, shared,
       CAST(shared AS DOUBLE) / sa.n AS contain_a,
       CAST(shared AS DOUBLE) / sb.n AS contain_b
FROM co JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE greatest(CAST(shared AS DOUBLE) / sa.n,
               CAST(shared AS DOUBLE) / sb.n) >= {_CONT_THRESHOLD}
"""


@register("ngram_containment_pairs", oracle=_CONTAIN_ORACLE, tags=("dedup-jaccard", "X1"))
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment per same-language pair:
    contain_a = |A∩B|/|A| (how much of A lives inside B) and the mirror,
    kept where either side ≥ 0.15. A short document quoted verbatim in a
    long one scores contain_short ≈ 1 while its Jaccard ≈ |short|/|long|
    ≈ 0 — this is the subset/quotation detector Jaccard cannot be.

    Same scale shape as ngram_jaccard_pairs: |∩| arrives as a postings
    co-occurrence count (never a per-pair array intersection), pairs
    sharing zero shingles never materialize, set sizes join back on the
    doc id.

    r14 (guide §5): the exploded postings feed the size table AND both
    self-join sides — pinned so the scan+shingle+explode subtree runs
    once per run instead of three times (the before-plan carried 4
    scans). The identical-set collapse was A/B-tested here and REVERTED:
    at sf0.1 the fingerprint+collect_list+expand machinery cost ~0.6 s
    more than the duplicate postings it saved (solo 3.79s vs 4.42s);
    the df-cap/collapse guards remain available when corpus-sized."""
    d = T(spark, sf_dir, "documents")
    src = d.select("doc_id", "lang", word_shingles(F.col("text")).alias("sh")).repartition(
        "doc_id"
    )
    ex = pin(src.select("doc_id", "lang", F.explode("sh").alias("shingle")))
    sz = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ex.select(F.col("doc_id").alias("id_a"), "lang", "shingle")
    b = ex.select(F.col("doc_id").alias("id_b"), "lang", "shingle")
    co = (
        a.join(b, ["lang", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    j = co.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    ca = F.col("shared").cast("double") / F.col("na")
    cb = F.col("shared").cast("double") / F.col("nb")
    return j.filter(F.greatest(ca, cb) >= _CONT_THRESHOLD).select(
        "id_a", "id_b", "shared", ca.alias("contain_a"), cb.alias("contain_b")
    )


# --------------------------------------------------------------------------
# Token-distribution entropy per source: the information-theoretic
# diversity number — low entropy = template-looping or tiny effective
# vocabulary (complements distinct-1/2 diversity and the Zipf slope).
# --------------------------------------------------------------------------

_ENTROPY_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({tokens_sql('text')}) AS tok FROM documents),
freq AS (SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok),
tot AS (SELECT source, SUM(n) AS total, COUNT(*) AS v FROM freq GROUP BY source),
terms AS (
  SELECT f.source, t.total, t.v,
         {fixed_term_sql('(CAST(f.n AS DOUBLE) / t.total) * ln(CAST(f.n AS DOUBLE) / t.total)')}
           AS term9
  FROM freq f JOIN tot t ON f.source = t.source)
SELECT source,
  CAST(MAX(total) AS BIGINT) AS total_tokens,
  CAST(MAX(v) AS BIGINT) AS distinct_tokens,
  round(-{fixed_unscale_sql('SUM(term9)')}, 6) AS entropy,
  round(-{fixed_unscale_sql('SUM(term9)')} / ln(CAST(MAX(v) AS DOUBLE)), 6) AS norm_entropy
FROM terms GROUP BY source
"""


@register("token_entropy_by_source", oracle=_ENTROPY_ORACLE, tags=("text-analysis", "X4"))
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per source, plus the
    vocabulary-normalized form H/ln(V) ∈ (0, 1] — ≈1 means tokens are
    near-uniform over the vocabulary, low values mean a few templates
    dominate (the synthetic-text failure mode distinct-1/2 ratios catch
    only partially).

    Determinism: each token's p·ln p term is computed row-local (same
    IEEE ops both engines), then trunc-scaled to BIGINT before the
    cross-row sum so partition order can't shift a bit; final round(·,6)
    absorbs libm ln slop. Scale shape: the token stream reduces to
    (source, token) counts map-side; per-source totals broadcast back
    onto the count rows; one (source)-keyed agg of distinct-token rows."""
    d = T(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    tot = freq.groupBy("source").agg(
        F.sum("n").alias("total"), F.count("*").alias("v")
    )
    p = F.col("n").cast("double") / F.col("total")
    terms = freq.join(F.broadcast(tot), "source").select(
        "source",
        "total",
        "v",
        fixed_term(p * F.log(p)).alias("term9"),
    )
    h = -fixed_unscale(F.sum("term9"))
    return terms.groupBy("source").agg(
        F.max("total").cast("bigint").alias("total_tokens"),
        F.max("v").cast("bigint").alias("distinct_tokens"),
        F.round(h, 6).alias("entropy"),
        F.round(h / F.log(F.max("v").cast("double")), 6).alias("norm_entropy"),
    )


# --------------------------------------------------------------------------
# CCNet head/middle/tail buckets: the full CCNet move — not just gating
# the worst quartile but PARTITIONING the corpus into three perplexity
# tiers per language, so downstream mixture weights can oversample the
# head (Wenzek et al. 2020).
# --------------------------------------------------------------------------

_CCNET_ORACLE = f"""
WITH {_UNIGRAM_SCORES_ORACLE},
t1 AS (
  SELECT c.lang, MIN(c.logprob) AS t1
  FROM cdf c JOIN n ON c.lang = n.lang
  WHERE c.cum >= 1.0 * n.n_docs / 3.0 GROUP BY 1),
t2 AS (
  SELECT c.lang, MIN(c.logprob) AS t2
  FROM cdf c JOIN n ON c.lang = n.lang
  WHERE c.cum >= 2.0 * n.n_docs / 3.0 GROUP BY 1)
SELECT s.lang,
  CASE WHEN s.logprob > t2.t2 THEN 'head'
       WHEN s.logprob > t1.t1 THEN 'middle'
       ELSE 'tail' END AS bucket,
  COUNT(*) AS n_docs,
  round(MIN(s.logprob), 6) AS min_logprob,
  round(MAX(s.logprob), 6) AS max_logprob
FROM scored s
JOIN t1 ON s.lang = t1.lang JOIN t2 ON s.lang = t2.lang
GROUP BY 1, 2
"""


@register("ccnet_perplexity_buckets", oracle=_CCNET_ORACLE, tags=("text-analysis", "F4"))
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail partition per language: the
    corpus-trained unigram log-prob score (same LM as
    unigram_perplexity_gate), tertile threshold VALUES from the
    histogram-CDF exact quantile, each doc bucketed head (best third,
    strictly above t2), middle, or tail. Emits per-(lang, bucket) doc
    counts with the score range — the table CCNet's mixture weighting
    consumes (Wenzek et al. 2020: oversample head, downsample tail).

    Scale: identical to the gate — the only window runs over the
    per-lang score-value histogram (grid-capped, corpus-size
    independent); the two threshold rows per language broadcast into a
    map-side CASE. No per-doc ranking window anywhere."""
    scored, cdf, n = _unigram_scores(spark, sf_dir)

    # threshold arithmetic must be BIT-identical to the oracle's
    # "cum >= k * n_docs / 3.0" (not (k/3)*n_docs — a 1-ulp difference
    # can flip the >= when a tertile boundary lands on an integer cum).
    def tertile(k: float, name: str) -> DataFrame:
        return (
            cdf.join(F.broadcast(n), "lang")
            .filter(F.col("cum") >= F.lit(k) * F.col("n_docs") / F.lit(3.0))
            .groupBy("lang")
            .agg(F.min("logprob").alias(name))
        )

    t1 = tertile(1.0, "t1")
    t2 = tertile(2.0, "t2")
    bucketed = (
        scored.join(F.broadcast(t1), "lang")
        .join(F.broadcast(t2), "lang")
        .withColumn(
            "bucket",
            F.when(F.col("logprob") > F.col("t2"), "head")
            .when(F.col("logprob") > F.col("t1"), "middle")
            .otherwise("tail"),
        )
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
        F.round(F.max("logprob"), 6).alias("max_logprob"),
    )


# --------------------------------------------------------------------------
# LSH band-configuration sweep: candidate volume per (bands, rows) split
# of the same 12-hash MinHash signature — the tuning table you compute
# BEFORE committing a 100 TB dedup run to one precision/recall point.
# --------------------------------------------------------------------------

_SWEEP_CONFIGS = ((6, 2), (4, 3), (3, 4), (2, 6))


def _sweep_oracle() -> str:
    cfgs = []
    for b, r in _SWEEP_CONFIGS:
        union = " UNION ALL ".join(
            f"SELECT doc_id, {j} AS band, {band_key_sql('sig', j, r)} AS bh FROM sigs"
            for j in range(b)
        )
        thr = (1.0 / b) ** (1.0 / r)
        cfgs.append(
            f"""SELECT {b} AS n_bands, {r} AS rows_per_band, CAST({thr!r} AS DOUBLE) AS sim_threshold,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
     SELECT DISTINCT l.doc_id AS a, rr.doc_id AS b2
     FROM ({union}) l JOIN ({union}) rr
       ON l.band = rr.band AND l.bh = rr.bh AND l.doc_id < rr.doc_id))
    AS n_candidate_pairs"""
        )
    body = "\nUNION ALL\n".join(cfgs)
    return f"""
WITH sh AS (
  SELECT doc_id, {word_shingles_sql('text')} AS shingles FROM documents),
sigs AS MATERIALIZED (
  SELECT doc_id, {minhash_signature_sql('shingles', _MH_HASHES)} AS sig FROM sh)
{body}
"""


@register("lsh_band_sweep", oracle=_sweep_oracle(), tags=("dedup-minhash", "tuning"))
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair volume for four (bands × rows) splits of the same
    12-hash MinHash signature, with each config's ~50%-collision
    similarity threshold (1/b)^(1/r) — more bands with fewer rows pulls
    the threshold down (recall up, candidates up); the sweep quantifies
    that trade on the actual corpus.

    Scale shape: signatures are computed ONCE over collapsed distinct
    shingle-sets; each config re-bands those in-memory arrays (no
    re-shingling, no re-hashing) and counts DISTINCT colliding rep pairs
    via the band equi-join. Duplicate documents never enter any join —
    their pair counts are reconstructed arithmetically (identical sets
    collide in every config: within-group C(m,2) plus rep-pair m_a·m_b),
    so the whole sweep scales with distinct documents. The oracle counts
    the uncollapsed quadratic truth; the hash match proves the
    reconstruction exact."""
    from ..operators.neardup import collapse_identical_sets, minhash_signature

    d = T(spark, sf_dir, "documents")
    shingled = (
        d.select(F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh"))
        # same NULL-text guard as minhash_lsh_candidates: a NULL shingle
        # set must not join the empty-encoding collapse group, whose
        # arithmetic pair reconstruction the oracle's quadratic truth
        # (NULL signatures collide nowhere) would contradict.
        .filter(F.size("sh") > 0)
        .repartition("id")
    )
    groups = collapse_identical_sets(shingled, id_col="id", set_col="sh")
    # sigs/sizes/within feed all four configs: truncate their lineage so
    # the shingling+collapse subtree computes once, not once per config
    # (same fix as the two-pass median; without it the final plan carried
    # 20 document scans).
    sizes = pin(groups.select("id", F.size("members").cast("bigint").alias("m")))
    # coalesce to 0 (not NULL): on an empty corpus the oracle's pair
    # count is 0 and the n_candidate_pairs sum must not go NULL.
    within = pin(
        sizes.agg(
            F.coalesce(F.sum(F.expr("m * (m - 1) DIV 2")), F.lit(0))
            .cast("bigint")
            .alias("within_pairs")
        )
    )
    # HOF form deliberately kept here (r14): the signature runs ONCE on
    # the already-collapsed groups straight into this checkpoint, so the
    # explode+aggregate kernel's extra exchange costs more than the
    # interpreted mins save (A/B solo-measured 3.63s vs 4.11s at sf0.1).
    sigs = pin(groups.select("id", minhash_signature(F.col("sh"), _MH_HASHES).alias("sig")))
    # r14 (guide §2.4): ONE shared band join for all four configs instead
    # of four parallel (join → distinct → agg) chains — every config's
    # band rows carry a cfg key into a single equi-join on
    # (cfg, band, bh), one distinct, one size-weighted groupBy(cfg).
    # ~12 exchanges → 3; per-config rows identical (configs with zero
    # colliding rep pairs re-appear via the left join onto the literal
    # config table, coalesced to the within-group-only count).
    all_bands = F.flatten(
        F.array(
            *[
                F.array(
                    *[
                        F.struct(
                            F.lit(ci).alias("cfg"),
                            F.lit(j).alias("band"),
                            band_key(F.col("sig"), j, r).alias("bh"),
                        )
                        for j in range(b)
                    ]
                )
                for ci, (b, r) in enumerate(_SWEEP_CONFIGS)
            ]
        )
    )
    long = sigs.select("id", F.explode(all_bands).alias("x")).select(
        "id", "x.cfg", "x.band", "x.bh"
    )
    pairs = (
        long.alias("l")
        .join(
            long.alias("r2"),
            (F.col("l.cfg") == F.col("r2.cfg"))
            & (F.col("l.band") == F.col("r2.band"))
            & (F.col("l.bh") == F.col("r2.bh"))
            & (F.col("l.id") < F.col("r2.id")),
        )
        .select(F.col("l.cfg").alias("cfg"), F.col("l.id").alias("id_a"), F.col("r2.id").alias("id_b"))
        .distinct()
    )
    cross = (
        pairs.join(F.broadcast(sizes.withColumnRenamed("m", "m_a")), pairs.id_a == sizes.id)
        .drop("id")
        .join(
            F.broadcast(
                sizes.select(F.col("id").alias("idb"), F.col("m").alias("m_b"))
            ),
            F.col("id_b") == F.col("idb"),
        )
        .groupBy("cfg")
        .agg(F.sum(F.col("m_a") * F.col("m_b")).cast("bigint").alias("cross_pairs"))
    )
    cfgs = None
    for ci, (b, r) in enumerate(_SWEEP_CONFIGS):
        row = spark.range(1).select(
            F.lit(ci).alias("cfg"),
            F.lit(b).alias("n_bands"),
            F.lit(r).alias("rows_per_band"),
            F.lit((1.0 / b) ** (1.0 / r)).alias("sim_threshold"),
        )
        cfgs = row if cfgs is None else cfgs.unionByName(row)
    return (
        cfgs.join(cross, "cfg", "left")
        .crossJoin(F.broadcast(within))
        .select(
            "n_bands",
            "rows_per_band",
            "sim_threshold",
            (F.coalesce(F.col("cross_pairs"), F.lit(0)) + F.col("within_pairs"))
            .cast("bigint")
            .alias("n_candidate_pairs"),
        )
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth: V(N) ≈ K·N^β over nested corpus prefixes.
# Natural text sits near β ≈ 0.5; template-generated corpora flatten out.
# --------------------------------------------------------------------------

_HEAPS_FRACS = (0.2, 0.4, 0.6, 0.8, 1.0)

_HEAPS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql(fold_case_sql('text'))}) AS token FROM documents),
first AS (SELECT token, MIN(doc_id) AS first_seen FROM toks GROUP BY token),
dl AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
cps AS (
  SELECT f AS frac, CAST(ceil(f * n_docs) AS BIGINT) AS cut
  FROM (SELECT unnest([{', '.join(f'{f}::DOUBLE' for f in _HEAPS_FRACS)}]) AS f), nd),
vocab AS (
  SELECT c.frac, c.cut, COUNT(*) AS vocab
  FROM first f JOIN cps c ON f.first_seen < c.cut GROUP BY 1, 2),
ntok AS (
  SELECT c.frac, c.cut, CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens
  FROM dl d JOIN cps c ON d.doc_id < c.cut GROUP BY 1, 2),
pts AS (
  SELECT v.frac, v.cut, n.n_tokens, v.vocab,
         ln(CAST(n.n_tokens AS DOUBLE)) AS x, ln(CAST(v.vocab AS DOUBLE)) AS y
  FROM vocab v JOIN ntok n ON v.frac = n.frac AND v.cut = n.cut),
s AS (
  SELECT COUNT(*) AS k,
    {fixed_sum_sql('x')} AS sx, {fixed_sum_sql('y')} AS sy,
    {fixed_sum_sql('x * y')} AS sxy, {fixed_sum_sql('x * x')} AS sxx
  FROM pts)
SELECT p.frac, p.cut AS prefix_docs, p.n_tokens, CAST(p.vocab AS BIGINT) AS vocab,
  round((s.k * s.sxy - s.sx * s.sy) / (s.k * s.sxx - s.sx * s.sx), 6) AS heaps_beta
FROM pts p CROSS JOIN s
"""


@register("heaps_vocab_growth", oracle=_HEAPS_ORACLE, tags=("text-analysis", "tuning"))
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size at five nested corpus prefixes (20%…100% of docs)
    with the fitted Heaps exponent β from log-log least squares — natural
    corpora grow vocabulary like N^0.5; a flat curve exposes
    template/boilerplate generation, an exponent near 1 exposes noise.

    Scale shape: ONE token explode feeds two partial aggs — per-token
    first-seen doc and per-doc token count; each checkpoint is then a
    broadcast of 5 cutoff rows into those (already reduced) outputs, so
    vocabulary growth over any number of checkpoints costs one scan of
    the corpus. Regression sums are trunc-scaled BIGINTs over 5 points
    (exact, order-free); ln() slop absorbed by round(·,6)."""
    d = T(spark, sf_dir, "documents")
    # token arrays: the two partial aggs (the docstring's 'one scan'
    # promise was only true before the fold/WS contracts made
    # re-tokenizing expensive)
    toks = _token_arrays(d, "doc_id").select("doc_id", F.explode("t").alias("token"))
    first = toks.groupBy("token").agg(F.min("doc_id").alias("first_seen"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    nd = d.agg(F.count("*").alias("n_docs"))
    cps = (
        nd.select(
            F.explode(F.array(*[F.lit(f) for f in _HEAPS_FRACS])).alias("frac"),
            "n_docs",
        )
        .withColumn("cut", F.ceil(F.col("frac") * F.col("n_docs")).cast("bigint"))
        .select("frac", "cut")
    )
    vocab = (
        first.crossJoin(F.broadcast(cps))
        .filter(F.col("first_seen") < F.col("cut"))
        .groupBy("frac", "cut")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    ntok = (
        dl.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") < F.col("cut"))
        .groupBy("frac", "cut")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )
    pts = vocab.join(ntok, ["frac", "cut"]).select(
        "frac",
        "cut",
        "n_tokens",
        "vocab",
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    s = pts.agg(
        F.count("*").alias("k"),
        fixed_sum(x).alias("sx"),
        fixed_sum(y).alias("sy"),
        fixed_sum(x * y).alias("sxy"),
        fixed_sum(x * x).alias("sxx"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return pts.crossJoin(F.broadcast(s)).select(
        "frac",
        F.col("cut").alias("prefix_docs"),
        "n_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
    )


# --------------------------------------------------------------------------
# PMI collocations: token pairs that co-occur far above chance — the
# multiword-expression / boilerplate-phrase detector.
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20

_PMI_EXPR = (
    "ln((CAST(b.bcnt AS DOUBLE) / bt.n2) / "
    "((CAST(u1.cnt AS DOUBLE) / ut.total) * (CAST(u2.cnt AS DOUBLE) / ut.total)))"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {tokens_sql(fold_case_sql('text'))} AS t FROM documents),
uni AS (
  SELECT lang, token, COUNT(*) AS cnt
  FROM (SELECT lang, unnest(t) AS token FROM toks) GROUP BY 1, 2),
utot AS (SELECT lang, SUM(cnt) AS total FROM uni GROUP BY 1),
trans AS (
  SELECT lang,
         unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(t), 1)), i -> t[i + 1])) AS w2
  FROM toks WHERE len(t) >= 2),
bi AS (SELECT lang, w1, w2, COUNT(*) AS bcnt FROM trans GROUP BY 1, 2, 3),
btot AS (SELECT lang, SUM(bcnt) AS n2 FROM bi GROUP BY 1),
scored AS (
  SELECT b.lang, b.w1, b.w2, b.bcnt, round({_PMI_EXPR}, 6) AS pmi
  FROM bi b
  JOIN btot bt ON b.lang = bt.lang
  JOIN uni u1 ON b.lang = u1.lang AND b.w1 = u1.token
  JOIN uni u2 ON b.lang = u2.lang AND b.w2 = u2.token
  JOIN utot ut ON b.lang = ut.lang
  WHERE b.bcnt >= {_PMI_MIN_COUNT}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pmi DESC, w1, w2) AS rnk
  FROM scored)
SELECT lang, w1, w2, CAST(bcnt AS BIGINT) AS n_pair, pmi, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= {_PMI_TOPK}
"""


@register("pmi_collocations", oracle=_PMI_ORACLE, tags=("text-analysis",))
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pointwise-mutual-information bigrams per language (count
    floor 5): PMI = ln(p(w1,w2) / p(w1)p(w2)) finds phrases glued
    together far above chance — the collocation/boilerplate-phrase
    signal used for tokenizer-merge candidates and template detection.

    Scale shape: everything after the one bigram explode runs at
    VOCABULARY size — the PMI join chain touches only the (lang, w1, w2)
    count table and two unigram lookups; the totals broadcast; the
    count floor prunes the long tail before ranking, and the per-lang
    top-20 window runs over floor-surviving collocations only (Spark
    pushes the rank limit into the per-partition sort)."""
    from ..operators.dedup import top_k_per_group

    # toks feeds BOTH the unigram and the bigram pass
    toks = _token_arrays(T(spark, sf_dir, "documents"), "lang")
    uni = (
        toks.select("lang", F.explode("t").alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    utot = uni.groupBy("lang").agg(F.sum("cnt").alias("total"))
    trans = (
        toks.filter(F.size("t") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bi = pin(trans.groupBy("lang", "w1", "w2").agg(F.count("*").alias("bcnt")))
    btot = bi.groupBy("lang").agg(F.sum("bcnt").alias("n2"))
    scored = (
        bi.filter(F.col("bcnt") >= _PMI_MIN_COUNT)
        .join(F.broadcast(btot), "lang")
        .join(uni.select("lang", F.col("token").alias("w1"), F.col("cnt").alias("c1")), ["lang", "w1"])
        .join(uni.select("lang", F.col("token").alias("w2"), F.col("cnt").alias("c2")), ["lang", "w2"])
        .join(F.broadcast(utot), "lang")
        .select(
            "lang",
            "w1",
            "w2",
            "bcnt",
            F.round(
                F.log(
                    (F.col("bcnt").cast("double") / F.col("n2"))
                    / (
                        (F.col("c1").cast("double") / F.col("total"))
                        * (F.col("c2").cast("double") / F.col("total"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    ranked = top_k_per_group(
        scored,
        ["lang"],
        [F.col("pmi").desc(), F.col("w1"), F.col("w2")],
        _PMI_TOPK,
        rank_col="rank",
    )
    return ranked.select(
        "lang",
        "w1",
        "w2",
        F.col("bcnt").cast("bigint").alias("n_pair"),
        "pmi",
        F.col("rank").cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Continuation detection: doc A's last 3 tokens == doc B's first 3 tokens
# — the split-document / pagination-reassembly signal of a crawl corpus.
# --------------------------------------------------------------------------

_CONT_M = 3

_CONT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {tokens_sql(fold_case_sql('text'))} AS t FROM documents),
ok AS (SELECT * FROM toks WHERE len(t) >= {_CONT_M}),
tails AS (
  SELECT doc_id AS id_prev, lang,
         array_to_string(list_slice(t, len(t) - {_CONT_M - 1}, len(t)), ' ') AS boundary
  FROM ok),
heads AS (
  SELECT doc_id AS id_next, lang,
         array_to_string(list_slice(t, 1, {_CONT_M}), ' ') AS boundary
  FROM ok)
SELECT t.id_prev, h.id_next, t.boundary
FROM tails t JOIN heads h
  ON t.lang = h.lang AND t.boundary = h.boundary AND t.id_prev != h.id_next
"""


@register("doc_continuation_pairs", oracle=_CONT_ORACLE, tags=("dedup-exact", "T6"))
def doc_continuation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs where one doc's last 3 tokens verbatim equal
    another's first 3 — the signal that a source document was split
    across crawl records (pagination, chunked exports) and should be
    reassembled rather than treated as two near-dups.

    Scale shape: one fixed-width boundary key per document on each side,
    then a single equi-join on (lang, boundary) — real prose boundaries are
    near-unique so postings are short and the join is skew-light (the
    fixture's small synthetic vocabulary is the worst case; raise the
    boundary width for natural text); no
    window, no quadratic stage, linear in the corpus."""
    d = T(spark, sf_dir, "documents")
    # token arrays: the tails + heads consumers
    toks = pin(
        d.select("doc_id", "lang", tokens(fold_case(F.col("text"))).alias("t")).filter(
            F.size("t") >= _CONT_M
        )
    )
    tails = toks.select(
        F.col("doc_id").alias("id_prev"),
        "lang",
        F.array_join(F.slice("t", -_CONT_M, _CONT_M), " ").alias("boundary"),
    )
    heads = toks.select(
        F.col("doc_id").alias("id_next"),
        "lang",
        F.array_join(F.slice("t", 1, _CONT_M), " ").alias("boundary"),
    )
    return (
        tails.join(heads, ["lang", "boundary"])
        .filter(F.col("id_prev") != F.col("id_next"))
        .select("id_prev", "id_next", "boundary")
    )


# --------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (AllPairs/PPJoin family): the
# LOSSLESS alternative to LSH — every pair at or above the threshold is
# found, no probabilistic recall, candidates bounded by the prefix filter.
# --------------------------------------------------------------------------

_PF_TAU = 0.6

_PF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {word_shingles_sql('text')} AS ts FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
      / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jac
  FROM d a JOIN d b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(jac, 6) AS jac
FROM pairs WHERE jac >= {_PF_TAU}
"""


@register("jaccard_prefix_filter_join", oracle=_PF_ORACLE, tags=("dedup-jaccard", "D1"))
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-gram-shingle-set Jaccard ≥ 0.6, found by
    PREFIX FILTERING (AllPairs/PPJoin, Bayardo et al. 2007): order each
    doc's shingles rarest-first by global frequency and index only the first
    |T| − ⌈τ·|T|⌉ + 1 of them — two sets meeting the threshold MUST share
    a prefix token, so the candidate join is lossless by construction.
    The oracle computes the quadratic truth; a hash match proves zero
    missed pairs — the guarantee LSH can only approach in expectation.

    Scale shape: the prefix index is a posting-list equi-join like the
    n-gram inverted index, but postings hold only prefix occurrences of
    the RAREST tokens — the frequency ordering empties the long lists a
    naive token join would choke on. No window anywhere: the rarest-
    first order comes from sorting each doc's (frequency, shingle)
    structs locally after an equi-join with the frequency table; exact
    verification joins the two token arrays per surviving candidate
    only — and every stage downstream of shingling sees only DISTINCT
    shingle sets (identical-set collapse), so duplicate-heavy corpora
    cost postings proportional to unique documents.

    r14 (guide §2.3/§2.4/§2.5): the PPJoin LENGTH filter joins the
    candidate stage (|a|≥τ|b| ∧ |b|≥τ|a| is implied by jac≥τ, so it is
    lossless and prunes ~35% of candidates before the distinct); the
    shingle stage feeds the collapse groupBy directly (its exchange IS
    the barrier — the old repartition("id") was a second full shuffle
    of the shingle arrays); the candidate pairs repartition to
    cpu_width() BEFORE the distinct so the aggregate reuses that
    exchange and the verification join runs wide instead of on the one
    AQE byte-coalesced partition; and the threshold check is folded
    into the join as exact INTEGER arithmetic (8·|∩| ≥ 3·(|a|+|b|) ⇔
    jac ≥ 0.6 — |∩|/(s−|∩|) ≥ 3/5 cross-multiplied; a rational r with
    denominator ≤ corpus shingle count can never sit within half an
    ulp of the 0.6 double, so the double compare and the integer
    compare agree exactly), which evaluates array_intersect ONCE per
    pair instead of twice and computes the double jac only for
    survivors. 7.4s → ~3.4s at sf0.1, same rows."""
    from ..operators.neardup import collapse_identical_sets, expand_collapsed_pairs
    from .common import cpu_width

    d = T(spark, sf_dir, "documents")
    # NULL-text docs must never reach the collapse: their NULL shingle
    # set (size() = -1) would fingerprint into the empty-encoding group
    # and emit within-group jac=1.0 pairs the oracle's NULL jaccard
    # drops. Whitespace-only docs keep their [''] singleton set — both
    # engines agree those pair at jac=1.0.
    shingled = d.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("ts")
    ).filter(F.size("ts") > 0)
    # identical shingle sets collapse to one representative first: the
    # postings, candidate join, and verification all run on DISTINCT
    # sets; duplicate-heavy corpora re-expand only at output (within-
    # group pairs are Jaccard 1.0 by definition).
    groups = collapse_identical_sets(shingled, id_col="id", set_col="ts")
    reps = groups.select("id", "ts")
    freq = (
        reps.select(F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    # rarest-first ordering WITHOUT a global rank window: sorting each
    # doc's shingles by the (frequency, shingle) struct gives the exact
    # row_number-over-(cnt, token) order — the key is unique per shingle
    # — so no single-task sort of the (corpus-sized) vocabulary ever
    # materializes; the frequency table is only equi-joined.
    long = reps.select("id", F.size("ts").alias("n"), F.explode("ts").alias("token"))
    ranked = long.join(freq, "token")
    ordered = ranked.groupBy("id", "n").agg(
        F.array_sort(F.collect_list(F.struct("cnt", "token"))).alias("rt")
    )
    prefix_len = (F.col("n") - F.ceil(F.lit(_PF_TAU) * F.col("n")) + 1).cast("int")
    prefix = ordered.select(
        "id",
        "n",
        F.explode(F.slice(F.col("rt.token"), 1, prefix_len)).alias("token"),
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            # length filter: jac≥τ ⇒ each side ≥ τ·the other — lossless
            & (F.col("b.n") * F.lit(_PF_TAU) <= F.col("a.n"))
            & (F.col("a.n") * F.lit(_PF_TAU) <= F.col("b.n"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .repartition(cpu_width(spark), "id_a", "id_b")
        .distinct()
    )
    ta = reps.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    tb = reps.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    i = F.size(F.array_intersect("ts_a", "ts_b"))
    s = F.size("ts_a") + F.size("ts_b")
    rep_pairs = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        # exact integer form of jac ≥ 0.6; single array_intersect eval
        .filter(i * 8 >= s * 3)
        .select(
            "id_a",
            "id_b",
            F.round(i.cast("double") / (s - i), 6).alias("jac"),
        )
    )
    return expand_collapsed_pairs(
        rep_pairs, groups, id_col="id", within_payload={"jac": F.lit(1.0)}
    )


# --------------------------------------------------------------------------
# Sampled duplication-rate estimate: measure the corpus's exact-dup rate
# on a seeded sample (with a Wilson interval) BEFORE paying for the full
# dedup run — the job-planning primitive at 100 TB.
# --------------------------------------------------------------------------

_DUPEST_RATE = 0.2
_DUPEST_Z = 1.96

_DUPEST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS ts FROM documents),
grams0 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(ts) - 7, 1) + 1),
                          i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS ck
  FROM toks),
grams AS (SELECT * FROM grams0 WHERE ck IS NOT NULL AND len(ck) > 0),
grp AS (SELECT ck, COUNT(*) AS n FROM grams GROUP BY ck),
truth AS (
  SELECT CAST(SUM(n - 1) AS DOUBLE) / SUM(n) AS true_rate FROM grp),
samp AS (
  SELECT g.ck FROM grams g
  WHERE {unit_rand_sql('g.ck', 'dupest')} < {_DUPEST_RATE}),
sgrp AS (SELECT ck, COUNT(*) AS n FROM samp GROUP BY ck),
est AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_sampled,
         CAST(SUM(n - 1) AS DOUBLE) / SUM(n) AS est_rate
  FROM sgrp)
SELECT e.n_sampled, round(e.est_rate, 6) AS est_rate,
  round(greatest(0.0,
    (e.est_rate + {_DUPEST_Z}*{_DUPEST_Z}/(2*e.n_sampled)
     - {_DUPEST_Z} * sqrt((e.est_rate*(1-e.est_rate)
        + {_DUPEST_Z}*{_DUPEST_Z}/(4*e.n_sampled)) / e.n_sampled))
    / (1 + {_DUPEST_Z}*{_DUPEST_Z}/e.n_sampled)), 6) AS ci_lo,
  round(least(1.0,
    (e.est_rate + {_DUPEST_Z}*{_DUPEST_Z}/(2*e.n_sampled)
     + {_DUPEST_Z} * sqrt((e.est_rate*(1-e.est_rate)
        + {_DUPEST_Z}*{_DUPEST_Z}/(4*e.n_sampled)) / e.n_sampled))
    / (1 + {_DUPEST_Z}*{_DUPEST_Z}/e.n_sampled)), 6) AS ci_hi,
  round(t.true_rate, 6) AS true_rate
FROM est e CROSS JOIN truth t
"""


@register("dup_rate_estimate", oracle=_DUPEST_ORACLE, tags=("dedup-exact", "tuning", "M4"))
def dup_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim 8-gram repetition rate (the Lee et al. 2021 duplication
    measure) estimated from a seeded 20% document sample with its Wilson
    95% interval, next to the full-corpus truth — the estimate you
    compute on a sliver before committing a 100 TB dedup run (the truth
    columns exist for the oracle check; production reads only the sample
    row). The draw samples by gram KEY, not by document: every
    occurrence of a sampled gram is kept, so each gram group survives
    intact and the estimator is unbiased for the group-structured rate —
    sampling by row/doc would destroy exactly the cross-document repeats
    being measured (both endpoints must land in a row sample, deflating
    the estimate by the sampling fraction).

    Scale shape: the sample is a map-side md5 filter on the gram, one
    groupBy over one-fifth of the gram keys; the truth pass is the same
    shape. All scalar math rides a 1-row crossJoin."""
    from ..functions.determinism import unit_rand

    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ts")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ts) - 7, 1)), "
                "i -> concat_ws(' ', slice(ts, i, 8)))"
            )
        ).alias("ck"),
    # no-content docs contribute no grams: a NULL-text doc's slice
    # reaches concat_ws as a NULL array and yields '' here but NULL in
    # the oracle, so without this guard the two engines bucket missing
    # and whitespace-only docs differently (latent hash divergence).
    ).filter(F.length("ck") > 0)
    grp = grams.groupBy("ck").agg(F.count("*").alias("n"))
    truth = grp.agg(
        (F.sum(F.col("n") - 1).cast("double") / F.sum("n")).alias("true_rate")
    )
    samp = grams.filter(unit_rand(F.col("ck"), "dupest") < _DUPEST_RATE)
    sgrp = samp.groupBy("ck").agg(F.count("*").alias("n"))
    est = sgrp.agg(
        F.sum("n").cast("bigint").alias("n_sampled"),
        (F.sum(F.col("n") - 1).cast("double") / F.sum("n")).alias("est_rate"),
    )
    z2 = _DUPEST_Z * _DUPEST_Z
    p, ns = F.col("est_rate"), F.col("n_sampled")
    center = p + F.lit(z2) / (2 * ns)
    half = F.lit(_DUPEST_Z) * F.sqrt((p * (1 - p) + F.lit(z2) / (4 * ns)) / ns)
    denom = 1 + F.lit(z2) / ns
    return est.crossJoin(F.broadcast(truth)).select(
        "n_sampled",
        F.round(p, 6).alias("est_rate"),
        F.round(F.greatest(F.lit(0.0), (center - half) / denom), 6).alias("ci_lo"),
        F.round(F.least(F.lit(1.0), (center + half) / denom), 6).alias("ci_hi"),
        F.round(F.col("true_rate"), 6).alias("true_rate"),
    )


# --------------------------------------------------------------------------
# LSH parameter chooser: close the tuning loop over the band sweep —
# collision probability at the target similarity per config, feasibility,
# and the cheapest feasible config chosen.
# --------------------------------------------------------------------------

_CHOOSER_TAU = 0.8
_CHOOSER_FLOOR = 0.9


def _chooser_oracle() -> str:
    rows = []
    for b, r in _SWEEP_CONFIGS:
        p = 1.0 - (1.0 - _CHOOSER_TAU**r) ** b
        rows.append(
            f"SELECT {b} AS n_bands, {r} AS rows_per_band, CAST({p!r} AS DOUBLE) AS p_collision"
        )
    probs = "\nUNION ALL\n".join(rows)
    return f"""
WITH sweep AS ({_sweep_oracle()}),
probs AS ({probs}),
j AS (
  SELECT s.n_bands, s.rows_per_band, s.n_candidate_pairs,
         round(p.p_collision, 6) AS p_collision,
         (p.p_collision >= {_CHOOSER_FLOOR}) AS feasible
  FROM sweep s JOIN probs p
    ON s.n_bands = p.n_bands AND s.rows_per_band = p.rows_per_band),
best AS (
  SELECT MIN(n_candidate_pairs) AS best_cand FROM j WHERE feasible)
SELECT j.n_bands, j.rows_per_band, j.n_candidate_pairs, j.p_collision, j.feasible,
  (j.feasible AND j.n_candidate_pairs = b.best_cand) AS chosen
FROM j CROSS JOIN best b
"""


@register("lsh_param_chooser", oracle=_chooser_oracle(), tags=("dedup-minhash", "tuning"))
def lsh_param_chooser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the LSH tuning loop: for each (bands × rows) split of the
    12-hash signature, the analytic collision probability
    1−(1−τ^r)^b at the target similarity τ=0.8, a feasibility flag
    (probability ≥ 0.9), and the measured candidate volume from the band
    sweep — the CHOSEN config is the cheapest feasible one. This is the
    table a 100 TB dedup run reads to pick its banding before touching
    the corpus.

    Scale shape: inherits the sweep's collapsed candidate counting; the
    probability column is a per-config literal; choosing the winner
    compares 4 rows against a 1-row broadcast minimum."""
    sweep = lsh_band_sweep(spark, sf_dir)
    probs = None
    for b, r in _SWEEP_CONFIGS:
        p = 1.0 - (1.0 - _CHOOSER_TAU**r) ** b
        row = spark.range(1).select(
            F.lit(b).alias("n_bands"),
            F.lit(r).alias("rows_per_band"),
            F.lit(p).alias("p_collision"),
        )
        probs = row if probs is None else probs.unionByName(row)
    j = sweep.join(F.broadcast(probs), ["n_bands", "rows_per_band"]).select(
        "n_bands",
        "rows_per_band",
        "n_candidate_pairs",
        F.round("p_collision", 6).alias("p_collision"),
        (F.col("p_collision") >= _CHOOSER_FLOOR).alias("feasible"),
    )
    best = j.filter(F.col("feasible")).agg(
        F.min("n_candidate_pairs").alias("best_cand")
    )
    return j.crossJoin(F.broadcast(best)).select(
        "n_bands",
        "rows_per_band",
        "n_candidate_pairs",
        "p_collision",
        "feasible",
        (F.col("feasible") & (F.col("n_candidate_pairs") == F.col("best_cand"))).alias(
            "chosen"
        ),
    )


# --------------------------------------------------------------------------
# Quality × duplication lift: are low-quality docs more likely to be
# near-duplicates? Per quality quartile, the near-dup membership rate —
# the interaction table that justifies (or kills) quality-first dedup.
# --------------------------------------------------------------------------

# IEEE floor-grid, NOT round(·,4) (r13 grid-key tie sweep, queued #11):
# this is the SAME 4-dp quality grid whose 0.72125 halfway split
# rank_normalized_quality at sf0.1 — Spark's BigDecimal HALF_UP vs
# DuckDB's binary half-even. Here the tie was LATENT (the one-cell
# histogram shift didn't happen to move a doc across a quartile
# boundary at sf0.1), but any data drift could surface it. floor(q*1e4
# + 0.5) is pure double arithmetic, bit-identical on both engines; the
# grid key never reaches the output.
_LIFT_QUALITY_EXPR = f"CAST(floor({quality_score_sql()} * 10000.0 + 0.5) AS BIGINT)"


def _lift_oracle() -> str:
    return f"""
WITH {_NEAR_DUP_EDGES_ORACLE},
members AS (
  SELECT DISTINCT m FROM (
    SELECT id_a AS m FROM near_dup_edges
    UNION ALL
    SELECT id_b AS m FROM near_dup_edges)),
q AS (
  SELECT doc_id, {_LIFT_QUALITY_EXPR} AS qv
  FROM (SELECT doc_id, text, {tokens_sql('text')} AS toks FROM documents)),
hist AS (SELECT qv, COUNT(*) AS c FROM q GROUP BY qv),
cdf AS (
  SELECT qv, c, SUM(c) OVER (ORDER BY qv) - c AS cum_lt FROM hist),
n AS (SELECT COUNT(*) AS n_docs FROM q),
tiles AS (
  SELECT c.qv,
    least(4, CAST(floor(4.0 * c.cum_lt / n.n_docs) AS BIGINT) + 1) AS tile
  FROM cdf c CROSS JOIN n),
labeled AS (
  SELECT q.doc_id, t.tile, (m.m IS NOT NULL) AS is_dup
  FROM q JOIN tiles t ON q.qv = t.qv
  LEFT JOIN members m ON q.doc_id = m.m)
SELECT CAST(tile AS INTEGER) AS quality_quartile,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_members,
  round(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS dup_rate
FROM labeled GROUP BY tile
"""


@register("quality_duplication_lift", oracle=_lift_oracle(), tags=("quality", "dedup-minhash", "tuning"))
def quality_duplication_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup membership rate per quality quartile: docs bucket into
    value-based quartiles of the 4-dp quality grid (IEEE floor-grid
    keyed — see _LIFT_QUALITY_EXPR — histogram-CDF tiles, the de-skewed
    pattern), and a doc counts as a near-dup member if it
    appears in any verified LSH pair at the cluster threshold — the
    interaction table behind quality-first dedup policies (if low
    quality correlates with duplication, dedup order matters).

    Scale shape: the pair list is the existing collapsed LSH pipeline
    (pinned — referenced once per side of the membership union); tiles
    come from windows over the grid-bounded quality histogram; the
    membership check is one left join against a distinct-member table
    bounded by the candidate-pair count."""
    from pyspark.sql import Window

    from ..operators.textops import quality_score

    pairs = pin(_near_dup_edges(spark, sf_dir))
    members = (
        pairs.select(F.col("id_a").alias("m"))
        .unionByName(pairs.select(F.col("id_b").alias("m")))
        .distinct()
    )
    # r14 (guide §5): q feeds the histogram, the doc count AND the final
    # labeled join — the scan + tokenize/regex quality score runs once
    # instead of three times.
    q = pin(
        quality_score(T(spark, sf_dir, "documents")).select(
            "doc_id",
            # IEEE floor-grid, NOT F.round(·,4) — see _LIFT_QUALITY_EXPR
            F.floor(F.col("quality") * F.lit(10000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("qv"),
        )
    )
    hist = q.groupBy("qv").agg(F.count("*").alias("c"))
    wc = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.withColumn("cum_lt", F.sum("c").over(wc) - F.col("c"))
    n = q.agg(F.count("*").alias("n_docs"))
    tiles = cdf.crossJoin(F.broadcast(n)).select(
        "qv",
        F.least(
            F.lit(4).cast("bigint"),
            F.floor(F.lit(4.0) * F.col("cum_lt") / F.col("n_docs")) + 1,
        ).alias("tile"),
    )
    labeled = (
        q.join(F.broadcast(tiles), "qv")
        .join(members.withColumnRenamed("m", "doc_id").withColumn("__d", F.lit(1)), "doc_id", "left")
    )
    return labeled.groupBy(F.col("tile").cast("int").alias("quality_quartile")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("__d").isNotNull(), 1).otherwise(0)).cast("bigint").alias(
            "n_dup_members"
        ),
        F.round(
            F.sum(F.when(F.col("__d").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_rate"),
    )
