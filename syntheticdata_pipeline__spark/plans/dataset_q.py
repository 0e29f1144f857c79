"""Training-dataset preparation queries over ``documents`` — the
post-dedup stages of a pretraining corpus build (split → sample → pack →
mix), all seeded/deterministic and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import fixed_sum_sql, hash_bucket_sql, unit_rand, unit_rand_sql
from ..functions.text import fold_case, fold_case_sql, tokens, tokens_sql
from ..operators.datasetprep import (
    deterministic_split,
    mixture_expand,
    pack_sequences,
    sample_k_per_group,
)
from ..session import pin
from . import register
from .common import T

# --------------------------------------------------------------------------
# Deterministic train/val/test split.
# --------------------------------------------------------------------------

_r = unit_rand_sql("doc_id", "split")
_FRACTIONS = (("train", 0.8), ("val", 0.1), ("test", 0.1))

from ..operators.datasetprep import split_bounds  # noqa: E402

_bounds = split_bounds(_FRACTIONS)
_split_cases = " ".join(f"WHEN {_r} < {hi!r} THEN '{name}'" for name, hi in _bounds[:-1])

_SPLIT_ORACLE = f"""
WITH s AS (
  SELECT lang,
    CASE {_split_cases} ELSE '{_bounds[-1][0]}' END AS split
  FROM documents)
SELECT lang, split, COUNT(*) AS n FROM s GROUP BY lang, split
"""


@register("dataset_split_counts", oracle=_SPLIT_ORACLE, tags=("dataset-prep",))
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split keyed on doc_id — stable under any partitioning
    (randomSplit is not)."""
    d = T(spark, sf_dir, "documents")
    out = deterministic_split(d, F.col("doc_id"), _FRACTIONS)
    return out.groupBy("lang", "split").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Fixed-size per-group sample.
# --------------------------------------------------------------------------

_SAMPLE_K = 5

_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {unit_rand_sql('doc_id', 'sample')}, doc_id) AS rk
  FROM documents)
SELECT lang, doc_id FROM ranked WHERE rk <= {_SAMPLE_K}
"""


@register("sample_per_lang", oracle=_SAMPLE_ORACLE, tags=("dataset-prep", "D8"))
def sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-doc sample per language (distributed reservoir
    shape: seeded rank + top-k)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_k_per_group(d, ["lang"], F.col("doc_id"), k=_SAMPLE_K).select(
        "lang", "doc_id"
    )


# --------------------------------------------------------------------------
# Sequence packing into token-budget bins.
# --------------------------------------------------------------------------

_BUDGET = 512

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, len({tokens_sql('text')}) AS n_tok FROM documents),
packed AS (
  SELECT lang, doc_id, n_tok,
    CAST(floor(coalesce(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_BUDGET}) AS BIGINT) AS bin_id
  FROM toks)
SELECT lang, bin_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM packed GROUP BY lang, bin_id
"""


@register("pack_token_bins", oracle=_PACK_ORACLE, tags=("dataset-prep",))
def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (doc_id order per language) into 512-token bins via
    one window cumsum — the packed-example layout step."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"))
    packed = pack_sequences(
        toks, ["lang"], F.col("doc_id"), F.col("n_tok"), budget=_BUDGET
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )


# --------------------------------------------------------------------------
# Decontamination: drop training documents that share any word-5-gram
# with the held-out test split (the benchmark-leakage guard every
# pretraining corpus runs).
# --------------------------------------------------------------------------

from ..operators.neardup import word_shingles, word_shingles_sql  # noqa: E402

_DECON_N = 5

def _split_sql() -> str:
    return f"CASE {_split_cases} ELSE '{_bounds[-1][0]}' END"


_DECON_ORACLE = f"""
WITH s AS (
  SELECT doc_id, lang, text, {_split_sql()} AS split FROM documents),
test_grams AS (
  SELECT DISTINCT unnest({word_shingles_sql('text', _DECON_N)}) AS gram
  FROM s WHERE split = 'test'),
train AS (SELECT doc_id, lang, {word_shingles_sql('text', _DECON_N)} AS grams
          FROM s WHERE split = 'train'),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
  JOIN test_grams g ON t.gram = g.gram)
SELECT lang,
  COUNT(*) AS n_train,
  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
FROM train LEFT JOIN contaminated c USING (doc_id)
GROUP BY lang
"""


@register("decontaminate_train", oracle=_DECON_ORACLE, tags=("dataset-prep", "dedup-exact"))
def decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word-5-gram
    with the test split are flagged. Plan: the test side's distinct grams
    are small → broadcast semi-join against exploded train postings (one
    corpus scan, no quadratic step)."""
    d = T(spark, sf_dir, "documents")
    s = deterministic_split(d, F.col("doc_id"), _FRACTIONS)
    test_grams = (
        s.filter(F.col("split") == "test")
        .select(F.explode(word_shingles(F.col("text"), _DECON_N)).alias("gram"))
        .distinct()
    )
    train = s.filter(F.col("split") == "train").select(
        "doc_id", "lang", word_shingles(F.col("text"), _DECON_N).alias("grams")
    ).repartition("doc_id")
    contaminated = (
        train.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(test_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0)).alias("n_contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Distribution reporting: percentiles (filter-threshold selection) and
# fixed-bin histograms — the corpus profiling pass before setting quality
# cutoffs.
# --------------------------------------------------------------------------

_PCT_ORACLE = """
SELECT lang,
  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 9) AS p25,
  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 9) AS p50,
  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 9) AS p95
FROM documents WHERE n_chars IS NOT NULL GROUP BY lang
"""


@register("doc_length_percentiles", oracle=_PCT_ORACLE, tags=("dataset-prep", "A7"))
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of document length per language
    (rounded to 9 decimals — interpolation arithmetic differs by 1 ulp
    across engines).

    Computed as an exact two-pass distributed quantile on the per-(lang,
    length) histogram CDF — NOT ``F.percentile``, whose sort-based
    aggregate buffers a whole group's values on one reducer (the same
    single-task bottleneck the r6 de-skew removed from the quantile
    gates). Interpolation at index p·(n−1) picks the two bracketing
    values straight off the CDF (lo = min v with cum ≥ ⌊idx⌋+1, hi = the
    next rank), so the result is bit-equal to the engine-native
    ``quantile_cont`` the oracle still uses, while the only window runs
    over histogram rows bounded by the distinct-length value space.

    NULL contract (round-9 NULL-metadata sweep): a doc with unknown
    length is not a point on any length distribution — excluded from
    both the histogram and the population count on both sides. A NULL
    lang IS a real group (quantile_cont's GROUP BY keeps it), so the
    population join is null-safe — a plain equi-join would silently drop
    the NULL-lang row."""
    d = T(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    hist = d.groupBy(
        "lang", F.col("n_chars").cast("double").alias("v")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = hist.withColumn("cum", F.sum("cnt").over(w))
    n = d.groupBy(F.col("lang").alias("lang_n")).agg(F.count("*").alias("n"))
    j = cdf.join(
        F.broadcast(n), F.col("lang").eqNullSafe(F.col("lang_n"))
    ).drop("lang_n")

    def parts(p: float, tag: str):
        idx = F.lit(p) * (F.col("n") - F.lit(1)).cast("double")
        k = F.floor(idx)
        return [
            F.min(F.when(F.col("cum") >= k + 1, F.col("v"))).alias(f"lo{tag}"),
            F.min(F.when(F.col("cum") >= k + 2, F.col("v"))).alias(f"hi{tag}"),
            F.max(idx - k).alias(f"frac{tag}"),
        ]

    agg = j.groupBy("lang").agg(
        *(parts(0.25, "25") + parts(0.5, "50") + parts(0.95, "95"))
    )

    def interp(tag: str):
        lo = F.col(f"lo{tag}")
        hi = F.coalesce(F.col(f"hi{tag}"), lo)
        return F.round(lo + (hi - lo) * F.col(f"frac{tag}"), 9)

    return agg.select(
        "lang",
        interp("25").alias("p25"),
        interp("50").alias("p50"),
        interp("95").alias("p95"),
    )


from ..functions.determinism import BUCKET_CLAMP, clamped_floor, clamped_floor_sql  # noqa: E402

_HIST_ORACLE = f"""
SELECT event_type,
  CASE WHEN isfinite(value)
       THEN {clamped_floor_sql('value / 10.0', -BUCKET_CLAMP, BUCKET_CLAMP)} END AS bucket,
  COUNT(*) AS n
FROM events GROUP BY event_type, bucket
"""


@register("event_value_histogram", oracle=_HIST_ORACLE, tags=("A4", "R7"))
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (floor-bucketing is one
    codegen expression; no two-pass min/max needed). A non-finite value
    is not a point on the distribution: it lands in the NULL bucket with
    the NULL values (finite_or_null contract, r9). The bucket index
    saturates at ±2^62 (clamped_floor, r10 extremes battery → r11 fix):
    a finite ±1.7e308 value has a real bucket but no BIGINT for it, and
    the unclamped floor saturated silently in Spark while DuckDB's cast
    raised — the asymmetric middle state the contract forbids."""
    from ..functions.determinism import finite_or_null

    ev = T(spark, sf_dir, "events")
    fin = finite_or_null(F.col("value"))
    return ev.groupBy(
        "event_type",
        F.when(
            fin.isNotNull(),
            clamped_floor(fin / F.lit(10.0), -BUCKET_CLAMP, BUCKET_CLAMP),
        ).alias("bucket"),
    ).agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Source-mixture epoch expansion.
# --------------------------------------------------------------------------

_MIX_ORACLE = """
WITH weighted AS (
  SELECT doc_id, source,
         CASE WHEN source IN ('src0', 'src1') THEN 3
              WHEN source IN ('src2', 'src3') THEN 2
              ELSE 1 END AS w
  FROM documents),
expanded AS (
  SELECT doc_id, source, unnest(range(1, w + 1)) AS epoch_copy FROM weighted)
SELECT source, COUNT(*) AS n_examples, COUNT(DISTINCT doc_id) AS n_docs
FROM expanded GROUP BY source
"""


@register("mixture_expansion", oracle=_MIX_ORACLE, tags=("dataset-prep",))
def mixture_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weights as epoch expansion: high-value sources repeat 3×,
    mid 2×, rest 1× — explode(sequence), fully JVM-side."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    weighted = d.withColumn(
        "w",
        F.when(F.col("source").isin("src0", "src1"), F.lit(3))
        .when(F.col("source").isin("src2", "src3"), F.lit(2))
        .otherwise(F.lit(1)),
    )
    out = mixture_expand(weighted, F.col("w"))
    return out.groupBy("source").agg(
        F.count("*").alias("n_examples"), F.countDistinct("doc_id").alias("n_docs")
    )


# --------------------------------------------------------------------------
# sqrt-scaled source mixture weights: upweight small sources relative to
# proportional sampling (the standard multi-source pretraining mix rule).
# Decimal-exact sqrt sums keep the normalizing total order-independent.
# --------------------------------------------------------------------------

_SQRT_MIX_ORACLE = f"""
WITH tt AS (
  SELECT source, CAST(SUM(len({tokens_sql('text')})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source),
s AS (
  SELECT source, total_tokens,
         CAST(round(sqrt(CAST(total_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sq
  FROM tt),
tot AS (SELECT SUM(sq) AS total_sq FROM s)
SELECT source, total_tokens,
       round(CAST(sq AS DOUBLE) / CAST(total_sq AS DOUBLE), 6) AS weight
FROM s CROSS JOIN tot
"""


@register("source_sqrt_mixture", oracle=_SQRT_MIX_ORACLE, tags=("dataset-prep", "M4"))
def source_sqrt_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sqrt(token-count) mixture weights. The normalizing total
    is a broadcast 1-row scalar (cross join), NOT a global window — at
    crawl scale #sources is millions and a single-partition window would
    serialize; the per-source sqrt is rounded then summed as exact decimal
    so the total is order-independent. The per-source aggregate (MBs even
    at crawl scale) is checkpointed so the corpus is scanned ONCE — without
    it both the rows and the normalizing total re-derive from the raw scan
    (verified: two Scan parquet nodes in the un-checkpointed plan)."""
    d = T(spark, sf_dir, "documents")
    tt = pin(
        d.groupBy("source").agg(
            F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("total_tokens")
        )
    )
    s = tt.withColumn(
        "sq",
        F.round(F.sqrt(F.col("total_tokens").cast("double")), 6).cast("decimal(18,6)"),
    )
    tot = s.agg(F.sum("sq").alias("total_sq"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "total_tokens",
        F.round(
            F.col("sq").cast("double") / F.col("total_sq").cast("double"), 6
        ).alias("weight"),
    )


# --------------------------------------------------------------------------
# Document chunking: fixed-size token windows with stride overlap (the
# standard pretraining/RAG chunker). Chunk starts are a generated sequence
# exploded per doc — linear in tokens, map-side only.
# --------------------------------------------------------------------------

_CHUNK = 32
_STRIDE = 24

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
c AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(toks) - {_CHUNK} + {_STRIDE}, 1), {_STRIDE}))
           AS start
  FROM t)
SELECT c.doc_id,
  CAST(c.start // {_STRIDE} AS INTEGER) AS chunk_id,
  array_to_string(t.toks[c.start + 1 : c.start + {_CHUNK}], ' ') AS chunk_text,
  CAST(least({_CHUNK}, len(t.toks) - c.start) AS INTEGER) AS n_tokens
FROM c JOIN t ON c.doc_id = t.doc_id
"""


@register("chunk_documents", oracle=_CHUNK_ORACLE, tags=("dataset-prep", "M12"))
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: sequence(0, n-chunk+stride, stride) exploded
    per doc, chunk text sliced from the token array — one scan, no
    shuffle, output linear in corpus tokens (every token lands in
    ceil(chunk/stride) chunks)."""
    d = T(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("toks")) - _CHUNK + _STRIDE - 1, F.lit(0)),
        F.lit(_STRIDE),
    )
    ex = t.select("doc_id", "toks", F.explode(starts).alias("start"))
    return ex.select(
        "doc_id",
        (F.col("start") / _STRIDE).cast("int").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, _CHUNK), " "
        ).alias("chunk_text"),
        F.least(F.lit(_CHUNK), F.size("toks") - F.col("start")).cast("int").alias(
            "n_tokens"
        ),
    )


# --------------------------------------------------------------------------
# Seeded negative sampling (contrastive-pair mining): k pseudo-random
# negatives per anchor via the md5 draw — reproducible at any parallelism,
# no RNG state, and the negative id is a pure column expression so the
# label join stays an equi-join.
# --------------------------------------------------------------------------

_NEG_K = 3

_NEG_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
a AS (
  SELECT doc_id AS anchor_id, unnest(range(0, {_NEG_K})) AS j FROM documents),
cand AS (
  SELECT a.anchor_id, CAST(a.j AS INTEGER) AS j,
    CAST(CAST('0x' || substr(md5('neg' || '|' || CAST(a.anchor_id AS VARCHAR)
           || '#' || CAST(a.j AS VARCHAR)), 1, 8) AS BIGINT) % n.n_docs AS BIGINT)
      AS neg_id
  FROM a CROSS JOIN n)
SELECT c.anchor_id, c.j, c.neg_id, d.lang AS neg_lang
FROM cand c JOIN documents d ON c.neg_id = d.doc_id
WHERE c.neg_id != c.anchor_id
"""


@register("negative_sample_pairs", oracle=_NEG_ORACLE, tags=("dataset-prep", "M4"))
def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k seeded negatives per anchor: corpus size broadcast as a 1-row
    scalar, negative ids drawn by md5(anchor#j) mod n (collisions with the
    anchor dropped, matching unseeded sampling-with-replacement semantics),
    then one equi-join to attach negative-side features."""
    d = T(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    a = d.select(F.col("doc_id").alias("anchor_id")).crossJoin(F.broadcast(n))
    ex = a.select(
        "anchor_id", "n_docs", F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("neg"), F.lit("|"),
                    F.col("anchor_id").cast("string"),
                    F.lit("#"), F.col("j").cast("string"),
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    cand = ex.select(
        "anchor_id",
        F.col("j").cast("int").alias("j"),
        (h % F.col("n_docs")).cast("bigint").alias("neg_id"),
    ).filter(F.col("neg_id") != F.col("anchor_id"))
    neg = d.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang"))
    return cand.join(neg, "neg_id").select("anchor_id", "j", "neg_id", "neg_lang")


# --------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Espirakis A-Res): rank
# by u^(1/w) with the seeded md5 draw — one pass, distributed-safe, and
# deterministic at any parallelism (the classic reservoir trick, here as
# a per-group top-k instead of a heap).
# --------------------------------------------------------------------------

_WS_K = 5

_WSAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         pow({unit_rand_sql('doc_id', 'wsample')},
             1.0 / NULLIF(CAST(n_chars AS DOUBLE), 0.0)) AS es_key
  FROM documents),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, doc_id) AS rk
  FROM keyed WHERE es_key IS NOT NULL)
SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rk <= {_WS_K}
"""


@register("weighted_sample_no_replacement", oracle=_WSAMPLE_ORACLE, tags=("dataset-prep", "M4", "D8"))
def weighted_sample_no_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis A-Res: P(doc in sample) ∝ n_chars, no
    replacement, via key = u^(1/w) and per-lang top-k. pow/division are
    single IEEE ops on identical inputs → the same sample on every engine
    and partitioning.

    A zero or NULL weight has no A-Res key (u^(1/0) is undefined — the
    doc carries no sampling mass) and falls out of the sample on BOTH
    engines: try_divide/NULLIF makes the exponent NULL and the explicit
    es_key filter drops the row, where ANSI Spark previously died on
    DIVIDE_BY_ZERO while DuckDB IEEE-tolerated (r10 extremes battery →
    r11 fix)."""
    from ..functions.determinism import unit_rand

    d = T(spark, sf_dir, "documents")
    es_key = F.pow(
        unit_rand(F.col("doc_id"), "wsample"),
        F.try_divide(F.lit(1.0), F.col("n_chars").cast("double")),
    )
    keyed = d.select("doc_id", "lang", "n_chars", es_key.alias("es_key")).filter(
        F.col("es_key").isNotNull()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.col("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_K)
        .select("lang", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


# --------------------------------------------------------------------------
# Leakage-aware dataset split: assigning splits per DOC lets near-duplicate
# pairs straddle train/val (the classic eval-contamination bug); assigning
# per CLUSTER (every member inherits its component label's draw) makes
# straddling impossible by construction. The query measures both policies
# side by side: leaked near-dup pairs + split sizes per method.
# --------------------------------------------------------------------------

from ..operators.clusters import connected_components, connected_components_sql  # noqa: E402
from .docs_q import _NEAR_DUP_EDGES_ORACLE, _near_dup_edges  # noqa: E402


def _split_case_sql(key_sql: str) -> str:
    r = unit_rand_sql(key_sql, "split")
    cases = " ".join(f"WHEN {r} < {hi!r} THEN '{name}'" for name, hi in _bounds[:-1])
    return f"CASE {cases} ELSE '{_bounds[-1][0]}' END"


_LEAK_ORACLE = f"""
WITH RECURSIVE {_NEAR_DUP_EDGES_ORACLE},
{connected_components_sql('near_dup_edges', 'id_a', 'id_b')},
lab AS (
  SELECT d.doc_id, COALESCE(l.lab, d.doc_id) AS lab
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
asg AS (
  SELECT doc_id,
         {_split_case_sql('doc_id')} AS split_doc,
         {_split_case_sql('lab')} AS split_cluster
  FROM lab)
SELECT 'by_doc' AS method,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM near_dup_edges e
     JOIN asg x ON e.id_a = x.doc_id JOIN asg y ON e.id_b = y.doc_id
   WHERE x.split_doc != y.split_doc) AS leaked_pairs,
  CAST(SUM(CASE WHEN split_doc = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN split_doc = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
  CAST(SUM(CASE WHEN split_doc = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM asg
UNION ALL
SELECT 'by_cluster' AS method,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM near_dup_edges e
     JOIN asg x ON e.id_a = x.doc_id JOIN asg y ON e.id_b = y.doc_id
   WHERE x.split_cluster != y.split_cluster) AS leaked_pairs,
  CAST(SUM(CASE WHEN split_cluster = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN split_cluster = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
  CAST(SUM(CASE WHEN split_cluster = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM asg
"""


@register(
    "cluster_aware_split_leakage",
    oracle=_LEAK_ORACLE,
    tags=("dataset-prep", "dedup-minhash", "clusters"),
)
def cluster_aware_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage across train/val/test under two split policies:
    per-doc draw (leaks pairs across splits) vs per-cluster draw (every
    member inherits the component label's draw — zero straddling pairs by
    construction, measured, not assumed). Labels come from min-label
    propagation over the verified LSH pairs; the split stays the seeded
    md5 draw of dataset_split_counts, just keyed on the label. At 100 TB
    the label join is the dedup pipeline's existing output — leakage-safe
    splitting costs one extra broadcast-joined column."""
    # pin the pair list: it feeds the per-doc AND per-cluster policies
    # below, and without truncation each reference re-runs the whole LSH
    # pipeline (the plan carried 20 document scans).
    pairs = pin(_near_dup_edges(spark, sf_dir))
    labels = connected_components(pairs, src="id_a", dst="id_b").withColumnRenamed(
        "node", "doc_id"
    )
    d = T(spark, sf_dir, "documents").select("doc_id")
    lab = d.join(labels, "doc_id", "left").withColumn(
        "lab", F.coalesce(F.col("lab"), F.col("doc_id"))
    )

    def split_expr(key):
        r = unit_rand(key, "split")
        expr = F.lit(_bounds[-1][0])
        for name, hi in reversed(_bounds[:-1]):
            expr = F.when(r < F.lit(hi), F.lit(name)).otherwise(expr)
        return expr

    # r14 (guide §5): asg feeds both pair-join sides AND the split-count
    # agg — the documents scan + label join + md5 split draws run once,
    # not three times.
    asg = pin(
        lab.select(
            "doc_id",
            split_expr(F.col("doc_id")).alias("split_doc"),
            split_expr(F.col("lab")).alias("split_cluster"),
        )
    )
    px = pairs.join(
        asg.select(
            F.col("doc_id").alias("id_a"),
            F.col("split_doc").alias("sd_a"),
            F.col("split_cluster").alias("sc_a"),
        ),
        "id_a",
    ).join(
        asg.select(
            F.col("doc_id").alias("id_b"),
            F.col("split_doc").alias("sd_b"),
            F.col("split_cluster").alias("sc_b"),
        ),
        "id_b",
    )
    # coalesce to 0: the oracle's leaked_pairs is a COUNT (0 on an empty
    # edge set), while SUM over no rows is NULL — the empty-corpus case
    # must agree on "zero leaked pairs", not "unknown".
    leak = px.agg(
        F.coalesce(F.sum(F.when(F.col("sd_a") != F.col("sd_b"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("leak_doc"),
        F.coalesce(F.sum(F.when(F.col("sc_a") != F.col("sc_b"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("leak_cluster"),
    )
    counts = asg.agg(
        *[
            F.sum(F.when(F.col("split_doc") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"d_{s}")
            for s in ("train", "val", "test")
        ],
        *[
            F.sum(F.when(F.col("split_cluster") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{s}")
            for s in ("train", "val", "test")
        ],
    )
    one = counts.crossJoin(F.broadcast(leak))
    by_doc = one.select(
        F.lit("by_doc").alias("method"),
        F.col("leak_doc").alias("leaked_pairs"),
        F.col("d_train").alias("n_train"),
        F.col("d_val").alias("n_val"),
        F.col("d_test").alias("n_test"),
    )
    by_cluster = one.select(
        F.lit("by_cluster").alias("method"),
        F.col("leak_cluster").alias("leaked_pairs"),
        F.col("c_train").alias("n_train"),
        F.col("c_val").alias("n_val"),
        F.col("c_test").alias("n_test"),
    )
    return by_doc.unionByName(by_cluster)


# --------------------------------------------------------------------------
# Chunk-granularity dedup: the same sliding chunks as chunk_documents,
# fingerprinted by content — cross-doc boilerplate that whole-document
# dedup can't see (two distinct docs sharing one boilerplate paragraph).
# Dedup at the unit that actually enters training (the packed chunk).
# --------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
c AS (
  SELECT doc_id, lang,
         unnest(range(0, greatest(len(toks) - {_CHUNK} + {_STRIDE}, 1), {_STRIDE}))
           AS start
  FROM t),
ch AS (
  SELECT c.doc_id, c.lang,
         md5(array_to_string(t.toks[c.start + 1 : c.start + {_CHUNK}], ' ')) AS ck
  FROM c JOIN t ON c.doc_id = t.doc_id),
freq AS (
  SELECT lang, ck, COUNT(*) AS n_inst, COUNT(DISTINCT doc_id) AS n_docs
  FROM ch GROUP BY 1, 2)
SELECT lang,
  CAST(SUM(n_inst) AS BIGINT) AS n_chunks,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
  CAST(SUM(CASE WHEN n_docs > 1 THEN n_inst ELSE 0 END) AS BIGINT) AS n_crossdoc_dup_instances,
  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossdoc_dup_contents
FROM freq GROUP BY lang
"""


@register("chunk_level_dedup_stats", oracle=_CHUNK_DEDUP_ORACLE, tags=("dataset-prep", "dedup-exact", "M12"))
def chunk_level_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicate-chunk stats per lang: every sliding chunk (32
    tokens, stride 24 — identical to chunk_documents) is fingerprinted
    with md5; a chunk content appearing in more than one distinct doc is
    cross-doc boilerplate. Two partial-agg shuffles, both keyed on the
    uniform 128-bit fingerprint — the chunk-granularity twin of
    exact_dedup_docs, and the dedup unit that matches what packing
    actually emits."""
    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("toks")) - _CHUNK + _STRIDE - 1, F.lit(0)),
        F.lit(_STRIDE),
    )
    ch = t.select(
        "doc_id", "lang", "toks", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        "lang",
        F.md5(F.array_join(F.slice(F.col("toks"), F.col("start") + 1, _CHUNK), " ")).alias("ck"),
    )
    freq = ch.groupBy("lang", "ck").agg(
        F.count("*").alias("n_inst"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return freq.groupBy("lang").agg(
        F.sum("n_inst").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_inst")).otherwise(0))
        .cast("bigint")
        .alias("n_crossdoc_dup_instances"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_crossdoc_dup_contents"),
    )


# --------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023): hashed-bigram features,
# target-vs-raw LM likelihood ratio per doc, Gumbel-top-k resample.
# --------------------------------------------------------------------------

_DSIR_B = 256
_DSIR_TARGETS = ("src0", "src1", "src2")
_DSIR_N = 64

_dsir_tpred = "source IN ('" + "', '".join(_DSIR_TARGETS) + "')"
_dsir_bucket = hash_bucket_sql("gram", _DSIR_B, salt="dsir")
_dsir_u = unit_rand_sql("doc_id", "dsir-g")

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, source, {_dsir_tpred} AS is_t,
         {tokens_sql(fold_case_sql('text'))} AS t
  FROM documents),
grams AS (
  SELECT doc_id, is_t,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2),
bucketed AS (SELECT doc_id, is_t, {_dsir_bucket} AS b FROM grams),
raw_lm AS (SELECT b, COUNT(*) AS rc FROM bucketed GROUP BY b),
tgt_lm AS (SELECT b, COUNT(*) AS tc FROM bucketed WHERE is_t GROUP BY b),
tots AS (
  SELECT (SELECT SUM(rc) FROM raw_lm) AS rt, (SELECT SUM(tc) FROM tgt_lm) AS tt),
lw AS (
  SELECT r.b,
         ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE) / (tots.tt + {_DSIR_B}))
         - ln(CAST(r.rc + 1 AS DOUBLE) / (tots.rt + {_DSIR_B})) AS lw
  FROM raw_lm r LEFT JOIN tgt_lm t USING (b) CROSS JOIN tots),
per_db AS (SELECT doc_id, b, COUNT(*) AS n FROM bucketed GROUP BY 1, 2),
w AS (
  SELECT p.doc_id,
         CAST(SUM(p.n) AS BIGINT) AS n_features,
         {fixed_sum_sql('p.n * l.lw')} AS log_w
  FROM per_db p JOIN lw l USING (b) GROUP BY 1),
keyed AS (
  SELECT w.doc_id, d.lang, d.source, w.n_features, w.log_w,
         w.log_w + (-ln(-ln({_dsir_u}))) AS gkey
  FROM w JOIN documents d USING (doc_id)),
top AS (
  SELECT * FROM keyed ORDER BY gkey DESC, doc_id LIMIT {_DSIR_N})
SELECT doc_id, lang, source, n_features, round(log_w, 6) AS log_w
FROM top
"""


@register("dsir_importance_resample", oracle=_DSIR_ORACLE, tags=("dataset-prep", "M4"))
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-bigram features
    (256 buckets), add-one-smoothed target (curated sources src0-src2) vs
    raw LMs, per-doc log importance weight, then Gumbel-top-k sampling —
    the without-replacement importance resample, made deterministic by a
    md5-seeded uniform per doc.

    Scale: both LMs are 256-row broadcast tables; per-doc weights are
    trunc-scaled BIGINT sums (exact, order-free); the final selection is
    orderBy().limit() — Spark executes TakeOrderedAndProject, never a
    single-partition rank window, so the resample survives a 100-TB
    corpus (the same two-phase shape as bm25_topk_docs)."""
    from ..operators.datasetprep import dsir_log_weights

    d = T(spark, sf_dir, "documents")
    w = dsir_log_weights(
        d, F.col("source").isin(*_DSIR_TARGETS), n_buckets=_DSIR_B, salt="dsir"
    )
    u = unit_rand(F.col("doc_id"), "dsir-g")
    keyed = w.join(d.select("doc_id", "lang", "source"), "doc_id").withColumn(
        "gkey", F.col("log_w") + (-F.log(-F.log(u)))
    )
    top = keyed.orderBy(F.col("gkey").desc(), "doc_id").limit(_DSIR_N)
    return top.select(
        "doc_id", "lang", "source", "n_features", F.round("log_w", 6).alias("log_w")
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination: the 100-TB-scale form of
# decontaminate_train. The test split's 5-gram set becomes an m-bit,
# k-hash Bloom filter (a few hundred KB broadcast to every executor);
# train grams probe the filter map-side and only the tiny bloom-positive
# remainder pays the exact join. Deterministic md5 hashing makes the
# filter — including its false positives — bit-identical in the oracle.
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 17  # filter bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(gram: str, i: str) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || '|' || {gram}), 1, 8)"
        f" AS BIGINT) % {_BLOOM_M}"
    )


_BLOOM_ORACLE = f"""
WITH s AS (
  SELECT doc_id, lang, text, {_split_sql()} AS split FROM documents),
test_grams AS (
  SELECT DISTINCT unnest({word_shingles_sql('text', _DECON_N)}) AS gram
  FROM s WHERE split = 'test'),
bits AS (
  SELECT DISTINCT {_bloom_pos_sql('gram', 'i')} AS pos
  FROM test_grams CROSS JOIN range({_BLOOM_K}) r(i)),
train AS (
  SELECT doc_id, lang, {word_shingles_sql('text', _DECON_N)} AS grams
  FROM s WHERE split = 'train'),
train_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM train),
probe AS (
  SELECT gram, COUNT(*) AS n_hit
  FROM (SELECT gram, {_bloom_pos_sql('gram', 'i')} AS pos
        FROM train_grams CROSS JOIN range({_BLOOM_K}) r(i)) p
  JOIN bits USING (pos)
  GROUP BY gram),
bloom_pos AS (SELECT gram FROM probe WHERE n_hit = {_BLOOM_K}),
exact_pos AS (
  SELECT b.gram FROM bloom_pos b JOIN test_grams t ON b.gram = t.gram),
flagged AS (
  SELECT t.doc_id,
         MAX(CASE WHEN bp.gram IS NOT NULL THEN 1 ELSE 0 END) AS bloom_hit,
         MAX(CASE WHEN ep.gram IS NOT NULL THEN 1 ELSE 0 END) AS exact_hit
  FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
  LEFT JOIN bloom_pos bp ON t.gram = bp.gram
  LEFT JOIN exact_pos ep ON t.gram = ep.gram
  GROUP BY t.doc_id)
SELECT lang,
  COUNT(*) AS n_train,
  CAST(SUM(COALESCE(f.bloom_hit, 0)) AS BIGINT) AS n_bloom_flagged,
  CAST(SUM(COALESCE(f.exact_hit, 0)) AS BIGINT) AS n_contaminated
FROM train LEFT JOIN flagged f USING (doc_id)
GROUP BY lang
"""


@register("bloom_decontaminate", oracle=_BLOOM_ORACLE, tags=("dataset-prep", "dedup-exact"))
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered benchmark decontamination (m = 2^17 bits,
    k = 3 md5-derived hash functions) with an exact verify pass:
    per language, the train doc count, the count flagged by the Bloom
    probe, and the count with a TRUE shared test 5-gram — the gap
    between the last two is the filter's false-positive cost, measured
    rather than assumed.

    Scale shape vs decontaminate_train: the broadcast there is the full
    distinct test-gram set (unbounded as benchmarks grow); here it is
    the filter's set-bit positions — at most m rows ≈ 128 K ints
    regardless of benchmark size. Train grams probe map-side (k
    deterministic md5 positions each, all-k-set ⇒ bloom-positive), and
    only bloom-positive grams — true hits plus the ~(1-e^{-kn/m})^k
    false-positive sliver — reach the exact semi-join against the real
    test grams. The train corpus is scanned once, shuffled never."""
    d = T(spark, sf_dir, "documents")
    s = deterministic_split(d, F.col("doc_id"), _FRACTIONS)

    def bloom_pos(gram: Column, i: Column) -> Column:
        h = F.md5(F.concat(i.cast("string"), F.lit("|"), gram))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BLOOM_M

    ks = F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))
    test_grams = (
        s.filter(F.col("split") == "test")
        .select(F.explode(word_shingles(F.col("text"), _DECON_N)).alias("gram"))
        .distinct()
    )
    bits = (
        test_grams.select(F.explode(ks).alias("i"), "gram")
        .select(bloom_pos(F.col("gram"), F.col("i")).alias("pos"))
        .distinct()
    )
    train = s.filter(F.col("split") == "train").select(
        "doc_id", "lang", word_shingles(F.col("text"), _DECON_N).alias("grams")
    )
    train_grams = train.select(F.explode("grams").alias("gram")).distinct()
    probe = (
        train_grams.select("gram", F.explode(ks).alias("i"))
        .select("gram", bloom_pos(F.col("gram"), F.col("i")).alias("pos"))
        .join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("n_hit"))
    )
    bloom_positive = probe.filter(F.col("n_hit") == _BLOOM_K).select("gram")
    exact_positive = bloom_positive.join(F.broadcast(test_grams), "gram", "left_semi")
    t_posting = train.select("doc_id", F.explode("grams").alias("gram"))
    flagged = (
        t_posting.join(
            F.broadcast(bloom_positive.withColumn("__bloom", F.lit(1))), "gram", "left"
        )
        .join(F.broadcast(exact_positive.withColumn("__exact", F.lit(1))), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.max(F.coalesce(F.col("__bloom"), F.lit(0))).alias("bloom_hit"),
            F.max(F.coalesce(F.col("__exact"), F.lit(0))).alias("exact_hit"),
        )
    )
    return (
        train.join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.coalesce(F.col("bloom_hit"), F.lit(0))).alias("n_bloom_flagged"),
            F.sum(F.coalesce(F.col("exact_hit"), F.lit(0))).alias("n_contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Dataset version diff: the snapshot-reconciliation primitive of corpus
# versioning — what changed between release N and N+1, by content key.
# --------------------------------------------------------------------------

_VDIFF_DROP = 0.10
_VDIFF_MOD = 0.10
_VDIFF_ADD = 0.05
_VDIFF_OFFSET = 1_000_000

_VDIFF_ORACLE = f"""
WITH v1 AS (
  SELECT doc_id, md5(text) AS ck FROM documents),
survivors AS (
  SELECT doc_id,
    CASE WHEN {unit_rand_sql('doc_id', 'v2mod')} < {_VDIFF_MOD}
         THEN md5(text || '|v2') ELSE md5(text) END AS ck
  FROM documents
  WHERE {unit_rand_sql('doc_id', 'v2drop')} >= {_VDIFF_DROP}),
added AS (
  SELECT doc_id + {_VDIFF_OFFSET} AS doc_id, md5(text || '|new') AS ck
  FROM documents
  WHERE {unit_rand_sql('doc_id', 'v2add')} < {_VDIFF_ADD}),
v2 AS (SELECT * FROM survivors UNION ALL SELECT * FROM added),
classed AS (
  SELECT CASE
    WHEN v1.doc_id IS NULL THEN 'added'
    WHEN v2.doc_id IS NULL THEN 'removed'
    WHEN v1.ck = v2.ck THEN 'unchanged'
    ELSE 'modified' END AS change_class
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
SELECT change_class, COUNT(*) AS n_docs
FROM classed GROUP BY change_class
"""


@register("dataset_version_diff", oracle=_VDIFF_ORACLE, tags=("dataset-prep", "D5"))
def dataset_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two corpus snapshots by doc id + content key: counts of
    added / removed / modified / unchanged documents (v2 is derived from
    v1 by seeded md5 draws — 10% dropped, 10% rewritten, 5% cloned in
    under offset ids — so the diff is deterministic and oracle-checkable).

    Scale shape: ONE full-outer shuffle join keyed by doc id, comparing
    fixed-width md5 content keys instead of text bodies, then a
    4-row rollup — the dataset-versioning primitive that runs between
    corpus releases without ever comparing payloads. The text scan +
    md5 battery is pinned ONCE (r13): v1/survivors/added used to each
    re-scan the table, tripling the expensive stage and making the
    query the bench's most context-sensitive reading (in-context 3.5×
    its solo time under driver adjacency, twice forgiven — the r12
    repeat offender); the pinned base is ~fixed-width rows, so the
    three derivations are cheap column picks."""
    d = T(spark, sf_dir, "documents")
    base = pin(
        d.select(
            "doc_id",
            F.md5("text").alias("ck"),
            F.md5(F.concat(F.col("text"), F.lit("|v2"))).alias("ck_mod"),
            F.md5(F.concat(F.col("text"), F.lit("|new"))).alias("ck_new"),
            unit_rand(F.col("doc_id"), "v2drop").alias("r_drop"),
            unit_rand(F.col("doc_id"), "v2mod").alias("r_mod"),
            unit_rand(F.col("doc_id"), "v2add").alias("r_add"),
        )
    )
    v1 = base.select("doc_id", "ck")
    survivors = base.filter(F.col("r_drop") >= _VDIFF_DROP).select(
        "doc_id",
        F.when(F.col("r_mod") < _VDIFF_MOD, F.col("ck_mod"))
        .otherwise(F.col("ck"))
        .alias("ck"),
    )
    added = base.filter(F.col("r_add") < _VDIFF_ADD).select(
        (F.col("doc_id") + _VDIFF_OFFSET).alias("doc_id"),
        F.col("ck_new").alias("ck"),
    )
    v2 = survivors.unionByName(added)
    j = v1.withColumnRenamed("ck", "ck1").join(
        v2.withColumnRenamed("ck", "ck2").withColumnRenamed("doc_id", "doc_id2"),
        v1.doc_id == F.col("doc_id2"),
        "full_outer",
    )
    cls = (
        F.when(F.col("doc_id").isNull(), F.lit("added"))
        .when(F.col("doc_id2").isNull(), F.lit("removed"))
        .when(F.col("ck1") == F.col("ck2"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return j.select(cls.alias("change_class")).groupBy("change_class").agg(
        F.count("*").alias("n_docs")
    )


# --------------------------------------------------------------------------
# Rank-normalized quality blending: percentile-normalize heterogeneous
# per-doc signals on their value HISTOGRAMS (the de-skewed CDF machinery),
# then average — scores on incomparable scales become comparable ranks.
# --------------------------------------------------------------------------

from ..operators.textops import quality_score_sql  # noqa: E402

_RANKBLEND_ORACLE = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         -- IEEE floor-grid, NOT round(·,4): three sf0.1 docs carry
         -- quality exactly 0.72125 (a true decimal halfway at the
         -- 4-dp grid), where Spark's BigDecimal HALF_UP gives .7213
         -- and DuckDB's binary half-even gives .7212 — the r12 sf0.1
         -- full-catalog sweep's one mismatch. floor(q*1e4 + 0.5) is
         -- pure double arithmetic, bit-identical on both engines; the
         -- grid key never reaches the output.
         CAST(floor({quality_score_sql()} * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM (SELECT doc_id, n_chars, text, {tokens_sql('text')} AS toks
        FROM documents WHERE n_chars IS NOT NULL)),
n AS (SELECT COUNT(*) AS n_docs FROM t),
qh AS (SELECT qv, COUNT(*) AS cnt FROM t GROUP BY qv),
qc AS (
  SELECT qv, SUM(cnt) OVER (ORDER BY qv) - cnt AS cum_lt FROM qh),
lh AS (SELECT n_chars, COUNT(*) AS cnt FROM t GROUP BY n_chars),
lc AS (
  SELECT n_chars, SUM(cnt) OVER (ORDER BY n_chars) - cnt AS cum_lt FROM lh)
SELECT t.doc_id,
  round(CAST(qc.cum_lt AS DOUBLE) / n.n_docs, 6) AS pct_quality,
  round(CAST(lc.cum_lt AS DOUBLE) / n.n_docs, 6) AS pct_length,
  (round(round(CAST(qc.cum_lt AS DOUBLE) / n.n_docs, 6) * 1000000)
   + round(round(CAST(lc.cum_lt AS DOUBLE) / n.n_docs, 6) * 1000000))
  / 2000000.0 AS composite
FROM t
JOIN qc ON t.qv = qc.qv
JOIN lc ON t.n_chars = lc.n_chars
CROSS JOIN n
"""


@register("rank_normalized_quality", oracle=_RANKBLEND_ORACLE, tags=("dataset-prep", "F4"))
def rank_normalized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blend two incomparable per-doc signals — the heuristic quality
    score and raw document length — by mapping each onto its empirical
    percentile (fraction of docs strictly below) and averaging: the
    rank-normalized ensemble used to combine curation signals whose
    scales mean nothing to each other.

    Scale shape: the quality signal is rounded to a 4-decimal grid FIRST,
    so both percentile maps are computed on value HISTOGRAMS with
    grid-bounded cardinality (≤10⁴ quality values; length values bounded
    by max doc length) — the de-skewed CDF pattern: the only windows run
    over histogram rows, and each doc picks up its percentiles through
    two broadcastable value-keyed joins. No per-doc ranking window
    anywhere.

    NULL contract (round-9 NULL-metadata sweep): a doc with unknown
    length can't receive a length percentile, so it is out of the
    blend's population entirely — excluded before BOTH histograms and
    the count, explicitly on both sides (left in, Spark's NULLS-FIRST
    window default would fold the NULL-length bucket into every
    cumulative rank while DuckDB's NULLS LAST would not)."""
    from ..operators.textops import quality_score

    d = quality_score(
        T(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    ).select(
        "doc_id",
        "n_chars",
        # IEEE floor-grid, NOT F.round(·,4): quality can land exactly on
        # a 4-dp halfway (three sf0.1 docs at 0.72125), where Spark's
        # HALF_UP and DuckDB's binary half-even disagree and shift one
        # whole histogram cell. floor(q*1e4 + 0.5) is deterministic
        # double arithmetic on both engines, and the key is internal —
        # only the percentiles computed FROM the histogram are output.
        F.floor(F.col("quality") * F.lit(10000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("qv"),
    )
    n = d.agg(F.count("*").alias("n_docs"))
    wq = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    qc = (
        d.groupBy("qv")
        .agg(F.count("*").alias("cnt"))
        .withColumn("q_cum_lt", F.sum("cnt").over(wq) - F.col("cnt"))
        .select("qv", "q_cum_lt")
    )
    wl = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    lc = (
        d.groupBy("n_chars")
        .agg(F.count("*").alias("cnt"))
        .withColumn("l_cum_lt", F.sum("cnt").over(wl) - F.col("cnt"))
        .select("n_chars", "l_cum_lt")
    )
    out = (
        d.join(F.broadcast(qc), "qv")
        .join(F.broadcast(lc), "n_chars")
        .crossJoin(F.broadcast(n))
    )
    pq = F.round(F.col("q_cum_lt").cast("double") / F.col("n_docs"), 6)
    pl = F.round(F.col("l_cum_lt").cast("double") / F.col("n_docs"), 6)
    # The composite is exact by construction: the two 6-decimal
    # percentiles are rescaled to integers and averaged in ONE double
    # division, so the 7th-decimal halfway case `round((a+b)/2, 6)`
    # would create never reaches a round — Spark rounds ties HALF_UP,
    # DuckDB half-to-even, and the NULL-metadata sweep landed three docs
    # exactly on the boundary (round-9; same class as dwell_time's
    # decimal-exact average).
    comp = (F.round(pq * 1e6, 0) + F.round(pl * 1e6, 0)) / F.lit(2e6)
    return out.select(
        "doc_id",
        pq.alias("pct_quality"),
        pl.alias("pct_length"),
        comp.alias("composite"),
    )
