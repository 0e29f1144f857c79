"""Corpus-curation queries beyond the reference's own filters: a
Gopher/C4-style quality-rule battery, repetition (top-bigram) detection,
PII redaction, and per-domain quota sampling — the standard pretraining
data-pipeline passes (SURVEY.md §2.11 extensions).

The reference's closest analogue is its per-item validity battery
(any_scraper.py:267-330 image checks, test_kimono.py rule filters); these
queries generalize that shape to corpus curation. All thresholds were
tuned on the testdata distributions so every rule fires on a non-trivial
subset (no vacuous flags).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import fixed_sum, fixed_sum_sql
from ..functions.text import tokens, tokens_sql, ws_normalize, ws_normalize_sql
from ..operators.textops import (
    GOPHER_MIN_WORDS,
    GOPHER_STOP_FRAC,
    GOPHER_WLEN_HI,
    GOPHER_WLEN_LO,
    LANG_STOPWORDS,
    gopher_flags,
    quality_score,
    quality_score_sql,
)
from ..session import pin
from . import register
from .common import T

# --------------------------------------------------------------------------
# Gopher-style quality-rule battery.
#
# Rules (documents are single-line lowercase word salad, so the line-based
# Gopher rules are re-expressed on the word stream):
#   short      — fewer than MIN_WORDS words
#   wordlen    — mean word length outside [WLEN_LO, WLEN_HI]
#   lowstop    — English stopword token fraction below STOP_FRAC
# All arithmetic is integer sums + one IEEE double division → identical in
# Spark and DuckDB; flag counts aggregate per lang (bounded output).
# --------------------------------------------------------------------------

_MIN_WORDS = GOPHER_MIN_WORDS
_WLEN_LO = GOPHER_WLEN_LO
_WLEN_HI = GOPHER_WLEN_HI
_STOP_FRAC = GOPHER_STOP_FRAC
_EN_STOPS = LANG_STOPWORDS["en"]

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT lang, {tokens_sql('text')} AS toks FROM documents),
s AS (
  SELECT lang,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS mwl,
         CAST(len(list_filter(toks, x -> x IN {_EN_STOPS!r})) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stopfrac
  FROM t),
f AS (
  SELECT lang,
         (n_words < {_MIN_WORDS}) AS flag_short,
         (mwl < {_WLEN_LO} OR mwl > {_WLEN_HI}) AS flag_wordlen,
         (stopfrac < {_STOP_FRAC}) AS flag_lowstop
  FROM s)
SELECT lang,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN flag_short THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_short,
  CAST(SUM(CASE WHEN flag_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_wordlen,
  CAST(SUM(CASE WHEN flag_lowstop THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_lowstop,
  CAST(SUM(CASE WHEN NOT (flag_short OR flag_wordlen OR flag_lowstop)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM f GROUP BY lang
"""


@register("gopher_quality_flags", oracle=_GOPHER_ORACLE, tags=("quality", "F1"))
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule battery rolled up per lang. One scan, all
    rules evaluated JVM-side, partial-agg shuffle on ~languages keys —
    a pure map-side pass at any scale. The token array is pinned ONCE
    (r13 hoist, queued fix #9) as a barrier, not for reuse: the five
    rule expressions used to re-inline the fold+regex tokenizer under
    projection collapse, running it 5× per row."""
    d = T(spark, sf_dir, "documents")
    arrs = pin(d.select("lang", tokens(F.col("text")).alias("__toks")))
    f = gopher_flags(arrs, toks_col="__toks").select(
        "lang", "flag_short", "flag_wordlen", "flag_lowstop"
    )

    def _n(c: F.Column) -> F.Column:
        return F.sum(F.when(c, 1).otherwise(0)).cast("bigint")

    return f.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        _n(F.col("flag_short")).alias("n_flag_short"),
        _n(F.col("flag_wordlen")).alias("n_flag_wordlen"),
        _n(F.col("flag_lowstop")).alias("n_flag_lowstop"),
        _n(~(F.col("flag_short") | F.col("flag_wordlen") | F.col("flag_lowstop"))).alias(
            "n_pass"
        ),
    )


# --------------------------------------------------------------------------
# Repetition detection: fraction of bigram slots taken by the single most
# frequent word bigram (the Gopher "top 2-gram fraction" rule). Only the
# max COUNT is output (not the bigram string) so ties need no breaking.
# --------------------------------------------------------------------------

_REP_THRESH = 0.07

_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t),
c AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram),
m AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         CAST(MAX(cnt) AS BIGINT) AS top_count
  FROM c GROUP BY doc_id)
SELECT doc_id, n_bigrams, top_count,
       round(CAST(top_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS top_frac,
       (CAST(top_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) > {_REP_THRESH}
         AS repetitive
FROM m
"""


@register("repetition_top_bigram", oracle=_REPETITION_ORACLE, tags=("quality", "dedup-exact"))
def repetition_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-bigram repetition per doc: explode adjacent-token pairs (linear
    in tokens, never quadratic), count per (doc, bigram) with map-side
    partial agg, then a second partial-agg max per doc. Both shuffles key
    on doc_id — uniform at any scale."""
    d = T(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    ex = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    counts = ex.groupBy("doc_id", "bigram").agg(F.count("*").alias("cnt"))
    m = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.max("cnt").cast("bigint").alias("top_count"),
    )
    frac = F.col("top_count").cast("double") / F.col("n_bigrams").cast("double")
    return m.select(
        "doc_id",
        "n_bigrams",
        "top_count",
        F.round(frac, 6).alias("top_frac"),
        (frac > _REP_THRESH).alias("repetitive"),
    )


# --------------------------------------------------------------------------
# PII redaction battery. The testdata carries no PII-shaped strings, so the
# query derives deterministic PII-shaped text from customer fields on BOTH
# sides (same expressions in Spark and DuckDB), then runs the battery:
# count + mask emails, phones, and IPv4s with engine-portable regexes (no
# lookaround — valid in both Java regex and RE2). Redacted strings are
# output verbatim so the hash check proves byte-identical masking.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

_PII_ORACLE = f"""
WITH raw AS (
  SELECT c_custkey,
         'contact ' || lower(replace(c_name, '#', '.')) || '@example.com'
         || CASE WHEN c_custkey % 3 = 0
                 THEN ' call +1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                      || '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                 ELSE ' no phone' END
         || ' from 10.' || CAST(c_custkey % 256 AS VARCHAR)
         || '.' || CAST(c_nationkey % 256 AS VARCHAR) || '.7'
         || ' segment ' || c_mktsegment AS line
  FROM customer WHERE c_custkey < 200)
SELECT c_custkey,
  CAST(len(regexp_extract_all(line, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(line, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(line, '{_IP_RE}')) AS INTEGER) AS n_ips,
  regexp_replace(
    regexp_replace(
      regexp_replace(line, '{_EMAIL_RE}', '<EMAIL>', 'g'),
      '{_PHONE_RE}', '<PHONE>', 'g'),
    '{_IP_RE}', '<IP>', 'g') AS redacted
FROM raw
"""


@register("pii_redact_derived", oracle=_PII_ORACLE, tags=("quality", "T14", "F3"))
def pii_redact_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + mask as one JVM-side projection (regexp_count /
    regexp_replace — no Python in the loop). At 100 TB this is a pure
    map-side pass over the text column; the pushed-down c_custkey filter
    stands in for whatever partition predicate scopes the scan."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    phone = F.concat(
        F.lit(" call +1-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    line = F.concat(
        F.lit("contact "),
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
        F.lit("@example.com"),
        F.when(F.col("c_custkey") % 3 == 0, phone).otherwise(F.lit(" no phone")),
        F.lit(" from 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit("."),
        (F.col("c_nationkey") % 256).cast("string"),
        F.lit(".7 segment "),
        F.col("c_mktsegment"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(line, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ),
        _IP_RE,
        "<IP>",
    )
    return c.select(
        "c_custkey",
        F.regexp_count(line, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(line, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(line, F.lit(_IP_RE)).cast("int").alias("n_ips"),
        redacted.alias("redacted"),
    )


# --------------------------------------------------------------------------
# Per-domain quota: keep the K best-quality docs per source (the
# common-crawl "domain cap" pass), priority = the proven quality score.
# --------------------------------------------------------------------------

_QUOTA_K = 10

_QUOTA_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, {tokens_sql('text')} AS toks, text FROM documents),
q AS (SELECT doc_id, source, {quality_score_sql()} AS quality FROM t),
r AS (
  SELECT source, doc_id, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
  FROM q)
SELECT source, doc_id, CAST(rk AS INTEGER) AS rk, quality
FROM r WHERE rk <= {_QUOTA_K}
"""


@register("domain_quota_topquality", oracle=_QUOTA_ORACLE, tags=("quality", "D8", "M5"))
def domain_quota_topquality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the K highest-quality docs per source domain. One shuffle on
    source + a bounded per-partition top-K window. Testdata has 20 domains;
    a real crawl has millions, so the partitionBy(source) key is uniform at
    scale (and a hot domain is exactly what the quota caps)."""
    q = quality_score(T(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.col("doc_id"))
    return (
        q.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA_K)
        .select("source", "doc_id", "rk", "quality")
    )


# --------------------------------------------------------------------------
# Per-lang length quartiles, VALUE-based: quartile(doc) = 1 + floor(4 ·
# |{same-lang docs with n_chars strictly less}| / n), clamped to 4, so tied
# lengths always share a tile. Computed entirely on the per-(lang, n_chars)
# HISTOGRAM: counts → running-sum CDF → tile per value → rollup. The only
# window runs over histogram rows, whose cardinality is capped by the
# distinct-length value space (≤ max doc length, independent of corpus
# size) — the earlier ntile form sorted a dominant language's entire doc
# set in one task. Per-doc rows never shuffle past the first count.
# --------------------------------------------------------------------------

_QUARTILE_ORACLE = """
WITH docs AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
hist AS (
  SELECT lang, n_chars, COUNT(*) AS cnt FROM docs GROUP BY 1, 2),
cdf AS (
  SELECT lang, n_chars, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars) - cnt AS cum_lt
  FROM hist),
n AS (SELECT lang, COUNT(*) AS n_lang FROM docs GROUP BY 1),
q AS (
  SELECT c.lang, c.n_chars, c.cnt,
         least(4, CAST(floor(4.0 * c.cum_lt / n.n_lang) AS BIGINT) + 1) AS quartile
  FROM cdf c JOIN n ON c.lang IS NOT DISTINCT FROM n.lang)
SELECT lang, CAST(quartile AS INTEGER) AS quartile,
  CAST(SUM(cnt) AS BIGINT) AS n_docs,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM q GROUP BY lang, quartile
"""


@register("doc_length_quartiles", oracle=_QUARTILE_ORACLE, tags=("dataset-prep", "A7"))
def doc_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile histogram of doc length per lang (value-based tiles over
    the length histogram's CDF — see block comment), rolled up to per-tile
    count/min/max. tests/test_quantile_deskew.py proves tile assignment
    equal to the per-doc window form at oracle scale.

    NULL contract (round-9 NULL-metadata sweep): unknown lengths are
    excluded from the histogram AND the per-lang population (they have
    no quartile and must not shift anyone's CDF rank); a NULL lang is a
    real group, so the population join is null-safe."""
    d = T(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    hist = d.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    wcdf = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = hist.withColumn("cum_lt", F.sum("cnt").over(wcdf) - F.col("cnt"))
    n = d.groupBy(F.col("lang").alias("lang_n")).agg(F.count("*").alias("n_lang"))
    q = cdf.join(
        F.broadcast(n), F.col("lang").eqNullSafe(F.col("lang_n"))
    ).drop("lang_n").withColumn(
        "quartile",
        F.least(
            F.lit(4).cast("bigint"),
            F.floor(F.lit(4.0) * F.col("cum_lt") / F.col("n_lang")) + 1,
        ),
    )
    return q.groupBy("lang", F.col("quartile").cast("int").alias("quartile")).agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# The full modern curation pipeline as ONE Catalyst plan: quality gate →
# exact dedup (first-wins) → sliding-window chunking → token-bin packing →
# per-lang packing stats. Every stage shrinks or linearizes its input;
# nothing quadratic anywhere.
# --------------------------------------------------------------------------

_CUR_CHUNK = 32
_CUR_STRIDE = 24
_CUR_BUDGET = 512

_CURATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, text, {tokens_sql('text')} AS toks FROM documents),
gated AS (
  SELECT doc_id, lang, text, toks FROM t
  WHERE NOT (len(toks) < {_MIN_WORDS})
    AND NOT ((CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)) < {_WLEN_LO}
             OR (CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)) > {_WLEN_HI})
    AND NOT ((CAST(len(list_filter(toks, x -> x IN {_EN_STOPS!r})) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)) < {_STOP_FRAC})),
keyed AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5({ws_normalize_sql('text')})
    ORDER BY doc_id) AS rn
  FROM gated),
surv AS (SELECT doc_id, lang, toks FROM keyed WHERE rn = 1),
chunks0 AS (
  SELECT doc_id, lang, toks,
         unnest(range(0, greatest(len(toks) - {_CUR_CHUNK} + {_CUR_STRIDE}, 1),
                {_CUR_STRIDE})) AS start
  FROM surv),
chunks AS (
  SELECT doc_id, lang, start,
         CAST(least({_CUR_CHUNK}, len(toks) - start) AS BIGINT) AS n_tok
  FROM chunks0),
packed AS (
  SELECT lang, n_tok,
    CAST(floor(coalesce(SUM(n_tok) OVER (PARTITION BY lang
                 ORDER BY doc_id, start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_CUR_BUDGET}) AS BIGINT) AS bin_id
  FROM chunks)
SELECT lang,
  COUNT(DISTINCT bin_id) AS n_bins,
  COUNT(*) AS n_chunks,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM packed GROUP BY lang
"""


@register("curation_pipeline_end_to_end", oracle=_CURATION_ORACLE, tags=("quality", "dataset-prep", "dedup-exact"))
def curation_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate (map-side) → first-wins exact dedup (one md5-key
    shuffle) → sliding-window chunking (linear explode) → token-bin
    packing (per-lang window cumsum) → per-lang stats. The whole modern
    pretraining prep path in one declarative plan — Catalyst pipelines
    the gate into the dedup shuffle's map side and the chunker into the
    packing sort."""
    from pyspark.sql import Window as W

    d = T(spark, sf_dir, "documents")
    g = gopher_flags(d)
    gated = g.filter(
        ~(F.col("flag_short") | F.col("flag_wordlen") | F.col("flag_lowstop"))
    ).select("doc_id", "lang", "text")
    content_key = F.md5(ws_normalize(F.col("text")))
    wdedup = W.partitionBy(content_key).orderBy("doc_id")
    surv = (
        gated.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - _CUR_CHUNK + _CUR_STRIDE - 1, F.lit(0)),
        F.lit(_CUR_STRIDE),
    )
    chunks = surv.select(
        "doc_id",
        "lang",
        F.explode(starts).alias("start"),
        F.size("toks").alias("n_toks"),
    ).select(
        "doc_id",
        "lang",
        "start",
        F.least(F.lit(_CUR_CHUNK), F.col("n_toks") - F.col("start"))
        .cast("bigint")
        .alias("n_tok"),
    )
    wpack = (
        W.partitionBy("lang")
        .orderBy("doc_id", "start")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = chunks.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tok").over(wpack), F.lit(0)) / _CUR_BUDGET).cast(
            "bigint"
        ),
    )
    return packed.groupBy("lang").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_chunks"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Gopher "duplicate n-gram char fraction": share of each doc's tokens
# covered by a 4-gram that occurs MORE THAN ONCE within the doc — the
# intra-doc repetition filter that complements the top-bigram rule (which
# only sees the single most frequent pair). Covered positions are the
# union of flagged [pos, pos+3] intervals (gaps-and-islands per doc).
# --------------------------------------------------------------------------

_DNG_N = 4
_DNG_THRESH = 0.2

_DUP_NGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents),
docs AS (SELECT doc_id, lang, len(toks) AS n_tok, toks FROM t),
g AS (
  SELECT doc_id, lang,
         unnest(range(1, greatest(len(toks) - {_DNG_N - 1}, 0) + 1)) AS pos,
         unnest(list_transform(range(1, greatest(len(toks) - {_DNG_N - 1}, 0) + 1),
                i -> array_to_string(list_slice(toks, i, i + {_DNG_N - 1}), ' '))) AS gram
  FROM docs),
reps AS (
  SELECT doc_id, gram FROM g GROUP BY doc_id, gram HAVING COUNT(*) > 1),
flagged AS (
  SELECT g.doc_id, g.pos FROM g JOIN reps r ON g.doc_id = r.doc_id AND g.gram = r.gram),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_DNG_N}
              THEN 1 ELSE 0 END AS brk
  FROM flagged),
isl2 AS (
  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl),
cov AS (
  SELECT doc_id, MAX(pos) - MIN(pos) + {_DNG_N} AS covered
  FROM isl2 GROUP BY doc_id, island),
per_doc AS (SELECT doc_id, SUM(covered) AS covered FROM cov GROUP BY 1)
SELECT d.lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(CASE WHEN CAST(COALESCE(p.covered, 0) AS DOUBLE) / d.n_tok > {_DNG_THRESH}
             THEN 1 END) AS BIGINT) AS n_flagged,
  round(AVG(CAST(COALESCE(p.covered, 0) AS DOUBLE) / d.n_tok), 6) AS avg_dup_frac
FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
GROUP BY d.lang
"""


@register("repetition_dup_ngrams", oracle=_DUP_NGRAM_ORACLE, tags=("quality", "dedup-exact"))
def repetition_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang duplicate-4-gram token-coverage stats (Gopher's duplicate
    n-gram char-fraction rule, token-denominated): docs whose repeated
    4-grams cover > 20% of tokens get flagged. Positional 4-grams explode
    linearly; repeated grams are a per-(doc, gram) HAVING count; interval
    union is gaps-and-islands per doc — every shuffle keys on doc_id,
    nothing pairwise, nothing corpus-wide."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = T(spark, sf_dir, "documents")
    docs = (
        d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .repartition("doc_id")
    )
    elig = docs.filter(F.col("n_tok") >= _DNG_N)
    cnt = F.size("toks") - F.lit(_DNG_N - 1)
    zipped = F.arrays_zip(
        *[F.slice("toks", i + 1, cnt).alias(f"t{i}") for i in range(_DNG_N)]
    )
    g = elig.select(
        "doc_id", "lang", F.posexplode(zipped).alias("pos0", "s")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col("s")[f"t{i}"] for i in range(_DNG_N)]).alias("gram"),
    )
    reps = (
        g.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("doc_id", "gram")
    )
    flagged = g.join(reps, ["doc_id", "gram"]).select("doc_id", "pos")
    wl = Window.partitionBy("doc_id").orderBy("pos")
    lagp = F.lag("pos").over(wl)
    isl = flagged.withColumn(
        "brk",
        F.when(lagp.isNull() | (F.col("pos") - lagp > _DNG_N), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "island", F.sum("brk").over(wl.rowsBetween(Window.unboundedPreceding, 0))
    )
    cov = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(_DNG_N)).alias("covered")
    )
    per_doc = cov.groupBy("doc_id").agg(F.sum("covered").alias("covered"))
    frac = F.coalesce(F.col("covered"), F.lit(0)).cast("double") / F.col("n_tok")
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count(F.when(frac > _DNG_THRESH, F.lit(1))).cast("bigint").alias("n_flagged"),
            F.round(F.avg(frac), 6).alias("avg_dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# Distribution drift per source: two-sample Kolmogorov-Smirnov statistic
# between each source's doc-length distribution and the corpus — the
# pipeline-QA check that one generator/source hasn't drifted.
# --------------------------------------------------------------------------

_KS_ORACLE = """
WITH lens AS (
  SELECT source, n_chars AS len FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
grid AS (SELECT DISTINCT len FROM lens),
src_n AS (SELECT source, COUNT(*) AS ns FROM lens GROUP BY source),
tot_n AS (SELECT COUNT(*) AS nt FROM lens),
src_hist AS (SELECT source, len, COUNT(*) AS c FROM lens GROUP BY 1, 2),
tot_hist AS (SELECT len, COUNT(*) AS c FROM lens GROUP BY 1),
src_grid AS (
  SELECT s.source, g.len, COALESCE(h.c, 0) AS c
  FROM (SELECT DISTINCT source FROM lens) s
  CROSS JOIN grid g
  LEFT JOIN src_hist h ON h.source = s.source AND h.len = g.len),
src_cdf AS (
  SELECT source, len,
         SUM(c) OVER (PARTITION BY source ORDER BY len) AS cum
  FROM src_grid),
tot_cdf AS (
  SELECT len, SUM(c) OVER (ORDER BY len) AS cum FROM tot_hist)
SELECT s.source,
       CAST(n.ns AS BIGINT) AS n_docs,
       round(MAX(abs(CAST(s.cum AS DOUBLE) / n.ns - CAST(t.cum AS DOUBLE) / tt.nt)), 6)
         AS ks_stat
FROM src_cdf s
JOIN src_n n USING (source)
JOIN tot_cdf t USING (len)
CROSS JOIN tot_n tt
GROUP BY s.source, n.ns
"""


@register("ks_length_drift_by_source", oracle=_KS_ORACLE, tags=("quality", "A7"))
def ks_length_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic (sup CDF gap) between each source's
    doc-length distribution and the whole corpus — drift detection for a
    multi-generator synthetic pipeline; a source that starts emitting
    truncated or padded docs spikes immediately.

    Scale: every relation after the first agg is VALUE-GRID-sized, not
    corpus-sized (the histogram-CDF discipline): per-(source, len)
    histograms, the distinct-len grid, windows ordered over histogram
    rows only. The corpus CDF window is a single partition over the
    value grid — bounded by the length range, independent of doc count —
    and both CDFs join on the grid before a per-source MAX.

    NULL contract (round-9 NULL-metadata sweep): a doc with an unknown
    source belongs to no sample, and an unknown length is not a point on
    any CDF — both are excluded up front, explicitly on both sides.
    Without the filter the NULLs don't just drop: Spark's NULLS-FIRST
    window default counts the NULL-length bucket into every cumulative
    rank while DuckDB's NULLS LAST doesn't, skewing every ks_stat."""
    d = T(spark, sf_dir, "documents")
    lens = d.select("source", F.col("n_chars").alias("len")).filter(
        F.col("source").isNotNull() & F.col("len").isNotNull()
    )
    grid = lens.select("len").distinct()
    src_n = lens.groupBy("source").agg(F.count("*").alias("ns"))
    tot_n = lens.agg(F.count("*").alias("nt"))
    src_hist = lens.groupBy("source", "len").agg(F.count("*").alias("c"))
    src_grid = (
        src_n.select("source")
        .crossJoin(grid)
        .join(src_hist, ["source", "len"], "left")
        .na.fill({"c": 0})
    )
    from pyspark.sql import Window

    w_src = (
        Window.partitionBy("source")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    src_cdf = src_grid.withColumn("cum", F.sum("c").over(w_src))
    tot_hist = lens.groupBy("len").agg(F.count("*").alias("c"))
    w_tot = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    tot_cdf = tot_hist.withColumn("tcum", F.sum("c").over(w_tot)).select("len", "tcum")
    return (
        src_cdf.join(F.broadcast(src_n), "source")
        .join(tot_cdf, "len")
        .crossJoin(F.broadcast(tot_n))
        .groupBy("source", "ns")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum").cast("double") / F.col("ns")
                        - F.col("tcum").cast("double") / F.col("nt")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select("source", F.col("ns").cast("bigint").alias("n_docs"), "ks_stat")
    )


# --------------------------------------------------------------------------
# Corpus-balance chi-square: is language distribution independent of
# source? Big residuals expose feeds that over/under-sample a language.
# --------------------------------------------------------------------------

_CHI2_ORACLE = f"""
WITH cells AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
margins AS (
  SELECT c.lang, c.source, c.o,
    SUM(c.o) OVER (PARTITION BY c.lang) AS row_n,
    SUM(c.o) OVER (PARTITION BY c.source) AS col_n,
    SUM(c.o) OVER () AS n
  FROM cells c),
resid AS (
  SELECT lang, source, o,
    CAST(row_n AS DOUBLE) * col_n / n AS e
  FROM margins),
stat AS (
  SELECT COUNT(*) AS n_cells,
    {fixed_sum_sql('(o - e) * (o - e) / e')} AS chi2
  FROM resid)
SELECT r.lang, r.source, r.o AS n_docs, round(r.e, 6) AS expected,
  round((r.o - r.e) / sqrt(r.e), 6) AS std_residual,
  round(s.chi2, 6) AS chi2_total,
  CAST(s.n_cells AS BIGINT) AS n_cells
FROM resid r CROSS JOIN stat s
"""


@register("lang_source_chi2", oracle=_CHI2_ORACLE, tags=("quality", "A7"))
def lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence check of the language × source
    contingency table, with each cell's standardized residual — the
    corpus-balance diagnostic: a large positive residual marks a feed
    over-sampling a language (and the mixture weights that need
    correcting).

    Scale shape: one fact rollup to |lang|×|source| cells; margins are
    windows over that contingency table (bounded by the category
    product, never the corpus); the statistic accumulates trunc-scaled
    BIGINTs so the float sum is order-free."""
    d = T(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    m = (
        cells.withColumn("row_n", F.sum("o").over(wl))
        .withColumn("col_n", F.sum("o").over(ws))
        .withColumn("n", F.sum("o").over(wall))
    )
    resid = m.withColumn(
        "e", F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    )
    stat = resid.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        fixed_sum(F.expr("(o - e) * (o - e) / e")).alias("chi2"),
    )
    return resid.crossJoin(F.broadcast(stat)).select(
        "lang",
        "source",
        F.col("o").alias("n_docs"),
        F.round("e", 6).alias("expected"),
        F.round((F.col("o") - F.col("e")) / F.sqrt("e"), 6).alias("std_residual"),
        F.round("chi2", 6).alias("chi2_total"),
        "n_cells",
    )
