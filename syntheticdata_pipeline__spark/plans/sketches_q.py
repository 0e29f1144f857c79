"""Sketch queries: deterministic (md5-based) approximate aggregates with
exact oracle twins — the sketches themselves are reproducible across
engines, so even the approximation error is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import unit_rand_sql
from ..operators.sketches import (
    countmin_estimate,
    countmin_tables,
    hll_distinct,
    hll_distinct_sql,
    kmv_distinct,
    kmv_distinct_sql,
)
from . import register
from .common import T

_K = 64


_KMV_ORACLE = f"""
WITH est AS ({kmv_distinct_sql('events', 'event_type', 'user_id', _K)}),
exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
SELECT e.event_type, e.distinct_est, x.n_exact
FROM est e JOIN exact x USING (event_type)
"""


@register("kmv_distinct_users", oracle=_KMV_ORACLE, tags=("sketch", "A11"))
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV(64) distinct-user estimate per event type, alongside the exact
    count — a reproducible (md5-hashed) alternative to HLL with fixed
    k·group memory and mergeable partials."""
    ev = T(spark, sf_dir, "events")
    est = kmv_distinct(ev, ["event_type"], F.col("user_id"), k=_K)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return est.join(exact, "event_type")


_CM_DEPTH, _CM_WIDTH = 3, 64

_cm_hash = lambda d: (  # noqa: E731 - shared by the oracle string below
    f"CAST(CAST('0x' || substr(md5('cm{d}|' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_CM_WIDTH} AS INTEGER)"
)

# NULL user_ids never enter the sketch (r13 kernel contract — see
# operators/sketches.py::countmin_tables); the oracle drops them in
# lockstep so both engines sketch the same key population.
_cm_union = " UNION ALL ".join(
    f"SELECT {d} AS d, {_cm_hash(d)} AS bucket FROM events WHERE user_id IS NOT NULL"
    for d in range(_CM_DEPTH)
)
_cm_probe_union = " UNION ALL ".join(
    f"SELECT user_id, {d} AS d, {_cm_hash(d)} AS bucket FROM probe_keys" for d in range(_CM_DEPTH)
)

_CM_ORACLE = f"""
WITH sketch AS (
  SELECT d, bucket, COUNT(*) AS n FROM ({_cm_union}) GROUP BY d, bucket),
probe_keys AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
probes AS ({_cm_probe_union}),
joined AS (
  SELECT p.user_id, coalesce(s.n, 0) AS n
  FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket),
exact AS (SELECT user_id, COUNT(*) AS n_exact FROM events WHERE user_id < 20 GROUP BY user_id)
SELECT j.user_id, MIN(j.n) AS freq_est, ANY_VALUE(x.n_exact) AS n_exact
FROM joined j JOIN exact x USING (user_id)
GROUP BY j.user_id
"""


@register("countmin_user_freq", oracle=_CM_ORACLE, tags=("sketch", "A1"))
def countmin_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min(3×64) event-frequency estimates for 20 probe users,
    alongside exact counts — the CM tables are a tiny mergeable state
    (d·w counters) however large the stream."""
    ev = T(spark, sf_dir, "events")
    sketch = countmin_tables(ev, F.col("user_id"), depth=_CM_DEPTH, width=_CM_WIDTH)
    probes = ev.filter(F.col("user_id") < 20).select("user_id").distinct()
    est = countmin_estimate(sketch, probes, "user_id", depth=_CM_DEPTH, width=_CM_WIDTH)
    exact = (
        ev.filter(F.col("user_id") < 20).groupBy("user_id").agg(F.count("*").alias("n_exact"))
    )
    return est.withColumnRenamed("freq_est", "freq_est").join(exact, "user_id").select(
        "user_id", F.col("freq_est").cast("bigint").alias("freq_est"), "n_exact"
    )


_HLL_P = 6

_HLL_ORACLE = f"""
WITH est AS ({hll_distinct_sql('events', 'event_type', 'user_id', _HLL_P)}),
exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
SELECT e.event_type, round(e.distinct_est, 6) AS hll_est, x.n_exact
FROM est e JOIN exact x USING (event_type)
"""


@register("hll_distinct_users", oracle=_HLL_ORACLE, tags=("sketch", "A11"))
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog(m=64) distinct-user estimate per event type alongside
    the exact count — the register-max sketch (Flajolet et al. 2007) in a
    md5-deterministic, engine-portable form: even the approximation error
    is oracle-checked. Complements KMV (order-statistics) and Count-Min
    (frequency) for the full sketch family.

    Scale: register maxima combine map-side; the shuffle carries at most
    64 rows per event type regardless of stream length, and the state is
    mergeable across partitions/batches (the streaming-aggregation
    contract)."""
    ev = T(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], F.col("user_id"), p=_HLL_P)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return est.withColumn("hll_est", F.round("distinct_est", 6)).drop("distinct_est").join(
        exact, "event_type"
    ).select("event_type", "hll_est", "n_exact")


_DAY_US = 86_400_000_000

_HLL_MERGE_ORACLE = f"""
WITH est AS ({hll_distinct_sql('events', 'event_type', 'user_id', _HLL_P)}),
exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
SELECT e.event_type, round(e.distinct_est, 6) AS hll_merged_est, x.n_exact
FROM est e JOIN exact x USING (event_type)
"""


@register("hll_window_merge", oracle=_HLL_MERGE_ORACLE, tags=("sketch", "A11", "R7"))
def hll_window_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability proven against the one-shot oracle: the stream is
    cut into DAILY chunks, per-day register partials are computed
    independently, then merged (register-wise max) up to the full range —
    and the estimate must hash-match the oracle's single-pass sketch
    exactly, because max-of-max over any chunking yields identical
    registers.

    This is the property that makes the sketch usable at 100 TB: daily
    partials are tiny (≤64 rows per group per day), persist as rollup
    state, and any window — week, month, all-time — is answered by
    merging partials instead of rescanning the raw stream. The oracle
    deliberately computes the UNCHUNKED sketch; a hash match is the
    associativity proof at driver scale."""
    from ..operators.sketches import hll_estimate, hll_merge, hll_partials

    ev = T(spark, sf_dir, "events").select(
        "event_type", F.expr(f"ts_us DIV {_DAY_US}").alias("day"), "user_id"
    )
    daily = hll_partials(ev, ["event_type", "day"], F.col("user_id"), p=_HLL_P)
    merged = hll_merge(daily, ["event_type"])
    est = hll_estimate(merged, ["event_type"], p=_HLL_P)
    exact = (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        est.withColumn("hll_merged_est", F.round("distinct_est", 6))
        .drop("distinct_est")
        .join(exact, "event_type")
        .select("event_type", "hll_merged_est", "n_exact")
    )


# --------------------------------------------------------------------------
# Join-size estimation by Count-Min inner product: the planner-style
# cardinality estimate — predict |A ⋈ B| from two tiny sketches before
# running the join.
# --------------------------------------------------------------------------

_JS_DEPTH, _JS_WIDTH = 3, 64

_js_hash = (
    lambda d, rel: f"CAST(CAST('0x' || substr(md5('cm{d}|' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_JS_WIDTH} AS INTEGER)"  # noqa: E731
)

# The r13 kernel contract drops NULL keys at sketch build; the halves
# below inherit it via the WHERE in each union arm.
_js_union = lambda rel: " UNION ALL ".join(  # noqa: E731
    f"SELECT {d} AS d, {_js_hash(d, rel)} AS bucket FROM {rel} WHERE user_id IS NOT NULL"
    for d in range(_JS_DEPTH)
)

_JS_ORACLE = f"""
WITH a AS (SELECT user_id FROM events WHERE event_id % 2 = 0),
b AS (SELECT user_id FROM events WHERE event_id % 2 = 1),
cma AS (SELECT d, bucket, COUNT(*) AS n FROM ({_js_union('a')}) GROUP BY 1, 2),
cmb AS (SELECT d, bucket, COUNT(*) AS n FROM ({_js_union('b')}) GROUP BY 1, 2),
inner_d AS (
  SELECT x.d, SUM(x.n * y.n) AS est
  FROM cma x JOIN cmb y ON x.d = y.d AND x.bucket = y.bucket
  GROUP BY x.d),
est AS (SELECT CAST(MIN(est) AS BIGINT) AS join_size_est FROM inner_d),
exact AS (
  SELECT CAST(SUM(ka.n * kb.n) AS BIGINT) AS join_size_exact
  FROM (SELECT user_id, COUNT(*) AS n FROM a GROUP BY 1) ka
  JOIN (SELECT user_id, COUNT(*) AS n FROM b GROUP BY 1) kb USING (user_id))
SELECT e.join_size_est, x.join_size_exact,
  round(CAST(e.join_size_est AS DOUBLE) / x.join_size_exact, 6) AS over_factor
FROM est e CROSS JOIN exact x
"""


@register("join_size_estimate_cm", oracle=_JS_ORACLE, tags=("sketch", "tuning", "J2"))
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict an equi-join's output cardinality WITHOUT running it: the
    Count-Min inner product. |A ⋈_k B| = Σ_k a_k·b_k, and the inner
    product of two CM rows overestimates it (collisions only add), so
    min over depths is the classic upper-bound estimate — here for the
    self-join of the event stream's two halves on user, next to the
    exact answer and the overestimate factor. This is the estimate a
    planner (or a capacity check before a 100 TB join) reads from
    sketches of d·w counters each.

    Scale shape: each side's sketch is one map-side partial count
    shuffle of at most d·w rows; the estimate joins two d·w-row tables;
    the exact twin reduces each side to per-key counts first (never the
    raw join). All counts exact integers — even the approximation error
    is oracle-checked bit-for-bit."""
    from ..operators.sketches import countmin_tables

    ev = T(spark, sf_dir, "events").select("event_id", "user_id")
    a = ev.filter(F.col("event_id") % 2 == 0).select("user_id")
    b = ev.filter(F.col("event_id") % 2 == 1).select("user_id")
    cma = countmin_tables(a, F.col("user_id"), depth=_JS_DEPTH, width=_JS_WIDTH)
    cmb = countmin_tables(b, F.col("user_id"), depth=_JS_DEPTH, width=_JS_WIDTH)
    inner = (
        cma.alias("x")
        .join(cmb.alias("y"), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("x.n") * F.col("y.n")).alias("est"))
    )
    est = inner.agg(F.min("est").cast("bigint").alias("join_size_est"))
    ka = a.groupBy("user_id").agg(F.count("*").alias("na"))
    kb = b.groupBy("user_id").agg(F.count("*").alias("nb"))
    exact = (
        ka.join(kb, "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("join_size_exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "join_size_exact",
        F.round(
            F.col("join_size_est").cast("double") / F.col("join_size_exact"), 6
        ).alias("over_factor"),
    )


# --------------------------------------------------------------------------
# KMV set algebra: union / intersection / Jaccard estimates between two
# user sets from their k-minimum-value sketches — set operations without
# touching the raw sets.
# --------------------------------------------------------------------------

_KS_K = 64
_KS_A, _KS_B = "view", "purchase"

_ks_h = unit_rand_sql("__k", "kmvset")

_KMVSET_ORACLE = f"""
WITH dedup AS (
  SELECT DISTINCT event_type, user_id AS __k FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}') AND user_id IS NOT NULL),
hashed AS (SELECT event_type, __k, {_ks_h} AS __h FROM dedup),
sk AS (
  SELECT * FROM (
    SELECT event_type, __h,
           row_number() OVER (PARTITION BY event_type ORDER BY __h) AS __r
    FROM hashed)
  WHERE __r <= {_KS_K}),
merged AS (
  SELECT __h, COUNT(DISTINCT event_type) AS n_types FROM sk GROUP BY __h),
kk AS (
  SELECT * FROM (
    SELECT __h, n_types, row_number() OVER (ORDER BY __h) AS __r FROM merged)
  WHERE __r <= {_KS_K}),
est AS (
  SELECT COUNT(*) AS nk,
    MAX(CASE WHEN __r = {_KS_K} THEN __h END) AS hk,
    CAST(SUM(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rho
  FROM kk),
ex AS (
  SELECT
    CAST(COUNT(DISTINCT __k) AS BIGINT) AS n_union_exact,
    CAST(SUM(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_exact
  FROM (SELECT __k, COUNT(DISTINCT event_type) = 2 AS in_both FROM dedup GROUP BY __k))
SELECT
  round(CASE WHEN e.nk < {_KS_K} THEN CAST(e.nk AS DOUBLE)
             ELSE {float(_KS_K - 1)} / e.hk END, 6) AS union_est,
  round(e.rho * (CASE WHEN e.nk < {_KS_K} THEN CAST(e.nk AS DOUBLE)
                      ELSE {float(_KS_K - 1)} / e.hk END), 6) AS inter_est,
  round(e.rho, 6) AS jaccard_est,
  x.n_union_exact, x.n_inter_exact,
  round(CAST(x.n_inter_exact AS DOUBLE) / x.n_union_exact, 6) AS jaccard_exact
FROM est e CROSS JOIN ex x
"""


@register("kmv_set_overlap", oracle=_KMVSET_ORACLE, tags=("sketch", "A11", "tuning"))
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV sketches: union size, intersection size, and
    Jaccard between the 'view' and 'purchase' user sets estimated from
    two 64-value sketches (combine sketches, take the k smallest of the
    union, ρ = fraction present in both), next to the exact answers —
    the audience-overlap question answered from kilobytes of state
    instead of the raw identity sets.

    Scale shape: per-set sketches are bounded top-k windows over hashed
    DISTINCT keys (WindowGroupLimit pushes k into the sort); the combine
    step ranks ≤2k rows; exact twins reduce to per-key aggregates. The
    md5 hash makes sketches — and thus the approximation error —
    bit-reproducible in both engines."""
    from pyspark.sql import Window

    from ..functions.determinism import unit_rand

    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
        # A NULL identity is not a set member: without this filter the
        # engine's groupBy would count the NULL key into both the union
        # and the intersection while SQL COUNT(DISTINCT) drops it — the
        # oracle would even report jaccard_exact > 1 (round-9 sweep).
        & F.col("user_id").isNotNull()
    )
    dedup = ev.select("event_type", F.col("user_id").alias("__k")).distinct()
    hashed = dedup.withColumn("__h", unit_rand(F.col("__k"), "kmvset"))
    wt = Window.partitionBy("event_type").orderBy("__h")
    sk = hashed.withColumn("__r", F.row_number().over(wt)).filter(
        F.col("__r") <= _KS_K
    )
    merged = sk.groupBy("__h").agg(F.countDistinct("event_type").alias("n_types"))
    wg = Window.orderBy("__h")
    kk = merged.withColumn("__r", F.row_number().over(wg)).filter(
        F.col("__r") <= _KS_K
    )
    est = kk.agg(
        F.count("*").alias("nk"),
        F.max(F.when(F.col("__r") == _KS_K, F.col("__h"))).alias("hk"),
        (
            F.sum(F.when(F.col("n_types") == 2, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("rho"),
    )
    ex = (
        dedup.groupBy("__k")
        .agg((F.countDistinct("event_type") == 2).alias("both"))
        .agg(
            F.count("*").cast("bigint").alias("n_union_exact"),
            F.sum(F.when(F.col("both"), 1).otherwise(0)).cast("bigint").alias(
                "n_inter_exact"
            ),
        )
    )
    u = F.when(F.col("nk") < _KS_K, F.col("nk").cast("double")).otherwise(
        F.lit(float(_KS_K - 1)) / F.col("hk")
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.round(u, 6).alias("union_est"),
        F.round(F.col("rho") * u, 6).alias("inter_est"),
        F.round("rho", 6).alias("jaccard_est"),
        "n_union_exact",
        "n_inter_exact",
        F.round(
            F.col("n_inter_exact").cast("double") / F.col("n_union_exact"), 6
        ).alias("jaccard_exact"),
    )
