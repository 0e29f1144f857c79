"""Temporal-operator queries: as-of join, bounded range join,
multi-resolution rollup over the events stream — operators Spark lacks
natively, built in operators/temporal.py and oracle-checked (DuckDB has
native ASOF JOIN, which makes an independent oracle for the union+window
implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import (
    finite_or_null,
    finite_or_null_sql,
    floor_bucket_start_sql,
)
from ..operators.temporal import asof_join, multi_resolution_rollup, range_join_buckets
from . import register
from .common import T

# --------------------------------------------------------------------------
# As-of join: each 'view' event picks up the user's most recent prior (or
# simultaneous) 'purchase' value.
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH views AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'),
purchases AS (
  SELECT user_id, epoch_us(ts) AS t, value FROM (
    SELECT user_id, epoch_us(ts) AS ts_key, ts, value,
           row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL)
  WHERE rn = 1)
SELECT v.user_id, v.event_id, p.value AS asof_value
FROM (SELECT * FROM views WHERE t IS NOT NULL AND user_id IS NOT NULL) v
ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.t >= p.t
UNION ALL
SELECT user_id, event_id, NULL AS asof_value
FROM views WHERE t IS NULL OR user_id IS NULL
"""


@register("asof_view_purchase", oracle=_ASOF_ORACLE, tags=("asof-join",))
def asof_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-as-of via tagged union + one window pass (single shuffle on
    user_id — no range explosion); DuckDB's native ASOF JOIN is the
    independent oracle (NULL-time rows handled outside the ASOF itself,
    because DuckDB's native ASOF treats a NULL left time as +inf while
    the SQL comparison reading — pinned here and in the operator — is
    that NULL matches nothing).

    Simultaneous purchases (same user, same µs) are collapsed to the
    max-event_id row BEFORE the as-of, on both engines: a native ASOF
    tie pick and the union+window carry are each otherwise free to
    return different members of the tie group."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.col("ts_us").alias("t")
    )
    w_tie = Window.partitionBy("user_id", "t").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts_us").alias("t"), "value", "event_id")
        .withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select("user_id", "t", "value")
    )
    out = asof_join(
        views,
        purchases,
        on=["user_id"],
        left_time="t",
        right_time="t",
        right_values=["value"],
    )
    return out.select("user_id", "event_id", F.col("asof_value"))


# --------------------------------------------------------------------------
# Bounded range join: errors near purchases (±2 minutes, same user).
# --------------------------------------------------------------------------

_RADIUS_US = 2 * 60 * 1_000_000

_RANGE_ORACLE = f"""
WITH errs AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'error'),
purch AS (
  SELECT user_id, event_id AS p_id, epoch_us(ts) AS t
  FROM events WHERE event_type = 'purchase')
SELECT e.user_id, e.err_id, p.p_id,
       (e.t - p.t) AS delta_us
FROM errs e JOIN purch p
  ON e.user_id = p.user_id AND abs(e.t - p.t) <= {_RADIUS_US}
"""


@register("range_join_error_purchase", oracle=_RANGE_ORACLE, tags=("range-join",))
def range_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucket-banding: equi-join on (user, time-bucket)
    with the left side exploded into 3 candidate buckets, then the exact
    |Δt| filter — the scalable range-join plan (no per-key cross
    product)."""
    ev = T(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts_us").alias("et")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts_us").alias("pt")
    )
    joined = range_join_buckets(
        errs, purch, on=["user_id"], left_time="et", right_time="pt", radius=_RADIUS_US
    )
    return joined.select(
        "user_id", "err_id", "p_id", (F.col("et") - F.col("pt")).alias("delta_us")
    )


# --------------------------------------------------------------------------
# Hypertable rollup: 5-minute + 1-hour + 1-day aggregates in one pass.
# --------------------------------------------------------------------------

_RES = [("5m", 5 * 60 * 1_000_000), ("1h", 3600 * 1_000_000), ("1d", 86400 * 1_000_000)]

_res_union = " UNION ALL ".join(
    f"SELECT '{label}' AS resolution, "
    f"{floor_bucket_start_sql('epoch_us(ts)', width)} AS bucket_start_us, "
    f"event_type, value FROM events"
    for label, width in _RES
)

_ROLLUP_ORACLE = f"""
WITH exploded AS ({_res_union})
SELECT resolution, bucket_start_us, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST({finite_or_null_sql("value")} AS DECIMAL(28,12))) AS DOUBLE) AS sum_value
FROM exploded GROUP BY resolution, bucket_start_us, event_type
"""


@register("multi_resolution_rollup_q", oracle=_ROLLUP_ORACLE, tags=("rollup", "R7"))
def multi_resolution_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5m/1h/1d rollups in one scan+shuffle (explode over resolution
    pairs) — the hypertable continuous-aggregate shape."""
    ev = T(spark, sf_dir, "events")
    return multi_resolution_rollup(
        ev,
        F.col("ts_us"),
        _RES,
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n"),
            F.sum(finite_or_null(F.col("value")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_value"),
        ],
    )
