"""Event-time queries over the ``events`` table (SURVEY.md §2.9 R1-R7).

Event time is integer microseconds end-to-end (see
functions.determinism.event_micros): Spark reads the parquet NANOS column
as BIGINT, DuckDB truncates to TIMESTAMP µs — verified equal.

The true Structured Streaming forms of these (watermarks, availableNow,
memory sink) run in tests (tests/test_streaming.py); the batch forms here
face the DuckDB oracle — plus one query that executes a *real* streaming
plan synchronously and returns its sink table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import (
    davg_sql,
    dstddev_sql,
    finite_or_null,
    finite_or_null_sql,
    fixed_sum,
    fixed_sum_sql,
    floor_bucket_start,
    floor_bucket_start_sql,
    unit_rand_sql,
)
from ..session import pin
from . import register
from .common import T

_W_US = 5 * 60 * 1_000_000  # 5-minute tumbling window in µs
_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


# --------------------------------------------------------------------------
# R7: tumbling-window telemetry (batch form of the streaming agg).
# --------------------------------------------------------------------------

# Non-finite event values are "not a measurement" and skip the exact
# sums like NULL on both engines (finite_or_null contract, r9).
_FIN_VALUE = finite_or_null_sql("value")

_TUMBLING_ORACLE = f"""
SELECT epoch_us(ts) - ((epoch_us(ts) % {_W_US}) + {_W_US}) % {_W_US} AS window_start_us,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST({_FIN_VALUE} AS DECIMAL(28,12))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


@register("tumbling_event_stats", oracle=_TUMBLING_ORACLE, tags=("R7", "R1"))
def tumbling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute buckets, FLOOR-aligned for every timestamp including
    pre-epoch (hostile-ts sweep, round 11): Spark's native window()
    floors, so the whole tumbling family pins window_start =
    floor(ts/width)·width — a `ts - ts % width` twin silently flips to
    ceiling on negative epochs (Java % keeps the dividend's sign), and
    DuckDB's `//` truncates toward zero, so BOTH twins previously agreed
    on the wrong convention for 1969 data. The oracle uses the
    sign-safe mathematical mod ((x % w) + w) % w. A NULL ts groups as a
    NULL bucket (SQL GROUP BY semantics; the STREAMING twin instead
    drops NULL event times — see stream_tumbling_counts)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "window_start_us", F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(_W_US))
        )
        .groupBy("window_start_us")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(finite_or_null(F.col("value")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Session windows (gap-based), batch twin of session_window().
# --------------------------------------------------------------------------

_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events WHERE ts IS NOT NULL),
marked AS (
  SELECT user_id, us, event_id,
         CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
  FROM ordered),
sessioned AS (
  SELECT user_id, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       COUNT(*) AS n_events
FROM sessioned GROUP BY user_id, session_no
"""


@register("session_windows_batch", oracle=_SESSION_ORACLE, tags=("R1", "R7"))
def session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag → new-session marker →
    running sum as session id. Same semantics as session_window(); one
    shuffle on user_id. An event with no timestamp belongs to no session
    (hostile-ts sweep, round 11: unfiltered, Spark's NULLS-FIRST order
    made each NULL-ts row a leading one-event session, shifting every
    real session_no; DuckDB's NULLS-LAST glued them to the last
    session) — exactly the rows Spark's native session_window() cannot
    place either."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", F.col("ts_us").alias("us"), "event_id")
    )
    w_ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.withColumn("prev_us", F.lag("us").over(w_ord)).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > _GAP_US), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessioned = marked.withColumn("session_no", F.sum("is_new").over(w_run))
    return sessioned.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no")).agg(
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Sliding windows (width 10 min, slide 5 min): each event lands in 2
# panes — batch twin of the streaming sliding_counts.
# --------------------------------------------------------------------------

_SLIDE_ORACLE = f"""
WITH panes AS (
  SELECT unnest([ epoch_us(ts) - ((epoch_us(ts) % {_W_US}) + {_W_US}) % {_W_US},
                  epoch_us(ts) - ((epoch_us(ts) % {_W_US}) + {_W_US}) % {_W_US} - {_W_US} ])
           AS window_start_us
  FROM events)
SELECT window_start_us, COUNT(*) AS n_events
FROM panes GROUP BY window_start_us
"""


@register("sliding_event_counts", oracle=_SLIDE_ORACLE, tags=("R7",))
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding by 5: pane membership via explode of the two
    candidate starts — FLOOR-aligned like window(ts, '10 minutes',
    '5 minutes') for pre-epoch timestamps too (see tumbling_event_stats;
    the oracle's mathematical mod is the sign-safe floor bucket). A NULL
    ts contributes two NULL panes on both engines."""
    ev = T(spark, sf_dir, "events")
    bucket = F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(_W_US))
    panes = ev.select(
        F.explode(F.array(bucket, bucket - F.lit(_W_US))).alias("window_start_us")
    )
    return panes.groupBy("window_start_us").agg(F.count("*").alias("n_events"))


# --------------------------------------------------------------------------
# A real Structured Streaming run, oracle-checked: readStream → watermark →
# tumbling window by type → availableNow → memory sink.
# --------------------------------------------------------------------------

_STREAM_ORACLE = f"""
SELECT epoch_us(ts) - ((epoch_us(ts) % {_W_US}) + {_W_US}) % {_W_US} AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST({_FIN_VALUE} AS DECIMAL(28,12))) AS DOUBLE) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


@register("stream_tumbling_counts", oracle=_STREAM_ORACLE, tags=("R1", "R7", "streaming"))
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine streaming execution (file source → watermark → windowed agg
    → availableNow trigger → memory sink), then the sink table is returned
    for the oracle diff. One batch ⇒ no late data ⇒ batch-equivalent.

    Streaming event-time semantics pinned by the hostile-ts sweep
    (round 11): a NULL event time cannot be windowed — the watermark
    operator drops the row (the oracle mirrors with WHERE ts IS NOT
    NULL; the BATCH tumbling twin instead keeps a NULL bucket per GROUP
    BY semantics) — and window.start is the FLOOR bucket for pre-epoch
    timestamps, which the oracle's `//` truncation used to get wrong."""
    from ..streaming.windows import read_events_stream, run_to_memory, tumbling_counts

    return run_to_memory(tumbling_counts(read_events_stream(spark, sf_dir)))


# --------------------------------------------------------------------------
# R3: stateful first-occurrence dedup (batch form).
# --------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT user_id, event_type, us AS first_ts_us FROM (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts) NULLS LAST, event_id) rn
  FROM events) WHERE rn = 1
"""


@register("stateful_dedup_events", oracle=_DEDUP_ORACLE, tags=("R3", "D4"))
def stateful_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) — the persisted seen-set semantics
    (any_scraper.py:58-60) as a window dedup; streaming twin is
    dropDuplicatesWithinWatermark (tests). An unstamped (NULL-ts) event
    is only 'first' if the group holds nothing else: NULLS LAST pinned
    explicitly on both engines (hostile-ts sweep, round 11 — Spark's
    ASC default is NULLS FIRST, DuckDB's is NULLS LAST, so the default
    orderings elect different winners)."""
    from ..operators.dedup import first_wins

    ev = T(spark, sf_dir, "events")
    return first_wins(
        ev, ["user_id", "event_type"], [F.col("ts_us").asc_nulls_last(), F.col("event_id")]
    ).select(
        "user_id", "event_type", F.col("ts_us").alias("first_ts_us")
    )


# --------------------------------------------------------------------------
# R2/K5: checkpointed resume — state anti-join over the event log.
# --------------------------------------------------------------------------

_RESUME_SPLIT_US = 1_704_067_200_000_000 + 15 * 24 * 3600 * 1_000_000  # 2024-01-16

_RESUME_ORACLE = f"""
WITH state AS (SELECT event_id FROM events WHERE epoch_us(ts) < {_RESUME_SPLIT_US}),
     work AS (SELECT * FROM events)
SELECT w.event_type, COUNT(*) AS n_todo
FROM work w WHERE w.event_id NOT IN (SELECT event_id FROM state)
GROUP BY w.event_type
"""


@register("resume_anti_join", oracle=_RESUME_ORACLE, tags=("R2", "K5", "J3"))
def resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-from-checkpoint: the first half of the timeline is 'already
    processed' state; remaining work = left_anti on event_id."""
    from ..operators.dedup import anti_join_state

    ev = T(spark, sf_dir, "events")
    state = ev.filter(F.col("ts_us") < _RESUME_SPLIT_US).select("event_id")
    todo = anti_join_state(ev, state, ["event_id"])
    return todo.groupBy("event_type").agg(F.count("*").alias("n_todo"))


# --------------------------------------------------------------------------
# A3 over the event stream: rate report.
# --------------------------------------------------------------------------

_RATE_ORACLE = """
SELECT event_type,
  COUNT(*) AS n,
  COUNT(DISTINCT user_id) AS n_users,
  (CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 60000000.0) AS span_minutes,
  (CAST(COUNT(*) AS DOUBLE)
     / (CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 60000000.0)) AS events_per_minute
FROM events GROUP BY event_type
"""


@register("event_rate_report", oracle=_RATE_ORACLE, tags=("A3", "R7", "M2"))
def event_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events/minute over the observed span per type — the reference's
    products-per-minute formula (test_kimono.py:753-755) on event time."""
    ev = T(spark, sf_dir, "events")
    span_min = (F.max("ts_us") - F.min("ts_us")).cast("double") / F.lit(60_000_000.0)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        span_min.alias("span_minutes"),
        (F.count("*").cast("double") / span_min).alias("events_per_minute"),
    )


# --------------------------------------------------------------------------
# Ordered-frame moving average (time-series smoothing per user). The frame
# sum is exact decimal so the result is identical for any accumulation
# order; (user_id, ts_us) is unique in the data so the frame is total-
# ordered and deterministic.
# --------------------------------------------------------------------------

_MOVAVG_ORACLE = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  round(CAST(SUM(CAST({_FIN_VALUE} AS DECIMAL(28,12))) OVER w AS DOUBLE)
        / (COUNT(*) OVER w), 6) AS mov_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) NULLS LAST, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


@register("moving_avg_user_value", oracle=_MOVAVG_ORACLE, tags=("A1", "M1"))
def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-row moving average of event value per user: one shuffle on
    user_id, then a sorted in-partition frame scan — the partition key is
    the user, so skew follows user activity (a hot user is still one
    partition's sort, not a global one). Frame order is the pinned total
    order (ts NULLS LAST, then event_id): the hostile-ts sweep showed a
    bare ORDER BY ts is nondeterministic under simultaneous events and
    places NULL-ts rows at opposite ends of the two engines' frames —
    unstamped events smooth at the tail of the stream, in id order."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc_nulls_last(), "event_id")
        .rowsBetween(-3, 0)
    )
    mov = F.sum(finite_or_null(F.col("value")).cast("decimal(28,12)")).over(w).cast(
        "double"
    ) / F.count("*").over(w)
    return ev.select(
        "event_id", "user_id", "ts_us", F.round(mov, 6).alias("mov_avg")
    )


# --------------------------------------------------------------------------
# Inter-arrival gaps (lag-diff per user): the µs-integer deltas aggregate
# exactly, so mean gap per event type is engine-identical.
# --------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events)
SELECT event_type,
  COUNT(gap_us) AS n_gaps,
  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@register("event_interarrival_stats", oracle=_INTERARRIVAL_ORACLE, tags=("M2", "A7"))
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-diff (one shuffle on user_id, sorted in-partition),
    rolled up to integer gap stats per event type — all integer µs
    arithmetic, no float drift."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("total_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


# --------------------------------------------------------------------------
# Weekly retention cohorts: cohort = first active week per user; the
# retention triangle counts users active at each week offset. All integer
# µs arithmetic; the distinct + two grouped passes all key on user/week.
# --------------------------------------------------------------------------

_WEEK_US = 7 * 86_400 * 1_000_000

_RETENTION_ORACLE = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         {floor_bucket_start_sql('epoch_us(ts)', _WEEK_US)} AS week FROM events),
cohort AS (
  SELECT user_id, MIN(week) AS w0 FROM uw GROUP BY user_id)
SELECT CAST(c.w0 AS BIGINT) AS cohort_week_start_us,
       CAST((u.week - c.w0) // {_WEEK_US} AS BIGINT) AS week_offset,
       COUNT(*) AS n_active
FROM uw u JOIN cohort c ON u.user_id = c.user_id
GROUP BY c.w0, u.week - c.w0
"""


@register("weekly_retention_cohorts", oracle=_RETENTION_ORACLE, tags=("A4", "M1"))
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: distinct (user, week) → per-user first week →
    join back + offset rollup. Both aggregates and the join share the
    user_id shuffle key (one exchange reused); weeks are FLOOR-aligned
    µs buckets (hostile-ts convention, round 11 — `ts_us DIV week`
    truncates toward zero, so the epoch-straddling "week 0" spanned TWO
    weeks for pre-epoch data). The cohort key is the week's start in µs;
    week_offset stays an ordinal (the difference is an exact small
    multiple of the width)."""
    ev = T(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", floor_bucket_start(F.col("ts_us"), _WEEK_US).alias("week")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("w0"))
    j = uw.join(cohort, "user_id")
    return j.groupBy(
        F.col("w0").cast("bigint").alias("cohort_week_start_us"),
        # integer DIV, not '/': long '/' is DOUBLE division in Spark,
        # exact only while the span stays below ~2^54 us (~570 years),
        # and the truncating cast turns a one-ulp-low quotient into n-1
        # where the oracle's integer '//' is exact at any span. The
        # difference is a non-negative exact multiple of the width, so
        # DIV == floor here (r11 ADVICE #1).
        F.expr(f"(week - w0) DIV {_WEEK_US}").alias("week_offset"),
    ).agg(F.count("*").alias("n_active"))


# --------------------------------------------------------------------------
# z-score outlier detection: per-type mean/std from exact decimal sums
# (functions.determinism.dstddev), then a second pass flags |z| > 3.
# Both passes shuffle on event_type; the stats side is a broadcast.
# --------------------------------------------------------------------------

_Z_THRESH = 3.0

_OUTLIER_ORACLE = f"""
WITH st AS (
  SELECT event_type,
         {davg_sql('value', scale=12, precision=38)} AS mean_v,
         {dstddev_sql('value', scale=12, precision=38)} AS std_v
  FROM events GROUP BY event_type)
SELECT e.event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN abs((e.value - st.mean_v) / st.std_v) > {_Z_THRESH}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN st ON e.event_type = st.event_type
GROUP BY e.event_type
"""


@register("event_value_outliers", oracle=_OUTLIER_ORACLE, tags=("A7", "F1"))
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|z| > 3 outlier counts per event type. mean/std come from exact
    decimal sums (order-independent) with std on a 6-decimal grid, so the
    z comparison is engine-identical; the per-type stats broadcast into
    the flagging pass."""
    from ..functions.determinism import davg, dstddev

    ev = T(spark, sf_dir, "events")
    st = ev.groupBy(F.col("event_type").alias("et")).agg(
        davg(F.col("value"), scale=12, precision=38).alias("mean_v"),
        dstddev(F.col("value"), scale=12, precision=38).alias("std_v"),
    )
    j = ev.join(F.broadcast(st), ev.event_type == F.col("et"))
    z = F.abs((F.col("value") - F.col("mean_v")) / F.col("std_v"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(z > _Z_THRESH, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
    )


# --------------------------------------------------------------------------
# Ordered funnel conversion: view -> click -> purchase, each stage
# strictly after the user's previous-stage timestamp.
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_ts
  FROM events WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.v_ts
  WHERE e.event_type = 'click' GROUP BY 1),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.c_ts
  WHERE e.event_type = 'purchase' GROUP BY 1),
stages AS (
  SELECT '1_view' AS stage, COUNT(*) AS n FROM v
  UNION ALL SELECT '2_click', COUNT(*) FROM c
  UNION ALL SELECT '3_purchase', COUNT(*) FROM p)
SELECT stage, CAST(n AS BIGINT) AS n_users,
       round(CAST(n AS DOUBLE) / (SELECT n FROM stages WHERE stage = '1_view'), 6)
         AS conv_rate
FROM stages
"""


@register("funnel_conversion_ordered", oracle=_FUNNEL_ORACLE, tags=("A1", "R7"))
def funnel_conversion_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: users whose first click follows their
    first view and whose first purchase follows that click, with
    conversion rates from the top of the funnel — the classic
    product-analytics rollup (A1-A3 counter family, time-ordered).

    Scale: each stage is a user-keyed conditional MIN aggregation joined
    user-to-user (co-partitioned by the same key, so AQE coalesces to
    one shuffle family); stage counts are scalar broadcasts. No windows,
    no per-user event ordering materialized."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"))
    )
    # Each stage count is a GLOBAL aggregation (always exactly one row,
    # zero included) rather than a row-union + groupBy: the oracle's
    # `UNION ALL SELECT COUNT(*)` emits all three stage rows on an empty
    # events table, and so must the engine (round-9 empty-stream sweep).
    stages = (
        v.agg(F.count("*").alias("n")).select(F.lit("1_view").alias("stage"), "n")
        .unionByName(
            c.agg(F.count("*").alias("n")).select(F.lit("2_click").alias("stage"), "n")
        )
        .unionByName(
            p.agg(F.count("*").alias("n")).select(F.lit("3_purchase").alias("stage"), "n")
        )
    )
    top = stages.filter(F.col("stage") == "1_view").select(
        F.col("n").alias("n_top")
    )
    return stages.crossJoin(F.broadcast(top)).select(
        "stage",
        F.col("n").cast("bigint").alias("n_users"),
        # try_divide: an empty funnel has n_top = 0 and DuckDB's x/0 is
        # NULL, while ANSI Spark would throw.
        F.round(
            F.try_divide(F.col("n").cast("double"), F.col("n_top")), 6
        ).alias("conv_rate"),
    )


# --------------------------------------------------------------------------
# Neyman-allocation stratified sampling: allocate a fixed sample budget
# across strata proportional to N_h·σ_h (minimum-variance allocation for
# estimating the mean — the classic eval-set construction), then draw the
# sample with the deterministic md5 uniform.
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
WITH stats AS (
  SELECT event_type, COUNT(*) AS n_rows, {dstddev_sql('value')} AS sd
  FROM events GROUP BY event_type),
w AS (SELECT event_type, n_rows, sd, CAST(n_rows AS DOUBLE) * sd AS wt FROM stats),
tot AS (SELECT {fixed_sum_sql('wt')} AS wsum FROM w),
alloc AS (
  SELECT event_type, n_rows, sd,
         CAST(floor({_NEYMAN_BUDGET} * wt / t.wsum + 0.5) AS BIGINT) AS alloc_n
  FROM w CROSS JOIN tot t),
rates AS (
  SELECT event_type, n_rows, sd, alloc_n,
         least(CAST(alloc_n AS DOUBLE) / n_rows, 1.0) AS rate
  FROM alloc),
drawn AS (
  SELECT e.event_type, COUNT(*) AS sampled_n
  FROM events e JOIN rates r ON e.event_type = r.event_type
  WHERE {unit_rand_sql('e.event_id', 'neyman')} < r.rate
  GROUP BY e.event_type)
SELECT r.event_type, CAST(r.n_rows AS BIGINT) AS n_rows, r.sd, r.alloc_n,
       CAST(COALESCE(d.sampled_n, 0) AS BIGINT) AS sampled_n
FROM rates r LEFT JOIN drawn d ON r.event_type = d.event_type
"""


@register("neyman_allocation_sample", oracle=_NEYMAN_ORACLE, tags=("M4", "A7", "dataset-prep"))
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (minimum-variance) allocation of a 1000-row sample budget
    over event-type strata — n_h ∝ N_h·σ_h — followed by the draw itself
    via the seeded md5 uniform at rate n_h/N_h. High-variance strata get
    oversampled exactly as survey theory prescribes; the realized count
    is binomial around the allocation and bit-reproducible.

    Determinism: σ_h comes from exact decimal sums (dstddev), the
    allocation denominator Σ N_h·σ_h is a trunc-scaled BIGINT sum over
    the strata rows (order-free), floor(x+0.5) rounding, and the draw is
    the md5-keyed uniform — no rand(), no sort. Scale: two aggregates
    over the fact table plus one broadcast of |strata| rate rows into a
    map-side filter; nothing shuffles wider than (event_type)."""
    from ..functions.determinism import dstddev, unit_rand

    ev = T(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n_rows"), dstddev(F.col("value")).alias("sd")
    )
    w = stats.withColumn("wt", F.col("n_rows").cast("double") * F.col("sd"))
    tot = w.agg(fixed_sum(F.col("wt")).alias("wsum"))
    alloc = w.crossJoin(F.broadcast(tot)).withColumn(
        "alloc_n",
        F.floor(F.lit(_NEYMAN_BUDGET) * F.col("wt") / F.col("wsum") + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    rates = alloc.withColumn(
        "rate", F.least(F.col("alloc_n").cast("double") / F.col("n_rows"), F.lit(1.0))
    ).select("event_type", "n_rows", "sd", "alloc_n", "rate")
    drawn = (
        ev.join(F.broadcast(rates.select("event_type", "rate")), "event_type")
        .filter(unit_rand(F.col("event_id"), "neyman") < F.col("rate"))
        .groupBy("event_type")
        .agg(F.count("*").alias("sampled_n"))
    )
    return (
        rates.join(drawn, "event_type", "left")
        .select(
            "event_type",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "sd",
            "alloc_n",
            F.coalesce(F.col("sampled_n"), F.lit(0)).cast("bigint").alias("sampled_n"),
        )
    )


# --------------------------------------------------------------------------
# Key-skew profiler: the diagnostic you run BEFORE picking a partitioning
# at 100 TB — which keys are heavy, and how much of the stream they own.
# --------------------------------------------------------------------------

_SKEW_TOPK = 10

_SKEW_ORACLE = f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
tot AS (
  SELECT CAST(SUM(n_events) AS DOUBLE) AS total,
         COUNT(*) AS n_keys
  FROM counts),
top AS (
  SELECT user_id, n_events FROM counts
  ORDER BY n_events DESC, user_id LIMIT {_SKEW_TOPK})
SELECT t.user_id, t.n_events,
  round(CAST(t.n_events AS DOUBLE) / x.total, 6) AS share,
  CAST(x.n_keys AS BIGINT) AS n_distinct_keys
FROM top t CROSS JOIN tot x
"""


@register("key_skew_profile", oracle=_SKEW_ORACLE, tags=("A1", "D8", "skew"))
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key profile of the event stream: the top-10 user keys by row
    count, each with its share of the total, plus the global distinct-key
    count — the skew diagnostic that decides whether a downstream
    groupBy/join on this key needs salting or AQE skew handling.

    Scale shape: one map-side-partial count shuffle keyed by user; top-10
    is orderBy+limit (TakeOrdered, no global window); the totals are a
    second aggregate over the ALREADY-REDUCED per-key counts, broadcast
    back as one row. Nothing rescans the fact table."""
    ev = T(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    tot = counts.agg(
        F.sum("n_events").cast("double").alias("total"),
        F.count("*").cast("bigint").alias("n_distinct_keys"),
    )
    top = counts.orderBy(F.col("n_events").desc(), "user_id").limit(_SKEW_TOPK)
    return top.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("total"), 6).alias("share"),
        "n_distinct_keys",
    )


# --------------------------------------------------------------------------
# Burst detection: per-user max event count inside any trailing 5-minute
# window — the rate-limit/abuse gate of a crawl pipeline (R4 as an
# analytic instead of a throttle).
# --------------------------------------------------------------------------

_BURST_WINDOW_US = 300_000_000  # 5 minutes
_BURST_FLAG_AT = 5

_BURST_ORACLE = f"""
WITH w AS (
  SELECT user_id,
    COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {_BURST_WINDOW_US} PRECEDING AND CURRENT ROW)
      AS burst
  FROM events)
SELECT user_id, MAX(burst) AS max_burst_5min,
  (MAX(burst) >= {_BURST_FLAG_AT}) AS flagged
FROM w GROUP BY user_id
"""


@register("burst_detection", oracle=_BURST_ORACLE, tags=("R4", "A1", "windows"))
def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user peak burst rate: the maximum number of events falling in
    any trailing 5-minute window, flagged when it reaches 5 — all exact
    integer-µs arithmetic, no timestamps, no floats.

    Scale shape: the RANGE window partitions by user — per-user event
    counts are bounded (same class as the accepted moving-average and
    interarrival windows), so no partition concentrates the stream; the
    rollup to one row per user is map-side partial after the window."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts_us")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_BURST_WINDOW_US, 0)
    )
    bursts = ev.withColumn("burst", F.count("*").over(w))
    return bursts.groupBy("user_id").agg(
        F.max("burst").alias("max_burst_5min"),
        (F.max("burst") >= F.lit(_BURST_FLAG_AT)).alias("flagged"),
    )


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: the behavioral
# fingerprint (and anomaly baseline) of the stream.
# --------------------------------------------------------------------------

_TRANS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM events WHERE ts IS NOT NULL),
pairs AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2),
tot AS (SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
  round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS p
FROM pairs p JOIN tot t ON p.from_type = t.from_type
"""


@register("event_transition_matrix", oracle=_TRANS_ORACLE, tags=("A2", "windows"))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    consecutive (prev → next) pair inside a user's time-ordered stream,
    the count and the row-normalized transition probability — the
    behavioral baseline that downstream funnel and anomaly checks
    compare against.

    Scale shape: the only window is a lag over per-user partitions
    (bounded, the accepted moving-average class); everything after runs
    at |event_type|² size. Ties on ts break by event_id, so the
    sequence — and thus the matrix — is total-order deterministic; an
    unstamped (NULL-ts) event holds no sequence position (hostile-ts
    sweep, round 11: the engines' opposite NULL orderings otherwise
    splice it into opposite ends of the user's stream)."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    pairs = (
        seq.groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# Exact median by two-level histogram refinement: the scalable selection
# algorithm — no per-group total order over the data, ever.
# --------------------------------------------------------------------------

_MED_B = 512


def _median_oracle() -> str:
    from ..functions.determinism import clamped_floor_sql

    b = _MED_B
    # The ev_fin CTE shadows the raw table: non-finite values become NULL
    # (finite_or_null contract, r9) and then LEAVE the selection machinery
    # entirely (r11 fix: n, k, and every bucket count measurements only —
    # previously NULLs inflated n/k and landed in the top bucket, where the
    # engines' opposite NULL orderings picked different terminal rows).
    # Bucket indexes clamp into [0, b-1] BEFORE the BIGINT cast: a range
    # whose width overflows to Inf makes the position NaN/Inf, which both
    # engines clamp to the top/bottom bucket instead of DuckDB raising on
    # the cast while Spark saturates (r10 extremes battery → r11 fix).
    def bkt_sql(pos: str) -> str:
        return clamped_floor_sql(pos, 0.0, float(b - 1))

    return f"""
WITH ev_fin AS (
  SELECT event_type, value FROM (
    SELECT event_type, {_FIN_VALUE} AS value FROM events)
  WHERE value IS NOT NULL),
stats AS (
  SELECT event_type, COUNT(*) AS n, MIN(value) AS mn, MAX(value) AS mx
  FROM ev_fin GROUP BY 1),
k AS (SELECT event_type, n, mn, mx, (n + 1) // 2 AS k FROM stats),
b1 AS (
  SELECT e.event_type, k.k, k.mn, k.mx,
    CASE WHEN k.mx = k.mn THEN 0
         ELSE {bkt_sql(f'(e.value - k.mn) / (k.mx - k.mn) * {b}')}
    END AS bkt
  FROM ev_fin e JOIN k ON e.event_type = k.event_type),
h1 AS (SELECT event_type, bkt, COUNT(*) AS cnt FROM b1 GROUP BY 1, 2),
c1 AS (
  SELECT event_type, bkt, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bkt) AS cum
  FROM h1),
t1 AS (
  SELECT c.event_type, MIN(c.bkt) AS tb
  FROM c1 c JOIN k ON c.event_type = k.event_type
  WHERE c.cum >= k.k GROUP BY 1),
o1 AS (
  SELECT t.event_type, t.tb,
    COALESCE((SELECT MAX(c.cum) FROM c1 c
              WHERE c.event_type = t.event_type AND c.bkt < t.tb), 0) AS before1
  FROM t1 t),
b2 AS (
  SELECT x.event_type, x.bkt, o.before1, k.k, x.value,
    CASE WHEN k.mx = k.mn THEN 0
         ELSE {bkt_sql(f'((x.value - k.mn) / (k.mx - k.mn) * {b} - x.bkt) * {b}')}
    END AS sb
  FROM (SELECT e.event_type, e.value,
          CASE WHEN k.mx = k.mn THEN 0
               ELSE {bkt_sql(f'(e.value - k.mn) / (k.mx - k.mn) * {b}')}
          END AS bkt
        FROM ev_fin e JOIN k ON e.event_type = k.event_type) x
  JOIN t1 o2 ON x.event_type = o2.event_type AND x.bkt = o2.tb
  JOIN o1 o ON x.event_type = o.event_type
  JOIN k ON x.event_type = k.event_type),
h2 AS (SELECT event_type, sb, COUNT(*) AS cnt FROM b2 GROUP BY 1, 2),
c2 AS (
  SELECT event_type, sb, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY sb) AS cum
  FROM h2),
t2 AS (
  SELECT c.event_type, MIN(c.sb) AS tsb
  FROM c2 c JOIN o1 o ON c.event_type = o.event_type
  JOIN k ON c.event_type = k.event_type
  WHERE o.before1 + c.cum >= k.k GROUP BY 1),
o2 AS (
  SELECT t.event_type, t.tsb,
    COALESCE((SELECT MAX(c.cum) FROM c2 c
              WHERE c.event_type = t.event_type AND c.sb < t.tsb), 0) AS before2
  FROM t2 t),
fin AS (
  SELECT b.event_type, b.value,
    row_number() OVER (PARTITION BY b.event_type ORDER BY b.value) AS rn,
    b.k - b.before1 - o.before2 AS want
  FROM b2 b
  JOIN t2 t ON b.event_type = t.event_type AND b.sb = t.tsb
  JOIN o2 o ON b.event_type = o.event_type)
SELECT f.event_type, CAST(k.n AS BIGINT) AS n, f.value AS median
FROM fin f JOIN k ON f.event_type = k.event_type
WHERE f.rn = f.want
"""


@register("exact_median_two_pass", oracle=_median_oracle(), tags=("A7", "skew"))
def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type median of a continuous double column by two-level
    histogram refinement — the distributed selection algorithm: bucket
    the range into 512, locate the bucket holding the k-th value from the
    histogram CDF, re-bucket ONLY that bucket 512-ways, and take the
    residual rank inside the final sub-bucket. Each level shrinks the
    candidate set ×512, so l levels bound the final ordered set by
    n/512^l — two levels cover 10^8 rows per group with a ≤512-row
    terminal selection, and the level count grows logarithmically, never
    the partition size. No per-group total order over the data ever
    materializes (contrast the banned percent_rank-over-docs shape).

    Determinism: bucket arithmetic and the selected value are pure IEEE
    doubles computed identically in both engines; counts are exact; the
    only windows run over ≤512 histogram rows per group.

    NULL and non-finite values leave the selection machinery entirely
    (r11 fix): n, k, and every bucket count measurements only — before
    the filter, NULLed non-finite rows inflated n/k, fell into the top
    bucket via the NULL-skipping least(), and the terminal
    row_number() ORDER BY value diverged on the engines' opposite NULL
    orderings (tests/test_median_null_gap.py). Bucket positions clamp
    into [0, b-1] before the BIGINT conversion (clamped_floor): a range
    width overflowing to Inf makes the position NaN, which both engines
    land on the top bucket instead of forking on the cast."""
    from ..functions.determinism import clamped_floor

    ev = (
        T(spark, sf_dir, "events")
        .select("event_type", finite_or_null(F.col("value")).alias("value"))
        .filter(F.col("value").isNotNull())
    )
    # The per-group stats/threshold tables are tiny (|groups| and ≤512
    # histogram rows) but their lineage re-embeds the fact scan; without
    # truncation every downstream reference re-expands it and the final
    # plan re-scans the fact combinatorially (the connected_components
    # precedent). Pinning each tiny table after one computation scans
    # the fact table O(passes) times, not O(references).
    k = pin(
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .withColumn("k", F.expr("(n + 1) DIV 2"))
    )
    b = _MED_B

    def bucket(val, mn, mx):
        return F.when(mx == mn, F.lit(0).cast("bigint")).otherwise(
            clamped_floor((val - mn) / (mx - mn) * b, 0.0, float(b - 1))
        )

    b1 = ev.join(F.broadcast(k), "event_type").withColumn(
        "bkt", bucket(F.col("value"), F.col("mn"), F.col("mx"))
    )
    h1 = b1.groupBy("event_type", "bkt").agg(F.count("*").alias("cnt"))
    w1 = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c1 = h1.withColumn("cum", F.sum("cnt").over(w1))
    t1 = (
        c1.join(F.broadcast(k.select("event_type", "k")), "event_type")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("event_type")
        .agg(F.min("bkt").alias("tb"))
    )
    o1 = (
        c1.join(F.broadcast(t1), "event_type")
        .filter(F.col("bkt") < F.col("tb"))
        .groupBy("event_type")
        .agg(F.max("cum").alias("before1"))
    )
    # before1 is absent when the target is the first bucket
    t1full = pin(t1.join(o1, "event_type", "left").na.fill({"before1": 0}))
    b2 = (
        b1.join(F.broadcast(t1full), "event_type")
        .filter(F.col("bkt") == F.col("tb"))
        .withColumn(
            "sb",
            F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
                clamped_floor(
                    (
                        (F.col("value") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * b
                        - F.col("bkt")
                    )
                    * b,
                    0.0,
                    float(b - 1),
                )
            ),
        )
    )
    h2 = b2.groupBy("event_type", "sb").agg(F.count("*").alias("cnt"))
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c2 = h2.withColumn("cum", F.sum("cnt").over(w2))
    t2 = (
        c2.join(F.broadcast(t1full.select("event_type", "before1")), "event_type")
        .join(F.broadcast(k.select("event_type", "k")), "event_type")
        .filter(F.col("before1") + F.col("cum") >= F.col("k"))
        .groupBy("event_type")
        .agg(F.min("sb").alias("tsb"))
    )
    o2 = (
        c2.join(F.broadcast(t2), "event_type")
        .filter(F.col("sb") < F.col("tsb"))
        .groupBy("event_type")
        .agg(F.max("cum").alias("before2"))
    )
    t2full = t2.join(o2, "event_type", "left").na.fill({"before2": 0})
    wfin = Window.partitionBy("event_type").orderBy("value")
    fin = (
        b2.join(F.broadcast(t2full), "event_type")
        .filter(F.col("sb") == F.col("tsb"))
        .withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") == F.col("k") - F.col("before1") - F.col("before2"))
    )
    return fin.select(
        "event_type", F.col("n").cast("bigint").alias("n"), F.col("value").alias("median")
    )


# --------------------------------------------------------------------------
# Grouped OLS trend: is `value` drifting over time within each event
# type? The least-squares slope per group — feed-regression detection.
# --------------------------------------------------------------------------

_TREND_ORACLE = f"""
WITH span AS (
  SELECT event_type, MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
  FROM events GROUP BY 1),
pts AS (
  SELECT e.event_type,
    CASE WHEN s.mx = s.mn THEN 0.0
         ELSE CAST(epoch_us(e.ts) - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE)
    END AS x,
    CASE WHEN isfinite(e.value) THEN e.value END AS y
  FROM events e JOIN span s ON e.event_type = s.event_type),
agg AS (
  SELECT event_type, COUNT(*) AS n,
    {fixed_sum_sql('x')} AS sx, {fixed_sum_sql('y')} AS sy,
    {fixed_sum_sql('x * y')} AS sxy, {fixed_sum_sql('x * x')} AS sxx
  FROM pts GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
FROM agg
"""


@register("value_trend_by_type", oracle=_TREND_ORACLE, tags=("A7", "R7"))
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of event value over normalized time per event
    type — the drift detector that catches a feed whose metric creeps
    between corpus snapshots. Time normalizes to [0,1] over the group's
    span, so the slope reads as 'value change across the full window'.

    Scale shape: one agg for per-type spans (broadcast back), then ONE
    partial-agg pass accumulating the four regression sums as
    trunc-scaled BIGINTs — exact, order-free, no window anywhere. The
    [0,1] x-normalization also bounds the scaled xy terms, keeping the
    BIGINT accumulators far from overflow at any realistic group size."""
    ev = T(spark, sf_dir, "events").select("event_type", "ts_us", "value")
    span = ev.groupBy("event_type").agg(
        F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")
    )
    pts = ev.join(F.broadcast(span), "event_type").select(
        "event_type",
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise(
            (F.col("ts_us") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")).cast("double")
        )
        .alias("x"),
        finite_or_null(F.col("value")).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    agg = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        fixed_sum(x).alias("sx"),
        fixed_sum(y).alias("sy"),
        fixed_sum(x * y).alias("sxy"),
        fixed_sum(x * x).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "event_type", F.col("n").cast("bigint").alias("n"), F.round(slope, 6).alias("slope")
    )


# --------------------------------------------------------------------------
# Time-in-state: how long does a user sit in each event type before the
# next event — the dwell/engagement metric of the stream.
# --------------------------------------------------------------------------

_DWELL_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS next_us
  FROM events WHERE ts IS NOT NULL)
SELECT event_type,
  COUNT(next_us) AS n_intervals,
  CAST(SUM(next_us - us) AS BIGINT) AS total_dwell_us,
  CAST(SUM(next_us - us) AS DOUBLE) / COUNT(next_us) AS avg_dwell_us
FROM seq WHERE next_us IS NOT NULL
GROUP BY event_type
"""


@register("dwell_time_by_type", oracle=_DWELL_ORACLE, tags=("R7", "A7", "windows"))
def dwell_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event type: the gap from each event to the same
    user's next event, summed and averaged per type — pure integer-µs
    lead arithmetic, the engagement metric that tells which states users
    linger in. The average is the bare IEEE division (exact-int sum /
    count, bit-identical in any engine): a round(·,6) here is a trap —
    µs averages carry ~17 significant digits at 6 decimals, past double
    precision, where Spark's BigDecimal round and DuckDB's round can
    disagree by one ulp (found by the round-9 NULL-events sweep).

    Scale shape: one lead() over bounded per-user partitions (the
    accepted lag/moving-average class), then a map-side-partial rollup
    keyed by event type. Integer sums are exact and order-free; the only
    float is the final average division.

    A dwell interval needs BOTH endpoints stamped: NULL-ts rows leave
    before the lead() (hostile-ts sweep, round 11 — under Spark's
    NULLS-FIRST order the last NULL-ts row pairs with the first real
    row, inflating n_intervals with a NULL-dwell interval that DuckDB's
    NULLS-LAST order never forms)."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.withColumn("next_us", F.lead("ts_us").over(w)).filter(
        F.col("next_us").isNotNull()
    )
    dwell = F.col("next_us") - F.col("ts_us")
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum(dwell).cast("bigint").alias("total_dwell_us"),
        (F.sum(dwell).cast("double") / F.count("*")).alias("avg_dwell_us"),
    )


# --------------------------------------------------------------------------
# Frequent 3-step sequences: the top event-type trigrams across user
# streams — sequence mining one order above the transition matrix.
# --------------------------------------------------------------------------

_TRIGRAM_TOPK = 10

_SEQ3_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type AS t2,
         lag(event_type, 1) OVER w AS t1,
         lag(event_type, 2) OVER w AS t0
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
tri AS (
  SELECT t0, t1, t2, COUNT(*) AS n FROM seq
  WHERE t0 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT SUM(n) AS total FROM tri),
ranked AS (
  SELECT t0, t1, t2, n,
         row_number() OVER (ORDER BY n DESC, t0, t1, t2) AS rnk
  FROM tri)
SELECT r.t0, r.t1, r.t2, r.n, round(CAST(r.n AS DOUBLE) / t.total, 6) AS share,
  CAST(r.rnk AS INTEGER) AS rank
FROM ranked r CROSS JOIN tot t
WHERE r.rnk <= {_TRIGRAM_TOPK}
"""


@register("top_event_trigrams", oracle=_SEQ3_ORACLE, tags=("A2", "windows"))
def top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type sequences across all user streams,
    with each trigram's share of all observed trigrams — the sequence-
    mining view one order above the transition matrix (funnel discovery
    rather than funnel verification).

    Scale shape: two lags over bounded per-user partitions, then a
    rollup at |event_type|³ size; the top-10 rank window runs over that
    cube (125 rows here, bounded by the type vocabulary cubed — never
    the stream), and the share total is a 1-row broadcast. NULL-ts
    events hold no sequence position (hostile-ts sweep, round 11 —
    same rule as event_transition_matrix)."""
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = (
        ev.withColumn("t1", F.lag("event_type", 1).over(w))
        .withColumn("t0", F.lag("event_type", 2).over(w))
        .filter(F.col("t0").isNotNull())
    )
    tri = seq.groupBy(
        F.col("t0"), F.col("t1"), F.col("event_type").alias("t2")
    ).agg(F.count("*").alias("n"))
    tot = tri.agg(F.sum("n").alias("total"))
    wr = Window.orderBy(F.col("n").desc(), "t0", "t1", "t2")
    ranked = tri.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= _TRIGRAM_TOPK
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "t0",
        "t1",
        "t2",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.col("rnk").cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Deadline attribution: did a view convert to a purchase within 24h?
# Conversion rate per view-day — the funnel metric with a time budget.
# --------------------------------------------------------------------------

_CONV_DEADLINE_US = 86_400_000_000  # 24h
_DAY_US_ATTR = 86_400_000_000

_ATTR_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_us
  FROM events),
views AS (
  SELECT {floor_bucket_start_sql('us', _DAY_US_ATTR)} AS view_day_us,
    (next_purchase_us IS NOT NULL
     AND next_purchase_us - us <= {_CONV_DEADLINE_US}) AS converted
  FROM seq WHERE event_type = 'view')
SELECT view_day_us, COUNT(*) AS n_views,
  CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
  round(CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS conversion_rate
FROM views GROUP BY view_day_us
"""


@register("conversion_deadline_attribution", oracle=_ATTR_ORACLE, tags=("R7", "windows", "A3"))
def conversion_deadline_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day conversion rate of views into a purchase by the SAME user
    within 24 hours — attribution with a deadline, the funnel metric a
    time-unbounded join overcounts. The forward-looking 'next purchase'
    timestamp comes from one reversed-frame MIN window per user (rows
    CURRENT→UNBOUNDED FOLLOWING), so each view learns its earliest
    following purchase without any self-join.

    Scale shape: a single per-user window (bounded, the accepted class)
    plus a day-bucket rollup in integer µs; no range self-join of the
    fact table against itself, no timestamp arithmetic outside integer
    space."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts_us", "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    seq = ev.withColumn(
        "next_purchase_us",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).over(w),
    )
    views = seq.filter(F.col("event_type") == "view").select(
        # FLOOR-aligned day bucket (hostile-ts convention, round 11):
        # DIV truncates toward zero, splitting the epoch-straddling day
        floor_bucket_start(F.col("ts_us"), _DAY_US_ATTR).alias("view_day_us"),
        (
            F.col("next_purchase_us").isNotNull()
            & (F.col("next_purchase_us") - F.col("ts_us") <= _CONV_DEADLINE_US)
        ).alias("converted"),
    )
    return views.groupBy("view_day_us").agg(
        F.count("*").alias("n_views"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).cast("bigint").alias(
            "n_converted"
        ),
        F.round(
            F.sum(F.when(F.col("converted"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("conversion_rate"),
    )


# --------------------------------------------------------------------------
# Interarrival latency percentiles: P50/P90/P99 per event type from a
# millisecond-grid histogram CDF — the telemetry latency report.
# --------------------------------------------------------------------------

_LAT_GRID_US = 1_000  # 1 ms buckets

_LAT_ORACLE = f"""
WITH seq AS (
  SELECT event_type,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events),
g AS (
  SELECT event_type, (gap_us // {_LAT_GRID_US}) * {_LAT_GRID_US} AS gap_ms_us
  FROM seq WHERE gap_us IS NOT NULL),
hist AS (SELECT event_type, gap_ms_us, COUNT(*) AS c FROM g GROUP BY 1, 2),
cum AS (
  SELECT event_type, gap_ms_us, c,
    SUM(c) OVER (PARTITION BY event_type ORDER BY gap_ms_us) AS cum_c
  FROM hist),
n AS (SELECT event_type, SUM(c) AS n FROM hist GROUP BY 1),
q AS (
  SELECT c.event_type,
    MIN(CASE WHEN c.cum_c >= 0.50 * n.n THEN c.gap_ms_us END) AS p50_us,
    MIN(CASE WHEN c.cum_c >= 0.90 * n.n THEN c.gap_ms_us END) AS p90_us,
    MIN(CASE WHEN c.cum_c >= 0.99 * n.n THEN c.gap_ms_us END) AS p99_us
  FROM cum c JOIN n ON c.event_type = n.event_type
  GROUP BY c.event_type)
SELECT q.event_type, CAST(n.n AS BIGINT) AS n_gaps,
  q.p50_us, q.p90_us, q.p99_us
FROM q JOIN n ON q.event_type = n.event_type
"""


@register("interarrival_percentiles", oracle=_LAT_ORACLE, tags=("R7", "A7", "windows"))
def interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P50/P90/P99 of the per-user interarrival gap per event type — the
    telemetry latency report, computed the de-skewed way: gaps bucket to
    a 1 ms grid, the percentile comes from the grid histogram's CDF
    (smallest bucket whose cumulative count reaches the quantile), and
    the only windows are a per-user lag plus a CDF over histogram rows
    whose cardinality is bounded by the gap range in milliseconds —
    never the stream.

    The bucketed percentile is exact at grid resolution: for latency
    work 1 ms is the reporting unit anyway, and the grid is what makes
    the histogram mergeable rollup state across windows/days."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = (
        ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select(
            "event_type",
            F.expr(f"(gap_us DIV {_LAT_GRID_US}) * {_LAT_GRID_US}").alias("gap_ms_us"),
        )
    )
    hist = g.groupBy("event_type", "gap_ms_us").agg(F.count("*").alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("gap_ms_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum_c", F.sum("c").over(wc))
    n = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(n), "event_type")

    def pq(frac):
        return F.min(
            F.when(F.col("cum_c") >= F.lit(frac) * F.col("n"), F.col("gap_ms_us"))
        )

    q = j.groupBy("event_type").agg(
        pq(0.50).alias("p50_us"), pq(0.90).alias("p90_us"), pq(0.99).alias("p99_us")
    )
    return q.join(F.broadcast(n), "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        "p50_us",
        "p90_us",
        "p99_us",
    )


# --------------------------------------------------------------------------
# Hour-of-day activity profile: the diurnal shape per event type, with
# the peak hour — capacity planning's first chart.
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000

_HOURLY_ORACLE = f"""
WITH h AS (
  SELECT event_type,
    CAST((epoch_us(ts) % {24 * _HOUR_US}) // {_HOUR_US} AS INTEGER) AS hour_utc
  FROM events),
cnt AS (SELECT event_type, hour_utc, COUNT(*) AS n FROM h GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(n) AS total FROM cnt GROUP BY 1),
mx AS (SELECT event_type, MAX(n) AS max_n FROM cnt GROUP BY 1)
SELECT c.event_type, c.hour_utc, c.n,
  round(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
  (c.n = m.max_n) AS is_peak
FROM cnt c
JOIN tot t ON c.event_type = t.event_type
JOIN mx m ON c.event_type = m.event_type
"""


@register("hourly_profile_by_type", oracle=_HOURLY_ORACLE, tags=("R7", "A2"))
def hourly_profile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal activity profile: event share per UTC hour-of-day per
    type, with the peak hour(s) flagged — the first chart of capacity
    planning, computed entirely in integer-µs modular arithmetic (no
    timestamp functions, so no session-timezone dependence anywhere).

    Scale shape: one rollup to |type|×24 cells; totals and maxima are
    re-aggregations of those cells (broadcast back); a pure map-side
    pass over the stream."""
    ev = T(spark, sf_dir, "events").select("event_type", "ts_us")
    h = ev.select(
        "event_type",
        F.expr(f"CAST((ts_us % {24 * _HOUR_US}) DIV {_HOUR_US} AS INT)").alias(
            "hour_utc"
        ),
    )
    cnt = h.groupBy("event_type", "hour_utc").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("event_type").agg(F.sum("n").alias("total"))
    mx = cnt.groupBy("event_type").agg(F.max("n").alias("max_n"))
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(mx), "event_type")
        .select(
            "event_type",
            "hour_utc",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            (F.col("n") == F.col("max_n")).alias("is_peak"),
        )
    )


# --------------------------------------------------------------------------
# Per-user behavioral feature table: burst + dwell + type entropy in one
# join — the feature-engineering step before any bot/anomaly model.
# --------------------------------------------------------------------------

_UBF_ORACLE = f"""
WITH bursts AS (
  SELECT user_id, MAX(b) AS max_burst FROM (
    SELECT user_id,
      COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {_BURST_WINDOW_US} PRECEDING AND CURRENT ROW) AS b
    FROM events WHERE ts IS NOT NULL) GROUP BY user_id),
dwell AS (
  SELECT user_id,
    CAST(SUM(next_us - us) AS BIGINT) AS total_dwell_us,
    COUNT(next_us) AS n_gaps
  FROM (
    SELECT user_id, epoch_us(ts) AS us,
      lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        AS next_us
    FROM events WHERE ts IS NOT NULL)
  WHERE next_us IS NOT NULL GROUP BY user_id),
tc AS (SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
un AS (SELECT user_id, SUM(c) AS n FROM tc GROUP BY 1),
ent AS (
  SELECT t.user_id,
    round(-{fixed_sum_sql('(CAST(t.c AS DOUBLE) / u.n) * ln(CAST(t.c AS DOUBLE) / u.n)')}, 6)
      AS type_entropy
  FROM tc t JOIN un u ON t.user_id = u.user_id
  GROUP BY t.user_id)
SELECT b.user_id, b.max_burst,
  d.total_dwell_us, CAST(d.n_gaps AS BIGINT) AS n_gaps,
  CAST(d.total_dwell_us AS DOUBLE) / d.n_gaps AS mean_dwell_us,
  e.type_entropy
FROM bursts b
JOIN dwell d ON b.user_id = d.user_id
JOIN ent e ON b.user_id = e.user_id
"""


@register("user_behavior_features", oracle=_UBF_ORACLE, tags=("R4", "A7", "windows"))
def user_behavior_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector in one plan: peak 5-minute
    burst, total/mean dwell, and the Shannon entropy of the user's
    event-type mix — the feature-engineering join that feeds a bot or
    anomaly model (a scripted client shows high burst, low dwell, low
    entropy simultaneously; each signal alone false-positives).

    Scale shape: three feature pipelines — a per-user RANGE window, a
    per-user lead, and a (user, type) rollup — each reduced to one row
    per user BEFORE the 3-way join on the user key; entropy terms
    accumulate as trunc-scaled BIGINTs (order-free).

    The two TEMPORAL arms (burst, dwell) read timed events only — a
    NULL-ts row has no burst window and anchors no dwell interval
    (hostile-ts sweep, round 11); the entropy arm keeps every event
    (type mix needs no clock). A user whose events are ALL unstamped
    drops out of the feature table via the inner joins, identically on
    both engines."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_type", "ts_us", "event_id")
    timed = ev.filter(F.col("ts_us").isNotNull())
    wb = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(-_BURST_WINDOW_US, 0)
    bursts = (
        timed.withColumn("b", F.count("*").over(wb))
        .groupBy("user_id")
        .agg(F.max("b").alias("max_burst"))
    )
    wl = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    dwell = (
        timed.withColumn("next_us", F.lead("ts_us").over(wl))
        .filter(F.col("next_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("next_us") - F.col("ts_us")).cast("bigint").alias(
                "total_dwell_us"
            ),
            F.count("*").cast("bigint").alias("n_gaps"),
        )
    )
    tc = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    un = tc.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        tc.join(un, "user_id")
        .groupBy("user_id")
        .agg(F.round(-fixed_sum(p * F.log(p)), 6).alias("type_entropy"))
    )
    return (
        bursts.join(dwell, "user_id")
        .join(ent, "user_id")
        .select(
            "user_id",
            "max_burst",
            "total_dwell_us",
            "n_gaps",
            # no round: at ~4e10 µs a 6-decimal grid is beyond double
            # precision and the engines' rounding differs by an ulp; the
            # raw IEEE division of identical integers is bit-identical.
            (F.col("total_dwell_us").cast("double") / F.col("n_gaps")).alias(
                "mean_dwell_us"
            ),
            "type_entropy",
        )
    )
