"""Streaming operators over the events stream (SURVEY.md §2.9).

The reference's acquisition loops are processing-time only; the rebuild
adds proper event-time semantics over the ``events`` table: watermarks,
tumbling/sliding windows, session windows, stateful dedup, checkpointed
resume. Each streaming query has a batch-equivalent twin used by the
DuckDB oracle (plans/), and these streaming forms are exercised in tests
with ``availableNow`` triggers + memory sinks.

Scale: event-time state is keyed by (window, user) — bounded by the
watermark; at 100 TB/day the state store shards across executors and the
watermark keeps it finite, which the reference's grow-forever Python sets
do not (any_scraper.py:58-60).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import finite_or_null
from ..session import read_parquet


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (R1: incremental source
    with auto-stop ≈ availableNow trigger).

    The stream schema must be declared up-front, but how the TIMESTAMP(NANOS)
    ``ts`` column surfaces differs by Spark version (BIGINT nanos under the
    ≤3.x nanosAsLong conf, TIMESTAMP_NTZ under 4.x) — so probe it with a
    static read and branch, same contract as sources.readers.load_events.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(static.dtypes)["ts"]
    schema = (
        f"event_id long, ts {ts_type}, user_id long, "
        "event_type string, value double, props string"
    )
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """R7: windowed telemetry aggregation with late-data watermark.

    ``sum_value`` skips NaN/±inf like NULL (finite_or_null contract, r9),
    as the oracle of the ``stream_tumbling_counts`` catalog query does."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), F.col("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(finite_or_null(F.col("value")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows (same plan; each event lands in width/slide panes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(F.unix_micros(F.col("window.start")).alias("window_start_us"), "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Session windows per user: events within ``gap`` of each other merge
    (R1's auto-stop-after-quiet-period, recast as event-time sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "10 minutes") -> DataFrame:
    """R3: stateful dedup across the stream — the watermark bounds state,
    unlike the reference's unbounded seen-sets."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_dim(events: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    dimension (the site-config dispatch J4 in streaming form). The static
    side is re-resolved per micro-batch — config updates flow in without
    restarting the query."""
    return events.join(F.broadcast(dim), on=on, how="left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    within: str = "5 minutes",
) -> DataFrame:
    """Stream-stream inner join with watermarks + a bounded time condition
    — both state stores evict beyond watermark+interval, keeping state
    finite (the join the reference's batch loops can't express)."""
    l_w = left.withWatermark(left_ts, watermark)
    r_w = right.withWatermark(right_ts, watermark)
    cond = (
        (l_w[on] == r_w[on])
        & (r_w[right_ts] >= l_w[left_ts] - F.expr(f"INTERVAL {within}"))
        & (r_w[right_ts] <= l_w[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l_w.join(r_w, cond)


def run_to_memory(stream_df: DataFrame, name: str | None = None) -> DataFrame:
    """Execute a streaming query with availableNow + memory sink and return
    the materialized result table (synchronous; used by correctness
    queries so streaming plans face the same DuckDB oracle as batch)."""
    spark = stream_df.sparkSession
    table = name or f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table)


def run_append_to_memory(stream_df: DataFrame, name: str | None = None) -> DataFrame:
    """Append-mode variant for non-aggregating streams (dedup etc.)."""
    spark = stream_df.sparkSession
    table = name or f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table)
