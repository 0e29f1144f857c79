"""applyInPandasWithState: state survives across micro-batches and final
totals (count and integer-micro value sum) equal the batch aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from syntheticdata_pipeline__spark.streaming.stateful import running_user_totals

from .conftest import SF_SMOKE


def _prepare_chunked_source(spark, tmp_path, n_chunks=3):
    """Split events into n parquet files so maxFilesPerTrigger=1 forces
    multiple micro-batches (state must carry across them)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # value/7 with every third sign flipped: sub-micro fractions of both
    # signs, so per-row micro rounding is actually exercised
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "value",
        F.when(F.col("event_id") % 3 == 0, -F.col("value")).otherwise(F.col("value"))
        / 7,
    )
    src = str(tmp_path / "chunks")
    for i in range(n_chunks):
        ev.filter(F.col("event_id") % n_chunks == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return src, ev


def test_state_carries_across_microbatches(spark, tmp_path):
    src, ev = _prepare_chunked_source(spark, tmp_path)
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # R1/D9: trigger-bounded increments
        .parquet(src)
    )
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink appends one row per (batch, user); the LAST
    # row per user is the final running total.
    out = spark.table("running_totals")
    import pyspark.sql.functions as F2

    # multiple micro-batches ⇒ more rows than users
    n_users = ev.select("user_id").distinct().count()
    assert out.count() > n_users

    # n_events is per-user monotonic across batches ⇒ final = max
    final = out.groupBy("user_id").agg(
        F2.max("n_events").alias("n_events"),
        F2.max_by("sum_value_micros", "n_events").alias("sum_value_micros"),
    )
    expect = ev.groupBy("user_id").agg(
        F2.count("*").alias("n_events"),
        F2.sum(F2.round(F2.col("value") * 1_000_000).cast("bigint")).alias("sv_ref"),
    )
    got = {r.user_id: (r.n_events, r.sum_value_micros) for r in final.collect()}
    want = {r.user_id: (r.n_events, r.sv_ref) for r in expect.collect()}
    assert got == want


def test_transform_with_state_sessionizer(spark, tmp_path):
    """transformWithStateInPandas sessionizer: closed sessions emitted
    across a time-split multi-batch feed equal the batch sessionizer's
    output minus each user's final (never-closed) session.

    Spark 4's TransformWithState runtime speaks protobuf to its Python
    state server; skip when protobuf is not installed (this container) —
    same environment-gating policy as boto3/Selenium (DIVERGENCES.md).
    """
    import pytest

    pytest.importorskip("google.protobuf")
    from syntheticdata_pipeline__spark.sources.readers import load_events
    from syntheticdata_pipeline__spark.streaming.stateful import session_tracker_tws

    ev = load_events(spark, SF_SMOKE).select("user_id", F.col("ts_us").alias("us"))
    # Split by global time so per-user order is preserved across batches.
    cut = ev.agg(F.expr("percentile(us, 0.5)")).collect()[0][0]
    src = str(tmp_path / "chunks")
    ev.filter(F.col("us") <= cut).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("us") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        session_tracker_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table("tws_sessions").collect()
    }

    # Batch twin, minus each user's last session (still open in the stream).
    from syntheticdata_pipeline__spark.plans import load_all

    batch = load_all()["session_windows_batch"].build(spark, SF_SMOKE)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("session_start_us").desc())
    closed = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )
    want = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in closed.collect()
    }
    assert got == want and len(want) > 0


def test_fold_sessions_kernel_matches_batch_twin(spark):
    """fold_sessions (the TWS processor's kernel), driven per-user over
    time-ordered events in two arbitrary chunks, reproduces the batch
    sessionizer exactly (closed + final open session)."""
    from collections import defaultdict

    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.sources.readers import load_events
    from syntheticdata_pipeline__spark.streaming.stateful import fold_sessions

    ev = load_events(spark, SF_SMOKE).select("user_id", "ts_us").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r.ts_us)
    got = set()
    for uid, ts in per_user.items():
        ts.sort()
        mid = len(ts) // 2
        state, closed1 = fold_sessions(None, ts[:mid])
        state, closed2 = fold_sessions(state, ts[mid:])
        for s, e, n in closed1 + closed2 + ([state] if state else []):
            got.add((uid, s, e, n))

    batch = load_all()["session_windows_batch"].build(spark, SF_SMOKE)
    want = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0
