"""Streaming adversarial battery (r14, verdict #1 — the last unswept
seam). Every other subsystem's hostile battery found real bugs when it
arrived (sinks → NUL keys; sources → overflow; sketches → NULL keys;
events → 4 divergences); this one drives the streaming layer —
`streaming/windows.py`, `streaming/stateful.py`, `operators/state.py`,
the watermark-eviction path — with the inputs a 100 TB event firehose
actually delivers: NULL event times and keys, years-late and far-future
timestamps, duplicates landing exactly on the watermark, zero-width and
boundary-touching sessions, killed-and-replayed micro-batches, empty
and single-event streams, non-finite values.

Reference anchor: R2/R3 resume semantics (any_scraper.py:85-116) — the
reference's in-memory seen-sets and JSON progress flushes have none of
these behaviors to pin; the Spark rebuild must define them.

Find log (r14 first run):
- running_user_totals CRASHED on a non-finite value (int(round(inf))
  overflowed) — DIVERGENCES "Queued fix: running_user_totals must skip
  non-finite values"; fixed, and the pin below now asserts the skip.
- everything else pinned GREEN (behavior verified consistent with the
  batch twins / documented Spark semantics).
"""

from __future__ import annotations

import datetime as dt
import time
import uuid

import pyspark.sql.functions as F
import pytest

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)

BASE = dt.datetime(2024, 1, 1, 10, 0, 0)
BASE_US = 1_704_103_200_000_000  # 2024-01-01T10:00:00Z in µs
EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)
GAP = dt.timedelta(minutes=30)
GAP_US = 30 * 60 * 1_000_000


def _write_chunk(spark, path, rows, schema=EV_SCHEMA):
    """One parquet file per call, distinct mtimes → deterministic
    maxFilesPerTrigger batch order (same idiom as the watermark test)."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
    time.sleep(1.1)


def _stream(spark, path, schema=EV_SCHEMA, per_file=True):
    r = spark.readStream.schema(schema)
    if per_file:
        r = r.option("maxFilesPerTrigger", "1")
    return r.parquet(path)


def _run(stream_df, mode, ckpt=None):
    tbl = "adv_" + uuid.uuid4().hex[:10]
    w = stream_df.writeStream.format("memory").queryName(tbl).outputMode(mode)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return stream_df.sparkSession.table(tbl)


def _ev(event_id, ts, user_id=1, event_type="click", value=1.0):
    return (event_id, ts, user_id, event_type, value, None)


# ---------------------------------------------------------------------------
# NULL event time / NULL key
# ---------------------------------------------------------------------------


def test_null_ts_rows_never_enter_windows(spark, tmp_path):
    """An event with no timestamp belongs to no window — the streaming
    tumbling agg drops it silently, exactly like the batch twins'
    `ts IS NOT NULL` contract (r11 hostile-ts sweep). It must not crash
    the query, poison the watermark, or form a NULL window row."""
    from syntheticdata_pipeline__spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    _write_chunk(
        spark,
        src,
        [_ev(1, BASE), _ev(2, None), _ev(3, BASE + dt.timedelta(minutes=1), 2, "view", 2.0)],
    )
    out = _run(tumbling_counts(_stream(spark, src)), "complete").collect()
    got = sorted((r.window_start_us, r.event_type, r.n_events) for r in out)
    assert got == [(BASE_US, "click", 1), (BASE_US, "view", 1)]
    assert all(r.window_start_us is not None for r in out)


def test_null_user_keeps_its_own_session(spark, tmp_path):
    """Keyed streaming state under a NULL key: the NULL user's events
    session together (one real group, the batch sessionizer's NULL
    convention) and NULL-ts rows are absent — not a leading zero-width
    session, not glued to a real one."""
    from syntheticdata_pipeline__spark.streaming.windows import session_counts

    src = str(tmp_path / "src")
    _write_chunk(
        spark,
        src,
        [
            _ev(1, BASE, 1),
            _ev(2, None, 1),  # NULL ts — no session
            _ev(3, BASE + dt.timedelta(minutes=1), None),
            _ev(4, BASE + dt.timedelta(minutes=2), None),
        ],
    )
    out = _run(session_counts(_stream(spark, src)), "complete").collect()
    got = sorted(
        ((r.user_id if r.user_id is not None else -1), r.n_events) for r in out
    )
    assert got == [(-1, 2), (1, 1)]


# ---------------------------------------------------------------------------
# Session boundaries: exact-gap touch, zero width
# ---------------------------------------------------------------------------


def test_exact_gap_boundary_merges_in_all_three_implementations(spark, tmp_path):
    """Events EXACTLY `gap` apart merge into one session in (a) the
    native streaming session_window, (b) the batch-twin lag rule
    (`us - prev > gap` → new), and (c) the fold_sessions TWS kernel.
    The three implementations share the boundary convention — an
    exact-gap event extends the session. Probed r14: all three agree;
    this pin keeps them from drifting apart."""
    from syntheticdata_pipeline__spark.streaming.stateful import fold_sessions
    from syntheticdata_pipeline__spark.streaming.windows import session_counts

    src = str(tmp_path / "src")
    _write_chunk(spark, src, [_ev(1, BASE), _ev(2, BASE + GAP), _ev(3, BASE + 2 * GAP)])
    out = _run(session_counts(_stream(spark, src)), "complete").collect()
    assert [(r.session_start_us, r.n_events) for r in out] == [(BASE_US, 3)]

    state, closed = fold_sessions(None, [BASE_US, BASE_US + GAP_US, BASE_US + 2 * GAP_US])
    assert closed == [] and state == (BASE_US, BASE_US + 2 * GAP_US, 3)

    # one microsecond past the gap splits — the boundary is sharp
    state2, closed2 = fold_sessions(None, [BASE_US, BASE_US + GAP_US + 1])
    assert closed2 == [(BASE_US, BASE_US, 1)] and state2[2] == 1


def test_zero_width_session_from_identical_timestamps(spark, tmp_path):
    """All events at the SAME instant: one session with start == end
    (width zero), n = all of them — in both the streaming window and
    the kernel. Duplicate timestamps are the 100 TB norm (coarse client
    clocks), not an edge case."""
    from syntheticdata_pipeline__spark.streaming.stateful import fold_sessions
    from syntheticdata_pipeline__spark.streaming.windows import session_counts

    src = str(tmp_path / "src")
    _write_chunk(spark, src, [_ev(i, BASE) for i in range(5)])
    out = _run(session_counts(_stream(spark, src)), "complete").collect()
    assert [(r.session_start_us, r.n_events) for r in out] == [(BASE_US, 5)]

    state, closed = fold_sessions(None, [BASE_US] * 5)
    assert closed == [] and state == (BASE_US, BASE_US, 5)


# ---------------------------------------------------------------------------
# Watermark hostility: boundary duplicates, far-future skew, years-late
# ---------------------------------------------------------------------------


def test_duplicate_and_new_key_exactly_on_watermark_boundary(spark, tmp_path):
    """dropDuplicatesWithinWatermark at the exact boundary, pinned from
    the r14 probe: a DUPLICATE of a key first seen at ts == watermark is
    suppressed (its state is still live — eviction is strictly-below),
    while a NEW key arriving later with ts == watermark is dropped as
    late (Spark treats event_time <= watermark as late on arrival).
    Both sides of the boundary are deliberate: state outlives the
    watermark by one cell, input does not."""
    from syntheticdata_pipeline__spark.streaming.windows import dedup_within_watermark

    src = str(tmp_path / "src")
    wm_ts = dt.datetime(2024, 1, 1, 10, 20)
    _write_chunk(spark, src, [_ev(100, wm_ts), _ev(101, dt.datetime(2024, 1, 1, 10, 30))])
    _write_chunk(spark, src, [_ev(100, wm_ts)])  # duplicate key, ts == watermark
    _write_chunk(spark, src, [_ev(102, wm_ts)])  # NEW key, ts == watermark
    out = _run(dedup_within_watermark(_stream(spark, src), ["event_id"]), "append")
    assert sorted(r.event_id for r in out.collect()) == [100, 101]


def test_far_future_event_poisons_the_watermark(spark, tmp_path):
    """A single far-future event (clock-skewed client, year 2100) slams
    the watermark forward: every later normal-time event is dropped as
    late, and the far-future window itself is never finalized in append
    mode (the watermark can't pass its end). Pinned as documentation:
    this is WHY ingestion clamps timestamps before the event-time agg —
    the streaming layer's contract is garbage-in/garbage-retained, and
    the clamp belongs upstream."""
    from syntheticdata_pipeline__spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    _write_chunk(spark, src, [_ev(1, BASE), _ev(2, dt.datetime(2100, 1, 1))])
    _write_chunk(spark, src, [_ev(3, BASE + dt.timedelta(minutes=1))])
    _write_chunk(spark, src, [_ev(4, BASE + dt.timedelta(minutes=2))])
    out = _run(
        tumbling_counts(_stream(spark, src)),
        "append",
        ckpt=str(tmp_path / "ck"),
    ).collect()
    # only the base window surfaces, the 2100 window never finalizes
    assert {r.window_start_us for r in out} == {BASE_US}
    # at least one normal event was late-dropped by the poisoned watermark
    assert sum(r.n_events for r in out) < 3


def test_years_late_event_in_first_batch_is_included(spark, tmp_path):
    """Late data before any watermark exists is NOT late: a 2020 event
    in the first batch of a 2024 stream lands in its own window. The
    watermark starts from observed data, not wall-clock."""
    from syntheticdata_pipeline__spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    old = dt.datetime(2020, 6, 1, 0, 0, 0)
    _write_chunk(spark, src, [_ev(1, BASE), _ev(2, old)])
    out = _run(tumbling_counts(_stream(spark, src, per_file=False)), "complete").collect()
    starts = {r.window_start_us for r in out}
    assert BASE_US in starts
    assert int(old.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) in starts


# ---------------------------------------------------------------------------
# Restart / replay
# ---------------------------------------------------------------------------


def test_restart_from_checkpoint_never_reprocesses(spark, tmp_path):
    """Checkpointed resume (R2): after a completed availableNow run,
    restarting the same query over the same checkpoint with NO new data
    emits ZERO new rows (nothing is reprocessed), and with one new file
    emits only that file's contribution. This is the exactly-once
    contract the reference approximates with JSON progress flushes
    (any_scraper.py:85-116)."""
    from syntheticdata_pipeline__spark.streaming.windows import dedup_within_watermark

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    _write_chunk(spark, src, [_ev(1, BASE), _ev(2, BASE + dt.timedelta(minutes=1))])

    def run_once():
        # a durable (file) sink — the memory sink refuses checkpoint
        # recovery by design, which is itself part of the contract
        q = (
            dedup_within_watermark(_stream(spark, src), ["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.event_id for r in spark.read.parquet(sink).collect())

    assert run_once() == [1, 2]
    # restart, no new data: the source offsets are checkpointed —
    # nothing is re-read, nothing is re-emitted
    assert run_once() == [1, 2]
    _write_chunk(spark, src, [_ev(3, BASE + dt.timedelta(minutes=2))])
    assert run_once() == [1, 2, 3]


def test_state_table_replayed_batch_is_idempotent(spark, tmp_path):
    """Killed-micro-batch replay (R2/R3): a foreachBatch consumer that
    appends to StateTable and then dies BEFORE recording progress will
    re-deliver the same batch on restart. The state table must absorb
    the replay: appends are idempotent at read (dedup on key), so
    filter_new and count are unchanged by a double append — before AND
    after compaction."""
    from syntheticdata_pipeline__spark.operators.state import StateTable

    st = StateTable(spark, str(tmp_path / "state"), key_cols=["k"])
    batch = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    st.append(batch)
    st.append(batch)  # the replay
    assert st.count() == 3
    work = spark.createDataFrame([("b",), ("d",)], "k string")
    assert sorted(r.k for r in st.filter_new(work).collect()) == ["d"]
    st.compact()
    assert st.count() == 3
    assert sorted(r.k for r in st.filter_new(work).collect()) == ["d"]


# ---------------------------------------------------------------------------
# Degenerate streams
# ---------------------------------------------------------------------------


def test_empty_stream_yields_zero_rows_not_an_error(spark, tmp_path):
    from syntheticdata_pipeline__spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    _write_chunk(spark, src, [])
    assert _run(tumbling_counts(_stream(spark, src, per_file=False)), "complete").count() == 0


def test_single_event_stream(spark, tmp_path):
    from syntheticdata_pipeline__spark.streaming.windows import session_counts

    src = str(tmp_path / "src")
    _write_chunk(spark, src, [_ev(1, BASE)])
    out = _run(session_counts(_stream(spark, src, per_file=False)), "complete").collect()
    assert [(r.session_start_us, r.user_id, r.n_events) for r in out] == [(BASE_US, 1, 1)]


# ---------------------------------------------------------------------------
# Hostile values through keyed state
# ---------------------------------------------------------------------------


def test_running_totals_skip_null_and_nan_values(spark, tmp_path):
    """NULL and NaN values must not poison the integer-µs accumulator:
    the count still counts every event (batch F.count(*) semantics) and
    the sum skips non-values (batch F.sum(decimal-cast) semantics)."""
    from syntheticdata_pipeline__spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    _write_chunk(
        spark,
        src,
        [
            _ev(1, BASE, 2, value=float("nan")),
            _ev(2, BASE, 3, value=None),
            _ev(3, BASE, 3, value=1.5),
        ],
    )
    out = _run(running_user_totals(_stream(spark, src, per_file=False)), "update")
    final = {r.user_id: (r.n_events, r.sum_value_micros) for r in out.collect()}
    assert final == {2: (1, 0), 3: (2, 1_500_000)}


def test_running_totals_skip_infinite_values(spark, tmp_path):
    """r14 battery find, fixed: an INFINITE value used to crash the whole
    streaming query — int(round(inf)) overflowed inside the state-update
    UDF (streaming/stateful.py::running_user_totals), and the poison row
    replayed from the checkpoint on every restart. The batch twins
    survive the same row (cast(inf as decimal) → NULL → skipped by
    F.sum), so the stream now does the same: ±inf adds nothing to the
    sum while n_events still counts the event. DIVERGENCES.md
    'Queued fix: running_user_totals must skip non-finite values'."""
    from syntheticdata_pipeline__spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    _write_chunk(
        spark,
        src,
        [
            _ev(1, BASE, 1, value=float("inf")),
            _ev(2, BASE, 4, value=float("-inf")),
            _ev(3, BASE, 4, value=-2.25),
        ],
    )
    out = _run(running_user_totals(_stream(spark, src, per_file=False)), "update")
    final = {r.user_id: (r.n_events, r.sum_value_micros) for r in out.collect()}
    assert final == {1: (1, 0), 4: (2, -2_250_000)}


def test_keyed_state_recovers_across_query_restarts(spark, tmp_path):
    """applyInPandasWithState state-store recovery (R2/R3): a SECOND
    query object over the SAME checkpoint resumes the keyed state — the
    per-user totals continue from where the killed/completed run left
    off, folding only new data; a user first seen after the restart
    initializes fresh. foreachBatch → parquet is the durable-sink route
    (the memory sink refuses checkpoint recovery by design — pinned in
    the restart test above). This is the property the reference fakes
    with whole-set JSON flushes (any_scraper.py:85-116): state survives
    the PROCESS, not just the micro-batch."""
    from syntheticdata_pipeline__spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_once():
        s = _stream(spark, src, per_file=False)

        def write_batch(bdf, bid):
            bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(sink)

        q = (
            running_user_totals(s)
            .writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        final = {}
        for r in spark.read.parquet(sink).orderBy("batch_id").collect():
            final[r.user_id] = (r.n_events, r.sum_value_micros)
        return final

    _write_chunk(spark, src, [_ev(1, BASE, 7, value=1.0), _ev(2, BASE, 7, value=2.0)])
    assert run_once() == {7: (2, 3_000_000)}
    _write_chunk(spark, src, [_ev(3, BASE, 7, value=0.5), _ev(4, BASE, 8, value=4.0)])
    assert run_once() == {7: (3, 3_500_000), 8: (1, 4_000_000)}


def test_stream_stream_join_boundary_inclusive_and_null_keys(spark, tmp_path):
    """The stream-stream join's time condition is INCLUSIVE at both
    edges (a right event exactly ±`within` of the left event matches;
    one microsecond past does not), and NULL join keys never match on
    either side (SQL equi-join semantics) — the convention every
    correlation window in the engine shares."""
    from syntheticdata_pipeline__spark.streaming.windows import stream_stream_join

    schema = "event_id long, ts timestamp, user_id long"
    w = dt.timedelta(minutes=5)
    spark.createDataFrame(
        [(1, BASE, 1), (2, BASE, None)], schema
    ).write.parquet(str(tmp_path / "l"))
    spark.createDataFrame(
        [
            (10, BASE + w, 1),  # exactly +within → match
            (11, BASE - w, 1),  # exactly -within → match
            (12, BASE + w + dt.timedelta(microseconds=1), 1),  # 1µs past → no
            (13, BASE, None),  # NULL key → never matches
        ],
        schema,
    ).write.parquet(str(tmp_path / "r"))
    l = spark.readStream.schema(schema).parquet(str(tmp_path / "l"))
    r = spark.readStream.schema(schema).parquet(str(tmp_path / "r"))
    j = stream_stream_join(
        l.withColumnRenamed("event_id", "l_id"),
        r.withColumnRenamed("event_id", "r_id"),
        on="user_id",
    )
    out = _run(j.select("l_id", "r_id"), "append")
    assert sorted((x.l_id, x.r_id) for x in out.collect()) == [(1, 10), (1, 11)]


def test_dedup_null_ts_rows_still_participate(spark, tmp_path):
    """A NULL-event-time row is outside every window and session, but
    dropDuplicatesWithinWatermark still processes it: a NULL-ts row
    with a NEW key is emitted, a NULL-ts row whose key was already
    seen is suppressed. Pinned so the convention is explicit — dedup
    keys on identity, not on event time, and a timestampless duplicate
    is still a duplicate (the reference's seen-set would drop it too,
    any_scraper.py:198-222)."""
    from syntheticdata_pipeline__spark.streaming.windows import dedup_within_watermark

    schema = "event_id long, ts timestamp, user_id long"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, BASE, 1), (2, None, 1), (3, None, 2)], schema
    ).coalesce(1).write.parquet(src)
    s = spark.readStream.schema(schema).parquet(src)
    out = _run(dedup_within_watermark(s, ["user_id"]), "append")
    assert sorted(x.event_id for x in out.collect()) == [1, 3]


# ---------------------------------------------------------------------------
# fold_sessions kernel hostility
# ---------------------------------------------------------------------------


def test_fold_sessions_kernel_degenerate_inputs():
    """The pure kernel under empty input (state unchanged, nothing
    closed), a fresh single event, and the documented ordered-feed
    precondition: a cross-batch regression (late event below the open
    session's last_us) merges INTO the open session and regresses
    last_us — the precondition (time-ordered chunks) is load-bearing,
    and this pin documents what violating it does rather than letting
    it drift silently."""
    from syntheticdata_pipeline__spark.streaming.stateful import fold_sessions

    assert fold_sessions(None, []) == (None, [])
    st = (BASE_US, BASE_US + 100, 2)
    assert fold_sessions(st, []) == (st, [])
    assert fold_sessions(None, [BASE_US]) == ((BASE_US, BASE_US, 1), [])

    # precondition violation: late event regresses the open tail
    state, closed = fold_sessions((BASE_US, BASE_US + 1000, 2), [BASE_US + 500])
    assert closed == []
    assert state == (BASE_US, BASE_US + 500, 3)
