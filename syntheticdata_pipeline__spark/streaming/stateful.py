"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.9 R2/R3 — the arbitrary-state form of the reference's
progress counters and seen-sets, with Spark-managed fault-tolerant state
instead of in-memory Python sets flushed to JSON).

State is partitioned by key across executors and checkpointed with the
query — bounded, recoverable, and shardable at 100 TB/day, which the
reference's whole-set-in-RAM approach (any_scraper.py:58-116) is not.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_micros", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("sv_micros", LongType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, Σvalue) maintained in keyed group state —
    the progress-counter semantics (test_kimono.py:63-74) as a custom
    stateful operator. Each value becomes integer micro-units on its own
    row, rounded half away from zero like the batch twin's
    ``F.round(value * 1_000_000)``, and only integers are summed, so
    state merges are order-independent and a chunked stream equals the
    one-shot sum (same determinism rule as the decimal aggregates).
    ``n_events`` counts every event; NULL, NaN and ±inf values add
    nothing to the sum (the batch twins' decimal cast maps them to NULL,
    which F.sum skips).
    """

    def update(
        key: tuple, pdf_iter: Iterator, state: GroupState
    ) -> Iterator:
        import numpy as np
        import pandas as pd

        (user_id,) = key
        n, sv = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
            v = v[np.isfinite(v)] * 1_000_000
            # half away from zero on the exact double: v - trunc(v) is exact
            whole = np.trunc(v)
            micros = whole + np.sign(v) * (np.abs(v - whole) >= 0.5)
            sv += sum(int(m) for m in micros)
        state.update((n, sv))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value_micros": [sv]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSIONS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_GAP_US = 30 * 60 * 1_000_000  # same 30-min gap as the batch twin


def fold_sessions(
    state: tuple[int, int, int] | None,
    timestamps_us: list[int],
    gap_us: int = _SESSION_GAP_US,
) -> tuple[tuple[int, int, int] | None, list[tuple[int, int, int]]]:
    """Pure session-folding kernel shared by the TWS processor (and unit
    tests — the Spark TransformWithState runtime is protobuf-gated in some
    environments). Folds sorted event times into the open session carried
    in ``state``; returns (new open session, closed sessions)."""
    closed: list[tuple[int, int, int]] = []
    cur = state
    for us in timestamps_us:
        if cur is None:
            cur = (us, us, 1)
        elif us - cur[1] > gap_us:
            closed.append(cur)
            cur = (us, us, 1)
        else:
            cur = (cur[0], us, cur[2] + 1)
    return cur, closed


def session_tracker_tws(events: DataFrame, gap_us: int = _SESSION_GAP_US) -> DataFrame:
    """Cross-batch sessionization on Spark 4's ``transformWithStateInPandas``
    (the StatefulProcessor successor to applyInPandasWithState): per-user
    ValueState holds the OPEN session (start_us, last_us, n); a batch's
    events extend it or close it and open a new one; closed sessions are
    emitted as they close. The open tail session stays in state across
    micro-batches — so with a time-ordered multi-batch feed the emitted
    rows equal the batch sessionizer's output minus each user's final
    session (which never closes). Input rows must carry integer-µs ``us``.

    State is one fixed-width row per ACTIVE user — bounded, keyed,
    checkpointed; the 100 TB form of the reference's per-site in-memory
    progress dicts (any_scraper.py:58-116).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    class Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._sess = handle.getValueState("sess", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            (user_id,) = key
            state = tuple(self._sess.get()) if self._sess.exists() else None
            ts = sorted(int(u) for pdf in rows for u in pdf["us"])
            state, closed = fold_sessions(state, ts, gap_us)
            if state is not None:
                self._sess.update(state)
            if closed:
                yield pd.DataFrame(
                    [(user_id, s, e, n) for (s, e, n) in closed],
                    columns=["user_id", "session_start_us", "session_end_us", "n_events"],
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Sessionizer(),
        outputStructType=SESSIONS_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
