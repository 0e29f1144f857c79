"""bench.py pins: the superseded stress layouts are reclaimed (r8
ADVICE: the original guard only removed v1 while v2 still needed
building, so on a machine with a READY v2 the stale replicated parquet
under /tmp lived forever), ``bench.measure`` is a best-of-N, and the
>2x recheck confirms only breaches a fresh process reproduces."""

from __future__ import annotations

import os
import shutil


def test_superseded_stress_dirs_reclaimed_even_when_current_ready(tmp_path):
    import bench

    sf_dir = str(tmp_path / "sfreclaimtest")
    os.makedirs(sf_dir)
    base = f"/tmp/spark_graft_stress_{os.path.basename(sf_dir)}_10x"
    v2 = f"{base}_v2"
    v3 = f"{base}_v3"
    try:
        # plant fake superseded v1 AND v2 dirs beside a READY v3
        for old_dir in (base, v2):
            os.makedirs(old_dir, exist_ok=True)
            with open(os.path.join(old_dir, "stale.parquet"), "w") as f:
                f.write("stale")
        os.makedirs(v3, exist_ok=True)
        with open(os.path.join(v3, "_READY"), "w") as f:
            f.write("ok")

        # spark=None: with a READY marker the build path is never taken
        out = bench._build_stress_dir(None, sf_dir, 10)

        assert out == v3
        assert os.path.exists(os.path.join(v3, "_READY"))
        assert not os.path.exists(base), "superseded v1 layout must be reclaimed"
        assert not os.path.exists(v2), "superseded v2 layout must be reclaimed"
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(v2, ignore_errors=True)
        shutil.rmtree(v3, ignore_errors=True)


class _FakeClock:
    """time.perf_counter() stub: returns the next value from a queue."""

    def __init__(self, values):
        self._values = list(values)

    def perf_counter(self):
        return self._values.pop(0)


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows

    def count(self):
        return self._rows


def test_measure_returns_min_over_repeats_and_last_row_count(monkeypatch):
    """bench.measure is the one timing path: it rebuilds the DataFrame
    inside every timed repeat, keeps the fastest repeat and reports the
    row count of the last one."""
    import bench

    calls = []

    def build(spark, sf_dir):
        calls.append((spark, sf_dir))
        return _FakeDF(10 + len(calls))

    # three (t0, t1) pairs: 2.0s, 0.5s, 1.25s
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 2.0, 5.0, 5.5, 9.0, 10.25]))

    best, rows = bench.measure("spark", build, "/sf", repeats=3)

    assert best == 0.5
    assert rows == 13
    assert calls == [("spark", "/sf")] * 3


def _fake_fresh(values):
    """_fresh_process_best stub: a float is the fresh best-of-2, an
    exception instance is raised as the subprocess failure."""

    def fresh(name, sf_dir, repeats=2):
        v = values[name]
        if isinstance(v, Exception):
            raise v
        return v

    return fresh


def test_fresh_session_recheck_confirms_only_reproduced_breaches(monkeypatch):
    """r10 methodology pin: an in-context >2x reading only counts as a
    regression when a fresh-process best-of-2 reproduces it; the fresh
    value replaces the in-context one and both land in `recheck`."""
    import bench

    baseline = {"slow_q": 1.0, "noisy_q": 1.0}
    # in-context both read as 3x their anchor
    timings = {"slow_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"slow_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}
    # slow_q reproduces at 2.5s, noisy_q comes back at 0.5s (in-context
    # session-state noise)
    monkeypatch.setattr(
        bench, "_fresh_process_best", _fake_fresh({"slow_q": 2.5, "noisy_q": 0.5})
    )

    confirmed = bench._confirm_regressions(
        candidates=["slow_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["slow_q"]
    assert recheck["slow_q"] == {
        "in_context_sec": 3.0,
        "fresh_sec": 2.5,
        "vs_baseline": 2.5,
        "fresh_process": True,
    }
    assert recheck["noisy_q"]["in_context_sec"] == 3.0
    assert recheck["noisy_q"]["fresh_sec"] == 0.5
    # the fresh values replace the in-context readings in the artifact
    assert timings == {"slow_q": 2.5, "noisy_q": 0.5}
    assert vs_baseline == {"slow_q": 2.5, "noisy_q": 0.5}


def test_recheck_error_keeps_breach_and_records_it(monkeypatch):
    """r10 ADVICE: a recheck crash must not sink the bench line — the
    in-context breach stays confirmed (conservative) and the error is
    recorded under recheck[name] for triage."""
    import bench

    baseline = {"crash_q": 1.0, "noisy_q": 1.0}
    timings = {"crash_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"crash_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}
    monkeypatch.setattr(
        bench,
        "_fresh_process_best",
        _fake_fresh({"crash_q": RuntimeError("executor lost"), "noisy_q": 0.5}),
    )

    confirmed = bench._confirm_regressions(
        candidates=["crash_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["crash_q"]
    assert recheck["crash_q"] == {
        "in_context_sec": 3.0,
        "error": "RuntimeError: executor lost",
    }
    # the crashed query's in-context reading is NOT replaced
    assert timings["crash_q"] == 3.0
    assert vs_baseline["crash_q"] == 3.0
    # the healthy candidate still rechecks normally after the crash
    assert recheck["noisy_q"]["fresh_sec"] == 0.5


def test_gate_compares_unrounded_ratio(monkeypatch):
    """r10 ADVICE: a true ratio of 2.0049 must not pass the 2.0 gate via
    2-decimal display rounding (the committed worst query sat at exactly
    2.00x, i.e. the effective gate threshold was 2.005x)."""
    import bench

    baseline = {"edge_q": 1.0}
    timings = {"edge_q": 3.0}
    vs_baseline = {"edge_q": 3.0}
    recheck: dict = {}
    # fresh best-of-2 = 2.0049s against a 1.0s anchor: rounds to 2.00 but
    # the unrounded ratio breaches
    monkeypatch.setattr(bench, "_fresh_process_best", _fake_fresh({"edge_q": 2.0049}))

    confirmed = bench._confirm_regressions(
        candidates=["edge_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["edge_q"]
    assert recheck["edge_q"]["vs_baseline"] == 2.0  # display value rounds


def test_failed_fresh_process_keeps_breach_and_records_error(monkeypatch):
    """A recheck subprocess that exits nonzero leaves no in-process
    fallback: the breach stays confirmed, the in-context reading stays,
    and the exit code plus the stderr tail land in recheck[name]."""
    import subprocess

    import bench

    seen = {}

    def fake_run(cmd, env, **kwargs):
        seen["cmd"], seen["env"] = cmd, env
        return subprocess.CompletedProcess(cmd, 1, stdout="", stderr="boom: OOM\n")

    monkeypatch.setattr(subprocess, "run", fake_run)
    timings = {"proc_q": 3.0}
    vs_baseline = {"proc_q": 3.0}
    recheck: dict = {}

    confirmed = bench._confirm_regressions(
        candidates=["proc_q"],
        baseline={"proc_q": 1.0},
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["proc_q"]
    assert seen["cmd"][-2:] == [
        os.path.join(bench.REPO, "tools", "time_queries.py"),
        "proc_q",
    ]
    assert seen["env"]["SPARK_GRAFT_SF_DIR"] == "/nonexistent"
    assert recheck["proc_q"] == {
        "in_context_sec": 3.0,
        "error": "RuntimeError: time_queries.py exited 1: boom: OOM",
    }
    assert timings == {"proc_q": 3.0}
    assert vs_baseline == {"proc_q": 3.0}
