"""bench.py pins: the superseded stress layouts are reclaimed (r8
ADVICE: the original guard only removed v1 while v2 still needed
building, so on a machine with a READY v2 the stale replicated parquet
under /tmp lived forever), ``bench.measure`` is a best-of-N over the
DataFrame the query built with every output column computed, and the
>2x recheck confirms only breaches a second in-session measurement
reproduces, against anchors that must load."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from tests.conftest import SF_SMOKE


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


def test_measure_returns_min_over_repeats_and_last_row_count(monkeypatch):
    """bench.measure is the one timing path: it rebuilds the DataFrame
    inside every timed repeat, materializes it, keeps the fastest repeat
    and reports the row count of the last one."""
    import bench

    calls = []

    def build(spark, sf_dir):
        calls.append((spark, sf_dir))
        return 10 + len(calls)  # stands in for the DataFrame

    monkeypatch.setattr(bench, "materialize", lambda df: df)
    # three (t0, t1) pairs: 2.0s, 0.5s, 1.25s
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 2.0, 5.0, 5.5, 9.0, 10.25]))

    best, rows = bench.measure("spark", build, "/sf", repeats=3)

    assert best == 0.5
    assert rows == 13
    assert calls == [("spark", "/sf")] * 3


@pytest.mark.parametrize(
    "name", ["doc_quality_scores", "simhash_signatures", "tpch_q1_pricing_summary"]
)
def test_measure_times_the_built_plan_with_every_column(spark, name, monkeypatch):
    """The DataFrame ``bench.measure`` times is the very one ``build``
    returned, and its optimized and executed plans output every column the
    query returns (``DataFrame.count`` would plan a new query from which
    Spark prunes every unread column; these three lose most of their work
    that way)."""
    import bench
    from syntheticdata_pipeline__spark.plans import load_all

    built, timed = [], []
    real = bench.materialize
    monkeypatch.setattr(bench, "materialize", lambda df: timed.append(df) or real(df))

    def build(spark, sf_dir, _build=load_all()[name].build):
        built.append(_build(spark, sf_dir))
        return built[-1]

    bench.measure(spark, build, SF_SMOKE)

    assert len(timed) == len(built) == 2
    assert all(t is b for t, b in zip(timed, built))
    qe = timed[-1]._jdf.queryExecution()
    for plan in (qe.optimizedPlan(), qe.executedPlan()):
        out = plan.output()
        assert [out.apply(i).name() for i in range(out.size())] == timed[-1].columns


def _registry(values):
    """A registry whose builds the stubbed ``bench.measure`` times: a float
    is the recheck's best-of-2, an exception instance is raised as the
    recheck's failure."""
    return {name: SimpleNamespace(build=v) for name, v in values.items()}


def _fake_measure(spark, build, sf_dir, repeats=2):
    if isinstance(build, Exception):
        raise build
    return build, 1


def test_recheck_confirms_only_reproduced_breaches(monkeypatch):
    """r10 methodology pin: a main-loop >2x reading only counts as a
    regression when a second in-session best-of-2 reproduces it; the
    recheck value replaces the main-loop one and both land in
    `recheck`."""
    import bench

    baseline = {"slow_q": 1.0, "noisy_q": 1.0}
    # in the main loop both read as 3x their anchor
    timings = {"slow_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"slow_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}
    # slow_q reproduces at 2.5s, noisy_q comes back at 0.5s
    monkeypatch.setattr(bench, "measure", _fake_measure)

    confirmed = bench._confirm_regressions(
        "spark",
        _registry({"slow_q": 2.5, "noisy_q": 0.5}),
        candidates=["slow_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
    )

    assert confirmed == ["slow_q"]
    assert recheck["slow_q"] == {
        "in_context_sec": 3.0,
        "recheck_sec": 2.5,
        "vs_baseline": 2.5,
    }
    assert recheck["noisy_q"]["in_context_sec"] == 3.0
    assert recheck["noisy_q"]["recheck_sec"] == 0.5
    # the recheck values replace the main-loop readings in the artifact
    assert timings == {"slow_q": 2.5, "noisy_q": 0.5}
    assert vs_baseline == {"slow_q": 2.5, "noisy_q": 0.5}


def test_recheck_error_keeps_breach_and_records_it(monkeypatch):
    """r10 ADVICE: a recheck crash must not sink the bench line — the
    main-loop breach stays confirmed (conservative) and the error is
    recorded under recheck[name] for triage."""
    import bench

    baseline = {"crash_q": 1.0, "noisy_q": 1.0}
    timings = {"crash_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"crash_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}
    monkeypatch.setattr(bench, "measure", _fake_measure)

    confirmed = bench._confirm_regressions(
        "spark",
        _registry({"crash_q": RuntimeError("executor lost"), "noisy_q": 0.5}),
        candidates=["crash_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
    )

    assert confirmed == ["crash_q"]
    assert recheck["crash_q"] == {
        "in_context_sec": 3.0,
        "error": "RuntimeError: executor lost",
    }
    # the crashed query's main-loop reading is NOT replaced
    assert timings["crash_q"] == 3.0
    assert vs_baseline["crash_q"] == 3.0
    # the healthy candidate still rechecks normally after the crash
    assert recheck["noisy_q"]["recheck_sec"] == 0.5


def test_gate_compares_unrounded_ratio(monkeypatch):
    """r10 ADVICE: a true ratio of 2.0049 must not pass the 2.0 gate via
    2-decimal display rounding (the committed worst query sat at exactly
    2.00x, i.e. the effective gate threshold was 2.005x)."""
    import bench

    recheck: dict = {}
    # recheck best-of-2 = 2.0049s against a 1.0s anchor: rounds to 2.00
    # but the unrounded ratio breaches
    monkeypatch.setattr(bench, "measure", _fake_measure)

    confirmed = bench._confirm_regressions(
        "spark",
        _registry({"edge_q": 2.0049}),
        candidates=["edge_q"],
        baseline={"edge_q": 1.0},
        timings={"edge_q": 3.0},
        vs_baseline={"edge_q": 3.0},
        recheck=recheck,
    )

    assert confirmed == ["edge_q"]
    assert recheck["edge_q"]["vs_baseline"] == 2.0  # display value rounds


def test_committed_anchors_load():
    import bench

    anchors, sf = bench._load_baseline()
    assert sf == "0.1" and len(anchors) > 100
    assert all(v > 0 for v in anchors.values())


@pytest.mark.parametrize(
    "content",
    [None, "not json", "{}", '{"anchors_v2": {"sf": 0.1}}'],
    ids=["missing", "garbled", "no-block", "no-queries"],
)
def test_missing_or_malformed_anchors_fail_loudly(tmp_path, monkeypatch, content):
    """An absent or malformed anchors_v2 block raises: an empty baseline
    would compute no ratio, so the 2x gate would pass without checking."""
    import bench

    if content is not None:
        (tmp_path / "bench_baseline.json").write_text(content)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    with pytest.raises((OSError, KeyError, ValueError)):
        bench._load_baseline()
