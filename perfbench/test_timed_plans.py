"""Checks that the benchmark times the plan the oracle verifies.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark test starts one local session and times each catalog query once
through the benchmark's own operation code, so it takes about a minute.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

sys.path.insert(0, run.ROOT)


def test_materialized_ctes_marks_plain_ctes_only():
    sql = (
        "WITH RECURSIVE pairs AS (SELECT 1 AS a), e AS (\n  SELECT a FROM pairs),\n"
        "reach(src, dst) AS (SELECT a, a FROM e UNION SELECT 1, 2 FROM reach)\n"
        "SELECT CAST(a AS DOUBLE) AS x FROM e"
    )
    out = workloads.materialized_ctes(sql)
    assert "pairs AS MATERIALIZED (SELECT" in out
    assert "e AS MATERIALIZED (\n  SELECT" in out
    assert "reach(src, dst) AS (SELECT" in out
    assert "CAST(a AS DOUBLE) AS x" in out


def test_inputs_are_a_function_of_the_seed():
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        a = gen._build(3)
        b = gen._build(3)
        c = gen._build(4)
        for name, table in a.items():
            assert table.equals(b[name]), name
        assert not a["documents"].equals(c["documents"])
        out = gen.ensure_inputs(d, 3)
        assert sorted(os.listdir(out)) == sorted(["_DONE", *(f"{t}.parquet" for t in a)])


def test_percentile_interpolates():
    assert run.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert run.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == pytest.approx(4.6)
    assert run.percentile([7.0], 90) == 7.0


def test_layer_spans_wraps_layer_functions_and_restores_them(monkeypatch):
    import types

    from pyspark import cloudpickle

    from spans import Tracer, layer_spans

    ops = types.ModuleType("pkg.operators.m")
    exec("def f(x):\n    return x + 1\n", ops.__dict__)
    plan = types.ModuleType("pkg.plans.p")
    plan.f = ops.f
    for name in ("pkg", "pkg.operators", "pkg.plans"):
        monkeypatch.setitem(sys.modules, name, types.ModuleType(name))
    monkeypatch.setitem(sys.modules, "pkg.operators.m", ops)
    monkeypatch.setitem(sys.modules, "pkg.plans.p", plan)
    original = ops.f
    tracer = Tracer(enabled=True)
    with layer_spans(tracer, "pkg"):
        assert plan.f is ops.f is not original
        assert plan.f(1) == 2
        # pickled by reference, so a worker gets the plain function
        pickled = cloudpickle.dumps(plan.f)
    assert plan.f is ops.f is original
    assert cloudpickle.loads(pickled) is original
    assert [s["name"] for s in tracer.spans] == ["operators.m.f"]


@pytest.fixture(scope="module")
def ctx():
    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.session import get_spark

    from spans import Tracer

    work = tempfile.mkdtemp(prefix="timed-plans-", dir=HERE)
    run.configure_spark_env(work, 1024)
    sf_dir = gen.ensure_inputs(os.path.join(run.ROOT, ".bench_data"), 1)
    spark = get_spark("perfbench-test", cpus=2, shuffle_partitions=2)
    run.quiet_logs(spark)
    registry = load_all()
    try:
        yield workloads.Ctx(spark, sf_dir, work, Tracer(enabled=False), 1), registry
    finally:
        run.stop_session(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("name", ["dedup", "relational", "vectors"])
def test_timed_action_keeps_every_output_column(ctx, name, monkeypatch):
    """Each timed operation must materialize the very DataFrame the query
    built, and the optimized and executed plans of that action must output
    every column the query returns (``DataFrame.count`` would instead plan
    a new query from which Spark prunes every unread column)."""
    context, registry = ctx
    wl = workloads.WORKLOADS[name]
    wl.resolve(registry)
    built, timed = [], []
    real = workloads.materialize
    monkeypatch.setattr(workloads, "materialize", lambda df: timed.append(df) or real(df))
    for op in wl.ops():
        spec = wl.specs[op]
        built.clear()
        timed.clear()

        def build(spark, sf_dir, _build=spec.build):
            built.append(_build(spark, sf_dir))
            return built[-1]

        monkeypatch.setitem(wl.specs, op, type(spec)(**{**spec.__dict__, "build": build}))
        wl.run_op(context, op, f"test:{op}")
        assert len(timed) == 1 and timed[0] is built[0], op
        df = timed[0]
        qe = df._jdf.queryExecution()
        for plan in (qe.optimizedPlan(), qe.executedPlan()):
            out = plan.output()
            cols = [out.apply(i).name() for i in range(out.size())]
            assert cols == df.columns, (op, cols, df.columns)
