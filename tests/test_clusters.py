"""connected_components: min-label propagation over pair lists."""

from __future__ import annotations

from syntheticdata_pipeline__spark.operators.clusters import connected_components


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["node"]: r["lab"] for r in connected_components(df, **kw).collect()}


def test_two_components(spark):
    # chain 1-2-3 plus pair 10-11: two components, min-id reps.
    labs = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert labs == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # 0-1-2-...-9: diameter 9, needs multiple propagation rounds.
    labs = _labels(spark, [(i, i + 1) for i in range(9)])
    assert labs == {i: 0 for i in range(10)}


def test_edge_direction_irrelevant(spark):
    # same component regardless of (src, dst) orientation.
    labs = _labels(spark, [(5, 2), (2, 9), (9, 5)])
    assert labs == {2: 2, 5: 2, 9: 2}


def test_max_iters_bound(spark):
    # with max_iters=1 a long chain is refined but unconverged: every
    # node still holds the min of its 1-hop neighborhood.
    labs = _labels(spark, [(i, i + 1) for i in range(4)], max_iters=1)
    assert labs[0] == 0 and labs[1] == 0 and labs[2] == 1


def test_zero_rounds_is_identity(spark):
    labs = _labels(spark, [(1, 2), (2, 3)], max_iters=0)
    assert labs == {1: 1, 2: 2, 3: 3}


def test_one_job_per_propagation_round(spark):
    """Each round after the folded first one costs one job, its
    convergence count; the first-round labels are pinned lazily, so they
    start no job of their own. Adaptive execution and auto-broadcast are
    off here, so that a job is an action rather than a shuffle or
    broadcast stage."""
    n = 6  # chain 0-1-...-5: the fold leaves node i at i-1, then n-2
    # moving rounds and one still round
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    sc = spark.sparkContext
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    group = "cc-rounds"
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sc.setJobGroup(group, group)
        labels = connected_components(edges)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        labs = {r["node"]: r["lab"] for r in labels.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert labs == {i: 0 for i in range(n)}
    assert jobs == n - 1


def test_cluster_aware_split_has_zero_leakage(spark):
    """Per-cluster split assignment makes near-dup train/val straddling
    impossible; the per-doc policy measurably leaks on the same fixture."""
    from syntheticdata_pipeline__spark.plans.dataset_q import (
        cluster_aware_split_leakage,
    )

    from .conftest import SF_SMOKE

    rows = {r["method"]: r for r in cluster_aware_split_leakage(spark, SF_SMOKE).collect()}
    assert rows["by_cluster"]["leaked_pairs"] == 0
    assert rows["by_doc"]["leaked_pairs"] > 0
    n = sum(rows["by_doc"][k] for k in ("n_train", "n_val", "n_test"))
    assert n == sum(rows["by_cluster"][k] for k in ("n_train", "n_val", "n_test"))
