"""connected_components: min-label propagation over pair lists."""

from __future__ import annotations

import pytest

from syntheticdata_pipeline__spark.operators.clusters import (
    connected_components,
    connected_components_sql,
)

# Every graph's diameter stays <= 24: connected_components stops after
# max_iters=25 rounds while the SQL closure is exact, so only graphs
# inside that bound must agree.
_GRAPHS = {
    # chain 1-2-3 plus pair 10-11: two components, min-id reps.
    "two_components": [(1, 2), (2, 3), (10, 11)],
    # 0-1-2-...-9: diameter 9, needs multiple propagation rounds.
    "chain10": [(i, i + 1) for i in range(9)],
    # same component regardless of (src, dst) orientation.
    "mixed_orientation": [(5, 2), (2, 9), (9, 5)],
    "duplicate_edges": [(1, 2), (1, 2), (2, 1), (2, 3), (3, 2)],
    "self_loop": [(4, 4), (4, 5), (7, 7)],
    "empty": [],
}


def _edges(spark, edges):
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def _labels(spark, edges, **kw):
    return {r["node"]: r["lab"] for r in connected_components(_edges(spark, edges), **kw).collect()}


def test_two_components(spark):
    labs = _labels(spark, _GRAPHS["two_components"])
    assert labs == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    labs = _labels(spark, _GRAPHS["chain10"])
    assert labs == {i: 0 for i in range(10)}


def test_edge_direction_irrelevant(spark):
    labs = _labels(spark, _GRAPHS["mixed_orientation"])
    assert labs == {2: 2, 5: 2, 9: 2}


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_sql_twin_matches_spark(spark, graph):
    """connected_components_sql labels the same rows with the same
    (node, lab) pairs as connected_components, DuckDB over the same edges."""
    import duckdb

    edges = _GRAPHS[graph]
    con = duckdb.connect()
    con.execute("CREATE TABLE g (src BIGINT, dst BIGINT)")
    if edges:
        con.executemany("INSERT INTO g VALUES (?, ?)", edges)
    got = con.execute(
        f"WITH RECURSIVE {connected_components_sql('g', 'src', 'dst')} SELECT node, lab FROM labels"
    ).fetchall()
    want = connected_components(_edges(spark, edges)).collect()
    assert sorted(got) == sorted((r["node"], r["lab"]) for r in want)


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
