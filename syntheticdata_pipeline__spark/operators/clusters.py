"""Connected components over a near-dup pair list — the step after
candidate generation: pairs → duplicate CLUSTERS (pick one survivor per
component). Reference analogue: the global dedup registry semantics
(test_kimono_ec2.py progress-set dedup), generalized to transitive
near-dup groups.

Implementation is iterative min-label propagation on DataFrames:
every node starts labeled with its own id; each round takes the min of
its own and its neighbors' labels; converges in O(graph diameter) rounds.
Near-dup graphs are short-diameter (clusters are cliques-ish), so this
beats the large-star/small-star alternation in practice while staying
fully distributed: each round is one equi-join + partial-agg min, keyed
on node — no driver-side graph, no quadratic step. Lineage is truncated
per round with a pin (otherwise the plan doubles each iteration); the
convergence probe is a count() action per round, which is
how iterative DataFrame algorithms are driven (cf. GraphFrames).

The DuckDB oracles get the same (node, lab) relation from
``connected_components_sql``: an exact recursive transitive closure,
affordable at oracle scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import fixed_sum
from ..session import pin


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` (undirected) with the
    MIN node id of its component. Returns (node, lab) — deterministic for
    any partitioning: min is order-independent.

    ``max_iters`` bounds runtime on pathological long-chain graphs (a
    25-hop diameter near-dup cluster does not occur in practice; if the
    bound is hit the labels are still a valid refinement, just possibly
    unconverged — callers that need certainty can re-run on the output).
    """
    sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).unionAll(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    # r14 (guide §2.4): cache the edge table partitioned by the JOIN key
    # (nbr) — the per-round join then reuses the cached partitioning
    # instead of re-exchanging the edges every iteration; only the
    # (small) label table moves per round.
    sym = sym.repartition("nbr").persist()
    try:
        if max_iters <= 0:
            # unrefined identity labels (the documented zero-round form;
            # <= keeps the pre-r14 empty-range-loop behavior for negative
            # out-of-contract values too — r14 ADVICE)
            return sym.select("node").distinct().withColumn("lab", F.col("node"))
        # r14: ROUND 1 FOLDED INTO ONE AGGREGATE — from identity labels
        # the first propagation is exactly lab = min(node, min(nbr)), so
        # the old init job (distinct + eager checkpoint) and the first
        # join round collapse into a single groupBy (the fold counts as
        # iteration 1 toward max_iters, keeping the bounded-refinement
        # semantics of test_max_iters_bound). The pin is lazy: round 2's
        # count materializes it, so the fold adds no job of its own.
        labels = pin(
            sym.groupBy("node")
            .agg(F.min("nbr").alias("__mn"))
            .select("node", F.least(F.col("node"), F.col("__mn")).alias("lab"))
        )
        for _ in range(max_iters - 1):
            nbr_lab = labels.select(
                F.col("node").alias("nbr"), F.col("lab").alias("nbr_lab")
            )
            nbr_min = (
                sym.join(nbr_lab, "nbr")
                .groupBy("node")
                .agg(F.min("nbr_lab").alias("nlab"))
            )
            # r14: the convergence probe rides in the checkpointed row
            # (``moved``) instead of a separate labels-vs-new join — one
            # job per round (the count materializes the lazy checkpoint)
            # in place of the old three (eager checkpoint + join + count).
            new = pin(
                labels.join(nbr_min, "node", "left").select(
                    "node",
                    F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                        "lab"
                    ),
                    (F.coalesce(F.col("nlab"), F.col("lab")) < F.col("lab")).alias(
                        "moved"
                    ),
                )
            )
            changed = new.filter(F.col("moved")).count()
            labels = new.select("node", "lab")
            if changed == 0:
                break
    finally:
        sym.unpersist()
    return labels


def connected_components_sql(edges: str, src: str, dst: str) -> str:
    """DuckDB twin of ``connected_components``: the CTE list of the exact
    transitive closure over relation ``edges`` (undirected, columns
    ``src``/``dst``), ending in ``labels(node, lab)`` with ``lab`` the MIN
    node id of the component. Splice it into a ``WITH RECURSIVE`` after
    the CTE that defines ``edges``.

    The symmetric edge table is MATERIALIZED: the recursion reads it once
    per step, and an inlined edge source (the whole MinHash pair
    pipeline, for the near-dup oracles) would re-run at every read. The
    closure has no round bound, so it agrees with the Spark labels
    wherever the graph diameter stays under ``max_iters``."""
    return f"""cc_sym AS MATERIALIZED (
  SELECT {src} AS a, {dst} AS b FROM {edges}
  UNION ALL
  SELECT {dst} AS a, {src} AS b FROM {edges}),
reach(node, dst) AS (
  SELECT DISTINCT a, a FROM cc_sym
  UNION
  SELECT reach.node, e.b FROM reach JOIN cc_sym e ON reach.dst = e.a),
labels AS (SELECT node, MIN(dst) AS lab FROM reach GROUP BY node)"""


def kmeans_fixed_iters(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "km-init",
    return_centroids: bool = False,
    train_vecs: DataFrame | None = None,
) -> DataFrame:
    """Seeded, fixed-iteration Lloyd k-means over an embedding column —
    the centroid-training step of IVF/SemDeDup-style curation, fully
    deterministic so it can face a cross-engine oracle.

    Init picks the k vectors with the smallest md5-seeded uniform (a
    k-row TakeOrdered); each iteration broadcasts the k centroids,
    assigns every vector to the nearest (strict-fold sqdist, ties to the
    lowest centroid id), and recomputes per-dimension means with
    trunc-scaled BIGINT sums (exact, order-independent). Returns the
    final assignment of ``vecs`` as (id, vec, cluster_id, dist) — the
    vector column rides along since r14 so IVF callers can build their
    inverted file straight from the assignment (callers that don't need
    it project it away).

    ``train_vecs`` decouples codebook training from assignment — the
    100 TB form: Lloyd converges on a seeded sample (init + every
    iteration scan only the sample), then ONE full-corpus pass assigns
    every vector against the trained codebook. With ``train_vecs=None``
    training and assignment run on the same ``vecs`` and the final
    iteration's assignment is returned directly (no extra pass).

    Scale: per iteration one broadcast (k·dim doubles), one narrow
    assignment pass over the training set, one (cluster, dim)-keyed agg
    of k·dim rows — no shuffle carries vectors except the posexplode
    partial agg, which combines map-side. Empty clusters drop out of
    the centroid table (standard Lloyd behavior), identically in the
    oracle.
    """
    from pyspark.sql import Window

    from ..functions.determinism import unit_rand
    from ..functions.vectors import sqdist

    train = vecs if train_vecs is None else train_vecs
    # Pin the training set: the seeded init plus EVERY Lloyd assignment
    # re-scans it, so without truncation the final plan re-reads the
    # parquet (and re-applies the upstream valid-vector per-element
    # predicate, which the r10 NULL-component rule made pricier) once
    # per iteration. One materialization beats iters+1 re-scans at any
    # scale — and in the 100 TB form (train_vecs = a seeded sample)
    # this pins only the sample, never the full corpus, whose single
    # assignment pass below stays a streaming scan.
    train = pin(train)
    cents = (
        train.orderBy(unit_rand(F.col(id_col), salt), id_col)
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )

    def assign(src: DataFrame, cent_df: DataFrame) -> DataFrame:
        # Window form deliberately kept (r14): two argmin PARTIAL
        # AGGREGATE variants (min over struct(dist, cid, vec); min_by
        # with a fixed-width (dist, cid) key) were A/B-measured and both
        # LOST to the window at sf0.1 (ann_ivf_trained 2.8s window vs
        # 3.7-4.0s agg — min/min_by over array-carrying buffers fall out
        # of whole-stage codegen into Object/Sort aggregates, costing
        # more than the k-row-per-key window sort saves).
        d = src.select(id_col, vec_col).crossJoin(F.broadcast(cent_df))
        scored = d.select(
            id_col,
            vec_col,
            "cid",
            sqdist(F.col(vec_col), F.col("cv")).alias("dist"),
        )
        w = Window.partitionBy(id_col).orderBy("dist", "cid")
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    assigned = assign(train, cents)
    for _ in range(iters):
        flat = assigned.select("cid", F.posexplode(vec_col).alias("dim", "x"))
        means = flat.groupBy("cid", "dim").agg(
            (fixed_sum(F.col("x").cast("double")) / F.count("*")).alias("mv")
        )
        # pin the k-row codebook: it is referenced by the next assignment
        # AND by every downstream consumer (probe ranking, the final
        # full-corpus assignment), and without truncation each reference
        # re-embeds the whole Lloyd lineage (scan count grew per
        # iteration). Broadcast is explicit at every use site, so the
        # pin's stats loss does not bite.
        new_cents = pin(
            means.groupBy("cid").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, mv))), s -> s.mv)"
                ).alias("cv")
            )
        )
        assigned = assign(train, new_cents)
        cents = new_cents
    if train_vecs is not None:
        # the single full-corpus pass against the sample-trained codebook
        assigned = assign(vecs, cents)
    # r14: carry the assigned vector through (it rides the argmin struct
    # for free) so IVF callers build their inverted file straight from
    # the assignment instead of re-joining the corpus for the vector.
    out = assigned.select(
        F.col(id_col), F.col(vec_col), F.col("cid").alias("cluster_id"), F.col("dist")
    )
    if return_centroids:
        # the (cid, cv) codebook the FINAL assignment used — the trained
        # IVF coarse quantizer (probe ranking must use these, not the
        # one-more-update means of the final assignment).
        return out, cents
    return out
