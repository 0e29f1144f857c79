"""Similarity search over embedding columns (SURVEY.md §2.11).

Two plans for approximate-nearest-neighbor over ``embeddings.embedding``:

- **Brute-force cosine top-k** — the correctness baseline. Queries are a
  small broadcast side; the corpus scan is one pass; top-k per query is a
  windowed rank (Spark pushes the k-limit into the sort). At 100 TB this
  is the right plan whenever |queries| is small: cost = one corpus scan.
- **LSH-bucketed (random hyperplanes)** — the scale path when both sides
  are large: b deterministic hyperplanes → 2^b buckets; join within
  buckets only. Recall is tunable via b and multi-probe.

Dot products are strict sequential folds (functions.vectors) so the DuckDB
oracle matches bit-for-bit and top-k order is stable. For very wide
vectors, swap the fold for the Arrow/Pandas-UDF kernel below.

Two rules have one home per engine here:

- **Query rank** (:func:`rank_topk` / :func:`rank_topk_sql`): over scored
  (query_id, neighbor_id, score) rows, ``row_number()`` per query_id
  ordered by ``score DESC, neighbor_id``, kept while ``rank <= k`` and
  returned as INT. Ties go to the lower neighbor id; a NULL score ranks
  last in both engines. Every top-k search arm and its oracle ends in
  this rank.
- **Probe list** (:func:`probe_buckets` / :func:`probe_buckets_sql`): a
  query probes its own LSH bucket, then the bucket with each plane bit
  flipped in turn (``bucket XOR 2^h``, h = 0..n_planes-1): the n_planes+1
  buckets at Hamming distance <= 1, all distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The query rank: each query's ``k`` best (query_id, neighbor_id,
    score) rows with their INT ``rank`` (see the module docstring)."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank"))
    )


def rank_topk_sql(scored_rel: str, k: int) -> str:
    """DuckDB twin of :func:`rank_topk` over the relation ``scored_rel``:
    a SELECT of (query_id, neighbor_id, score, rank INTEGER)."""
    return (
        "SELECT query_id, neighbor_id, score, CAST(rn AS INTEGER) AS rank FROM (\n"
        "    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) rn\n"
        f"    FROM {scored_rel}) WHERE rn <= {k}"
    )


def probe_buckets(bucket: Column, n_planes: int) -> Column:
    """The probe list: ``bucket`` and its n_planes Hamming-1 neighbors, as
    an array (see the module docstring)."""
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << h)) for h in range(n_planes)])


def probe_buckets_sql(bucket_sql: str, n_planes: int) -> str:
    """DuckDB twin of :func:`probe_buckets`: a list literal."""
    flips = "".join(f", xor({bucket_sql}, {1 << h})" for h in range(n_planes))
    return f"[{bucket_sql}{flips}]"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (unit-norm corpus ⇒ cosine = dot).

    Returns (query_id, neighbor_id, score, rank); self-matches excluded;
    ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qvec"), F.col("__cvec")).alias("score"),
        )
    )
    return rank_topk(scored, k)


def _hyperplane_component(h: int, i: int, salt: str = "hp") -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5),
    derived from md5 — reproducible in any engine / any run."""
    import hashlib

    digest = hashlib.md5(f"{salt}|{h}|{i}".encode()).hexdigest()
    return int(digest[:8], 16) / 4294967296.0 - 0.5


def hyperplanes(n_planes: int, dim: int, salt: str = "hp") -> list[list[float]]:
    return [[_hyperplane_component(h, i, salt) for i in range(dim)] for h in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id: bit h = 1 iff vec·plane_h > 0."""
    acc = F.lit(0)
    for h, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        acc = acc + F.when(proj > 0, F.lit(1 << h)).otherwise(F.lit(0))
    return acc.cast("int")


def lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    terms = []
    for h, plane in enumerate(planes):
        lits = "[" + ", ".join(f"{float(p)!r}::DOUBLE" for p in plane) + "]"
        proj = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(list_zip({vec_sql}, {lits}), q -> CAST(q[1] AS DOUBLE) * q[2])), "
            f"(a, v) -> a + v)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << h} ELSE 0 END")
    return "(" + " + ".join(terms) + ")::INTEGER"


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
) -> DataFrame:
    """ANN: exact top-k *within* shared LSH bucket — the bucket join is the
    scale path (equi-join on bucket id instead of a cross join).

    ``multi_probe`` also probes every Hamming-1 bucket from the QUERY side
    (an (n_planes+1)× fan-out on the small broadcast side only) — the
    standard recall lever: a true neighbor usually disagrees with the
    query on at most one plane sign. Probe buckets are distinct, so each
    (query, candidate) still matches exactly once — no dedup needed."""
    planes = hyperplanes(n_planes, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    if multi_probe:
        probes = probe_buckets(F.col("bucket"), n_planes)
        q = q.select("query_id", "__qvec", F.explode(probes).alias("bucket"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("__qvec"), F.col("__cvec")).alias("score"))
    )
    return rank_topk(scored, k)


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    multi_probe: bool = False,
) -> DataFrame:
    """Cosine near-dup PAIRS via LSH buckets — the scale path for the
    quadratic ``embedding_cosine_neardup`` verifier: candidates are only
    same-sign-bucket pairs (equi-join on bucket id), then exact dot ≥
    threshold. Cost is Σ_bucket |b|² instead of n²; recall trades against
    the plane count. ``multi_probe`` additionally probes every Hamming-1
    bucket from one side (the classic multi-probe LSH recall lever:
    near-threshold pairs usually differ in exactly one plane sign) — a
    (n_planes+1)× fan-out on the probe side only, still never quadratic;
    duplicate candidates are dropped before the threshold filter.

    **Identical-vector collapse** (the embedding-space twin of the text
    side's identical-set collapse): the bucket join and the exact-dot
    verification run over DISTINCT vectors only — one representative
    (min id) per byte-identical vector group — and the surviving
    representative pairs re-expand to member pairs afterwards. Without
    this, k exact copies of a vector multiply the candidate stage by k²
    (measured before the change: a 100x-replicated corpus made the pair
    stage verify 10,000x the dots, 395 s for 11.3 M pairs); with it,
    verification cost scales with distinct vectors and the expansion is
    join-generated output, so a duplicate-heavy corpus pays only for the
    pairs it emits. Exactly output-equivalent: identical vectors share
    every sign bucket, all cross-member dots equal the representative
    dot bit-for-bit (same arrays, same fold), and intra-group pairs are
    gated on the group's self-dot >= threshold just as the flat join
    would."""
    planes = hyperplanes(n_planes, dim)
    has_label = label_col is not None
    member = df.select(
        F.col(id_col).alias("__mid"),
        F.col(vec_col).alias("__v"),
        *([F.col(label_col).alias("__ml")] if has_label else []),
    )
    # One representative per distinct vector. Grouping/joining on the
    # raw array is exact (no fingerprint collisions); a hyper-duplicated
    # vector makes a hot key here, which AQE skew-split handles — and
    # the alternative (collect_list members per group) would put the
    # whole group in one row, which cannot survive a 100 TB hot group.
    groups = member.groupBy("__v").agg(
        F.min("__mid").alias("__rep"), F.count("*").alias("__n")
    )
    memb = member.join(groups.select("__v", "__rep"), "__v").select(
        "__mid", "__rep", *(["__ml"] if has_label else [])
    )
    reps = groups.select(
        F.col("__rep").alias("id"), F.col("__v").alias("vec"), "__n"
    ).withColumn("bucket", lsh_bucket(F.col("vec"), planes))

    # --- candidate generation + exact verification over DISTINCT vectors
    a_cols = [F.col("id").alias("ra"), F.col("vec").alias("__va")]
    if multi_probe:
        probes = probe_buckets(F.col("bucket"), n_planes)
        a_side = reps.select(*a_cols, F.explode(probes).alias("bucket"))
    else:
        a_side = reps.select(*a_cols, "bucket")
    b_side = reps.select(
        F.col("id").alias("rb"), F.col("vec").alias("__vb"), "bucket"
    )
    # r14: the within-bucket verify (equi-join on bucket + per-pair
    # interpreted fold dot + filter) runs as one Arrow cogroup kernel per
    # bucket — bit-identical output (strict dimension-order NumPy
    # accumulation, see bucketed_cosine_pairs), same Σ|bucket|² shape.
    rep_pairs = bucketed_cosine_pairs(a_side, b_side, threshold=threshold)
    if multi_probe:
        # a pair can meet in its home bucket AND a probed one; the dot is
        # bit-identical wherever it meets, so post-kernel dedup equals the
        # old pre-dot dedup
        rep_pairs = rep_pairs.dropDuplicates(["ra", "rb"])

    # --- re-expansion to member pairs
    ma = memb.select(
        F.col("__rep").alias("ra"),
        F.col("__mid").alias("ida"),
        *([F.col("__ml").alias("la")] if has_label else []),
    )
    mb = memb.select(
        F.col("__rep").alias("rb"),
        F.col("__mid").alias("idb"),
        *([F.col("__ml").alias("lb")] if has_label else []),
    )
    cross = rep_pairs.join(ma, "ra").join(mb, "rb")
    # within a duplicate group: every member pair, carried cos = the
    # group's self-dot (== what the flat bucket join would verify), only
    # when that self-dot passes the threshold (non-normalized or NULL
    # vectors may not).
    intra_reps = reps.filter(F.col("__n") >= 2).select(
        F.col("id").alias("ra"),
        dot(F.col("vec"), F.col("vec")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
    intra = (
        intra_reps.join(ma, "ra")
        .join(
            mb.withColumnRenamed("rb", "ra"), "ra"
        )
        .filter(F.col("ida") < F.col("idb"))
    )
    out_cols = [
        F.least(F.col("ida"), F.col("idb")).alias("id_a"),
        F.greatest(F.col("ida"), F.col("idb")).alias("id_b"),
        F.col("cos_sim"),
    ]
    if has_label:
        out_cols.append((F.col("la") == F.col("lb")).alias("same_label"))
    sel = ["ida", "idb", "cos_sim"] + (["la", "lb"] if has_label else [])
    return cross.select(*sel).unionByName(intra.select(*sel)).select(*out_cols)


def _arrow_side_arrays(tbl, id_name: str, vec_name: str, label_name: str | None):
    """Decompose one cogroup side into (ids, labels, {length: (row_idx,
    float64 matrix)}) with the exact validity semantics of the strict
    sequential fold: a row participates in dot products only when its id
    is non-NULL, its vector cell is non-NULL, its length is > 0 and no
    element is NULL (a NULL element makes the fold NULL, which the
    ``>= threshold`` filter drops). Arrow validity bitmaps preserve the
    NULL-element / NaN-element distinction that a pandas conversion would
    destroy (both arrive as NaN there)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(tbl)
    ids_col = tbl.column(id_name).combine_chunks()
    vec = tbl.column(vec_name).combine_chunks()
    id_ok = pc.is_valid(ids_col).to_numpy(zero_copy_only=False)
    cell_ok = pc.is_valid(vec).to_numpy(zero_copy_only=False)
    lengths = (
        pc.list_value_length(vec).fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64)
    )
    offsets = np.asarray(vec.offsets, dtype=np.int64)
    child = vec.values
    if child.null_count:
        el_null = pc.is_null(child).to_numpy(zero_copy_only=False).astype(np.int64)
        cs = np.concatenate([[0], np.cumsum(el_null)])
        row_nulls = cs[offsets[1:]] - cs[offsets[:-1]]
    else:
        row_nulls = np.zeros(n, dtype=np.int64)
    valid = id_ok & cell_ok & (lengths > 0) & (row_nulls == 0)
    ids = ids_col.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    # float32 -> float64 is an exact IEEE widening — identical to the
    # per-element cast("double") inside the fold.
    vals = child.to_numpy(zero_copy_only=False).astype(np.float64)
    groups: dict[int, tuple] = {}
    for L in np.unique(lengths[valid]):
        idx = np.nonzero(valid & (lengths == L))[0]
        gather = offsets[idx][:, None] + np.arange(int(L))[None, :]
        groups[int(L)] = (idx, vals[gather])
    labels = tbl.column(label_name).to_pylist() if label_name else None
    return ids, labels, groups


def allpairs_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    blocks: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with sequential-fold dot >= ``threshold`` —
    the Arrow block kernel form of the quadratic exact verifier.

    The naive plan (``a.join(b, id_a < id_b)`` + per-pair fold dot) pays an
    interpreted higher-order-function evaluation per pair: n²/2 zip_with +
    aggregate lambda trees dominate the runtime (measured 28 s for 2 M
    pairs at sf0.1 vs 0.8 s for the join itself). Here the decision data
    moves once: the corpus is hash-blocked on the id (one block per core),
    the comparison side rides along replicated per block, and each cogroup
    computes its block × corpus dot matrix in NumPy with a strict
    dimension-order loop — bit-identical to the JVM fold (same left-to-
    right association, one IEEE rounding per multiply and per add, exact
    float32→float64 widening), so the DuckDB oracle hash is unchanged.

    Scale shape: shuffle volume is blocks × corpus (vs. the broadcast
    nested-loop join's partitions × corpus — same asymptotics), compute is
    the unavoidable n²·d/cores but at vectorized-native speed; per-task
    memory is bounded by chunking the block side. This remains the
    *labeled quadratic verifier* — the production path at corpus scale is
    still the LSH-bucketed :func:`lsh_neardup_pairs`.

    NULL/NaN contract (bit-matching the fold + ``>=`` filter): NULL id,
    NULL vector, NULL element or mismatched lengths never emit; NaN dots
    emit (Spark treats NaN as greater than any number); inf dots emit;
    ``same_label`` is NULL when either label is NULL."""
    import numpy as np
    import pyarrow as pa

    spark = df.sparkSession
    nb = int(blocks or max(spark.sparkContext.defaultParallelism, 1))
    has_label = label_col is not None
    a = df.select(
        F.col(id_col).alias("id_a"),
        *([F.col(label_col).alias("la")] if has_label else []),
        F.col(vec_col).alias("va"),
        F.pmod(F.xxhash64(id_col), F.lit(nb)).cast("int").alias("blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        *([F.col(label_col).alias("lb")] if has_label else []),
        F.col(vec_col).alias("vb"),
    ).withColumn("blk", F.explode(F.array(*[F.lit(i) for i in range(nb)])))

    out_fields = [
        ("id_a", pa.int64()),
        ("id_b", pa.int64()),
        ("cos_sim", pa.float64()),
    ] + ([("same_label", pa.bool_())] if has_label else [])
    out_schema = pa.schema(out_fields)
    thr = float(threshold)
    lbl = "la" if has_label else None

    def block_kernel(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if len(left) == 0 or len(right) == 0:
            return out_schema.empty_table()
        ia_all, la_all, ga = _arrow_side_arrays(left, "id_a", "va", lbl)
        ib_all, lb_all, gb = _arrow_side_arrays(
            right, "id_b", "vb", "lb" if lbl else None
        )
        cols: dict[str, list] = {f[0]: [] for f in out_fields}
        for L, (ia_idx, X) in ga.items():
            if L not in gb:
                continue
            ib_idx, Y = gb[L]
            ids_b = ib_all[ib_idx]
            # chunk the block side so acc stays <= ~32 MB per task
            step = max(1, 4_000_000 // max(len(ib_idx), 1))
            for s in range(0, len(ia_idx), step):
                ca = ia_idx[s : s + step]
                Xa = X[s : s + step]
                ids_a = ia_all[ca]
                acc = np.zeros((len(ca), len(ib_idx)))
                for k in range(L):
                    acc = acc + Xa[:, k][:, None] * Y[:, k][None, :]
                keep = (ids_a[:, None] < ids_b[None, :]) & (
                    (acc >= thr) | np.isnan(acc)
                )
                ii, jj = np.nonzero(keep)
                if len(ii) == 0:
                    continue
                cols["id_a"].append(ids_a[ii])
                cols["id_b"].append(ids_b[jj])
                cols["cos_sim"].append(acc[ii, jj])
                if has_label:
                    sl = [
                        None
                        if la_all[i2] is None or lb_all[j2] is None
                        else bool(la_all[i2] == lb_all[j2])
                        for i2, j2 in zip(ca[ii], ib_idx[jj])
                    ]
                    cols["same_label"].append(sl)
        if not cols["id_a"]:
            return out_schema.empty_table()
        arrays = [
            pa.array(np.concatenate(cols["id_a"]), type=pa.int64()),
            pa.array(np.concatenate(cols["id_b"]), type=pa.int64()),
            pa.array(np.concatenate(cols["cos_sim"]), type=pa.float64()),
        ]
        if has_label:
            flat = [x for chunk in cols["same_label"] for x in chunk]
            arrays.append(pa.array(flat, type=pa.bool_()))
        return pa.table(dict(zip([f[0] for f in out_fields], arrays)))

    schema = "id_a long, id_b long, cos_sim double" + (
        ", same_label boolean" if has_label else ""
    )
    return (
        a.groupBy("blk")
        .cogroup(b.groupBy("blk"))
        .applyInArrow(block_kernel, schema)
    )


def bucketed_cosine_pairs(
    a_side: DataFrame,
    b_side: DataFrame,
    threshold: float,
    bucket_col: str = "bucket",
    id_a: str = "ra",
    vec_a: str = "__va",
    id_b: str = "rb",
    vec_b: str = "__vb",
) -> DataFrame:
    """Within-bucket pairs (id_a < id_b) with sequential-fold dot >=
    ``threshold`` — the bucket-cogroup sibling of
    :func:`allpairs_cosine_pairs`, replacing the LSH verify stage's
    per-pair interpreted fold (``join on bucket`` + ``dot`` + filter)
    with one NumPy dot matrix per bucket.

    Same bit-exactness contract as the block kernel: strict
    dimension-order accumulation (identical IEEE rounding sequence to
    the JVM fold), exact float32→float64 widening, NULL id / NULL
    vector / NULL element / mismatched lengths never emit, NaN and +inf
    dots emit. NULL buckets are dropped on both sides to match the
    equi-join semantics this replaces (cogroup would otherwise align
    the NULL groups). Shuffle volume and Σ|bucket|² compute asymptotics
    are unchanged — only the per-pair evaluation becomes vectorized."""
    import numpy as np
    import pyarrow as pa

    out_schema = pa.schema(
        [(id_a, pa.int64()), (id_b, pa.int64()), ("cos_sim", pa.float64())]
    )
    thr = float(threshold)

    def bucket_kernel(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if len(left) == 0 or len(right) == 0:
            return out_schema.empty_table()
        ia_all, _, ga = _arrow_side_arrays(left, id_a, vec_a, None)
        ib_all, _, gb = _arrow_side_arrays(right, id_b, vec_b, None)
        cols: dict[str, list] = {id_a: [], id_b: [], "cos_sim": []}
        for L, (ia_idx, X) in ga.items():
            if L not in gb:
                continue
            ib_idx, Y = gb[L]
            ids_b = ib_all[ib_idx]
            # chunk the probe side so acc stays <= ~32 MB per task
            step = max(1, 4_000_000 // max(len(ib_idx), 1))
            for s in range(0, len(ia_idx), step):
                ca = ia_idx[s : s + step]
                Xa = X[s : s + step]
                ids_a = ia_all[ca]
                acc = np.zeros((len(ca), len(ib_idx)))
                for k in range(L):
                    acc = acc + Xa[:, k][:, None] * Y[:, k][None, :]
                keep = (ids_a[:, None] < ids_b[None, :]) & (
                    (acc >= thr) | np.isnan(acc)
                )
                ii, jj = np.nonzero(keep)
                if len(ii) == 0:
                    continue
                cols[id_a].append(ids_a[ii])
                cols[id_b].append(ids_b[jj])
                cols["cos_sim"].append(acc[ii, jj])
        if not cols[id_a]:
            return out_schema.empty_table()
        return pa.table(
            {
                id_a: pa.array(np.concatenate(cols[id_a]), type=pa.int64()),
                id_b: pa.array(np.concatenate(cols[id_b]), type=pa.int64()),
                "cos_sim": pa.array(
                    np.concatenate(cols["cos_sim"]), type=pa.float64()
                ),
            }
        )

    a = a_side.filter(F.col(bucket_col).isNotNull())
    b = b_side.filter(F.col(bucket_col).isNotNull())
    return (
        a.groupBy(bucket_col)
        .cogroup(b.groupBy(bucket_col))
        .applyInArrow(bucket_kernel, f"{id_a} long, {id_b} long, cos_sim double")
    )


def topk_pandas_kernel(
    corpus: DataFrame,
    queries_pd,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized brute-force kernel: numpy matmul per partition via
    ``mapInPandas`` — the fast path for wide vectors / many queries where
    per-element SQL folds are too slow. Queries ship as a broadcast numpy
    matrix; each batch computes scores for all queries at once.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    q_ids = queries_pd[id_col].to_numpy()
    q_mat = np.vstack(queries_pd[vec_col].to_numpy()).astype("float64")
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def score_batches(batches):
        ids, mat = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            scores = c_mat @ mat.T  # (n_corpus, n_queries)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(ids)),
                    "score": scores.T.reshape(-1),
                }
            )

    out = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, score double"
    )
    return rank_topk(out.filter(F.col("query_id") != F.col("neighbor_id")), k)
