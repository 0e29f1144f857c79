"""Embedding/similarity queries (SURVEY.md §2.11 + M8/M10 metric math)
over the ``embeddings`` table (array<float>, unit-normalized, dim 64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import (
    fixed_sum,
    fixed_sum_sql,
    fixed_term,
    fixed_term_sql,
    fixed_unscale,
    fixed_unscale_sql,
    hash_bucket_sql,
    unit_rand_sql,
)
from ..functions.vectors import (
    cosine_sql,
    dot_sql,
    l2_norm,
    l2_norm_sql,
    mae,
    mae_sql,
    mse,
    mse_sql,
    psnr,
    psnr_sql,
    sqdist_sql,
)
from ..operators.clusters import connected_components, connected_components_sql
from ..operators.similarity import (
    brute_force_topk,
    hyperplanes,
    lsh_bucket_sql,
    lsh_bucketed_topk,
    probe_buckets_sql,
    rank_topk,
    rank_topk_sql,
)
from ..session import pin
from . import register
from .common import T

_N_QUERIES = 10
_K = 5


def _nonnull_vec_oracle(sql: str) -> str:
    """Rewrite an ANN/quantize/histogram oracle to operate on non-NULL
    vectors only: a NULL embedding is not a searchable vector. Without
    this, DuckDB and Spark disagree arbitrarily on NULL-vector rows
    (NULL-score rank placement, 64 phantom quantize rows, NULL histogram
    bins — all found by the round-9 NULL-embeddings sweep); the engine
    builders apply the matching isNotNull filter."""
    vecs = "vecs AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL)"
    body = sql.replace("FROM embeddings", "FROM vecs")
    assert body.lstrip().startswith("WITH"), "oracle must start with WITH"
    if body.lstrip().startswith("WITH RECURSIVE"):
        # non-recursive CTEs may be listed inside WITH RECURSIVE (mirrors
        # _finite_vec_oracle; without this branch the rewrite would emit
        # "WITH vecs AS (...), RECURSIVE ..." — invalid SQL caught only at
        # oracle runtime, r9 ADVICE item #4)
        return body.replace("WITH RECURSIVE ", f"WITH RECURSIVE {vecs},\n", 1)
    return body.replace("WITH ", f"WITH {vecs},\n", 1)


# Valid-vector rule (round-9 non-finite sweep; NULL-component case
# pinned round 10; DIMENSION case pinned by the round-11 degenerate-
# vector sweep): an embedding with ANY non-finite OR NULL component,
# OR whose length differs from the corpus dimension (_DIM — an
# embedding dim is a dataset schema property; ragged vectors are
# schema drift, and an empty [] folds to 0.0 where NULL folds to
# NULL), is not a valid vector — NaN/±Inf carry no geometry (a NaN dot
# product ranks FIRST under DESC in both engines, so one corrupt
# vector would top every ANN result list; kernels with scaled-integer
# accumulation crash outright; a 32-wide vector zip_withs against a
# 64-wide one with NULL padding while a position-indexed join just
# drops rows). Such vectors are nullified AT LOAD on both sides, so the
# NULL-embedding semantics each query already pins (r9 NULL-embeddings
# sweep) take over: searchable/pairable queries drop them via their
# isNotNull filters, survivor counters keep the row with no vector.
# Applied uniformly to every query in this module by `_E` (Spark) and
# the module-tail oracle rewrite (DuckDB). The per-element predicate is
# `x IS NOT NULL AND isfinite(x)` on BOTH engines — before round 10 the
# DuckDB bool_and silently skipped NULL elements (vector kept) while
# Spark's forall went three-valued (vector nullified): the exact latent
# asymmetry this contract exists to forbid (r9 ADVICE item #1; fixture:
# the null-component stripe in tests/test_embeddings_adversarial.py).

_DIM = 64  # corpus embedding dimension (TESTDATA.md schema contract)

_FINITE_VEC_CTE = (
    "embf AS (SELECT * REPLACE (CASE WHEN embedding IS NOT NULL AND "
    f"len(embedding) = {_DIM} AND "
    "coalesce(list_aggregate(list_transform(embedding,"
    " x -> x IS NOT NULL AND isfinite(x)), 'bool_and'), TRUE)"
    " THEN embedding END AS embedding) FROM embeddings)"
)


def _finite_vec_oracle(sql: str) -> str:
    """Rewrite an oracle to read the nullified-vector relation (the
    DuckDB twin of `_E`)."""
    import re

    # every relation reference, including JOIN sides ("JOIN embeddings b")
    body = re.sub(r"\bembeddings\b", "embf", sql)
    if body == sql:
        return sql  # oracle never reads the embeddings table
    if body.lstrip().startswith("WITH RECURSIVE"):
        # non-recursive CTEs may be listed inside WITH RECURSIVE
        return body.replace("WITH RECURSIVE ", f"WITH RECURSIVE {_FINITE_VEC_CTE},\n", 1)
    if body.lstrip().startswith("WITH"):
        return body.replace("WITH ", f"WITH {_FINITE_VEC_CTE},\n", 1)
    return f"WITH {_FINITE_VEC_CTE}\n{body}"


def _E(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load embeddings with non-finite vectors nullified (valid-vector
    rule above; oracle twin `_finite_vec_oracle`). The withColumn is a
    codegen-stage expression — no shuffle, and Catalyst still prunes the
    column away for vec_id/label-only consumers."""
    ef = T(spark, sf_dir, "embeddings")
    all_finite = F.forall(
        "embedding",
        # x.isNotNull() first: a NULL element yields FALSE (not NULL) under
        # three-valued AND, matching the oracle's `x IS NOT NULL AND
        # isfinite(x)` exactly — see the valid-vector rule comment above
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))),
    )
    return ef.withColumn(
        "embedding",
        F.when(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == F.lit(_DIM))
            & all_finite,
            F.col("embedding"),
        ),
    )



# --------------------------------------------------------------------------
# The ANN search arms. Each arm's oracle is one CTE builder ending in a
# named relation out(query_id, neighbor_id, score, rank): it defines its
# query side {out}_q(query_id, qv[, key]) and corpus side
# {out}_c(neighbor_id, cv[, key]), and `_topk_sql` scores and ranks them
# (similarity.rank_topk_sql). The recall queries splice the builders they
# compare and end in `_recall_sql`; the Spark arms are the kernels below.
# --------------------------------------------------------------------------


def _valid_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searchable/pairable vectors: the valid-vector load (`_E`) plus the
    NULL filter (a NULL vector is not a searchable vector; oracle twin:
    _nonnull_vec_oracle). Shared by every ANN arm so composite queries
    (ann_recall_at_k) can pin ONE filtered base instead of re-scanning
    per arm."""
    return _E(spark, sf_dir).filter(F.col("embedding").isNotNull())


def _topk_sql(out: str, key: str | None = None, score: str | None = None) -> str:
    """Score every {out}_q x {out}_c pair (sharing ``key``, or all pairs)
    except self-pairs and keep each query's top _K: the CTEs
    {out}_scored and {out}. ``score`` is over q.qv/c.cv, default the
    fold dot."""
    score = score or dot_sql("q.qv", "c.cv")
    pairs = f"JOIN {out}_q q USING ({key})" if key else f"CROSS JOIN {out}_q q"
    return f"""{out}_scored AS (
  SELECT q.query_id, c.neighbor_id, {score} AS score
  FROM {out}_c c {pairs} WHERE c.neighbor_id != q.query_id),
{out} AS ({rank_topk_sql(f"{out}_scored", _K)})"""


# --------------------------------------------------------------------------
# Brute-force cosine top-k (correctness baseline for ANN).
# --------------------------------------------------------------------------


def _brute_sql(out: str, score: str | None = None) -> str:
    """Exact top-k of the first _N_QUERIES vectors over the corpus."""
    return f"""{out}_q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}),
{out}_c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
{_topk_sql(out, score=score)}"""


def _ann_brute_kernel(e: DataFrame) -> DataFrame:
    return brute_force_topk(e, e.filter(F.col("vec_id") < _N_QUERIES), k=_K)


@register(
    "ann_brute_topk",
    oracle=_nonnull_vec_oracle(f"WITH {_brute_sql('topk')}\nSELECT * FROM topk"),
    tags=("similarity", "J1"),
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors: broadcast queries × one
    corpus scan; sequential-fold dot products keep ranks bit-stable."""
    return _ann_brute_kernel(_valid_vecs(spark, sf_dir))


# --------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path).
# --------------------------------------------------------------------------

_N_PLANES = 4
_planes = hyperplanes(_N_PLANES, _DIM)


def _lsh_buckets_sql(out: str) -> str:
    """The LSH bucket table out(vec_id, label, embedding, bucket)."""
    return f"""{out} AS (
  SELECT vec_id, label, embedding, {lsh_bucket_sql('embedding', _planes)} AS bucket
  FROM embeddings)"""


def _lsh_sql(out: str) -> str:
    """Multi-probe LSH top-k: each query searches its probe list."""
    return f"""{_lsh_buckets_sql(f"{out}_b")},
{out}_q AS (
  SELECT vec_id AS query_id, embedding AS qv, unnest({probe_buckets_sql('bucket', _N_PLANES)}) AS bucket
  FROM {out}_b WHERE vec_id < {_N_QUERIES}),
{out}_c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM {out}_b),
{_topk_sql(out, key="bucket")}"""


def _ann_lsh_kernel(e: DataFrame) -> DataFrame:
    return lsh_bucketed_topk(
        e,
        e.filter(F.col("vec_id") < _N_QUERIES),
        k=_K,
        n_planes=_N_PLANES,
        dim=_DIM,
        multi_probe=True,
    )


@register(
    "ann_lsh_topk",
    oracle=_nonnull_vec_oracle(f"WITH {_lsh_sql('topk')}\nSELECT * FROM topk"),
    tags=("similarity", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 4 deterministic planes → 16 sign buckets;
    top-k within the query's bucket plus every Hamming-1 probe bucket
    (multi-probe: 5 of 16 buckets searched per query — the recall lever
    that lifted recall@5 from 0.06 to ~0.4 on this fixture, see
    ann_recall_at_k). Bucket equi-join replaces the cross join; the probe
    fan-out rides the small broadcast side only."""
    return _ann_lsh_kernel(_valid_vecs(spark, sf_dir))


# --------------------------------------------------------------------------
# IVF-style ANN: coarse cells via deterministic centroids, search within
# the query's cell (the inverted-file pre-filter; complements the LSH
# variant). Centroids are the first _N_CELLS corpus vectors — a
# deterministic stand-in for a k-means codebook (the assignment/probe
# plan is identical; swap the codebook source for trained centroids).
# --------------------------------------------------------------------------

_N_CELLS = 8


def _ivf_sql(out: str) -> str:
    """First-k-centroid IVF top-k: each vector's cell is its best
    centroid (ties to the lower id); a query searches its own cell."""
    return f"""{out}_cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {_N_CELLS}),
{out}_cells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN {out}_cents c) WHERE rn = 1),
{out}_q AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM {out}_cells WHERE vec_id < {_N_QUERIES}),
{out}_c AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM {out}_cells),
{_topk_sql(out, key="cell")}"""


def _ann_ivf_kernel(e: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vectors import dot

    cents = e.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = e.crossJoin(F.broadcast(cents)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                dot(F.col("embedding"), F.col("cv")).desc(), F.col("cid")
            )
        ),
    )
    cells = assign.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", F.col("cid").alias("cell")
    )
    q = cells.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell"
    )
    c = cells.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cell"
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("score"))
    )
    return rank_topk(scored, _K)


@register(
    "ann_ivf_topk",
    oracle=_nonnull_vec_oracle(f"WITH {_ivf_sql('topk')}\nSELECT * FROM topk"),
    tags=("similarity", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment (argmax centroid dot, deterministic tiebreak)
    → top-k within the query's cell. Cell join replaces the cross join;
    at 100 TB the codebook broadcasts and assignment is map-side only."""
    return _ann_ivf_kernel(_valid_vecs(spark, sf_dir))


# --------------------------------------------------------------------------
# ANN recall@k: quality of the two approximate paths (LSH buckets, IVF
# cells) measured against the exact brute-force top-k on the same fixture
# — the metric that decides whether an ANN pre-filter is usable at all.
# --------------------------------------------------------------------------


def _recall(cand: DataFrame, truth: DataFrame, *keys: str) -> DataFrame:
    """Recall of the candidate (query_id, neighbor_id) rows against the
    truth's, per ``keys`` group: n_hits, n_true, round(n_hits/n_true, 6).
    Without keys it is one row even over no candidates, with a NULL recall
    when the truth is empty (an empty corpus); grouped, no candidates give
    no rows. Oracle twin: `_recall_sql`."""
    hit = truth.select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    hits = (
        cand.join(F.broadcast(hit), ["query_id", "neighbor_id"], "left")
        .groupBy(*keys)
        .agg(F.count("__hit").alias("n_hits"))
    )
    tot = truth.agg(F.count("*").alias("n_true"))
    return hits.crossJoin(F.broadcast(tot)).select(
        *keys,
        "n_hits",
        "n_true",
        # try_divide: an empty truth (n_true=0) gives NULL recall, like
        # DuckDB's x/0, where ANSI division would kill the job
        F.round(F.try_divide(F.col("n_hits").cast("double"), F.col("n_true")), 6).alias(
            "recall"
        ),
    )


def _recall_sql(cand: str, truth: str, *keys: str) -> str:
    """DuckDB twin of `_recall`: the final SELECT over relations ``cand``
    and ``truth``."""
    by = ", ".join(f"t.{k}" for k in keys)
    n_hits = "COUNT(x.neighbor_id)"
    n_true = f"(SELECT COUNT(*) FROM {truth})"
    group = f"\nGROUP BY {by}" if keys else ""
    return f"""SELECT {by + ', ' if keys else ''}CAST({n_hits} AS BIGINT) AS n_hits,
  CAST({n_true} AS BIGINT) AS n_true,
  round(CAST({n_hits} AS DOUBLE) / {n_true}, 6) AS recall
FROM {cand} t
LEFT JOIN {truth} x ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id{group}"""


_RECALL_ORACLE = f"""
WITH {_brute_sql('brute')},
{_lsh_sql('lsh')},
{_ivf_sql('ivf')},
cand AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf)
{_recall_sql('cand', 'brute', 'method')}
"""


@register("ann_recall_at_k", oracle=_nonnull_vec_oracle(_RECALL_ORACLE), tags=("similarity", "lsh", "ivf"))
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed and IVF-cell ANN paths against the
    exact brute-force top-5 over the same 10 queries — ANN quality as a
    first-class, oracle-checked metric (VERDICT r5 "next round" #7;
    tests/test_similarity_kernel.py asserts the recall floor). Reuses the
    three registered ANN plans; the intersection join is on (query_id,
    neighbor_id) — query-sized, broadcastable at any corpus scale."""
    # The filtered corpus feeds all THREE arms (each reads it twice:
    # corpus + query side) — the parquet scan and the valid-vector forall
    # run once, not six times (the arms' internal broadcasts are all
    # explicit F.broadcast, so the pin's stats loss is harmless here).
    e = pin(_valid_vecs(spark, sf_dir))
    # brute feeds the hit join AND the truth total; lsh/ivf are each
    # referenced once and stay unpinned.
    brute = pin(_ann_brute_kernel(e).select("query_id", "neighbor_id"))
    lsh = _ann_lsh_kernel(e).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id"
    )
    ivf = _ann_ivf_kernel(e).select(
        F.lit("ivf").alias("method"), "query_id", "neighbor_id"
    )
    return _recall(lsh.unionByName(ivf), brute, "method")


# --------------------------------------------------------------------------
# M8/M10: MAE / MSE / PSNR between consecutive vectors.
# --------------------------------------------------------------------------

_ERR_ORACLE = f"""
WITH p AS (
  SELECT a.vec_id, a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
SELECT vec_id,
  {mae_sql('va', 'vb')} AS mae,
  {mse_sql('va', 'vb')} AS mse,
  round({psnr_sql(mse_sql('va', 'vb'))}, 9) AS psnr
FROM p
"""
# psnr is rounded to 9 decimals on both sides: log10 is not correctly
# rounded and differs by 1 ulp between the JVM and DuckDB's libm.


@register("array_error_metrics", oracle=_ERR_ORACLE, tags=("M8", "M10", "A7"))
def array_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MSE (metrics.py:99-120) and PSNR (metrics.py:13-33) over vector
    pairs — the pixel-array math on embedding fixtures."""
    e = _E(spark, sf_dir)
    a = e.select(F.col("vec_id"), F.col("embedding").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb"))
    p = a.join(b, "vec_id")
    m = mse(F.col("va"), F.col("vb"))
    return p.select(
        "vec_id",
        mae(F.col("va"), F.col("vb")).alias("mae"),
        m.alias("mse"),
        F.round(psnr(m), 9).alias("psnr"),
    )


# --------------------------------------------------------------------------
# A8: per-dimension moments (FID-style feature statistics).
# --------------------------------------------------------------------------

# Fixed-point sums (fixed_sum), NOT decimal casts: float32-derived doubles
# can land exactly half-way on a decimal grid (e.g. odd multiples of 2^-10
# at scale 9), where the engines round the tie apart.
_MOMENTS_ORACLE = f"""
WITH flat AS (
  SELECT generate_subscripts(embedding, 1) AS dim, CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings)
SELECT dim, COUNT(*) AS n, {fixed_sum_sql('v')} / COUNT(*) AS mean_v
FROM flat GROUP BY dim
"""


@register("embedding_moments", oracle=_MOMENTS_ORACLE, tags=("A8",))
def embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature mean vector (the FID μ term, metrics.py:254-274) via
    posexplode + exact fixed-point sums; covariance follows the same plan with
    pair columns."""
    e = _E(spark, sf_dir)
    flat = e.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("v")
    )
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        (fixed_sum(F.col("v")) / F.count("*")).alias("mean_v"),
    )


# --------------------------------------------------------------------------
# M11/A9: full Inception-Score computation — softmax over the first 10
# dims as class probabilities, per-row KL vs the split's mean
# distribution, IS = exp(mean KL) per split (metrics.py:199-212).
# All sequential folds + trunc-scaled integer sums; exp/log libm noise
# (≤1 ulp/element) is absorbed by round(·, 6) at the output.
# --------------------------------------------------------------------------

_IS_DIMS = 10
_IS_SPLITS = 4


def _softmax_sql(vec: str) -> str:
    head = f"list_transform({vec}[1:{_IS_DIMS}], x -> exp(CAST(x AS DOUBLE)))"
    total = f"list_reduce(list_prepend(0.0::DOUBLE, {head}), (a, b) -> a + b)"
    return f"list_transform({head}, e -> e / {total})"


_IS_ORACLE = f"""
WITH p AS (
  SELECT vec_id, {hash_bucket_sql('vec_id', _IS_SPLITS, salt='is-split')} + 1 AS split,
         {_softmax_sql('embedding')} AS probs
  FROM embeddings),
flat AS (
  SELECT split, vec_id, generate_subscripts(probs, 1) AS dim, unnest(probs) AS pr
  FROM p),
meanp AS (
  SELECT split, dim, {fixed_sum_sql('pr')} / COUNT(*) AS mp
  FROM flat GROUP BY split, dim),
kl AS (
  SELECT f.split, f.vec_id,
         SUM(f.pr * ln(f.pr / m.mp)) AS kl_row
  FROM flat f JOIN meanp m ON f.split = m.split AND f.dim = m.dim
  GROUP BY f.split, f.vec_id),
agg AS (
  SELECT split, {fixed_sum_sql('kl_row')} / COUNT(*) AS mean_kl
  FROM kl GROUP BY split)
SELECT split, round(exp(mean_kl), 6) AS inception_score FROM agg
"""


@register("inception_score_splits", oracle=_IS_ORACLE, tags=("M11", "A9"))
def inception_score_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS per md5-bucket split: softmax(first 10 dims) → KL(p‖p̄_split) per
    row → exp(mean KL). Split assignment is a map-side seeded hash (the
    cluster form of the reference's shuffle-then-chunk) — no global-order
    ntile window. The KL sum over dims is a grouped aggregation of
    per-(row, dim) terms — the same trunc-scaled determinism as the
    moment queries."""
    from ..functions.determinism import hash_bucket

    e = _E(spark, sf_dir)
    head = F.transform(
        F.slice(F.col("embedding"), 1, _IS_DIMS), lambda x: F.exp(x.cast("double"))
    )
    total = F.aggregate(head, F.lit(0.0), lambda a, b: a + b)
    p = e.select(
        "vec_id",
        (hash_bucket(F.col("vec_id"), _IS_SPLITS, salt="is-split") + F.lit(1)).alias("split"),
        F.transform(head, lambda ex: ex / total).alias("probs"),
    )
    flat = p.select(
        "split", "vec_id", F.posexplode("probs").alias("pos", "pr")
    ).select("split", "vec_id", (F.col("pos") + 1).alias("dim"), "pr")
    meanp = flat.groupBy("split", "dim").agg(
        (fixed_sum(F.col("pr")) / F.count("*")).alias("mp")
    )
    kl = (
        flat.join(meanp, ["split", "dim"])
        .groupBy("split", "vec_id")
        .agg(F.sum(F.col("pr") * F.log(F.col("pr") / F.col("mp"))).alias("kl_row"))
    )
    agg = kl.groupBy("split").agg((fixed_sum(F.col("kl_row")) / F.count("*")).alias("mean_kl"))
    return agg.select("split", F.round(F.exp("mean_kl"), 6).alias("inception_score"))


# --------------------------------------------------------------------------
# Norm validation (unit-norm corpus invariant).
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (extension dedup family).
# --------------------------------------------------------------------------

_COS_THRESH = 0.4

_COS_NEARDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         (a.label = b.label) AS same_label,
         {dot_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim, same_label FROM p WHERE cos_sim >= {_COS_THRESH}
"""


@register("embedding_cosine_neardup", oracle=_COS_NEARDUP_ORACLE, tags=("dedup-cosine", "similarity"))
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.4 (unit norms ⇒ dot): the embedding near-dup
    verification kernel. At corpus scale the candidate set comes from the
    LSH bucketer (ann_lsh_topk plan); this exact form is the oracle-able
    verifier.

    r14: computed by the Arrow block kernel
    (operators.similarity.allpairs_cosine_pairs) instead of a
    BroadcastNestedLoopJoin + per-pair interpreted fold — bit-identical
    output (strict dimension-order NumPy accumulation), 26 s → ~1.5 s at
    sf0.1; equivalence pinned in tests/test_allpairs_kernel.py."""
    from ..operators.similarity import allpairs_cosine_pairs

    e = _E(spark, sf_dir)
    return allpairs_cosine_pairs(
        e,
        threshold=_COS_THRESH,
        id_col="vec_id",
        vec_col="embedding",
        label_col="label",
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup, LSH-bucketed (the 100 TB path for the above).
# --------------------------------------------------------------------------

_NEARDUP_LSH_ORACLE = f"""
WITH {_lsh_buckets_sql('b')},
p AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         {dot_sql('a.embedding', 'b2.embedding')} AS cos_sim,
         (a.label = b2.label) AS same_label
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, cos_sim, same_label FROM p WHERE cos_sim >= {_COS_THRESH}
"""


# Multi-probe variant: the a-side probes its home bucket plus every
# Hamming-1 neighbor (recall 12%→47% on the fixture at cos≥0.25, see
# tests/test_similarity_kernel.py) — candidates stay Σ|bucket|²-bounded.
_NEARDUP_MP_ORACLE = f"""
WITH {_lsh_buckets_sql('b')},
probed AS (
  SELECT vec_id, label, embedding, unnest({probe_buckets_sql('bucket', _N_PLANES)}) AS bucket FROM b),
p AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
         {dot_sql('a.embedding', 'b2.embedding')} AS cos_sim,
         (a.label = b2.label) AS same_label
  FROM probed a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, cos_sim, same_label FROM p WHERE cos_sim >= {_COS_THRESH}
"""


@register("cosine_neardup_lsh_probed", oracle=_NEARDUP_MP_ORACLE, tags=("dedup-cosine", "lsh"))
def cosine_neardup_lsh_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH cosine near-dup pairs: Hamming-1 bucket probing on
    one side lifts recall (near-threshold pairs usually flip exactly one
    plane sign) at a (n_planes+1)× probe fan-out — still never quadratic."""
    from ..operators.similarity import lsh_neardup_pairs

    e = _E(spark, sf_dir)
    return lsh_neardup_pairs(
        e,
        threshold=_COS_THRESH,
        n_planes=_N_PLANES,
        dim=_DIM,
        label_col="label",
        multi_probe=True,
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: embedding near-dup pairs → connected
# components → one survivor per cluster (the embedding-space analogue of
# the MinHash transitive-dedup pipeline, cf. Abbas et al. 2023).
# --------------------------------------------------------------------------

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE {_lsh_buckets_sql('b')},
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE {dot_sql('a.embedding', 'b2.embedding')} >= {_COS_THRESH}),
{connected_components_sql('pairs', 'id_a', 'id_b')},
dropped AS (SELECT node AS vec_id FROM labels WHERE node != lab)
SELECT e.label,
  COUNT(*) AS n_vecs,
  CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN dropped dr ON e.vec_id = dr.vec_id
GROUP BY e.label
"""


@register("semantic_dedup_stats", oracle=_SEMDEDUP_ORACLE, tags=("dedup-cosine", "clusters"))
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup end-to-end: LSH-bucketed cosine
    pairs → connected components (min-label propagation) → keep the min-id
    survivor per cluster → per-label kept/dropped counts. Same transitive
    pipeline shape as cluster_dedup_stats but over embeddings — near-
    identical meaning collapses even when the text differs. The drop set
    (members minus reps) is tiny and broadcast; the corpus is never
    reshuffled."""
    from ..operators.similarity import lsh_neardup_pairs

    e = _E(spark, sf_dir)
    pairs = lsh_neardup_pairs(
        e, threshold=_COS_THRESH, n_planes=_N_PLANES, dim=_DIM
    )
    edges = pairs.select("id_a", "id_b")
    labels = connected_components(edges, src="id_a", dst="id_b")
    dropped = labels.filter(F.col("node") != F.col("lab")).select(
        F.col("node").alias("vec_id"), F.lit(True).alias("is_dup")
    )
    j = e.join(F.broadcast(dropped), "vec_id", "left")
    dup = F.col("is_dup").isNotNull()
    return j.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(dup, 0).otherwise(1)).cast("bigint").alias("n_kept"),
    )


@register("cosine_neardup_lsh", oracle=_NEARDUP_LSH_ORACLE, tags=("dedup-cosine", "lsh"))
def cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs: candidates restricted to shared
    sign-buckets (equi-join, one reused exchange), exact dot verification
    inside the bucket. This is the non-quadratic production form of
    embedding_cosine_neardup — Σ|bucket|² work, tunable recall via plane
    count; the oracle runs the identical bucket join in DuckDB."""
    from ..operators.similarity import lsh_neardup_pairs

    e = _E(spark, sf_dir)
    return lsh_neardup_pairs(
        e, threshold=_COS_THRESH, n_planes=_N_PLANES, dim=_DIM, label_col="label"
    )


# --------------------------------------------------------------------------
# A8 full: covariance matrix entries (FID Σ term) over the first 16 dims.
# --------------------------------------------------------------------------

_COV_DIMS = 16

# trunc-scaled-integer sums (see embedding_moments note: decimal casts of
# float32-derived doubles can tie on the rounding grid).
_COV_ORACLE = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
f AS (SELECT * FROM flat WHERE dim <= {_COV_DIMS}),
p AS (
  SELECT a.dim AS dim_i, b.dim AS dim_j, a.v AS x, b.v AS y
  FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.dim <= b.dim)
SELECT dim_i, dim_j, COUNT(*) AS n,
  (({fixed_sum_sql('x * y', 12)}
     - {fixed_sum_sql('x')} * {fixed_sum_sql('y')} / COUNT(*))
    / (COUNT(*) - 1)) AS cov
FROM p GROUP BY dim_i, dim_j
"""


@register("embedding_covariance", oracle=_COV_ORACLE, tags=("A8",))
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance entries (upper triangle, dims 1..16) from exact
    fixed-point sums — the FID Σ statistic (metrics.py:254-274) as a
    posexplode self-join + one aggregation. The full-matrix scale path is
    a mapInPandas partial Xᵀ X (partition-local numpy) + driver combine;
    this SQL form is the oracle-checkable kernel."""
    e = _E(spark, sf_dir)
    flat = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select("vec_id", (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("v"))
        .filter(F.col("dim") <= _COV_DIMS)
    )
    a = flat.select("vec_id", F.col("dim").alias("dim_i"), F.col("v").alias("x"))
    b = flat.select("vec_id", F.col("dim").alias("dim_j"), F.col("v").alias("y"))
    p = a.join(b, ["vec_id"]).filter(F.col("dim_i") <= F.col("dim_j"))
    n = F.count("*")
    x, y = F.col("x"), F.col("y")
    sxy, sx, sy = fixed_sum(x * y, 12), fixed_sum(x), fixed_sum(y)
    return p.groupBy("dim_i", "dim_j").agg(
        n.alias("n"),
        ((sxy - sx * sy / n) / (n - F.lit(1))).alias("cov"),
    )


_NORM_ORACLE = f"""
SELECT vec_id, {l2_norm_sql('embedding')} AS norm, label
FROM embeddings
"""


@register("embedding_norms", oracle=_NORM_ORACLE, tags=("similarity",))
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per vector (validates the cosine≡dot shortcut the ANN
    queries rely on)."""
    e = _E(spark, sf_dir)
    return e.select("vec_id", l2_norm(F.col("embedding")).alias("norm"), "label")


# --------------------------------------------------------------------------
# int8 quantization with per-dimension max-abs scales — the standard
# pre-ANN compression pass (4× smaller vectors, dot products in int
# arithmetic downstream). Quantized arrays are output verbatim so the
# hash check proves bit-identical rounding.
# --------------------------------------------------------------------------

_Q8_SCALES = f"""
sc AS (
  SELECT pos, greatest(max(abs(CAST(embedding[pos] AS DOUBLE))), 1e-12) AS s
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {_DIM} + 1)) AS pos) p
  GROUP BY pos),
sarr AS (SELECT list(s ORDER BY pos) AS scales FROM sc)
"""

_QUANT_ORACLE = f"""
WITH {_Q8_SCALES},
q AS (
  SELECT vec_id,
    list_transform(range(1, {_DIM} + 1),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0 / scales[i] + 0.5)
                AS INTEGER)) AS q_arr
  FROM embeddings CROSS JOIN sarr)
SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, q_arr[i] AS q
FROM q CROSS JOIN (SELECT unnest(range(1, {_DIM} + 1)) AS i) p
"""


@register("embedding_int8_quantize", oracle=_nonnull_vec_oracle(_QUANT_ORACLE), tags=("similarity", "M7"))
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dim max-abs int8 quantization: one posexplode pass computes the
    64 scales (partial-agg max, order-independent), collected into ONE
    broadcast row; the quantize itself is a map-side zip_with. floor(x+0.5)
    rounding (not round()) keeps tie behavior identical across engines.

    Output contract: exploded to one (vec_id, pos, q) row per element —
    scalar ints hash deterministically in the driver's canonicalizer
    (array<int> columns do not), and every element is still checked."""
    e = _valid_vecs(spark, sf_dir)
    ex = e.select(F.posexplode("embedding").alias("pos", "v"))
    scales = ex.groupBy("pos").agg(
        F.greatest(F.max(F.abs(F.col("v").cast("double"))), F.lit(1e-12)).alias("s")
    )
    sarr = scales.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x["s"]
        ).alias("scales")
    )
    quant = e.crossJoin(F.broadcast(sarr)).select(
        "vec_id",
        F.zip_with(
            "embedding",
            "scales",
            lambda v, s: F.floor(v.cast("double") * F.lit(127.0) / s + F.lit(0.5)).cast(
                "int"
            ),
        ).alias("q_arr"),
    )
    return quant.select(
        "vec_id", F.posexplode("q_arr").alias("pos", "q")
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), "q")


# --------------------------------------------------------------------------
# Seeded fixed-iteration k-means — the centroid-training step of
# IVF / SemDeDup-style curation, deterministic end to end.
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2


def _km_cte_prefix(k: int, iters: int, train_pred: str | None = None) -> str:
    """The WITH-chain through the final Lloyd assignment ``assign{iters}``
    (vec_id, embedding, cid, dist) — shared by the k-means rollup oracle
    and the trained-IVF search oracle.

    With ``train_pred`` (a SQL predicate over embeddings), init and every
    Lloyd iteration run only on the predicate's sample and an extra CTE
    ``assignfull`` holds the one full-corpus assignment against the final
    codebook ``cent{iters}`` — the SQL twin of
    ``kmeans_fixed_iters(train_vecs=...)``."""
    u = unit_rand_sql("vec_id", "km-init")
    sq = sqdist_sql("e.embedding", "c.cv")
    assign = (
        "SELECT vec_id, embedding, cid, dist FROM (\n"
        "    SELECT e.vec_id, e.embedding, c.cid, {sq} AS dist,\n"
        "           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn\n"
        "    FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1"
    )
    # Only valid (non-NULL) vectors are clusterable: a NULL seed
    # centroid gives every row a NULL distance to it, and the two
    # engines then disagree on rank 1 (Spark orders NULL dists FIRST,
    # DuckDB LAST) — found by the r9 non-finite sweep, which nullifies
    # corrupt vectors at load. The Spark twins filter isNotNull before
    # kmeans_fixed_iters.
    src = "kvecs" if train_pred is None else "train"
    sql = """WITH kvecs AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
"""
    if train_pred is not None:
        sql += f"""train AS (
  SELECT vec_id, embedding FROM kvecs WHERE {train_pred}),
"""
    sql += f"""init AS (
  SELECT vec_id AS cid, embedding AS cv FROM (
    SELECT vec_id, embedding FROM {src} ORDER BY {u}, vec_id LIMIT {k})),
assign0 AS ({assign.format(sq=sq, src=src, cents='init')}),
"""
    for i in range(1, iters + 1):
        sql += f"""cent{i} AS (
  SELECT cid, list(mv ORDER BY dim) AS cv FROM (
    SELECT cid, dim, {fixed_sum_sql('CAST(x AS DOUBLE)')} / COUNT(*) AS mv
    FROM (SELECT cid, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
          FROM assign{i - 1})
    GROUP BY cid, dim) GROUP BY cid),
assign{i} AS ({assign.format(sq=sq, src=src, cents=f'cent{i}')}),
"""
    if train_pred is not None:
        sql += f"""assignfull AS ({assign.format(sq=sq, src='embeddings', cents=f'cent{iters}')}),
"""
    return sql


def _km_oracle(k: int, iters: int) -> str:
    sql = _km_cte_prefix(k, iters)
    sql += f"""sizes AS (
  SELECT cid AS cluster_id, COUNT(*) AS n_members, {fixed_sum_sql('dist')} AS inertia
  FROM assign{iters} GROUP BY cid)
SELECT cluster_id, n_members, round(inertia, 6) AS inertia FROM sizes"""
    return sql


_KMEANS_ORACLE = _km_oracle(_KM_K, _KM_ITERS)


@register("kmeans_embedding_clusters", oracle=_KMEANS_ORACLE, tags=("similarity", "ivf"))
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 8-cluster, 2-iteration Lloyd k-means over the embedding
    table: cluster sizes and inertia after the final assignment. The
    distributed centroid-training primitive behind IVF cells and
    SemDeDup-style semantic curation, made oracle-checkable by seeded
    init (md5-uniform TakeOrdered), strict-fold distances, and
    trunc-scaled-integer mean/inertia sums (order-independent).

    Scale: each iteration broadcasts k·dim doubles and shuffles only the
    (cluster, dim) partial sums — vectors themselves never shuffle; the
    assignment window partitions by vec_id over exactly k rows (no skew
    possible)."""
    from ..operators.clusters import kmeans_fixed_iters

    # only valid vectors are clusterable (oracle twin: kvecs CTE)
    e = _valid_vecs(spark, sf_dir)
    assigned = kmeans_fixed_iters(e, k=_KM_K, iters=_KM_ITERS)
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.round(fixed_sum(F.col("dist")), 6).alias("inertia"),
    )


# --------------------------------------------------------------------------
# Semantic decontamination: flag training vectors whose embedding is
# near-identical to any benchmark vector — the embedding-space complement
# of the n-gram decontaminate_train.
# --------------------------------------------------------------------------

_DECON_MOD = 20  # vec_id % 20 == 0 -> the held-out benchmark set (5%)
_DECON_COS = 0.9

_SEM_DECON_ORACLE = f"""
WITH bench AS (
  SELECT vec_id AS bid, embedding AS bv FROM embeddings WHERE vec_id % {_DECON_MOD} = 0),
train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_DECON_MOD} <> 0),
scored AS (
  SELECT t.vec_id, MAX(round({cosine_sql('t.embedding', 'b.bv')}, 6)) AS max_cos
  FROM train t CROSS JOIN bench b
  GROUP BY t.vec_id)
SELECT vec_id, max_cos, (max_cos >= {_DECON_COS}) AS contaminated
FROM scored
"""


@register("semantic_decontaminate", oracle=_SEM_DECON_ORACLE, tags=("dataset-prep", "similarity"))
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space contamination scan: each training vector's max
    cosine against the benchmark set, flagged at ≥ 0.9 — catches
    paraphrased/reformatted eval leakage that exact n-gram
    decontamination (decontaminate_train) misses.

    Scale: a benchmark suite is constant-sized however big the corpus,
    so the scan is a broadcast nested-loop against the benchmark side —
    one narrow pass over training vectors, no shuffle of the corpus; the
    per-vector MAX folds map-side. The rounded cosine makes the
    max/threshold decision identical cross-engine."""
    e = _E(spark, sf_dir)
    bench = e.filter(F.col("vec_id") % _DECON_MOD == 0).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bv")
    )
    train = e.filter(F.col("vec_id") % _DECON_MOD != 0)
    from ..functions.vectors import cosine

    scored = (
        train.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("bv")), 6).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_cos"))
    )
    return scored.select(
        "vec_id", "max_cos", (F.col("max_cos") >= _DECON_COS).alias("contaminated")
    )


# --------------------------------------------------------------------------
# Top principal component by matrix-free power iteration — the dominant
# direction of the centered embedding cloud ("all-but-the-top", Mu &
# Viswanath 2018: removing it improves embedding isotropy). Three fixed
# iterations, every cross-engine sum trunc-scaled to BIGINT.
# --------------------------------------------------------------------------

_PC_ITERS = 3


def _pc_oracle(iters: int) -> str:
    sql = f"""WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
mu AS (
  SELECT dim, {fixed_sum_sql('x')} / COUNT(*) AS m
  FROM flat GROUP BY dim),
marr AS (SELECT list(m ORDER BY dim) AS marr FROM mu),
cen AS (
  SELECT vec_id,
         list_transform(list_zip(embedding, marr),
                        p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS cen
  FROM embeddings CROSS JOIN marr),
v0 AS (SELECT list_transform(range(1, {_DIM} + 1),
                             i -> 1.0 / sqrt(CAST({_DIM} AS DOUBLE))) AS cv),
"""
    for t in range(1, iters + 1):
        sql += f"""ci{t} AS (
  SELECT vec_id, cen, {dot_sql('cen', 'cv')} AS ci FROM cen CROSS JOIN v{t - 1}),
w{t} AS (
  SELECT dim, {fixed_sum_sql('ci * cval')} AS wv
  FROM (SELECT ci, generate_subscripts(cen, 1) AS dim, unnest(cen) AS cval
        FROM ci{t})
  GROUP BY dim),
n{t} AS (
  SELECT list(wv ORDER BY dim) AS w, {fixed_sum_sql('wv * wv')} AS norm2
  FROM w{t}),
v{t} AS (SELECT list_transform(w, t -> t / sqrt(norm2)) AS cv, norm2 FROM n{t}),
"""
    sql += f"""p AS (SELECT unnest(range(1, {_DIM} + 1)) AS i)
SELECT CAST(i - 1 AS BIGINT) AS pos,
       round(cv[i], 6) AS loading,
       round(sqrt(norm2), 6) AS eigenvalue
FROM v{iters} CROSS JOIN p
WHERE i <= len(cv)"""
    # the i <= len(cv) guard matches Spark's posexplode-of-the-vector:
    # an empty corpus has an empty loading vector and must yield ZERO
    # rows, not 64 all-NULL rows from the constant dimension range.
    return sql


_PC_ORACLE = _pc_oracle(_PC_ITERS)


@register("embedding_top_pc_power", oracle=_PC_ORACLE, tags=("similarity", "A8"))
def embedding_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the centered embedding cloud via
    3 matrix-free power iterations: v ← Σᵢ cᵢ·(xᵢ−μ) / ‖·‖ with
    cᵢ = (xᵢ−μ)·v. Emits (pos, loading, eigenvalue) — the eigenvalue is
    the scatter-matrix norm ‖Σ(x−μ)(x−μ)ᵀ v‖ after the last multiply.

    Determinism: the per-row dot cᵢ is the strict left fold shared with
    the ANN family; every cross-row sum (per-dim mean, per-dim w, the
    norm) goes through trunc-scaled BIGINT so partition order can't
    shift a bit; round(·,6) absorbs libm sqrt/division slop.

    Scale shape: the d-dim mean and each iteration are ONE aggregate
    over the vectors producing d rows — the Krylov trick that never
    materializes the d×d covariance. Vectors never shuffle (posexplode
    partial-aggregates map-side); each iteration's v re-broadcasts as a
    1-row crossJoin, so the whole 3-iteration pipeline is 4 narrow
    passes + 4 d-row shuffles regardless of corpus size. The same plan
    at 100 TB differs only in scan width."""
    from ..functions.vectors import dot

    e = _E(spark, sf_dir)

    flat = e.select("vec_id", F.posexplode("embedding").alias("dim", "xf")).select(
        "vec_id", "dim", F.col("xf").cast("double").alias("x")
    )
    mu = flat.groupBy("dim").agg((fixed_sum(F.col("x")) / F.count("*")).alias("m"))
    marr = mu.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]).alias(
            "marr"
        )
    )
    cen = e.crossJoin(F.broadcast(marr)).select(
        "vec_id",
        F.zip_with("embedding", "marr", lambda x, m: x.cast("double") - m).alias("cen"),
    )
    v = F.broadcast(
        spark.range(1).select(
            F.transform(
                F.sequence(F.lit(1), F.lit(_DIM)),
                lambda _: F.lit(1.0) / F.sqrt(F.lit(float(_DIM))),
            ).alias("cv")
        )
    )
    norm2_df = None
    for _ in range(_PC_ITERS):
        ci = cen.crossJoin(v).select("vec_id", "cen", dot(F.col("cen"), F.col("cv")).alias("ci"))
        w = (
            ci.select("ci", F.posexplode("cen").alias("dim", "cval"))
            .groupBy("dim")
            .agg(fixed_sum(F.col("ci") * F.col("cval")).alias("wv"))
        )
        n = w.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "wv"))), lambda s: s["wv"]
            ).alias("w"),
            fixed_sum(F.col("wv") * F.col("wv")).alias("norm2"),
        )
        norm2_df = n
        v = F.broadcast(
            n.select(
                F.transform("w", lambda t: t / F.sqrt(F.col("norm2"))).alias("cv"),
                "norm2",
            )
        )
    final = norm2_df.select(
        F.transform("w", lambda t: t / F.sqrt(F.col("norm2"))).alias("cv"), "norm2"
    )
    return final.select(F.posexplode("cv").alias("pos0", "loading"), "norm2").select(
        F.col("pos0").cast("bigint").alias("pos"),
        F.round("loading", 6).alias("loading"),
        F.round(F.sqrt("norm2"), 6).alias("eigenvalue"),
    )


# --------------------------------------------------------------------------
# Trained-codebook IVF: search within the nprobe=3 nearest cells of the
# k-means run above (the production IVF composition: train codebook →
# assign → multi-probe cell-local search), measured as recall@k against
# exact brute force.
# --------------------------------------------------------------------------

_KM_NPROBE = 3
# Lloyd training runs on a seeded md5 sample of the corpus — the 100 TB
# form (assignment stays full-corpus). 30% keeps ~150 training vectors
# even at the smallest fixture, comfortably above k=8.
_IVF_TRAIN_RATE = 0.3
_IVF_TRAIN_SALT = "ivf-train"


def _ivf_trained_oracle() -> str:
    sq = sqdist_sql("e.embedding", "c.cv")
    train_pred = f"{unit_rand_sql('vec_id', _IVF_TRAIN_SALT)} < {_IVF_TRAIN_RATE}"
    sql = _km_cte_prefix(_KM_K, _KM_ITERS, train_pred=train_pred)
    sql += f"""topk_c AS (SELECT vec_id AS neighbor_id, embedding AS cv, cid AS cell FROM assignfull),
topk_q AS (
  SELECT query_id, qv, cell FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent{_KM_ITERS} c
    WHERE e.vec_id < {_N_QUERIES}) WHERE rn <= {_KM_NPROBE}),
{_topk_sql('topk', key='cell')},
{_brute_sql('brute')}
SELECT 'ivf_trained' AS method, * FROM (
{_recall_sql('topk', 'brute')})"""
    return sql


_IVF_TRAINED_ORACLE = _ivf_trained_oracle()


@register("ann_ivf_trained_topk", oracle=_nonnull_vec_oracle(_IVF_TRAINED_ORACLE), tags=("similarity", "ivf"))
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over a SAMPLE-TRAINED codebook with multi-probe: Lloyd runs 2
    seeded iterations on a 30% md5-sampled training set, ONE full-corpus
    pass assigns every vector to its trained cell (the inverted file),
    each query searches its nprobe=3 nearest cells (ranked against the
    SAME codebook the assignment used), and the result is scored as
    recall@5 against exact brute force — the full production ANN
    composition (sample → train → assign → probe → recall acceptance)
    in one oracle-checked plan, versus ann_ivf_topk's untrained
    first-k-vectors codebook.

    Scale shape: training scans only the seeded sample per iteration
    (at 100 TB the sample is the only repeated read; the corpus is
    scanned once for the assignment) and shuffles only (cluster, dim)
    partial sums; probe ranking is a k-row broadcast per query;
    cell-local search is an equi-join on the cell id (a neighbor lives
    in exactly one cell, so multi-probe cannot duplicate candidate
    pairs); the brute-force side stays query-bounded — 10 broadcast
    rows against one corpus scan. nprobe trades search cost for recall
    linearly — the measured recall IS the acceptance number for that
    trade."""
    from pyspark.sql import Window

    from ..functions.determinism import unit_rand
    from ..functions.vectors import dot, sqdist
    from ..operators.clusters import kmeans_fixed_iters

    e = _valid_vecs(spark, sf_dir)
    train = e.filter(unit_rand(F.col("vec_id"), _IVF_TRAIN_SALT) < _IVF_TRAIN_RATE)
    assigned, cents = kmeans_fixed_iters(
        e, k=_KM_K, iters=_KM_ITERS, return_centroids=True, train_vecs=train
    )
    # the assignment carries the vector (it rides the argmin struct), so
    # the inverted file is a projection of the assignment: no corpus
    # re-join (one more scan + exchange of every embedding).
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("cluster_id").alias("cell"),
    )
    # each query's _KM_NPROBE nearest cells, ranked per query vector
    pw = Window.partitionBy("vec_id").orderBy(
        sqdist(F.col("embedding"), F.col("cv")), F.col("cid")
    )
    probe = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= _KM_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cid").alias("cell"),
        )
    )
    scored = (
        c.join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("score"))
    )
    topk = rank_topk(scored, _K).select("query_id", "neighbor_id")
    brute = _ann_brute_kernel(e).select("query_id", "neighbor_id")
    return _recall(topk, brute).select(F.lit("ivf_trained").alias("method"), "*")


# --------------------------------------------------------------------------
# Cosine-similarity histogram over hash-bucketed vector pairs: the
# threshold-selection table for semantic dedup — where does the corpus's
# similarity mass sit, and where does the near-dup tail start?
# --------------------------------------------------------------------------

_CPH_BUCKETS = 50
_CPH_BIN = 20  # bins of width 1/20 over [-1, 1]

def _cph_oracle() -> str:
    from ..functions.determinism import BUCKET_CLAMP, clamped_floor_sql

    # The bin index saturates at ±2^62 (clamped_floor, r10 extremes
    # battery → r11 fix): a finite ±3e38 float32 component makes the dot
    # product ~1e77 — a real bin position with no BIGINT — where the bare
    # cast raised in DuckDB while Spark's floor saturated silently.
    bin_sql = clamped_floor_sql(f"score * {_CPH_BIN}", -BUCKET_CLAMP, BUCKET_CLAMP)
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {hash_bucket_sql('vec_id', _CPH_BUCKETS, 'cph')} AS bkt
  FROM embeddings),
pairs AS (
  SELECT {dot_sql('a.embedding', 'b2.embedding')} AS score
  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id)
SELECT {bin_sql} AS bin,
  CAST({bin_sql} AS DOUBLE) / {_CPH_BIN} AS bin_lo,
  COUNT(*) AS n_pairs
FROM pairs
GROUP BY 1, 2
"""


_CPH_ORACLE = _cph_oracle()


@register("cosine_pair_histogram", oracle=_nonnull_vec_oracle(_CPH_ORACLE), tags=("similarity", "tuning"))
def cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram (bins of 0.05) of cosine similarity over a deterministic
    hash-bucketed sample of vector pairs — the corpus-level similarity
    profile that picks the semantic-dedup threshold before a full run.

    Scale shape: vectors land in md5 buckets and only WITHIN-bucket pairs
    are scored — an equi-join, never the all-pairs cross join. Bucket
    count scales with corpus size to hold per-bucket population (and so
    per-bucket pair count) constant; the sampled-pair total is then
    linear in the corpus, and the md5 assignment makes the sample
    reproducible across engines and runs. Unit-norm corpus ⇒ cosine is a
    single fold dot product inside codegen. Bin indexes saturate at
    ±2^62 (clamped_floor, r11): domain-edge components push the dot
    product past any BIGINT bin, which must not fork the engines."""
    from ..functions.determinism import BUCKET_CLAMP, clamped_floor, hash_bucket
    from ..functions.vectors import dot

    e = _valid_vecs(spark, sf_dir).select(
        "vec_id", "embedding", hash_bucket(F.col("vec_id"), _CPH_BUCKETS, "cph").alias("bkt")
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bkt")
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bkt")
    pairs = a.join(b, ["bkt"]).filter(F.col("id_a") < F.col("id_b"))
    score = dot(F.col("va"), F.col("vb"))
    binned = pairs.select(
        clamped_floor(score * _CPH_BIN, -BUCKET_CLAMP, BUCKET_CLAMP).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").alias("n_pairs")).select(
        "bin",
        (F.col("bin").cast("double") / F.lit(_CPH_BIN)).alias("bin_lo"),
        "n_pairs",
    )


# --------------------------------------------------------------------------
# Dimension-truncation recall (Matryoshka-style): how much ANN quality
# survives scoring on a prefix of the embedding — the cost/recall table
# for running retrieval at reduced dimension.
# --------------------------------------------------------------------------

_TRUNC_DIMS = (8, 16, 32)


def _trunc_oracle() -> str:
    def head(v: str, d: int) -> str:
        return f"list_slice({v}, 1, {d})"

    passes = ",\n".join(
        _brute_sql(f"trunc{d}", score=cosine_sql(head("q.qv", d), head("c.cv", d)))
        for d in _TRUNC_DIMS
    )
    union = "\n  UNION ALL\n".join(
        f"  SELECT {d} AS dim, query_id, neighbor_id FROM trunc{d}" for d in _TRUNC_DIMS
    )
    return f"""
WITH {_brute_sql('truth')},
{passes},
trunc AS (
{union})
{_recall_sql('trunc', 'truth', 'dim')}
"""


@register("ann_dim_truncation_recall", oracle=_nonnull_vec_oracle(_trunc_oracle()), tags=("similarity", "tuning"))
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force retrieval scored on the first 8/16/32
    embedding dimensions against the full-dimension truth — the
    Matryoshka-style cost/recall table that decides how much of each
    vector a 100 TB retrieval pass actually has to read.

    Scale shape: each truncated pass is the same broadcast-queries ×
    corpus-scan plan as ann_brute_topk (run on a sample at scale; the
    IVF/LSH paths inherit the chosen dimension); truncated vectors are
    re-normalized inside the cosine, and the per-query rank windows are
    query-partitioned (bounded). The intersection with the truth set is
    a broadcast join on (query, neighbor)."""
    from ..functions.vectors import cosine, dot

    e = _valid_vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    # base feeds the truth pass plus one pass per truncation dim
    base = pin(
        c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    )

    def topk(score) -> DataFrame:
        scored = base.select("query_id", "neighbor_id", score.alias("score"))
        return rank_topk(scored, _K).select("query_id", "neighbor_id")

    truth = topk(dot(F.col("qv"), F.col("cv")))
    out = None
    for d in _TRUNC_DIMS:
        tr = topk(cosine(F.slice("qv", 1, d), F.slice("cv", 1, d))).select(
            F.lit(d).alias("dim"), "query_id", "neighbor_id"
        )
        out = tr if out is None else out.unionByName(tr)
    return _recall(out, truth, "dim")


# --------------------------------------------------------------------------
# PageRank centrality over the embedding-similarity graph: the most
# central docs in a near-dup neighborhood are the boilerplate/template
# cores — rank them before deciding survivors.
# --------------------------------------------------------------------------

_PR_TAU = 0.1
_PR_ITERS = 3
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PR_ITERS + 1):
        iters.append(f"""c{k} AS (
  SELECT e.dst,
    SUM({fixed_term_sql('p.r / d.deg')}) AS s
  FROM edges e
  JOIN {prev} p ON e.src = p.vec_id
  JOIN deg d ON e.src = d.vec_id
  GROUP BY e.dst),
r{k} AS (
  SELECT v.vec_id,
    {1 - _PR_DAMP} + {_PR_DAMP} * {fixed_unscale_sql('COALESCE(c.s, 0)')} AS r
  FROM verts v LEFT JOIN c{k} c ON v.vec_id = c.dst)""")
        prev = f"r{k}"
    body = ",\n".join(iters)
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {hash_bucket_sql('vec_id', _CPH_BUCKETS, 'cph')} AS bkt
  FROM embeddings),
e0 AS (
  SELECT a.vec_id AS src, b2.vec_id AS dst
  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
  WHERE {dot_sql('a.embedding', 'b2.embedding')} >= {_PR_TAU}),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src AS vec_id, COUNT(*) AS deg FROM edges GROUP BY src),
verts AS (SELECT vec_id FROM embeddings),
r0 AS (SELECT vec_id, 1.0::DOUBLE AS r FROM verts),
{body}
SELECT vec_id, round(r, 6) AS pagerank FROM {prev}
"""


@register("similarity_pagerank", oracle=_pagerank_oracle(), tags=("similarity", "graph"))
def similarity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic PageRank iterations over the similarity graph
    (edges: same-hash-bucket vector pairs with dot ≥ 0.1, undirected) —
    high-rank vectors sit at the center of dense near-dup neighborhoods,
    the template cores a curation pass should inspect first. Complements
    connected components (membership) with centrality (importance).

    Scale shape: the edge list is the bucketed similarity join (linear,
    never all-pairs); each iteration is one edge⨝rank equi-join plus a
    groupBy(dst) — O(iters) shuffles of the edge list, the canonical
    Pregel-on-DataFrames pattern. Per-node contribution sums are
    trunc-scaled BIGINTs, so the float accumulation is order-free and
    the 3-iteration unroll is bit-identical in any engine or
    partitioning."""
    from ..functions.determinism import hash_bucket
    from ..functions.vectors import dot

    e = _E(spark, sf_dir).select(
        "vec_id", "embedding", hash_bucket(F.col("vec_id"), _CPH_BUCKETS, "cph").alias("bkt")
    )
    a = e.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"), "bkt")
    b = e.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"), "bkt")
    e0 = (
        a.join(b, ["bkt"])
        .filter(F.col("src") < F.col("dst"))
        .filter(dot(F.col("va"), F.col("vb")) >= _PR_TAU)
        .select("src", "dst")
    )
    edges = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    verts = _E(spark, sf_dir).select("vec_id")
    ranks = verts.withColumn("r", F.lit(1.0))
    # No pin here: a localCheckpoint strips optimizer statistics (the
    # checkpointed side then defaults to huge-size estimates and loses
    # auto-broadcast), and the three identical edge-join subtrees dedupe
    # at runtime via ReusedExchange anyway — measured 3x slower WITH the
    # pin than without.
    ej = edges.join(deg, "src")
    for _ in range(_PR_ITERS):
        contrib = (
            ej.join(ranks.withColumnRenamed("vec_id", "src"), "src")
            .select(
                "dst",
                fixed_term(F.col("r") / F.col("deg")).alias("sc"),
            )
            .groupBy("dst")
            .agg(F.sum("sc").alias("s"))
        )
        # ranks is referenced once per iteration (linear lineage growth
        # over a FIXED 3 iterations) — pinning it would add one
        # materialization job per round for no re-computation saved;
        # only the multi-referenced edge list above needs the pin.
        ranks = verts.join(contrib, verts.vec_id == contrib.dst, "left").select(
            "vec_id",
            (
                F.lit(1 - _PR_DAMP)
                + F.lit(_PR_DAMP)
                * fixed_unscale(F.coalesce(F.col("s"), F.lit(0)))
            ).alias("r"),
        )
    return ranks.select("vec_id", F.round("r", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# Module tail: apply the valid-vector rule to every oracle registered
# above (the DuckDB twin of loading through `_E`). Self-maintaining —
# any new query in this module gets the rewrite automatically.
# --------------------------------------------------------------------------

def _apply_finite_vec_rule() -> None:
    from dataclasses import replace as _dc_replace

    from . import REGISTRY

    for _name, _spec in list(REGISTRY.items()):
        if _spec.build.__module__ == __name__ and _spec.oracle:
            _rewritten = _finite_vec_oracle(_spec.oracle)
            if _rewritten != _spec.oracle:
                REGISTRY[_name] = _dc_replace(_spec, oracle=_rewritten)


_apply_finite_vec_rule()
