"""Embeddings-table adversarial battery: every catalog query that reads
the embeddings table, run against its DuckDB oracle on (a) a NULL-laced
fixture (embedding NULL on the vec_id %17 stripe, one NULL component on
%19 — nullified at load by the valid-vector rule, label NULL on %13) and
(b) an empty embeddings table with the schema preserved.

Third input family to get the sweep (documents r7, events r9a): the
round-9 run found EIGHT divergences, two root causes, all fixed and held
here under regression:

1. **The DuckDB fold helpers returned 0.0 for NULL arrays** where
   Spark's ``F.aggregate`` returns NULL: ``list_prepend(0.0, NULL)``
   yields ``[0.0]`` so ``list_reduce`` folds to 0.0. Every ``*_sql``
   helper in functions/vectors.py (dot/mae/mse/sqdist, and l2_norm/
   cosine through them) is now NULL-in → NULL-out via a CASE guard —
   visible directly in ``embedding_norms`` (norm ∅ vs 0.0) and in every
   ANN ranking that scored a NULL vector.
2. **NULL vectors entered ANN search/quantize/pair stages** with
   engine-arbitrary results: a NULL query vector "found" rank-1..k
   neighbors with NULL scores in Spark while DuckDB ranked its 0.0-fold
   scores; the int8 quantizer emitted 64 phantom NULL rows per NULL
   vector in DuckDB (dim scaffold cross join) and none in Spark
   (posexplode); histogram bins shifted. A NULL embedding is not a
   searchable vector: the ANN family, the quantizer, and the pair
   histogram now filter it on BOTH sides (engine ``isNotNull`` +
   ``_nonnull_vec_oracle`` rewriting the oracle onto a ``vecs`` CTE).

Row-preserving projections (``embedding_norms``, moments, covariance,
split means, pagerank ranks) intentionally keep NULL-vector rows — there
the SQL-faithful answer is a NULL metric, and both engines agree once
fix #1 is in.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture, sweep_members
from tools.check_oracle import oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


def _members():
    """Every registered query that reads embeddings — build-source grep
    plus oracle-SQL table references (catches builders composed behind
    helpers, e.g. ann_recall_at_k)."""
    return sweep_members(("embeddings",), extra_src_markers=("_E(spark",), floor=22)


nulls_sf_dir = striped_fixture("nullvec(embeddings)")
empty_sf_dir = striped_fixture("empty(embeddings)")


@pytest.mark.parametrize("name", _members())
def test_null_laced_embeddings_match_oracle(spark, nulls_sf_dir, name):
    assert oracle_verdict(spark, nulls_sf_dir, name) is not False


@pytest.mark.parametrize("name", _members())
def test_empty_embeddings_match_oracle(spark, empty_sf_dir, name):
    assert oracle_verdict(spark, empty_sf_dir, name) is not False


def test_ann_excludes_null_vectors(spark, nulls_sf_dir):
    """No NULL-vector id (the %17 stripe) nor NULL-component id (the %19
    stripe — nullified at load by the valid-vector rule) may appear as
    query or neighbor, and every returned score is non-NULL."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.plans import load_all

    reg = load_all()
    for q in ("ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk"):
        out = reg[q].build(spark, nulls_sf_dir)
        assert (
            out.filter(
                (F.col("query_id") % 17 == 0)
                | (F.col("neighbor_id") % 17 == 0)
                | (F.col("query_id") % 19 == 0)
                | (F.col("neighbor_id") % 19 == 0)
            ).count()
            == 0
        ), q
        assert out.filter(F.col("score").isNull()).count() == 0, q


def test_norms_keep_null_vector_rows_with_null_norm(spark, nulls_sf_dir):
    """Row-preserving projections keep the NULL-vector rows — the metric
    is NULL, the row is not dropped (both engines agree post-fix)."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.plans import load_all

    out = load_all()["embedding_norms"].build(spark, nulls_sf_dir)
    assert out.count() == 500
    nulls = out.filter((F.col("vec_id") % 17 == 0) | (F.col("vec_id") % 19 == 0))
    assert nulls.count() > 0
    assert nulls.filter(F.col("norm").isNotNull()).count() == 0
