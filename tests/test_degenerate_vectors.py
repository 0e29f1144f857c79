"""Degenerate-vector adversarial battery: vectors that are present and
NULL-free but geometrically or structurally hostile, swept
engine-vs-oracle over the whole embeddings-reading family (FIXTURES.md
§C discipline — membership shared with tests/test_embeddings_adversarial).

The NULL battery (r9) covered absent vectors and NULL components; the
non-finite sweep covered NaN/±Inf components. This battery covers the
remaining hostile class — every value finite and non-NULL, but:

- **zero vector** (vec_id %17) — norm 0, so cosine denominators are
  0·|x| = 0: engines may disagree NaN vs Inf vs NULL on the 0/0, and a
  zero vector must not outrank real neighbors in any ANN list;
- **empty array []** (vec_id %13) — length 0, not NULL: folds over no
  elements (sum() of nothing) differ from folds over NULL;
- **ragged SHORT** (vec_id %19, 32 of 64 dims) and **ragged LONG**
  (vec_id %23, 96 dims) — dimension mismatch inside dot/sqdist kernels:
  Spark's zip_with pads the shorter side with NULL while a
  position-indexed SQL join simply has no row, so a latent kernel
  asymmetry only a ragged fixture can reach;
- **underflow-tiny** (vec_id %29, all components 1e-30, stored float32)
  — norm² = 64e-60 underflows; float32→float64 promotion points differ
  between engines.

A 100 TB embedding pipeline ingests exactly these (a failed encoder
emits zeros; schema drift ships truncated vectors; fp16→fp32 exports
denormalize), so 'reject at load' must itself be a pinned, twinned
rule — not an engine accident.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tests.test_embeddings_adversarial import _members
from tools.check_oracle import oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


degenerate_sf_dir = striped_fixture("degenerate(embeddings)")


@pytest.mark.parametrize("name", _members())
def test_degenerate_vectors_match_oracle(spark, degenerate_sf_dir, name):
    assert oracle_verdict(spark, degenerate_sf_dir, name) is not False


def test_fixture_has_all_five_degeneracies(degenerate_sf_dir):
    import duckdb

    con = duckdb.connect()
    n_zero, n_empty, n_short, n_long, n_tiny = con.execute(
        f"""SELECT
              count(*) FILTER (len(embedding) = 64 AND NOT list_has_any(
                  list_transform(embedding, x -> x <> 0), [true])),
              count(*) FILTER (len(embedding) = 0),
              count(*) FILTER (len(embedding) = 32),
              count(*) FILTER (len(embedding) = 96),
              count(*) FILTER (len(embedding) = 64 AND embedding[1] = CAST(1e-30 AS FLOAT))
            FROM read_parquet('{degenerate_sf_dir}/embeddings.parquet')"""
    ).fetchone()
    con.close()
    assert min(n_zero, n_empty, n_short, n_long, n_tiny) > 0, (
        n_zero,
        n_empty,
        n_short,
        n_long,
        n_tiny,
    )
