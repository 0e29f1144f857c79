"""NULL-text documents must never pair in the collapse-based similarity
queries: a NULL shingle set fingerprints into the same group as the
empty-string encoding, so without the size()>0 guard two NULL-text docs
emit a within-group jac=1.0 pair that the DuckDB oracle's NULL jaccard
(0/0) drops — a silent hash-gate divergence (round-6 advice).

Whitespace-only docs are the agreeing case: both engines give them the
[''] singleton shingle set and pair them at jac=1.0, so the guard must
NOT drop those. This test runs the three affected catalog queries
(jaccard_prefix_filter_join, minhash_lsh_candidates, lsh_band_sweep)
against their oracles on a fixture with two NULL-text and two
whitespace-only documents planted over the sf0.001 corpus.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

# The full-catalog adversarial sweep (round 7) found five divergences of
# this class; these are the fixed ones, kept under regression. NOT
# listed: html_selector_extract — its oracle is a generator-twin that
# predicts the DOM-extraction output arithmetically from doc_id, so it
# is only valid when `text` matches the generator contract (documented
# in DIVERGENCES.md); the Spark side's all-NULL output on NULL html is
# the faithful parser behavior.
_QUERIES = (
    "jaccard_prefix_filter_join",
    "minhash_lsh_candidates",
    "lsh_band_sweep",
    "doc_fingerprints",
    "dup_rate_estimate",
    # r14 (ADVICE medium + same-class audit): the inverted-index jaccard
    # pair queries route through operators.neardup.jaccard_pairs_inverted,
    # whose collapse path emitted phantom within-group jac=1.0 pairs for
    # NULL-text docs (NULL shingle set → empty-encoding fingerprint);
    # incremental_dedup_survivors collapsed all-NULL signatures into one
    # group, silently dropping NULL-text docs the band rule keeps. Both
    # kernels now exempt NULL sets/signatures; these rows pin the fix
    # against the oracle on the NULL-text fixture.
    "ngram_jaccard_pairs",
    "ngram_jaccard_pruned",
    "incremental_dedup_survivors",
)


nulltext_sf_dir = striped_fixture("nulltext(documents.text)")


@pytest.mark.parametrize("name", _QUERIES)
def test_nulltext_docs_match_oracle(spark, nulltext_sf_dir, name):
    assert oracle_verdict(spark, nulltext_sf_dir, name) is True


def test_whitespace_docs_still_pair(spark, nulltext_sf_dir):
    """The guard must drop NULL sets only: the two whitespace-only docs
    (ids 2 and 3, identical [''] shingle sets) still pair at jac=1.0,
    and no NULL-text doc (ids 0 and 1) appears in any pair."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.plans import load_all

    out = load_all()["jaccard_prefix_filter_join"].build(spark, nulltext_sf_dir)
    ws = out.filter((F.col("id_a") == 2) & (F.col("id_b") == 3)).collect()
    assert len(ws) == 1 and ws[0].jac == 1.0
    assert out.filter(F.col("id_a").isin(0, 1) | F.col("id_b").isin(0, 1)).count() == 0
