"""Empty-corpus robustness: a 100 TB pipeline routinely produces stages
whose input filter matches nothing, and the engine must return the same
empty/zero answers as the oracle instead of crashing or fabricating.

The round-7 full-catalog sweep against a fixture with ZERO-row
documents and embeddings tables found five divergences, all fixed and
pinned here:

- ann_ivf_trained_topk CRASHED (ANSI divide-by-zero on recall with
  n_true=0; now try_divide → NULL like DuckDB's x/0);
- cluster_aware_split_leakage / lsh_band_sweep reported NULL pair
  counts where the oracle's COUNT semantics give 0;
- lsh_param_chooser's chosen flag went NULL through the NULL count;
- embedding_top_pc_power emitted 0 rows on Spark but 64 all-NULL rows
  from the oracle's constant dimension range (oracle now bounds the
  range by the computed vector's length).
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

_QUERIES = (
    "ann_ivf_trained_topk",
    "cluster_aware_split_leakage",
    "embedding_top_pc_power",
    "lsh_band_sweep",
    "lsh_param_chooser",
    # representatives of the families that were already empty-safe, so a
    # refactor can't silently regress them to the NULL/crash behaviors:
    "exact_dedup_docs",
    "minhash_lsh_candidates",
    "kmeans_embedding_clusters",
    "doc_token_stats",
)


empty_sf_dir = striped_fixture("empty(documents+embeddings)")


@pytest.mark.parametrize("name", _QUERIES)
def test_empty_corpus_matches_oracle(spark, empty_sf_dir, name):
    assert oracle_verdict(spark, empty_sf_dir, name) is True
