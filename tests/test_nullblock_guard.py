"""NULL-BLOCK documents must never pair in the block-keyed collapse
queries: the base plans (and the DuckDB oracles) join postings on the
block column with an equi-join, so a NULL lang / NULL source doc can
never pair with anyone — but groupBy in collapse_identical_sets keys
NULL blocks together, and without a guard two NULL-block docs with
IDENTICAL sets emit a phantom within-group pair (r14 NULL-metadata
battery find on token_overlap_pairs, +12 rows at sf0.001; the same
class was then proven latent in the lang-blocked jaccard/substring
family on a crafted fixture — the standing NULL-metadata stripes just
never gave two same-text docs a NULL block simultaneously).

The fixture plants six IDENTICAL-text documents over the sf0.001
corpus: ids 0,1 with NULL lang, ids 2,3 with NULL source, ids 4,5 with
matching real lang+source (the positive control — the guard must drop
NULL blocks only, not identical sets in a real block)."""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

# every query whose plan blocks pairs on lang/source AND runs (or ran)
# the identical-set collapse; ngram_containment_pairs is collapse-free
# today but joins on lang — kept as a class guard.
_QUERIES = (
    "ngram_jaccard_pairs",
    "ngram_jaccard_pruned",
    "substring_dup_pairs",
    "substring_max_span",
    "token_overlap_pairs",
    "ngram_containment_pairs",
)


nullblock_sf_dir = striped_fixture("nullblock(documents)")


@pytest.mark.parametrize("name", _QUERIES)
def test_nullblock_docs_match_oracle(spark, nullblock_sf_dir, name):
    assert oracle_verdict(spark, nullblock_sf_dir, name) is True


def test_nullblock_never_pairs_but_real_block_does(spark, nullblock_sf_dir):
    """The guard drops NULL blocks only: the identical-text pair (4,5)
    in a real (lang, source) still pairs everywhere; the NULL-lang pair
    (0,1) appears in no lang-blocked output and the NULL-source pair
    (2,3) in no source-blocked output."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.plans import load_all

    registry = load_all()

    def pairs_of(name):
        out = registry[name].build(spark, nullblock_sf_dir)
        return {(r.id_a, r.id_b) for r in out.select("id_a", "id_b").collect()}

    for name in ("ngram_jaccard_pairs", "substring_dup_pairs", "substring_max_span"):
        p = pairs_of(name)
        assert (4, 5) in p, f"{name}: real-block identical pair lost"
        assert (0, 1) not in p, f"{name}: phantom NULL-lang pair"
    p = pairs_of("token_overlap_pairs")
    assert (4, 5) in p
    assert (2, 3) not in p, "token_overlap_pairs: phantom NULL-source pair"
