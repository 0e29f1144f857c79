"""NULL-laced documents-metadata battery: every catalog query that
reads the documents table, run against its DuckDB oracle on a fixture
where the metadata columns carry deterministic NULL stripes — `lang`,
`source`, and `n_chars` — while `text` is left intact (the round-7
NULL-text sweep covers text, and keeping it intact keeps the
generator-twin HTML oracles valid: they predict output from the text
contract, not from metadata).

This is the missing third axis of hostile documents input: r7 NULLed
the payload, the empty-corpus sweep removed all rows, but a document
whose language-ID or source attribution failed upstream (NULL lang /
NULL source) — or whose length field was dropped by a schema migration
(NULL n_chars) — has never been swept. Lang/source are GROUP BY and
window-partition keys across the docs/dataset families (per-lang
sampling, source mixtures, drift-by-source, domain quotas), exactly the
NULL-group / NULL-partition class that found six real divergences on
the fact tables.

Stripes on doc_id (coprime): lang %7, source %11, n_chars %13.

Divergences found by this sweep (round 9) are documented in
DIVERGENCES.md §"NULL-laced documents metadata" and fixed
engine-aligned.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


def _members():
    """Every registered query that reads documents — derived from the
    registry at collection time (build source + oracle SQL, see
    tests/sweep_membership.py) so the sweep cannot silently rot."""
    from tests.sweep_membership import sweep_members

    return sweep_members(("documents",), floor=67)


null_meta_dir = striped_fixture("nullmeta(documents)")


@pytest.mark.parametrize("name", _members())
def test_null_laced_doc_metadata_match_oracle(spark, null_meta_dir, name):
    assert oracle_verdict(spark, null_meta_dir, name) is not False
