"""NULL-laced dimension-table battery: every catalog query that reads
customer, supplier, part, or nation, run against its DuckDB oracle on a
fixture where the dimension tables carry deterministic NULL stripes over
join keys, group keys, measures, and names — the dimension-side half of
the dirty-warehouse shape (the round-9 fact sweep NULLed the fact-side
join keys; this one NULLs the dimension side: late-arriving or failed
dimension enrichment is at least as common at lake scale).

Stripe moduli are coprime so single- and multi-column-NULL rows occur:

customer (row id = c_custkey):   c_nationkey %7, c_acctbal %11,
                                 c_mktsegment %13, c_name %17,
                                 c_custkey %19 (the PK itself — a
                                 NULL-key dim row must drop out of every
                                 equi-join identically in both engines)
supplier (row id = s_suppkey):   s_nationkey %3, s_acctbal %4, s_name %5
part     (row id = p_partkey):   p_brand %7, p_type %11, p_size %13,
                                 p_retailprice %17, p_name %19
nation   (row id = n_nationkey): n_regionkey %5, n_name %7
region   (row id = r_regionkey): r_regionkey %2 (the PK/join key — 3 of
                                 the 5 regions lose their key entirely,
                                 so the q5/q8-style region→nation→fact
                                 join chains thin out hard), r_name %3

NULL dim join keys (c_custkey, c_nationkey, s_nationkey, n_regionkey)
exercise inner/left-join drop semantics from the build side; NULL group
columns (c_mktsegment, p_brand, p_type, n_name) exercise NULL groups in
aggregation, pivot, cube, and set ops; NULL measures (c_acctbal,
p_retailprice, p_size) exercise aggregate NULL-skipping; NULL names
exercise string functions and LIKE/contains three-valued logic.

Divergences found by this sweep (round 9) are documented in
DIVERGENCES.md §"NULL-laced dimension tables" and fixed engine-aligned.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


def _members():
    """Every registered query that reads a dimension table — derived
    from the registry at collection time (build source + oracle SQL, see
    tests/sweep_membership.py) so the sweep cannot silently rot."""
    from tests.sweep_membership import sweep_members

    return sweep_members(("customer", "supplier", "part", "nation", "region"), floor=44)


null_dims_dir = striped_fixture("nulldims(customer+supplier+part+nation+region)")


@pytest.mark.parametrize("name", _members())
def test_null_laced_dims_match_oracle(spark, null_dims_dir, name):
    assert oracle_verdict(spark, null_dims_dir, name) is not False
