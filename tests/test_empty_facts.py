"""Empty-fact-table battery: every catalog query that reads lineitem or
orders, run against its DuckDB oracle on a fixture where BOTH fact
tables are empty (schemas preserved, dimensions intact) — the
"partition pruned everything" / "date filter matched nothing" shape a
100 TB warehouse query hits routinely.

Completes the empty-input coverage across all input families
(documents/embeddings: tests/test_empty_corpus.py, r7; events:
tests/test_events_adversarial.py, r9). The round-9 sweep found two
divergences, one root cause, fixed and held here:

- ``cube_segment_status`` and ``grouping_sets_order_stats`` — SQL CUBE /
  GROUPING SETS always evaluate the ``()`` grouping set as a global
  aggregate, so an empty input still yields one grand-total row
  (COUNT 0, SUM NULL); Spark's ``cube``/``groupingSets`` emit zero rows.
  Both queries now union a literal zero-row and re-merge the
  ALREADY-AGGREGATED output by key (additive counts / NULL-skipping
  sums are exact), so the fix costs one |groups|-row exchange, never a
  second corpus scan.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture, sweep_members
from tools.check_oracle import oracle_verdict


def _members():
    return sweep_members(("lineitem", "orders"), floor=45)


empty_facts_dir = striped_fixture("empty(lineitem+orders)")


@pytest.mark.parametrize("name", _members())
def test_empty_fact_tables_match_oracle(spark, empty_facts_dir, name):
    assert oracle_verdict(spark, empty_facts_dir, name) is not False


def test_cube_grand_total_row_on_empty_input(spark, empty_facts_dir):
    """The () grouping set survives an empty join: exactly the grand-total
    row, zero count, NULL sum."""
    from syntheticdata_pipeline__spark.plans import load_all

    reg = load_all()
    cube = reg["cube_segment_status"].build(spark, empty_facts_dir).collect()
    assert [(r.segment, r.status, r.n) for r in cube] == [("ALL", "ALL", 0)]
    gs = reg["grouping_sets_order_stats"].build(spark, empty_facts_dir).collect()
    assert [(r.seg, r.status, r.n_orders, r.total_price) for r in gs] == [
        ("ALL", "ALL", 0, None)
    ]
