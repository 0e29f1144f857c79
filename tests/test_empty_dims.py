"""Empty-dimension-table battery: every catalog query that reads
customer, supplier, part, or nation, run against its DuckDB oracle on a
fixture where ALL FOUR dimension tables are empty (schemas preserved,
facts intact) — the "dimension load hasn't landed yet" shape a lake
pipeline hits when enrichment runs before the dim snapshot, and the
build side of every broadcast join becomes zero rows.

Completes the empty-input matrix across input families: documents /
embeddings (tests/test_empty_corpus.py, r7; test_embeddings_adversarial,
r9), events (test_events_adversarial, r9), facts
(test_empty_facts, r9), and now dimensions. The member list is derived
from the registry at collection time (same self-maintenance, same
quoted-name matching that avoids the `"part"`-in-`repartition` trap).
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture, sweep_members
from tools.check_oracle import oracle_verdict


def _members():
    return sweep_members(("customer", "supplier", "part", "nation"), floor=44)


empty_dims_dir = striped_fixture("empty(customer+supplier+part+nation)")


@pytest.mark.parametrize("name", _members())
def test_empty_dim_tables_match_oracle(spark, empty_dims_dir, name):
    assert oracle_verdict(spark, empty_dims_dir, name) is not False
