"""Cross-engine parity under duplicate event timestamps: every window
ordered by a non-unique key is nondeterministic across engines, so the
events battery's claim that all orderings tie-break deterministically
(event_id, integer µs) needs hostile evidence, not just clean-fixture
greens. The round-7 full-catalog sweep against a fixture where ~25% of
events share their (user_id, ts) with another event of a DIFFERENT
type/value: 190/190 hash-match. This test pins the most order-sensitive
event queries against their oracles on that fixture.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

_QUERIES = (
    "stateful_dedup_events",
    "event_transition_matrix",
    "burst_detection",
    "dwell_time_by_type",
    "funnel_conversion_ordered",
    "top_event_trigrams",
)


ts_collision_sf_dir = striped_fixture("ts-collision(events)")


@pytest.mark.parametrize("name", _QUERIES)
def test_ts_collisions_match_oracle(spark, ts_collision_sf_dir, name):
    assert oracle_verdict(spark, ts_collision_sf_dir, name) is True
