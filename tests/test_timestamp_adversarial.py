"""Hostile-timestamp adversarial battery: every catalog query that reads
the events table, run against its DuckDB oracle on a fixture whose ``ts``
column is rewritten with the four timestamp hostilities the NULL/empty
sweeps (tests/test_events_adversarial.py) never exercised:

- **NULL ts** (stripe ``event_id % 7``) — ORDER BY ts inside window
  specs is where Spark (NULLS FIRST on ASC) and DuckDB (NULLS LAST on
  ASC) disagree by default; every lag/lead/rows-between query must pin
  an explicit rule.
- **pre-epoch ts** (stripe ``% 11``; July 1969, µs-laden, spread over
  ~97 days) — negative epoch values break any bucket arithmetic that
  truncates toward zero instead of flooring (``CAST(epoch/width AS
  BIGINT)`` vs floor division), and any code that round-trips through
  unsigned epoch seconds.
- **far-future ts** (stripe ``% 13``; year 2342, past the
  datetime64[ns] ceiling of 2262-04-11) — poisons any engine path that
  funnels timestamps through an Arrow→pandas ns conversion
  (applyInPandas / toPandas); Spark's native µs domain and DuckDB's µs
  domain both hold it fine.
- **one shared duplicate instant** (stripe ``% 5``; 2024-01-15 12:00)
  — ties in as-of joins, zero interarrival deltas, and a hot bucket for
  every tumbling/sliding window.

Stripe moduli are coprime with the NULL-sweep's (17/13/19/23 there hit
user_id/value/event_type/props), so combined hostile rows occur; the
CASE arms are ordered NULL > pre-epoch > far-future > duplicate, first
match wins.

Reference anchor: the reference's telemetry loop timestamps every item
with wall-clock ``time.time()`` (any_scraper.py:85-116) — clock skew,
resumed runs with stale checkpoints, and duplicate stamps from
sub-second bursts are all real inputs there, not synthetic paranoia.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

# Same derivation as the events NULL sweep: every registered query that
# reads the events table (see test_member_list_is_current).
from tests.test_events_adversarial import EVENTS_QUERIES

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


hostile_ts_dir = striped_fixture("hostile-ts(events.ts)")


@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_hostile_ts_events_match_oracle(spark, hostile_ts_dir, name):
    assert oracle_verdict(spark, hostile_ts_dir, name) is not False


def test_member_list_is_current():
    """Reuses the events sweep's membership; if that list rots, its own
    currency test fails — this one pins that THIS battery shares it."""
    from tests.sweep_membership import sweep_members

    missing = [n for n in sweep_members(("events",), floor=37) if n not in EVENTS_QUERIES]
    assert not missing, f"events-reading queries missing from hostile-ts sweep: {missing}"


def test_fixture_has_all_four_hostilities(hostile_ts_dir):
    """The fixture itself is load-bearing: each stripe must be non-empty
    and the far-future stripe must actually exceed datetime64[ns] range."""
    import duckdb

    con = duckdb.connect()
    n_null, n_pre, n_fut, n_dup = con.execute(
        f"""SELECT
              count(*) FILTER (ts IS NULL),
              count(*) FILTER (ts < TIMESTAMP '1970-01-01'),
              count(*) FILTER (ts > TIMESTAMP '2262-04-12'),
              count(*) FILTER (ts = TIMESTAMP '2024-01-15 12:00:00')
            FROM read_parquet('{hostile_ts_dir}/events.parquet')"""
    ).fetchone()
    con.close()
    assert n_null > 0 and n_pre > 0 and n_fut > 0 and n_dup > 1, (
        n_null,
        n_pre,
        n_fut,
        n_dup,
    )
