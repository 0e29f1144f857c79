"""Reproduction fixture for the queued exact_median_two_pass fix
(r9 ADVICE #2; DIVERGENCES.md "Queued fix: exact_median_two_pass").

The non-finite contract says NaN/±Inf measures are "skipped from sums,
counts, means, histograms, CDFs and selection machinery". The median's
selection machinery only half-honors that: `finite_or_null` NULLs the
value but the NULL row still counts in n and k, lands in top bucket
b-1 via the NULL-skipping least(), and — when the k-th rank reaches
that bucket among mixed NULL/real values — the terminal
row_number() OVER (ORDER BY value) picks a different row per engine
(Spark NULLS FIRST vs DuckDB NULLS LAST).

This fixture forces exactly that shape for one event type: 40% NaN,
real values split 20%/40% across the range ends so the k-th rank lands
in bucket 511 with NULLs mixed in. The round-11 fix (`value IS NOT
NULL` before the stats CTE on both sides — n, k, and every bucket
count measurements only) landed in plans/events_q.py; this fixture now
pins it as a regression test.
"""

from __future__ import annotations

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict


median_gap_dir = striped_fixture("median-gap(events.value)")


def test_median_excludes_nulled_nonfinite_from_selection(spark, median_gap_dir):
    assert oracle_verdict(spark, median_gap_dir, "exact_median_two_pass") is not False
