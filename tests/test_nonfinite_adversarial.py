"""Non-finite (NaN/+Inf/-Inf) battery: every catalog query that reads a
table with a double measure, run against its DuckDB oracle on fixtures
where the measure columns carry deterministic non-finite stripes — the
"upstream division by zero / failed parse produced NaN" shape that a
float column in a 100 TB lake accumulates routinely.

Non-finite contract (round 9, functions/determinism.finite_or_null):
NaN and ±Inf carry no valid magnitude — they are the IEEE encoding of
an unknown or undefined measurement, the float analog of NULL — so
every exact statistic treats them exactly like NULL: skipped from
sums, counts, means, histograms, CDFs and selection machinery, on BOTH
engines. Without the guard the engines take opposite defaults and the
catalog sat in the asymmetric middle state the value-domain contract
forbids: Spark's non-ANSI casts silently turn NaN into NULL (decimal)
or garbage (NaN→BIGINT gives 0, -Inf gives LONG_MIN — event_value_
histogram filed NaN under bucket 0, format_duration rendered -inf as
"-9223372036854775808s") while DuckDB's decimal/HUGEINT accumulation
raises a conversion error. LOUD symmetric rejection remains the
contract for finite-but-unrepresentable magnitudes
(tests/test_value_domain_contract.py — 1e12 still trips the
trunc-scaled BIGINT family on both engines; isfinite passes it).

Stripes: three consecutive residues of a %23 cycle per column (NaN,
+inf, -inf), offset per column so single- and multi-column-non-finite
rows both occur.

The sweep found 31 asymmetric queries (events 10, facts 20, dims 3,
overlapping), all fixed engine-aligned; see DIVERGENCES.md §"Non-finite
measures".
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture, sweep_members as _members
from tools.check_oracle import oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)


nonfinite_events_dir = striped_fixture("nonfinite(events.value)")
nonfinite_facts_dir = striped_fixture("nonfinite(lineitem+orders measures)")
nonfinite_dims_dir = striped_fixture("nonfinite(customer+supplier+part measures)")
# Valid-vector rule (plans/vectors_q._E): a vector with any non-finite
# component carries no geometry — a NaN dot product would rank FIRST
# under DESC in both engines, topping every ANN list — so it is
# nullified at load and the NULL-embedding semantics take over.
nonfinite_emb_dir = striped_fixture("nonfinite(embedding components)")


@pytest.mark.parametrize("name", _members(("events",), floor=37))
def test_nonfinite_event_values_match_oracle(spark, nonfinite_events_dir, name):
    assert oracle_verdict(spark, nonfinite_events_dir, name) is not False


@pytest.mark.parametrize("name", _members(("lineitem", "orders"), floor=45))
def test_nonfinite_fact_measures_match_oracle(spark, nonfinite_facts_dir, name):
    assert oracle_verdict(spark, nonfinite_facts_dir, name) is not False


@pytest.mark.parametrize("name", _members(("customer", "supplier", "part"), floor=43))
def test_nonfinite_dim_measures_match_oracle(spark, nonfinite_dims_dir, name):
    assert oracle_verdict(spark, nonfinite_dims_dir, name) is not False


@pytest.mark.parametrize(
    "name", _members(("embeddings",), extra_src_markers=("_E(spark",), floor=22)
)
def test_nonfinite_vector_components_match_oracle(spark, nonfinite_emb_dir, name):
    assert oracle_verdict(spark, nonfinite_emb_dir, name) is not False
