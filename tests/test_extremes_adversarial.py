"""Domain-extremes adversarial battery: hostile but VALID values at the
edges of each type's domain, swept engine-vs-oracle like the NULL /
empty / non-finite batteries (FIXTURES.md §C).

The existing sweeps cover absent data (NULL stripes, empty tables) and
IEEE non-values (NaN/±Inf). This battery covers the remaining hostile
class: representable extremes that stress engine-specific arithmetic —

- ``-0.0`` — a grouping/ordering key where engines may disagree on
  normalization (Spark normalizes -0.0 to 0.0 in groupBy/join keys);
- ``±1.7e308`` — doubles whose SUM overflows to ±Inf mid-aggregation
  (IEEE on both engines, but intermediate order can differ);
- ``5e-324`` / ``1e-310`` — subnormals (gradual-underflow arithmetic);
- bigint edges (``2^63-1``, 0, -1) in a count-like metadata column —
  integer SUM promotes to HUGEINT in DuckDB but overflows (ANSI error)
  in Spark;
- timestamp range edges (year 1, year 9999) and a pre-epoch instant —
  negative epoch micros flip floor-vs-truncate divisions in window
  bucketing and interval math.

A scraping pipeline ingesting third-party telemetry sees exactly these
(clock skew → pre-epoch / far-future timestamps, corrupt counters →
INT64_MAX, denormal rates); reference anchor: the R1-R7 telemetry loop
(any_scraper.py:85-116) and run_stats (test_kimono.py:63-74) take these
fields from uncontrolled input.

Disposition (see the triage block below): out-of-domain measures that
make BOTH engines raise are the documented value-domain contract
working (tests/test_value_domain_contract.py — loud SYMMETRIC
rejection, asserted here at the true envelope edge); only ASYMMETRIC
cases (one engine errors, the other returns rows) are divergences.
The r10 first run pinned five such asymmetries as strict xfails under
the round-10 freeze; the round-11 fix wave landed them (clamped bucket
indexes + try_divide/NULLIF, DIVERGENCES.md "Queued fix:
domain-extreme measures") and all 111 combinations now run as plain
compares or symmetric-rejection assertions.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import duck_connect, oracle_verdict

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)

# Domain-edge stripes on coprime residues (tests/sweep_membership.py):
# events value %7 (signed zero / ±huge / subnormals), ts %11 (year-1 /
# year-9999 / pre-epoch), user_id %13 (INT64_MAX); documents n_chars
# on doc_id %7 (INT64_MAX / 0 / -1, other columns intact so the
# generator-twin HTML oracles stay valid); lineitem/orders measures at
# ±huge / signed zero / subnormal and dates at the timestamp range
# edges; embeddings with FINITE edge components (one ±3e38 float32
# component, an all-subnormal vector, a signed zero) that the
# valid-vector rule keeps searchable.
extreme_events_dir = striped_fixture("extreme(events)")
extreme_meta_dir = striped_fixture("extreme(documents.n_chars)")
extreme_facts_dir = striped_fixture("extreme(lineitem+orders)")
extreme_embeddings_dir = striped_fixture("extreme(embeddings)")


def _events_members():
    from tests.sweep_membership import sweep_members

    return sweep_members(("events",), floor=37)


def _facts_members():
    from tests.sweep_membership import sweep_members

    return sweep_members(("lineitem", "orders"), floor=45)


def _embeddings_members():
    from tests.sweep_membership import sweep_members

    return sweep_members(("embeddings",), extra_src_markers=("_E(spark",), floor=22)


def _n_chars_members():
    """Only queries that actually read n_chars — the fixture leaves every
    other documents column intact, so the rest of the docs catalog is
    provably unaffected (and already swept by the nullmeta battery)."""
    import inspect

    from syntheticdata_pipeline__spark.plans import load_all

    out = []
    for name, spec in load_all().items():
        try:
            src = inspect.getsource(spec.build)
        except (OSError, TypeError):
            src = ""
        if "n_chars" in src or (spec.oracle and "n_chars" in spec.oracle):
            out.append(name)
    assert len(out) >= 7, f"n_chars membership shrank: {out}"
    return sorted(out)


# First-run triage of this battery, CORRECTED against the engine's
# existing value-domain contract (tests/test_value_domain_contract.py):
# the exact fixed-point statistics discipline (DECIMAL dsum/davg and
# the CAST(x*1e9 AS BIGINT) integer accumulation) has an inherent
# magnitude domain, and the DOCUMENTED contract for finite-but-
# unrepresentable magnitudes is LOUD SYMMETRIC REJECTION on both
# engines — never a silently corrupted or NULLed statistic. So a
# hostile measure that makes BOTH engines raise is the contract
# WORKING, and this battery asserts that symmetry at the true envelope
# edge (±1.7e308 doubles, ±3e38 float32 components) — a far harder
# probe than the contract test's original 1e12 stripe. Only the
# ASYMMETRIC cases (one engine errors while the other returns rows)
# are divergences; those are pinned strict-xfail below and queued in
# DIVERGENCES.md for round 11.

# Both-engines-raise on the hostile stripes: the value-domain
# contract's symmetric rejection, asserted by
# test_*_reject_symmetrically below (NOT divergences).
_SYMMETRIC_EVENTS = frozenset({
    "event_value_outliers",       # dsum/round DECIMAL pathway
    "event_value_stats",
    "moving_avg_user_value",      # windowed dsum
    "multi_resolution_rollup_q",
    "neyman_allocation_sample",   # stddev/allocation
    "stream_tumbling_counts",     # streaming twin (STREAM_FAILED wraps it)
    "tumbling_event_stats",
    "value_trend_by_type",        # slope BIGINT cast, both sides
})
_SYMMETRIC_FACTS = frozenset({
    # every revenue/price aggregate riding the dsum/davg pathway
    "customer_revenue_concentration",
    "dispatch_rollup_by_region",
    "grouping_sets_order_stats",
    "order_aging_report",
    "part_velocity_movers",
    "region_nation_revenue_share",
    "report_order_fulfillment",
    "running_order_totals",
    "salted_skew_aggregate",
    "stats_quantity_by_returnflag",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q1_pricing_summary",
    "tpch_q20_part_promotion",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
})
_SYMMETRIC_EMBEDDINGS = frozenset({
    # the fixed-point CAST(x*1e9 AS BIGINT) accumulation envelope:
    # a finite 3e38 float32 component squares/sums past BIGINT on both
    "ann_ivf_trained_topk",
    "embedding_covariance",
    "embedding_moments",
    "embedding_top_pc_power",
    "inception_score_splits",
    "kmeans_embedding_clusters",
})

# ASYMMETRIC divergences — one engine errored while the other returned
# rows — were found by the r10 first run and FIXED in the round-11 fix
# wave (DIVERGENCES.md "Queued fix: domain-extreme measures"):
# bucket/bin indexes now clamp into the BIGINT-representable envelope
# on both engines (clamped_floor/clamped_floor_sql:
# event_value_histogram, exact_median_two_pass, cosine_pair_histogram),
# and the ANSI-divide class became try_divide/NULLIF with the
# zero-denominator row falling out identically
# (weighted_sample_no_replacement, tpch_q2_min_cost_supplier). All five
# run in the plain compare sweep below; these empty maps keep the
# _marked() plumbing (and this history) in place for future finds.
_QUEUED_R11_EVENTS: dict[str, str] = {}
_QUEUED_R11_NCHARS: dict[str, str] = {}
_QUEUED_R11_FACTS: dict[str, str] = {}
_QUEUED_R11_EMBEDDINGS: dict[str, str] = {}


def _marked(names: list[str], queued: dict[str, str], symmetric: frozenset = frozenset()) -> list:
    """Parametrize the compare sweep: queued asymmetric divergences get a
    strict xfail; symmetric-rejection names are excluded here because
    test_*_reject_symmetrically asserts their (stronger) contract."""
    return [
        pytest.param(
            n,
            marks=pytest.mark.xfail(
                strict=True, reason=f"queued r11 fix: {queued[n]}"
            ),
        )
        if n in queued
        else n
        for n in names
        if n not in symmetric
    ]


_SPARK_REJECT_TAGS = ("NUMERIC_VALUE_OUT_OF_RANGE", "CAST_OVERFLOW", "ARITHMETIC")


def _assert_symmetric_rejection(spark, sf_dir: str, name: str) -> None:
    """The value-domain contract at the envelope edge: BOTH engines must
    raise on the out-of-domain measure — never the asymmetric middle
    state where one errors and the other returns numbers
    (tests/test_value_domain_contract.py, extended here from its 1e12
    probe to ±1.7e308 / ±3e38 inputs)."""
    import duckdb

    from syntheticdata_pipeline__spark.plans import load_all

    spec = load_all()[name]
    with pytest.raises(Exception) as spark_err:
        spec.build(spark, sf_dir).collect()
    msg = str(spark_err.value)
    assert any(tag in msg for tag in _SPARK_REJECT_TAGS), (
        f"Spark rejected for an unexpected reason: {msg[:300]}"
    )
    con = duck_connect(sf_dir)
    try:
        with pytest.raises(duckdb.Error):
            con.execute(spec.oracle).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize(
    "name", _marked(_events_members(), _QUEUED_R11_EVENTS, _SYMMETRIC_EVENTS)
)
def test_extreme_events_match_oracle(spark, extreme_events_dir, name):
    assert oracle_verdict(spark, extreme_events_dir, name) is not False


@pytest.mark.parametrize("name", sorted(_SYMMETRIC_EVENTS))
def test_extreme_events_reject_symmetrically(spark, extreme_events_dir, name):
    _assert_symmetric_rejection(spark, extreme_events_dir, name)


@pytest.mark.parametrize("name", _marked(_n_chars_members(), _QUEUED_R11_NCHARS))
def test_extreme_n_chars_match_oracle(spark, extreme_meta_dir, name):
    assert oracle_verdict(spark, extreme_meta_dir, name) is not False


@pytest.mark.parametrize(
    "name", _marked(_facts_members(), _QUEUED_R11_FACTS, _SYMMETRIC_FACTS)
)
def test_extreme_facts_match_oracle(spark, extreme_facts_dir, name):
    assert oracle_verdict(spark, extreme_facts_dir, name) is not False


@pytest.mark.parametrize("name", sorted(_SYMMETRIC_FACTS))
def test_extreme_facts_reject_symmetrically(spark, extreme_facts_dir, name):
    _assert_symmetric_rejection(spark, extreme_facts_dir, name)


@pytest.mark.parametrize(
    "name",
    _marked(_embeddings_members(), _QUEUED_R11_EMBEDDINGS, _SYMMETRIC_EMBEDDINGS),
)
def test_extreme_embeddings_match_oracle(spark, extreme_embeddings_dir, name):
    assert oracle_verdict(spark, extreme_embeddings_dir, name) is not False


@pytest.mark.parametrize("name", sorted(_SYMMETRIC_EMBEDDINGS))
def test_extreme_embeddings_reject_symmetrically(spark, extreme_embeddings_dir, name):
    _assert_symmetric_rejection(spark, extreme_embeddings_dir, name)
