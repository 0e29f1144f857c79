"""Value-domain contract of the exact fixed-point statistics: the
order-independent accumulation discipline (trunc-scaled integers /
fixed-scale decimals) has an inherent magnitude domain, and BOTH
engines must reject values outside it LOUDLY and symmetrically — an
ANSI overflow error on the bad partition, never a silently corrupted
or NULLed statistic. (Round-7 sweep with |value| = 1e12 planted in
events: Spark raised NUMERIC_VALUE_OUT_OF_RANGE / CAST overflow and
DuckDB raised the matching Conversion Error on all three affected
queries; the other 187 catalog queries are insensitive to the value
column's magnitude and stayed green.)

If a future refactor widens the domain (e.g. decimal re-scaling), this
test will fail on the now-succeeding engine pair and should be updated
to assert value parity instead — what it guards against is the
ASYMMETRIC middle state where one engine errors and the other returns
numbers.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import duck_connect, oracle_verdict

_REJECTING = (
    "event_value_outliers",
    "neyman_allocation_sample",
    "value_trend_by_type",
)
# magnitude-insensitive representatives that must keep matching the
# oracle even with the planted extremes present:
_TOLERANT = ("stateful_dedup_events", "hourly_profile_by_type")


extreme_sf_dir = striped_fixture("value-domain(events.value)")


@pytest.mark.parametrize("name", _REJECTING)
def test_out_of_domain_rejection_is_symmetric(spark, extreme_sf_dir, name):
    from syntheticdata_pipeline__spark.plans import load_all

    spec = load_all()[name]
    with pytest.raises(Exception) as spark_err:
        spec.build(spark, extreme_sf_dir).collect()
    assert any(
        tag in str(spark_err.value)
        for tag in ("NUMERIC_VALUE_OUT_OF_RANGE", "CAST_OVERFLOW", "ARITHMETIC")
    ), f"Spark rejected for an unexpected reason: {str(spark_err.value)[:200]}"

    con = duck_connect(extreme_sf_dir)
    try:
        with pytest.raises(Exception) as duck_err:
            con.execute(spec.oracle).fetchall()
        assert "Conversion Error" in str(duck_err.value) or "Out of Range" in str(
            duck_err.value
        )
    finally:
        con.close()


@pytest.mark.parametrize("name", _TOLERANT)
def test_magnitude_insensitive_queries_stay_green(spark, extreme_sf_dir, name):
    assert oracle_verdict(spark, extreme_sf_dir, name) is True
