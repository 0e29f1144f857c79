"""Every catalog query must hash-match its DuckDB oracle at sf0.001
through the one comparator ``tools/check_oracle.compare_one`` (row
count, column names and types, and an order-insensitive value hash
that keeps DECIMAL distinct); ``tools/check_oracle.py`` repeats the
same comparison at sf0.01."""

from __future__ import annotations

import pytest

from syntheticdata_pipeline__spark.plans import load_all
from tools.check_oracle import oracle_verdict

from .conftest import SF_SMOKE

pytestmark = pytest.mark.slow  # deep battery: default run skips;
# SPARK_GRAFT_FULL_TESTS=1 (run_gates.sh full) runs it (r15 suite split)

REGISTRY = load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark):
    # True = PASS, None = rows-only (no oracle registered)
    assert oracle_verdict(spark, SF_SMOKE, name) is not False
