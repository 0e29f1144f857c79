"""Hostile-JSON props battery: the events.props payload with malformed,
truncated, duplicate-key, wrong-root, wrong-type, and overflow JSON —
the one hostile class the events NULL sweep (which only NULLs props)
cannot reach, and exactly what the reference's free-text JSON rescue
exists for (qwen_vl_processor.py:177-187: model output is UNTRUSTED
text that merely claims to be JSON).

JSON parsing is where the two engines' semantics genuinely fork:
Spark's PERMISSIVE ``from_json`` nulls what it cannot coerce, DuckDB's
``json_valid``/``json_extract``/CAST pipeline has its own validity and
coercion rules (duplicate keys, quoted numbers, 1e999 → inf, huge
integers). The sweep runs every catalog query that reads props —
membership derived from the registry so it cannot rot — against its
oracle on the hostile fixture.

Stripes on event_id % 31 (coprime with the query's own %17 garbage
stripe, so garbage-prefixed hostile payloads occur too): truncated
object, empty string, array root, duplicate keys, quoted number,
1e999, JSON null value, bare null root, whitespace object, INT64+1,
plus three round-11 flavor stripes: VT pseudo-whitespace (illegal per
the JSON spec, must invalidate on both engines), a legal \\t/\\r/\\n
mix (must parse to k=7 on both), and a pretty-printed multi-line
object (caught the oracle's RE2-'.'-cannot-cross-newline gap in the
greedy k-extraction prefix).

ROUND-10 FREEZE NOTE: divergences ship fixture-first (strict xfail +
DIVERGENCES.md queue) unless wrong-answer-on-clean-data — clean props
are uniformly valid ``{"k": <int>}``, so none of these stripes can
affect clean-data results.
"""

from __future__ import annotations

import pytest

from tests.sweep_membership import striped_fixture
from tools.check_oracle import oracle_verdict

hostile_props_dir = striped_fixture("hostile-props(events.props)")


def _members():
    """Every registered query whose build source or oracle SQL touches
    props (currently the T10/T11/S1 tolerant-parse family) — quoted-name
    source matching + word-boundary oracle matching, the
    sweep_membership discipline (a bare substring would sweep in any
    oracle containing a word like 'properties'); floor pinned at the
    current membership size (r10 ADVICE)."""
    import inspect
    import re

    from syntheticdata_pipeline__spark.plans import load_all

    pat = re.compile(r"\bprops\b")
    out = []
    for name, spec in load_all().items():
        try:
            src = inspect.getsource(spec.build)
        except (OSError, TypeError):
            src = ""
        if '"props"' in src or "'props'" in src or (spec.oracle and pat.search(spec.oracle)):
            out.append(name)
    assert len(out) >= 1, f"props membership shrank below its pinned floor: {out}"
    return sorted(out)


# The r10 first run found SIX divergence classes in the tolerant-parse
# family, all hostile-data-only (clean props are uniformly valid
# {"k": <int>}); the r11 fix wave landed the shared contract — validity
# = parses as a JSON OBJECT (engine: schema-free map parse; oracle:
# json_valid + json_type='OBJECT'), k = strict int32 JSON-number with
# LAST_WIN duplicates (engine: schema-typed from_json; oracle: greedy
# last-occurrence integer-literal regex + TRY_CAST), raw_response =
# payload iff invalid. Every stripe below now matches engine-vs-oracle;
# see plans/textual.py::parse_props_json and DIVERGENCES.md
# "Queued fix: hostile JSON props" for the per-stripe rationale.


@pytest.mark.parametrize("name", _members())
def test_hostile_props_match_oracle(spark, hostile_props_dir, name):
    assert oracle_verdict(spark, hostile_props_dir, name) is not False
