"""The bench stdout line must PARSE from the driver's bounded capture.

The per-round BENCH_r{N}.json stores only ~2000 bytes of bench.py's
stdout line; from round 5 the full-catalog line outgrew that and every
round since recorded ``parsed: null`` — six rounds of machine-readable
bench evidence lost to truncation. Round 11 split the output: the full
record goes to the sidecar (installed as BENCH_local.json), and stdout
carries the headline subset + complete summary. This test rebuilds the
stdout line exactly as bench.py would — worst-case field widths, every
HEADLINE query present, plus maximal summary values — and pins it under
a 1900-byte budget (margin below the observed 2000-byte capture).
"""

from __future__ import annotations

import json

import bench


def test_headline_queries_exist_in_registry():
    from syntheticdata_pipeline__spark.plans import load_all

    registry = load_all()
    missing = [n for n in bench.HEADLINE_QUERIES if n not in registry]
    assert not missing, f"HEADLINE_QUERIES not in registry: {missing}"


def test_stdout_line_fits_driver_capture():
    # worst-case width per field: four-digit seconds with 3 decimals
    headline = {n: 9999.999 for n in bench.HEADLINE_QUERIES}
    line = json.dumps(
        {
            "queries": headline,
            "detail": "BENCH_local.json",
            "n_queries": 9999,
            "median_vs_baseline": 99.99,
            "worst_vs_baseline": 99.99,
            # regressions/repeat-offenders carry real names on a bad run —
            # budget for a handful of worst-case-length entries
            "recheck_repeat_offenders": ["curation_pipeline_end_to_end"] * 3,
            "regressions_gt_2x": ["cluster_aware_split_leakage"] * 3,
            "sf": 0.001,
            "metric": "headline_queries_total_runtime",
            "unit": "sec",
            "value": 99999.999,
        }
    )
    assert len(line) <= 1900, (
        f"bench stdout line would be {len(line)} bytes — over the driver's "
        "capture budget; shrink HEADLINE_QUERIES or the summary"
    )
