"""PERF.md's bench section must be generated from the committed
BENCH_local.json — rounds 5 and 6 both shipped prose quoting a
different bench run than the artifact (VERDICT r6 "What's wrong" #1).
This test re-renders the section from the artifact and fails on any
drift, so the two can only move together (via
``python tools/gen_perf_md.py --write``)."""

from __future__ import annotations

import os


def test_perf_md_matches_bench_artifact():
    from tools.gen_perf_md import BEGIN, END, PERF, render

    assert os.path.exists(PERF)
    with open(PERF) as f:
        doc = f.read()
    assert BEGIN in doc and END in doc, "PERF.md lost its BENCH_AUTO markers"
    committed = doc.split(BEGIN, 1)[1].split(END, 1)[0]
    regenerated = render().split(BEGIN, 1)[1].split(END, 1)[0]
    assert committed == regenerated, (
        "PERF.md bench section is out of sync with BENCH_local.json — "
        "run: python tools/gen_perf_md.py --write"
    )


def test_render_fails_on_malformed_anchors(tmp_path, monkeypatch):
    """A malformed ``anchors_v2`` block in the baseline raises instead of
    rendering every query as unanchored."""
    import json

    import pytest

    from tools import gen_perf_md

    bad = tmp_path / "bench_baseline.json"
    bad.write_text(json.dumps({"anchors_v2": {"sf": "0.1"}}))
    monkeypatch.setattr(gen_perf_md, "BASELINE", str(bad))
    with pytest.raises(KeyError):
        gen_perf_md.render()
