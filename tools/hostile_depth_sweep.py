"""Hostile-stripe sweeps at DEPTH: the committed adversarial batteries
stripe NULLs / non-finite doubles / unicode hazards / hostile
timestamps over sf0.001; this tool lays twelve of the same stripe
layouts (``DEPTH_STRIPES``: four NULL stripes, three non-finite
stripes, the unicode-hazard stripe, the hostile-ts stripe, and the
three combos that apply several stripes at once) over a LARGER scale
factor and oracle-compares every sweep member — the same depth axis
that found the sf0.1 decimal-halfway split in the clean catalog
(DIVERGENCES "sf0.1 sweep", r12). Every layout lives once in
``tests/sweep_membership.STRIPES``, shared with the batteries.

One-off evidence runner (results recorded in DIVERGENCES/README, not a
committed test — sf0.01+ adversarial sweeps would triple suite time).
Usage::

    python tools/hostile_depth_sweep.py [sf_dir] [stripe-label ...]
    # default sf0.01, all twelve stripes
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.sweep_membership import STRIPES, striped_dir, sweep_members  # noqa: E402
from tools.check_oracle import oracle_verdict  # noqa: E402

DEPTH_STRIPES = (
    "nullmeta(documents)",
    "nullfacts(lineitem+orders)",
    "nullevents(events)",
    "nulldims(customer+supplier+part+nation+region)",
    "nonfinite(events.value)",
    "nonfinite(lineitem+orders measures)",
    "nonfinite(embedding components)",
    "unicode(documents.text)",
    "hostile-ts(events.ts)",
    "combo-events(hostile-ts + null columns at once)",
    "combo-null(all nine tables at once)",
    "combo-nonfinite(events+facts+embeddings at once)",
)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from syntheticdata_pipeline__spark.session import get_spark

    spark = get_spark("hostile-depth")
    spark.sparkContext.setLogLevel("ERROR")
    total_pass = total_skip = total_fail = 0
    only = set(sys.argv[2:])  # optional stripe-label filter
    for label in DEPTH_STRIPES:
        if only and label not in only:
            continue
        rewrites = STRIPES[label]
        tmp = tempfile.mkdtemp(prefix="hostile_depth_")
        try:
            striped_dir(src, tmp, rewrites)
            markers = ("_E(spark",) if "embeddings" in rewrites else ()
            members = sweep_members(tuple(rewrites), extra_src_markers=markers)
            # Count True/None/False SEPARATELY (r12 ADVICE #2): a member
            # without an oracle returns None (rows-only), and folding
            # that into npass would overstate oracle-verified coverage
            # in the recorded evidence lines.
            verdicts = [oracle_verdict(spark, tmp, name) for name in members]
            npass, nskip, nfail = (verdicts.count(v) for v in (True, None, False))
            total_pass += npass
            total_skip += nskip
            total_fail += nfail
            print(
                f"== {label}: {npass} pass, {nskip} rows-only, {nfail} fail "
                f"(of {len(members)}) over {src}",
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"TOTAL: {total_pass} pass, {total_skip} rows-only, {total_fail} fail")
    sys.exit(1 if total_fail else 0)


if __name__ == "__main__":
    main()
