"""Physical-plan audit: for each catalog query, record scan pushdown
(PushedFilters/ReadSchema), join strategies, shuffle count, and
whole-stage-codegen coverage. Usage::

    python tools/explain_audit.py [query ...] > PLANS_AUDIT.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, txt: str) -> dict:
    # AQE repeats the tree under "== Initial Plan ==" — audit only the
    # final plan section.
    txt = txt.split("== Initial Plan ==")[0]
    # Formatted explain prints each node twice (tree line "Name (id)" +
    # detail header "(id) Name") — count only the detail headers.
    def nodes(pattern: str) -> int:
        return len(re.findall(rf"^\(\d+\) {pattern}", txt, re.MULTILINE))

    # Window specs: "windowspecdefinition(part..., order..., frame)" detail
    # lines. A window with NO partition keys over an unbounded input, or
    # partitioned by a low-cardinality group (e.g. lang) directly over
    # per-row data, is the single-task total-order sort that dies at
    # 100 TB — report every spec so those shapes stay visible.
    specs = [
        m.group(1)[:120]
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", txt)
    ]
    return {
        "name": name,
        # a pin (session.pin) truncates lineage: the parquet scans
        # execute inside the checkpointed stages and the FINAL plan starts
        # from "Scan ExistingRDD ... localCheckpoint" — report those so a
        # scans=0 row reads as "pinned base", not "scans nothing"
        # (r10 ADVICE: the audit must not silently lose scan evidence).
        "rdd_scans": nodes("Scan ExistingRDD"),
        "exchanges": nodes("Exchange"),
        "bhj": nodes("BroadcastHashJoin"),
        "smj": nodes("SortMergeJoin"),
        "nlj": nodes("BroadcastNestedLoopJoin") + nodes("CartesianProduct"),
        "wscg": len(set(re.findall(r"codegen id : (\d+)", txt))),
        "scans": nodes("Scan parquet"),
        "windows": nodes("Window"),
        "window_specs": sorted(set(specs)),
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", txt),
        "readschema": re.findall(r"ReadSchema: ([^\n]*)", txt),
    }


def main() -> None:
    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.session import get_spark

    only = set(sys.argv[1:])
    registry = load_all()
    spark = get_spark("explain-audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")

    print("# Physical-plan audit\n")
    print(f"sf_dir: {SF_DIR}\n")
    print("| query | exchanges | BHJ | SMJ | NLJ/cart | WSCG | scans |")
    print("|---|---|---|---|---|---|---|")
    details = []
    for name in sorted(registry):
        if only and name not in only:
            continue
        if "stream" in name:
            continue  # streaming plans need execution to materialize
        try:
            df = registry[name].build(spark, SF_DIR)
            txt = plan_text(df)
        except Exception as exc:  # noqa: BLE001
            print(f"| {name} | ERROR {exc} | | | | | |")
            continue
        a = audit(name, txt)
        print(
            f"| {a['name']} | {a['exchanges']} | {a['bhj']} | {a['smj']} | {a['nlj']} "
            f"| {a['wscg']} | {a['scans']} |"
        )
        details.append((name, a))
    print("\n## Scan details (pushdown / pruning)\n")
    for name, a in details:
        interesting = [p for p in a["pushed"] if p.strip()]
        note = ""
        if a["rdd_scans"] and not a["scans"]:
            note = (
                f" (lineage truncated by localCheckpoint: {a['rdd_scans']} pinned-base"
                " RDD scan(s); parquet pushdown happens inside the checkpointed stages)"
            )
        print(f"- **{name}**: ReadSchema={a['readschema']}; PushedFilters={interesting or '[]'}{note}")
    print("\n## Window specs (total-order-sort watchlist)\n")
    print(
        "Every `windowspecdefinition` in a final plan, per query. The shape to\n"
        "never ship: a window over PER-ROW data partitioned by nothing or by a\n"
        "low-cardinality group (single-task sort of that group at 100 TB).\n"
        "Acceptable shapes: windows over k-row/limit inputs, per-entity keys\n"
        "(doc pair, session, vec_id), or value HISTOGRAMS whose cardinality is\n"
        "bounded by the value grid, not the corpus (quantile family).\n"
    )
    for name, a in details:
        if a["window_specs"]:
            print(f"- **{name}** ({a['windows']} Window nodes):")
            for s in a["window_specs"]:
                print(f"    - `{s}`")
    spark.stop()


if __name__ == "__main__":
    main()
