"""One walk of each query's physical plan tree (py4j objects, not explain
text): class-exact node counts, scan metadata, window specs and a dump
free of expression ids, whose sha256 is the plan's fingerprint. Usage::

    python tools/plan_walk.py dump DIR [query ...]     # DIR/<query>.txt
    python tools/plan_walk.py audit [query ...] > PLANS_AUDIT.md
    python tools/plan_walk.py --diff DIR [query ...]   # "plans unchanged"?

Batch queries at ``$SPARK_GRAFT_ORACLE_SF`` (default sf0.01), in one
``get_spark`` session; dumps show its shuffle partitions (cores).
"""

from __future__ import annotations

import difflib
import hashlib
import os
import re
import sys
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import SF_DIR  # noqa: E402 — the oracle gate's scale

AGGREGATES = ("HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec")
NESTED_LOOPS = ("BroadcastNestedLoopJoinExec", "CartesianProductExec")


def seq(scala_seq) -> list:
    """A Scala collection's elements as a Python list."""
    it = scala_seq.iterator()
    return [it.next() for _ in range(scala_seq.size())]


def walk(plan):
    """``(depth, class name, node)`` for every node under ``plan`` in
    pre-order: the tree of children first, then each inner plan
    (subquery, cached plan) as its own tree at depth 0. An AQE plan's
    current plan and a query stage's plan count as their only child;
    children and inner children never reach them."""
    roots = [plan]
    while roots:
        stack = [(0, roots.pop(0))]
        while stack:
            depth, node = stack.pop()
            cls = node.getClass().getSimpleName()
            yield depth, cls, node
            if cls == "AdaptiveSparkPlanExec":
                kids = [node.executedPlan()]
            else:
                kids = [node.plan()] if cls.endswith("QueryStageExec") else seq(node.children())
            roots += seq(node.innerChildren())
            stack += [(depth + 1, k) for k in reversed(kids)]


# Text that changes with the expression-id offset, not with the plan.
_IDS = [
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),  # lambda variable counter
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"#\d+"), "#"),  # expression and subquery ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
]
_INNERMOST = re.compile(r"[(\[][^()\[\]]*[)\]]")


def _sort_lists(s: str) -> str:
    """``s`` with the items of every bracketed list sorted, innermost
    lists first."""
    held: list[str] = []

    def expand(t: str) -> str:
        return re.sub("\x00(\\d+)\x00", lambda m: held[int(m.group(1))], t)

    def hold(m) -> str:
        g = m.group(0)
        held.append(g[0] + ", ".join(sorted(expand(x.strip()) for x in g[1:-1].split(","))) + g[-1])
        return f"\x00{len(held) - 1}\x00"

    n = 1
    while n:
        s, n = _INNERMOST.subn(hold, s)
    return expand(s)


def normalize(line: str) -> str:
    """``line`` without the text that depends on expression ids."""
    for pattern, repl in _IDS:
        line = pattern.sub(repl, line)
    if not re.search(r"\bgid#", line):
        return line
    # The distinct-aggregate rewrite numbers its groups (gid) and orders
    # their columns by expression-id hashes: mask the group numbers (and
    # the other bare integers of an Expand's rows), then sort every list.
    line = re.sub(r"(?<=gid# = )\d+", "?", line)
    if line.startswith("Expand "):
        line = re.sub(r"(?<=, )\d+(?=[,\]])", "?", line)
    return _sort_lists(line)


@dataclass
class Walked:
    """One walk of a physical plan."""

    counts: Counter = field(default_factory=Counter)  # class name -> nodes
    scans: list[dict[str, str]] = field(default_factory=list)  # file-scan metadata
    window_specs: list[str] = field(default_factory=list)  # id-free windowspecdefinition args
    dump: str = ""  # one normalized line per node, indented by depth
    error: str = ""  # why the build raised

    @property
    def fingerprint(self) -> str:
        return hashlib.sha256(self.dump.encode()).hexdigest()


def walk_physical(df) -> Walked:
    w, lines = Walked(), []
    for depth, cls, node in walk(df._jdf.queryExecution().executedPlan()):
        w.counts[cls] += 1
        if cls == "FileSourceScanExec":
            # not simpleString: it cuts each value at 100 characters, ids included
            meta = dict(e.split(" -> ", 1) for e in node.metadata().mkString("\x1f").split("\x1f"))
            w.scans.append(meta)
            shown = {**meta, "Location": re.sub(r"[^\s\[,]*/", "", meta["Location"])}
            line = f"{node.nodeName()}{node.output().mkString('[', ',', ']')} " + ", ".join(
                f"{k}: {v}" for k, v in sorted(shown.items())
            )
        else:
            line = node.simpleString(100_000)
        if cls == "WindowExec":
            spec = r"windowspecdefinition\(([^)]*)\)"
            w.window_specs += map(normalize, re.findall(spec, node.windowExpression().toString()))
        lines.append("  " * depth + normalize(line))
    w.dump = "\n".join(lines) + "\n"
    return w


def capture(spark, sf_dir: str = SF_DIR, names=()) -> dict[str, Walked]:
    """Build and walk each batch query (all, or ``names``) at ``sf_dir``."""
    from syntheticdata_pipeline__spark.plans import load_all

    out: dict[str, Walked] = {}
    for name, spec in sorted(load_all().items()):
        if "stream" in name or (names and name not in names):
            continue  # streaming plans need execution to materialize
        try:
            out[name] = walk_physical(spec.build(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — one bad plan must not stop the walk
            out[name] = Walked(dump=f"ERROR {type(exc).__name__}\n", error=str(exc))
    return out


def print_audit(walked: dict[str, Walked]) -> None:
    print(f"# Physical-plan audit\n\nsf_dir: {SF_DIR}\n")
    print("| query | exchanges | BHJ | SMJ | NLJ/cart | scans |\n|---|---|---|---|---|---|")
    ok = {name: w for name, w in walked.items() if not w.error}
    for name, w in walked.items():
        if w.error:
            print(f"| {name} | ERROR {w.error} | | | | |")
            continue
        c, nlj = w.counts, sum(w.counts[k] for k in NESTED_LOOPS)
        print(
            f"| {name} | {c['ShuffleExchangeExec']} | {c['BroadcastHashJoinExec']} "
            f"| {c['SortMergeJoinExec']} | {nlj} | {c['FileSourceScanExec']} |"
        )
    print("\n## Scan details (pushdown / pruning)\n")
    for name, w in ok.items():
        pushed = [s["PushedFilters"][1:-1] for s in w.scans if s["PushedFilters"] != "[]"]
        n_rdd = w.counts["RDDScanExec"]  # a pin's parquet scans ran in its own stages
        note = (
            f" (lineage truncated by localCheckpoint: {n_rdd} pinned-base RDD scan(s);"
            " parquet pushdown happens inside the checkpointed stages)"
            if n_rdd and not w.scans
            else ""
        )
        schemas = [s["ReadSchema"] for s in w.scans]
        print(f"- **{name}**: ReadSchema={schemas}; PushedFilters={pushed or '[]'}{note}")
    print(
        "\n## Window specs (total-order-sort watchlist)\n\n"
        "Every `windowspecdefinition` in a final plan, per query. The shape to\n"
        "never ship: a window over PER-ROW data partitioned by nothing or by a\n"
        "low-cardinality group (single-task sort of that group at 100 TB).\n"
        "Acceptable shapes: windows over k-row/limit inputs, per-entity keys\n"
        "(doc pair, session, vec_id), or value HISTOGRAMS whose cardinality is\n"
        "bounded by the value grid, not the corpus (quantile family).\n"
    )
    for name, w in ok.items():
        if w.window_specs:
            print(f"- **{name}** ({w.counts['WindowExec']} Window nodes):")
            for s in sorted({s[:120] for s in w.window_specs}):
                print(f"    - `{s}`")


def write_dumps(walked: dict[str, Walked], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, w in walked.items():
        Path(out_dir, f"{name}.txt").write_text(w.dump)
    print(f"dumped {len(walked)} plans -> {out_dir}")


def print_diff(walked: dict[str, Walked], old_dir: str) -> int:
    """Print "plans unchanged", or a unified diff per query whose dump
    differs from ``old_dir``'s and their names; 1 when any differs."""
    changed = []
    for name, w in walked.items():
        path = Path(old_dir, f"{name}.txt")
        old = path.read_text() if path.exists() else ""
        if old != w.dump:
            changed.append(name)
            lines = old.splitlines(True), w.dump.splitlines(True)
            sys.stdout.writelines(difflib.unified_diff(*lines, str(path), name, n=1))
    if changed:
        print(f"plans unchanged except {len(changed)} of {len(walked)}: {', '.join(changed)}")
    else:
        print(f"plans unchanged ({len(walked)} queries)")
    return int(bool(changed))


def main(argv: list[str]) -> int:
    from syntheticdata_pipeline__spark.session import get_spark

    printer, *args = argv or [""]
    if printer not in ("dump", "audit", "--diff") or (printer != "audit" and not args):
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = ("", args) if printer == "audit" else (args[0], args[1:])
    spark = get_spark("plan-walk")
    spark.sparkContext.setLogLevel("ERROR")
    walked = capture(spark, names=set(names))
    status = 0
    if printer == "dump":
        write_dumps(walked, out_dir)
    elif printer == "audit":
        print_audit(walked)
    else:
        status = print_diff(walked, out_dir)
    spark.stop()
    return status


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
