"""Generate QUERIES.md — the navigable index of the query catalog."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from syntheticdata_pipeline__spark.plans import load_all

    registry = load_all()
    print("# QUERIES — the oracle-checked catalog\n")
    print(
        f"{len(registry)} queries; every one has a DuckDB oracle twin "
        "(`__spark_entry__.py::oracle_sql`); `bench.py` times them all.\n"
    )
    print("| query | operators (SURVEY §2 tags) | summary |")
    print("|---|---|---|")
    for name in sorted(registry):
        s = registry[name]
        doc = " ".join((s.doc or "").split())
        first = doc.split(". ")[0][:110]
        tags = ", ".join(s.tags)
        print(f"| {name} | {tags} | {first} |")


if __name__ == "__main__":
    main()
