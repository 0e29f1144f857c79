"""Time individual catalog queries with the bench methodology (warm
session, ``bench.measure``: best-of-2 ``.count()``) for fast optimization
iteration.

Usage::

    python tools/time_queries.py <query> [query ...]
    SPARK_GRAFT_REPEATS=3 python tools/time_queries.py <query>

Prints one line per query: ``name best_sec rows`` plus a JSON summary.
This is an iteration aid only — the round's recorded numbers come from
full ``bench.py`` runs (plans/r14/bench_before.json vs the final run).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (the shared timing path + SF_DIR)

REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))


def main() -> None:
    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.session import get_spark

    names = sys.argv[1:]
    if not names:
        print("usage: time_queries.py <query> [query ...]", file=sys.stderr)
        sys.exit(2)
    registry = load_all()
    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    # Warm-up: JVM + codegen + parquet footer caches (same as bench.py).
    bench.measure(spark, registry[names[0]].build, bench.SF_DIR, repeats=1)

    out: dict[str, float] = {}
    for name in names:
        best, n = bench.measure(spark, registry[name].build, bench.SF_DIR, REPEATS)
        out[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s rows={n}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
