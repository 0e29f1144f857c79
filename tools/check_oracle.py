"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column-name set, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified values). Usage::

    python tools/check_oracle.py [query ...]      # default: all
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_value(v):
    import decimal
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        # Keep Decimal visibly distinct from int/float: the driver's typed
        # normalizer renders DuckDB HUGEINT/DECIMAL differently from Spark
        # BIGINT (the r1 hash-FAIL root cause), so the local gate must too.
        return f"dec:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def canon_type(t: str) -> str:
    """Coarse cross-engine type class. Integer widths and timestamp units
    collapse; DECIMAL stays distinct so a DuckDB HUGEINT (decimal128(38,0)
    in Arrow) vs Spark BIGINT divergence is a visible type mismatch."""
    t = t.strip().lower()
    if t.startswith(("list<", "array<")):
        inner = t[t.index("<") + 1 : t.rindex(">")]
        # arrow spells it "list<item: int64>"
        if ":" in inner:
            inner = inner.split(":", 1)[1]
        return f"array<{canon_type(inner)}>"
    if t.startswith("decimal"):
        return "decimal"
    for cls, names in (
        ("int", ("tinyint", "smallint", "int", "bigint", "integer", "hugeint")),
        ("float", ("float", "double", "halffloat", "real")),
        ("str", ("string", "varchar", "large_string", "utf8", "large_utf8")),
        ("bool", ("bool", "boolean")),
        ("date", ("date",)),
        ("timestamp", ("timestamp",)),
        ("binary", ("binary", "large_binary", "blob")),
    ):
        for n in names:
            if t == n or t.startswith(n):
                return cls
    return t


def fetch_duck(res):
    """Fetch a DuckDB result via Arrow so type divergences survive into the
    hash (HUGEINT → decimal128(38,0) → decimal.Decimal values)."""
    tbl = res.fetch_arrow_table()
    types = {f.name: canon_type(str(f.type)) for f in tbl.schema}
    cols = tbl.schema.names
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    return cols, rows, types


def type_map_spark(sdf) -> dict[str, str]:
    return {f.name: canon_type(f.dataType.simpleString()) for f in sdf.schema.fields}


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def duck_connect(sf_dir: str = SF_DIR):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_one(spark, con, name: str, qs, oracles, sf_dir: str = SF_DIR, record=None):
    """Run one query on Spark and its oracle on DuckDB; print the driver's
    verdict line, which times the Spark and DuckDB sides separately.
    Returns True on PASS, None on rows-only SKIP. When
    ``record`` is a dict, a CORRECTNESS-shaped row is stored under
    ``name`` (same keys the external driver emits)."""

    def rec(**kw):
        if record is not None:
            record[name] = {
                "rows_match": kw.get("rows_match", False),
                "schema_match": kw.get("schema_match", False),
                "hash_match": kw.get("hash_match", False),
                "spark_rows": kw.get("spark_rows"),
                "oracle_rows": kw.get("oracle_rows"),
                "err": kw.get("err"),
            }

    t0 = time.time()
    try:
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        shash, sn = frame_hash(scols, srows)
        spark_s = time.time() - t0
    except Exception as e:
        print(f"FAIL {name}: SPARK ERROR")
        traceback.print_exc(limit=4)
        rec(err=f"spark: {e!r}"[:300])
        return False
    if name not in oracles:
        print(f"SKIP {name}: no oracle (rows={sn}) [spark {spark_s:.1f}s]")
        rec(rows_match=sn >= 0, spark_rows=sn, err="rows-only (no oracle)")
        return None
    t1 = time.time()
    try:
        res = con.execute(oracles[name])
        dcols, drows, dtypes = fetch_duck(res)
        dhash, dn = frame_hash(dcols, drows)
        duck_s = time.time() - t1
    except Exception as e:
        print(f"FAIL {name}: DUCKDB ERROR")
        traceback.print_exc(limit=4)
        rec(spark_rows=sn, err=f"duckdb: {e!r}"[:300])
        return False
    stypes = type_map_spark(sdf)
    ok_cols = sorted(scols) == sorted(dcols)
    type_mism = {
        c: (stypes.get(c), dtypes.get(c))
        for c in scols
        if ok_cols and stypes.get(c) != dtypes.get(c)
    }
    ok = ok_cols and sn == dn and shash == dhash and not type_mism
    extra = ""
    if not ok:
        if not ok_cols:
            extra = f" cols spark={sorted(scols)} duck={sorted(dcols)}"
        elif type_mism:
            extra = f" types {type_mism}"
        elif sn != dn:
            extra = f" rows spark={sn} duck={dn}"
        else:
            extra = f" hash spark={shash} duck={dhash} (rows={sn})"
    print(
        f"{'PASS' if ok else 'FAIL'} {name}: rows={sn} "
        f"[spark {spark_s:.1f}s, duckdb {duck_s:.1f}s]{extra}"
    )
    rec(
        rows_match=sn == dn,
        schema_match=ok_cols and not type_mism,
        hash_match=shash == dhash,
        spark_rows=sn,
        oracle_rows=dn,
        err=None,
    )
    return ok


def oracle_verdict(spark, sf_dir: str, name: str):
    """``compare_one`` for the registered query ``name`` over ``sf_dir``
    on its own DuckDB connection: True on PASS, None when the query has
    no oracle (rows-only), False on a mismatch or an error."""
    from syntheticdata_pipeline__spark.plans import load_all

    spec = load_all()[name]
    oracles = {name: spec.oracle} if spec.oracle else {}
    con = duck_connect(sf_dir)
    try:
        return compare_one(spark, con, name, {name: spec.build}, oracles, sf_dir)
    finally:
        con.close()


def main() -> int:
    """``check_oracle.py [--json OUT] [query ...]`` — with ``--json`` the
    per-query results are written as a CORRECTNESS-shaped artifact (the
    committed full-catalog self-check; the driver's own window covers
    only a rotating subset per round)."""
    from syntheticdata_pipeline__spark.session import get_spark

    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_connect()

    record: dict = {} if json_out else None
    n_pass = n_fail = n_skip = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        ok = compare_one(spark, con, name, qs, oracles, record=record)
        if ok is None:
            n_skip += 1
        elif ok:
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {json_out} ({len(record)} rows)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
