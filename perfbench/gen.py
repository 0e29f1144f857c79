"""Seeded input generator for the benchmark.

Writes the ten tables the query catalog reads (TPC-H-shaped star schema,
``events``, ``documents``, ``embeddings``) as parquet, with the same column
names, types and value domains as the catalog's test data, so every catalog
query and its DuckDB oracle twin run unchanged on the output. The same seed
always yields byte-identical tables.

``documents`` carries seeded near-duplicate copies with word-level edits
(substitute / insert / delete a few words) plus a few exact copies, so LSH
candidates have to be verified rather than collapsed as identical sets.
``embeddings`` carries seeded near-duplicate vectors for the same reason.

The layout is versioned: bump ``LAYOUT`` whenever a table changes, which
invalidates every cached seed directory.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYOUT = "v2"

# Row counts. Catalog queries at this size are dominated by per-query
# planning and scheduling, so the sizes are chosen to keep one pass inside
# the run budget while the data still exercises every join and shuffle.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 20000,
    "documents": 320,  # base docs; copies are added on top
    "embeddings": 1000,  # base vectors; copies are added on top
}
NEAR_DUP_SHARE = 0.25  # documents: edited copies per base doc
EXACT_DUP_SHARE = 0.03  # documents: byte-identical copies per base doc
VEC_DUP_SHARE = 0.10  # embeddings: perturbed copies per base vector

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_TS_US = pa.timestamp("us")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a).astype(int))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _star(rng: np.random.Generator) -> dict[str, pa.Table]:
    c, s, p, o, li = (ROWS[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _cents(-999.99, 9999.99, c, rng),
            "c_mktsegment": rng.choice(_SEGMENTS, c),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _cents(-999.99, 9999.99, s, rng),
        }
    )
    pk = np.arange(p, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, p), rng.choice(_PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": rng.choice(_PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _cents(1000.0, 499999.99, o, rng),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", o, rng), _TS_US),
            "o_orderpriority": rng.choice(_PRIORITIES, o),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _cents(900.0, 104999.99, li, rng),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", li, rng), _TS_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, _TS_US),
            "user_id": rng.integers(0, max(n * 3 // 200, 1), n),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _edit(words: list[str], rng: np.random.Generator) -> list[str]:
    """A few word-level edits: each one substitutes, inserts or deletes."""
    out = list(words)
    for _ in range(int(rng.integers(1, 4))):
        i = int(rng.integers(0, len(out)))
        op = int(rng.integers(0, 3))
        if op == 0:
            out[i] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        elif op == 1:
            out.insert(i, _VOCAB[int(rng.integers(0, len(_VOCAB)))])
        elif len(out) > 10:
            del out[i]
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    # lengths spread evenly over 10..100 words in a seeded order, so every
    # seed yields the same total amount of text
    lengths = rng.permutation(np.linspace(10, 100, ROWS["documents"]).round().astype(int))
    base = [[_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(k))] for k in lengths]
    texts = [" ".join(w) for w in base]
    n_near = int(len(base) * NEAR_DUP_SHARE)
    n_exact = int(len(base) * EXACT_DUP_SHARE)
    for i in rng.choice(len(base), n_near, replace=False):
        texts.append(" ".join(_edit(base[int(i)], rng)))
    for i in rng.choice(len(base), n_exact, replace=False):
        texts.append(texts[int(i)])
    texts = [texts[int(i)] for i in rng.permutation(len(texts))]
    n = len(texts)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n, dim = ROWS["embeddings"], 64
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = _unit(0.6 * _unit(centers)[labels] + rng.normal(0.0, 1.0, (n, dim)) / 8.0)
    n_dup = int(n * VEC_DUP_SHARE)
    src = rng.choice(n, n_dup, replace=False)
    dups = _unit(vecs[src] + rng.normal(0.0, 0.01, (n_dup, dim)))
    vecs = np.vstack([vecs, dups]).astype(np.float32)
    labels = np.concatenate([labels, labels[src]])
    order = rng.permutation(len(vecs))
    return pa.table(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
            "label": labels[order].astype(np.int32),
        }
    )


def _build(seed: int) -> dict[str, pa.Table]:
    # one independent stream per table, so adding a table never shifts another
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = _star(np.random.default_rng(streams[0]))
    tables["events"] = _events(np.random.default_rng(streams[1]))
    tables["documents"] = _documents(np.random.default_rng(streams[2]))
    tables["embeddings"] = _embeddings(np.random.default_rng(streams[3]))
    return tables


def ensure_inputs(cache_root: str, seed: int) -> str:
    """Return the directory holding the tables for ``seed``, generating it
    on first use. Generation writes to a scratch directory and renames it
    into place, so an interrupted run never leaves a partial cache entry."""
    out = os.path.join(cache_root, LAYOUT, f"seed-{seed}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _build(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"{LAYOUT} seed={seed} {dt.datetime.now(dt.timezone.utc).isoformat()}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def input_bytes(sf_dir: str, tables: tuple[str, ...]) -> int:
    return sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)


def input_rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
