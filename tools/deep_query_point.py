"""Dated deep-scale point for ANY bench-stress catalog query (r14,
verdict #6), plus the incremental-dedup state/compaction extras.

Methodology matches the bench stress section: fresh session, in-session
base measurement at $SPARK_GRAFT_SF_DIR, then the replicated stress
layout from bench._build_stress_dir at each requested factor, timed with
``bench.measure`` (best-of-2 ``session.materialize``, which computes
every output column; the first execution pays whole-stage-codegen
compilation). Prints ONE JSON line: {"date", "query", "sf_dir",
"base": {...}, "points": [{"factor", "sec", "rows", "growth_x"}...]}.

Usage::

    python tools/deep_query_point.py <query_name> <factor> [factor ...]
    # e.g. python tools/deep_query_point.py jaccard_prefix_filter_join 30

    python tools/deep_query_point.py incremental_dedup_survivors 60 --chunks 4
    # --chunks N > 0 (this query only) adds, at the last factor, the
    # signature STATE footprint ("state_oneshot") and N-chunk ingestion
    # with compaction ("chunked"); exits 1 if chunked survivors differ
    # from one-shot survivors ("associativity_ok": false).

    python tools/deep_query_point.py --simhash-rep-stage <factor> [...]
    # times operators.neardup.simhash_hamming_rep_pairs (collapse +
    # band join + Hamming verify, NO member expansion) over the stress
    # corpus. The full simhash query's output is quadratic in
    # replica-group size BY CONTRACT (every member pair is emitted:
    # 29,628 pairs at sf0.01 already), so its wall time at 100x
    # measures emitted-row volume, not the band stage; this mode
    # asserts the 2**16-bounded compute stage itself stays flat.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (reuses measure + _build_stress_dir + SF_DIR)
from pyspark.sql import functions as F  # noqa: E402

from syntheticdata_pipeline__spark.operators.neardup import (  # noqa: E402
    incremental_minhash_dedup,
    simhash_hamming_rep_pairs,
)
from syntheticdata_pipeline__spark.operators.state import StateTable  # noqa: E402
from syntheticdata_pipeline__spark.plans import load_all  # noqa: E402
from syntheticdata_pipeline__spark.session import get_spark  # noqa: E402

def _du(path: str) -> tuple[int, int]:
    """(bytes, data-file count) under path, ignoring _SUCCESS/markers."""
    total, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def state_section(spark, sdir: str, factor: int, n_chunks: int) -> dict:
    """The "state_oneshot" and "chunked" records for the incremental dedup
    over the documents in ``sdir``: the persisted signature state's size
    (the O(distinct docs) claim measured, not asserted), then
    ``n_chunks`` chunked ingestions with a StateTable carry, compaction,
    and chunked == one-shot survivors (associativity re-proven at depth)."""
    docs = spark.read.parquet(os.path.join(sdir, "documents.parquet"))
    n_docs = docs.count()
    state_path = f"/tmp/deep_point_state_{factor}x"
    shutil.rmtree(state_path, ignore_errors=True)
    st = StateTable(spark, state_path, key_cols=["id"], value_cols=["sig"])
    _surv, sigs = incremental_minhash_dedup(docs, None, id_col="doc_id", text_col="text")
    st.append(sigs)
    nbytes, nfiles = _du(state_path)
    state = {
        "docs": n_docs,
        "rows": st.count(),
        "bytes": nbytes,
        "bytes_per_doc": round(nbytes / max(1, n_docs), 1),
        "files": nfiles,
    }
    if n_docs == 0:
        # empty documents table: bounds.lo/hi are NULL and the step
        # arithmetic below would TypeError (r12 ADVICE #4) — record the
        # vacuous result explicitly instead of crashing the evidence run
        vacuous = {"n_chunks": 0, "survivors_total": 0, "associativity_ok": True}
        return {"state_oneshot": state, "chunked": vacuous}
    shutil.rmtree(state_path, ignore_errors=True)
    bounds = docs.select(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    step = (bounds.hi - bounds.lo + n_chunks) // n_chunks
    survivors_total = 0
    appends = []
    t0 = time.time()
    for c in range(n_chunks):
        lo = bounds.lo + c * step
        chunk = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step))
        prior = st.load() if st.exists() else None
        surv, sigs = incremental_minhash_dedup(
            chunk, prior, id_col="doc_id", text_col="text"
        )
        survivors_total += surv.count()
        st.append(sigs)
        b, f_ = _du(state_path)
        appends.append({"chunk": c, "state_bytes": b, "state_files": f_})
    chunked_sec = round(time.time() - t0, 3)
    pre_bytes, pre_files = _du(state_path)
    st.compact()
    post_bytes, post_files = _du(state_path)
    # associativity at depth: chunked survivor total == one-shot total.
    # The flag is CHECKED and recorded, not just printed (r12 ADVICE #4)
    # — a silent mismatch must self-report in the evidence JSON and in
    # the exit code.
    oneshot_surv, _ = incremental_minhash_dedup(docs, None, id_col="doc_id", text_col="text")
    oneshot_n = oneshot_surv.count()
    chunked = {
        "n_chunks": n_chunks,
        "sec_total": chunked_sec,
        "survivors_total": survivors_total,
        "appends": appends,
        "state_rows": st.count(),
        "compaction": {
            "bytes": [pre_bytes, post_bytes],
            "files": [pre_files, post_files],
        },
        "oneshot_survivors": oneshot_n,
        "associativity_ok": survivors_total == oneshot_n,
    }
    return {"state_oneshot": state, "chunked": chunked}


def main() -> None:
    # parse_known_args leaves the query (or --simhash-rep-stage) and the
    # factors, in order, in `args`
    parser = argparse.ArgumentParser(description="dated deep-scale point")
    parser.add_argument("--chunks", type=int, default=0, help="N-chunk state section")
    opts, args = parser.parse_known_args()
    n_chunks, name = opts.chunks, args[0]
    factors = [int(a) for a in args[1:]] or [30]
    if n_chunks > 0 and name != "incremental_dedup_survivors":
        sys.exit("--chunks measures the incremental dedup state: use incremental_dedup_survivors")
    spark = get_spark("deep-query-point")
    spark.sparkContext.setLogLevel("ERROR")
    if name == "--simhash-rep-stage":

        def build(sp, sf_dir):
            docs = sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            return simhash_hamming_rep_pairs(docs)[0]  # (rep_pairs, groups)

        name = "simhash_rep_stage(simhash_hamming_rep_pairs)"
    else:
        build = load_all()[name].build

    out: dict = {"date": time.strftime("%Y-%m-%d"), "query": name, "sf_dir": bench.SF_DIR}
    base_sec, base_rows = bench.measure(spark, build, bench.SF_DIR)
    out["base"] = {"sec": round(base_sec, 3), "rows": base_rows}
    out["points"] = []
    for factor in factors:
        sdir = bench._build_stress_dir(spark, bench.SF_DIR, factor)
        sec, rows = bench.measure(spark, build, sdir)
        out["points"].append(
            {
                "factor": factor,
                "sec": round(sec, 3),
                "rows": rows,
                "growth_x": round(sec / base_sec, 2),
            }
        )
    if n_chunks > 0:
        out.update(state_section(spark, sdir, factors[-1], n_chunks))
    print(json.dumps(out))
    if n_chunks > 0 and not out["chunked"]["associativity_ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
