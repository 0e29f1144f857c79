"""Benchmark runner: executes every catalog query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:
{"queries": {<headline subset>: sec, ...}, "detail": "BENCH_local.json",
"n_queries": N, "median_vs_baseline": ..., "worst_vs_baseline": ...,
"recheck_repeat_offenders": [...], "regressions_gt_2x": [...],
"sf": ..., "metric": ..., "unit": "sec", "value": total_sec}.

The line is kept under the driver's ~2000-byte capture so it PARSES in
the per-round artifact (BENCH_r05..r10 all record parsed=null because
the full-catalog line outgrew the capture at round 5);
tests/test_bench_line_size.py pins the budget. The full per-query
record (all timings, vs_baseline, stress curves, recheck provenance)
is written to /tmp/spark_graft_bench_full.json, which run_gates.sh
installs as the committed BENCH_local.json.

The 2x gate is falsifiable: per-query targets live in the versioned
"anchors_v2" block of bench_baseline.json (the per-query median of three
fresh runs of this runner, SPARK_GRAFT_NO_STRESS=1); "vs_baseline"
reports this-run/target per query and "regressions_gt_2x" lists the
breaches that a second measurement in the same warm session reproduces.

Scale-stress: the dedup family is re-run against a 10x-replicated
documents table (50k docs at sf0.1) and "scale_stress" reports the
runtime growth factor per query — sub-linear-in-pairs growth is the
evidence that the LSH/inverted-index shapes (not quadratic ones) are on
the data path. Skip with SPARK_GRAFT_NO_STRESS=1.

Every timing here and in tools/ goes through ``measure``: best of two
``session.materialize`` runs of the DataFrame the query built, which
computes every output column (the plan the oracle checks) without
collecting rows to the driver. One warm-up run of the first benched
query amortizes JVM startup. The sidecar's "host" header records the
CPUs, RAM, the share of all CPU time the hypervisor stole during the
main loop (``steal_share``, from /proc/stat), and the session's confs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import cpu_ticks, host_ram_mb, session_facts  # noqa: E402
from syntheticdata_pipeline__spark.session import materialize  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))

# queries re-run against 10x documents for the growth curve
STRESS_QUERIES = (
    "exact_dedup_docs",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "gopher_quality_flags",
    "repetition_top_bigram",
    "substring_dup_pairs",
    "substring_max_span",
    "incremental_dedup_survivors",
    # doc-local plans (winnowing windows, intra-doc self-join) must grow
    # at most linearly in docs; cross_source_overlap's JOIN side is
    # distinct-gram-bound (replicated copies land in the same source, so
    # pair counts stay flat) — its growth is the scan+explode volume.
    "winnowing_fingerprints",
    "intradoc_repeated_span",
    "cross_source_overlap",
    # prefix-filter join: postings/candidates run on DISTINCT sets after
    # the identical-set collapse — growth must track unique docs + the
    # re-expanded output, never the quadratic duplicate count.
    "jaccard_prefix_filter_join",
    "doc_continuation_pairs",
    # trained IVF: training scans only the seeded sample, assignment and
    # the query-bounded probe/brute sides are one corpus pass each —
    # growth must stay linear in vectors (embeddings table replicated).
    "ann_ivf_trained_topk",
    # embeddings family (replicated identical vectors are the worst case:
    # they share every hyperplane bucket, so the pair stage's output
    # grows ~100x): growth must stay output/linear-bound — measured at
    # first wiring r7: semantic 2.35x, cosine-LSH 3.54x with 734x the
    # emitted pairs, kmeans 1.41x, pagerank 1.07x.
    "semantic_dedup_stats",
    "cosine_neardup_lsh",
    "kmeans_embedding_clusters",
    "similarity_pagerank",
    # r9: the heaviest benched query with no growth curve until now —
    # its min-label propagation rounds are the one hot loop the
    # identical-set collapse can't shorten, so the curve is the evidence
    # the node-keyed SMJ rounds stay sub-quadratic under duplicate-heavy
    # corpora; plus the df-capped postings path (rare-gram pruning) whose
    # cap is exactly what must hold as duplicates multiply.
    "cluster_aware_split_leakage",
    "ngram_jaccard_pruned",
    "lsh_param_chooser",
    # r11: first stress coverage for the EVENTS family — the replication
    # keeps user_id (copies share users), so every per-user window/sort
    # partition grows by the factor and every copied timestamp becomes a
    # duplicate-instant tie: the hot-user axis, the hard one (more-users
    # growth is embarrassingly parallel by construction). Growth must be
    # ~linear: these are one-shuffle-per-user-key plans (sessionize,
    # as-of union+carry, lag matrix, 3-arm feature join).
    "asof_view_purchase",
    "session_windows_batch",
    "event_transition_matrix",
    "user_behavior_features",
)
STRESS_FACTOR = 10
# second, deeper replication point for the paths whose state/postings
# grow with every ingested doc: the incremental signature state and the
# two newest postings-family members (prefix-filter join, positional
# max-span) get a 30x sample too (keys land in scale_stress as
# "<name>@30x", with growth_vs_10x locking the curve shape).
STRESS_QUERIES_DEEP = (
    # r11: the as-of is the events query most exposed to the duplicate-
    # instant blowup (its (user, t) tie collapse must keep the carried
    # state linear) — give it the deep point too.
    "asof_view_purchase",
    # r12 (r11 verdict #5): the two events-family queries with the
    # highest 10x growth and no deeper point — behavior features 3.25x,
    # transition matrix 2.23x. Both are one-shuffle-per-user-key plans,
    # so the 10x->30x segment should flatten; measure, don't assert.
    "user_behavior_features",
    "event_transition_matrix",
    "incremental_dedup_survivors",
    "jaccard_prefix_filter_join",
    "substring_max_span",
    # r9: lock the curve shape of the label-propagation loop too — the
    # 30x point bounds how the per-round SMJ volume scales when every
    # document has ~30 replicas in its connected component.
    "cluster_aware_split_leakage",
    # r10 (r9 verdict #4): the stress table's highest 10x growth (2.51x)
    # with no deeper point — its doc-local self-join output is bounded
    # by per-doc repetition, so the curve should flatten; measure it.
    "intradoc_repeated_span",
)
STRESS_FACTOR_DEEP = 30

# Per-query timings printed on the STDOUT line (the driver's capture of
# that line is bounded at ~2000 bytes, so the full 190-query dict cannot
# ride it — it lives in the DETAIL_PATH sidecar / committed
# BENCH_local.json). The subset is the scale-critical stress family plus
# a few representative relational/vector anchors.
HEADLINE_QUERIES = STRESS_QUERIES + (
    "tpch_q1_pricing_summary",
    "tpch_q9_product_profit",
    "ann_recall_at_k",
    "bm25_topk_docs",
)

# Full-detail sidecar: run_gates.sh installs this as BENCH_local.json so
# the committed artifact and PERF.md keep the complete per-query record.
DETAIL_PATH = "/tmp/spark_graft_bench_full.json"


def _load_baseline() -> tuple[dict[str, float], str]:
    """(per-query anchor seconds, anchor sf) from the method-v2 anchors in
    bench_baseline.json; the older keys time ``.count()`` and stay only
    as history. The file is committed, so a missing or malformed block
    is an error, not an empty baseline that would pass the 2x gate."""
    with open(os.path.join(REPO, "bench_baseline.json")) as f:
        v2 = json.load(f)["anchors_v2"]
    return v2["queries"], str(v2["sf"])


def _build_stress_dir(spark, sf_dir: str, factor: int) -> str:
    """Materialize <tmp>/documents.parquet, <tmp>/embeddings.parquet and
    <tmp>/events.parquet as `factor` copies of the source tables (ids
    offset per copy so dedup / ANN keys stay realistic: exact-duplicate
    groups and cell occupancy scale by `factor`; events keep user_id so
    per-user partitions grow by `factor` and copied timestamps become
    duplicate-instant ties — the hot-user axis), other tables symlinked.
    The `_v3` suffix versions the layout (v1 symlinked embeddings, v2
    symlinked events)."""
    import pyspark.sql.functions as F

    base = f"/tmp/spark_graft_stress_{os.path.basename(sf_dir.rstrip('/'))}_{factor}x"
    stress = f"{base}_v3"
    marker = os.path.join(stress, "_READY")
    # Reclaim superseded layouts (v1 symlinked embeddings, v2 symlinked
    # events) so stale replicated parquet doesn't accumulate under /tmp —
    # unconditionally, not only when the current layout still needs
    # building (r7 + r8 ADVICE; tests/test_bench_reclaim.py).
    for old in (base, f"{base}_v2"):
        shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(marker):
        os.makedirs(stress, exist_ok=True)
        for table, id_col in (
            ("documents", "doc_id"),
            ("embeddings", "vec_id"),
            ("events", "event_id"),
        ):
            src_df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
            n = src_df.count()
            copies = src_df
            for i in range(1, factor):
                copies = copies.unionByName(
                    src_df.withColumn(id_col, (F.col(id_col) + i * n).cast("long"))
                )
            copies.repartition(32).write.mode("overwrite").parquet(
                os.path.join(stress, f"{table}.parquet")
            )
        for t in "region nation customer supplier part orders lineitem".split():
            link = os.path.join(stress, f"{t}.parquet")
            src = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(link) and os.path.exists(src):
                os.symlink(src, link)
        with open(marker, "w") as f:
            f.write("ok")
    return stress


def measure(spark, build, sf_dir: str, repeats: int = 2) -> tuple[float, int]:
    """Best-of-``repeats`` seconds of ``materialize(build(spark, sf_dir))``
    and the last row count — the one timing path of this runner and
    tools/. ``build`` is any ``(spark, sf_dir) -> DataFrame``, rebuilt
    inside every timed repeat."""
    # best-of-N: the first execution of a multi-join plan pays one-time
    # whole-stage-codegen compilation (~2x on the 6-join TPC-H shapes),
    # which is not a property of the plan
    best, rows = float("inf"), 0
    for _ in range(repeats):
        t0 = time.perf_counter()
        rows = materialize(build(spark, sf_dir))
        best = min(best, time.perf_counter() - t0)
    return best, rows


def _confirm_regressions(
    spark,
    registry: dict,
    candidates: list[str],
    baseline: dict[str, float],
    timings: dict[str, float],
    vs_baseline: dict[str, float],
    recheck: dict[str, dict],
) -> list[str]:
    """Re-time each would-be 2x gate breach with ``measure`` in the bench's
    own warm session, right after the main loop — the protocol the anchors
    were measured under — and return the breaches the recheck reproduces.
    The recheck replaces the main-loop timing/ratio and both values are
    recorded in ``recheck``. Tested in tests/test_bench_reclaim.py."""
    confirmed = []
    for name in candidates:
        try:
            again = measure(spark, registry[name].build, SF_DIR)[0]
        except Exception as e:
            # A recheck crash (transient Spark failure, OOM) must not sink
            # the bench line (r10 ADVICE): keep the main-loop breach as
            # confirmed — the conservative reading — and record the error.
            recheck[name] = {
                "in_context_sec": timings[name],
                "error": f"{type(e).__name__}: {e}"[:300],
            }
            confirmed.append(name)
            print(f"# recheck {name}: ERROR ({type(e).__name__}) — breach kept", file=sys.stderr)
            continue
        # gate on the UNROUNDED ratio (r10 ADVICE: 2.0049 must not pass a
        # 2.0 gate); round only the recorded artifact values
        ratio = again / baseline[name]
        recheck[name] = {
            "in_context_sec": timings[name],
            "recheck_sec": round(again, 3),
            "vs_baseline": round(ratio, 2),
        }
        timings[name] = round(again, 3)
        vs_baseline[name] = round(ratio, 2)
        if ratio > 2.0:
            confirmed.append(name)
        print(
            f"# recheck {name}: {again:.3f}s vs anchor ratio {ratio:.3f}"
            f" ({'CONFIRMED regression' if ratio > 2.0 else 'not reproduced'})",
            file=sys.stderr,
        )
    return confirmed


def main() -> None:
    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.session import get_spark

    registry = load_all()
    baseline, baseline_sf = _load_baseline()

    host = {
        "date": time.strftime("%Y-%m-%d"),
        "cpus": len(os.sched_getaffinity(0)),
        "ram_mb": host_ram_mb(),
    }
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    host["session"] = session_facts(spark)

    # Warm-up: JVM + codegen + parquet footer caches.
    measure(spark, registry[next(iter(registry))].build, SF_DIR, repeats=1)

    timings: dict[str, float] = {}
    steal0 = cpu_ticks()
    for name in sorted(registry):
        best, n = measure(spark, registry[name].build, SF_DIR)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s rows={n}", file=sys.stderr)
    steal1 = cpu_ticks()
    host["steal_share"] = round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)

    # gate on UNROUNDED ratios (r10 ADVICE: a true 2.0049 must not slip a
    # 2.0 gate via display rounding); vs_baseline keeps 2-decimal artifact
    # values for the committed JSON.
    ratios = {
        name: timings[name] / baseline[name]
        for name in timings
        if name in baseline and baseline[name] > 0
    }
    vs_baseline = {name: round(r, 2) for name, r in ratios.items()}
    # The anchors are sf0.1 measurements; at other SFs fixed
    # per-job overhead dominates sub-second queries and the ratio is
    # meaningless, so the 2x gate only binds when run-sf == anchor-sf.
    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    gate_active = sf_str == baseline_sf
    regressions = (
        sorted(n for n, r in ratios.items() if r > 2.0) if gate_active else []
    )

    # A breach counts only if a second best-of-2 in this same warm
    # session, right after the loop, reproduces it: the anchors were
    # measured that way, so the recheck compares like with like. The
    # recheck value replaces the main-loop one and both are recorded
    # under "recheck".
    recheck: dict[str, dict] = {}
    if regressions:
        regressions = _confirm_regressions(
            spark, registry, regressions, baseline, timings, vs_baseline, recheck
        )
    # The stress phase runs in its own session; an idle JVM beside it
    # would only contend for memory.
    spark.stop()

    stress: dict = {}
    if not os.environ.get("SPARK_GRAFT_NO_STRESS"):
        try:
            # Growth curves are evidence about plan SHAPE, so both sides
            # of each ratio are measured inside one session, close
            # together (the r15 probe traced the 4-7x main-loop-vs-solo
            # gaps of 2026-08-15 to host noise, not session state;
            # plans/r15/evidence/README.md). Best-of-2 like the main loop:
            # the first stress execution pays cold codegen + cold
            # stress-dir file cache, which previously made growth curves
            # cold-vs-warm noise (a 30x point measuring FASTER than its
            # 10x point).
            spark = get_spark("bench-stress")
            spark.sparkContext.setLogLevel("ERROR")
            stress_base: dict[str, float] = {}

            def stress_run(name: str, factor: int) -> dict:
                build = registry[name].build
                sec, n = measure(spark, build, _build_stress_dir(spark, SF_DIR, factor))
                sec = round(sec, 3)
                if name not in stress_base:
                    stress_base[name] = round(measure(spark, build, SF_DIR)[0], 3)
                base = stress_base[name]
                rec = {
                    "sec": sec,
                    "rows": n,
                    "base_sec": base,
                    "growth_x": round(sec / base, 2) if base else None,
                }
                if factor == STRESS_FACTOR_DEEP and name in stress:
                    rec["growth_vs_10x"] = round(sec / stress[name]["sec"], 2)
                print(
                    f"# stress[{factor}x] {name}: {sec:.3f}s rows={n} "
                    f"growth={rec['growth_x']}x",
                    file=sys.stderr,
                )
                return rec

            for name in STRESS_QUERIES:
                if name in registry:
                    stress[name] = stress_run(name, STRESS_FACTOR)
            stress["factor"] = STRESS_FACTOR
            for name in STRESS_QUERIES_DEEP:
                if name in registry:
                    stress[f"{name}@{STRESS_FACTOR_DEEP}x"] = stress_run(
                        name, STRESS_FACTOR_DEEP
                    )
        except Exception as e:  # stress must never sink the bench line
            stress = {"error": f"{type(e).__name__}: {e}"}

    # A query the recheck forgives in CONSECUTIVE committed runs is a
    # repeat offender (r10 ADVICE): a plan regression that only
    # shows up late in a long run would be silently forgiven forever, so
    # surface the overlap with the previously committed run.
    prior_forgiven: set[str] = set()
    try:
        with open(os.path.join(REPO, "BENCH_local.json")) as f:
            prior_forgiven = set(json.load(f).get("recheck", {}))
    except Exception:
        pass
    repeat_offenders = sorted(prior_forgiven & set(recheck))

    sf_val = float(sf_str) if sf_str.replace(".", "").isdigit() else sf_str
    summary = {
        "n_queries": len(timings),
        "median_vs_baseline": (
            round(sorted(vs_baseline.values())[len(vs_baseline) // 2], 2)
            if vs_baseline
            else None
        ),
        "worst_vs_baseline": (
            round(max(vs_baseline.values()), 2) if vs_baseline else None
        ),
        "recheck_repeat_offenders": repeat_offenders,
        "regressions_gt_2x": regressions,
        "sf": sf_val,
        "metric": "headline_queries_total_runtime",
        "unit": "sec",
        "value": round(sum(timings.values()), 3),
    }
    # Full per-query detail (all queries + vs_baseline + stress curves +
    # recheck provenance + host facts) goes to the sidecar, which
    # run_gates.sh installs as the committed BENCH_local.json.
    with open(DETAIL_PATH, "w") as f:
        json.dump(
            {
                "queries": timings,
                "vs_baseline": vs_baseline,
                "scale_stress": stress,
                "recheck": recheck,
                "host": host,
                **summary,
            },
            f,
        )
    # The stdout line must PARSE from the driver's bounded capture
    # (~2000 bytes: BENCH_r05..r10 all record parsed=null because the
    # full-catalog line outgrew it in round 5). So the line carries the
    # complete summary + gate verdicts + the fixed HEADLINE subset of
    # per-query timings, and points at the sidecar for the rest;
    # tests/test_bench_line_size.py pins the budget.
    headline = {n: timings[n] for n in HEADLINE_QUERIES if n in timings}
    print(
        json.dumps(
            {
                "queries": headline,
                "detail": "BENCH_local.json",
                **summary,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
