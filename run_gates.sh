#!/usr/bin/env bash
# Pre-round-end gate: a round must never ship with red tests or a bench
# that cannot produce its JSON line (rounds 3-4 shipped rc=1 benches).
#
#   ./run_gates.sh          # full: pytest + oracle gate + sf0.1 bench
#   ./run_gates.sh quick    # smoke: pytest -x + perfbench self-test + sf0.001 bench
#
# Exit nonzero on ANY gate failure.
set -uo pipefail
cd "$(dirname "$0")"

MODE="${1:-full}"
fail=0

echo "== gate 1: pytest =="
# full mode runs the slow batteries too (r15: the default run auto-skips
# tests marked `slow` so the driver's bounded verify window completes;
# round-end gating must still exercise everything).
if [ "$MODE" = "full" ]; then
  export SPARK_GRAFT_FULL_TESTS=1
fi
if ! python -m pytest tests/ -x -q; then
  echo "GATE FAIL: pytest" >&2
  fail=1
fi

echo "== gate 1b: benchmark harness self-test (no timed action drops an output column) =="
if ! python -m pytest perfbench -q -p no:cacheprovider; then
  echo "GATE FAIL: perfbench self-test" >&2
  fail=1
fi

if [ "$MODE" = "full" ]; then
  echo "== gate 2: oracle parity (driver replica, sf0.01) =="
  # SELFCHECK.json is the committed full-catalog twin of the driver's
  # CORRECTNESS_r{N}.json — the driver's own window covers only a
  # rotating 50-query subset per round.
  if ! python tools/check_oracle.py --json SELFCHECK.json; then
    echo "GATE FAIL: oracle parity" >&2
    fail=1
  fi

  echo "== gate 2b: hostile-driver simulation (driver-owned session, non-UTC) =="
  # changed-this-round queries PLUS the streaming batch-twins every
  # round: a Spark version bump broke the events loader silently in
  # r3/r4, and the streaming paths are the ones the oracle gate
  # exercises least (VERDICT r6 "Next round" #7).
  CHANGED=$(python -c "import __spark_entry__ as m; print(' '.join(m._CHANGED_THIS_ROUND))")
  STREAMING_TWINS="stream_tumbling_counts stateful_dedup_events"
  if ! python tools/driver_sim.py $CHANGED $STREAMING_TWINS; then
    echo "GATE FAIL: driver simulation" >&2
    fail=1
  fi

  # Standing depth gates (r12 verdict "Next round" #7): each of these
  # found a unique real divergence in r12 that the pinned-scale
  # batteries provably could not see — scale is itself an adversarial
  # axis, so they run every round-end, not as one-offs.
  echo "== gate 2c: full-catalog oracle sweep at sf0.1 =="
  if ! SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 \
       python tools/check_oracle.py --json /tmp/SELFCHECK_sf01.json; then
    echo "GATE FAIL: sf0.1 catalog sweep" >&2
    fail=1
  fi

  echo "== gate 2d: twelve-stripe hostile depth sweep at sf0.01 =="
  if ! python tools/hostile_depth_sweep.py /root/testdata/sf0.01; then
    echo "GATE FAIL: hostile depth sweep" >&2
    fail=1
  fi

  echo "== gate 2e: round()-keyed grid audit (sub-second, DuckDB-only) =="
  if ! python tools/grid_tie_sweep.py /root/testdata/sf0.01 /root/testdata/sf0.1; then
    echo "GATE FAIL: a round()-keyed grid site remains (convert to the floor grid)" >&2
    fail=1
  fi
fi

echo "== gate 3: bench JSON line =="
if [ "$MODE" = "quick" ]; then
  BENCH_ENV="SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_NO_STRESS=1"
else
  BENCH_ENV=""
fi
out="$(env $BENCH_ENV python bench.py 2>/tmp/run_gates_bench.err)"
rc=$?
[ -n "$out" ] && echo "$out" > /tmp/run_gates_bench.json
if [ $rc -ne 0 ] || [ -z "$out" ]; then
  echo "GATE FAIL: bench.py rc=$rc (stderr tail below)" >&2
  tail -20 /tmp/run_gates_bench.err >&2
  fail=1
else
  echo "$out" | python -c '
import json, sys
d = json.loads(sys.stdin.readline())
regs = d.get("regressions_gt_2x", [])
print("bench ok: total=%ss sf=%s queries=%d" % (d["value"], d["sf"], d.get("n_queries", len(d["queries"]))))
if regs:
    print("GATE FAIL: regressions_gt_2x=%s" % regs, file=sys.stderr)
    sys.exit(1)
'
  [ $? -ne 0 ] && fail=1
fi

if [ "$MODE" = "full" ] && [ $fail -eq 0 ]; then
  echo "== refresh committed bench artifact + PERF prose (single motion) =="
  # BENCH_local.json and PERF.md's generated section move together, so
  # the prose can never quote a run other than the committed artifact
  # (the r5/r6 repeated finding). tests/test_perf_md_sync.py enforces
  # the same invariant CI-side. The committed artifact is the FULL
  # detail sidecar — bench.py's stdout line carries only the
  # driver-parseable headline subset since round 11.
  if [ -f /tmp/spark_graft_bench_full.json ]; then
    cp /tmp/spark_graft_bench_full.json BENCH_local.json
  else
    echo "GATE FAIL: bench detail sidecar missing" >&2
    fail=1
  fi
  python tools/gen_perf_md.py --write
  # In-run guarantee on the REFRESHED files (a --check right after --write
  # would be tautological — r7 ADVICE): re-run the sync test itself.
  if ! python -m pytest tests/test_perf_md_sync.py -q --no-header; then
    echo "GATE FAIL: PERF.md out of sync with BENCH_local.json" >&2
    fail=1
  fi

  echo "== refresh plan audit + query index =="
  python tools/plan_walk.py audit > PLANS_AUDIT.md && echo "PLANS_AUDIT.md refreshed"
  python tools/gen_queries_md.py > QUERIES.md && echo "QUERIES.md refreshed"
fi

if [ $fail -eq 0 ]; then
  echo "== ALL GATES GREEN =="
else
  echo "== GATES RED ==" >&2
fi
exit $fail
