"""Benchmark of the engine's workloads, run as one process on local[nproc].

Usage, from the repository root::

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 10 --trace 0

One run:

1. generates the inputs for ``--seed`` (cached under ``.bench_data/``) and
   starts computing their DuckDB oracle answers on a background thread
   (cached beside them);
2. sets up: ``get_spark`` sized to the host, then one warm-up pass that is
   also the output check (every operation against its DuckDB twin; the
   checking is timed apart and left out of ``setup_s``);
3. runs timed passes of every operation, in a seeded order, until
   ``--seconds`` have passed (at least one pass);
4. prints diagnostics on stderr, a JSON line of host facts and run details,
   and as the last line ``{"correct", "attempted", "failed", "metrics"}``.

The time metrics (``setup_s``, ``pass_s``, ``op_p50_s``, ``op_p90_s``) are
the engine's CPU seconds as :class:`EngineClock` counts them, not wall
time: on a virtual machine whose neighbours come and go, wall time of the
same pass moved by up to 85% between runs, CPU seconds by about 15%. The
wall times go on the run-details line (``setup_wall_s``, ``pass_wall_s``).

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
untraced and traced passes alternate (a traced pass also wraps the package's
layer functions in spans), layer probes run after them, the
metrics are the per-layer ones, the tracing overhead (traced minus
untraced pass time) and each module's share of the traced pass's wall time
go on the run-details line, and every span is written
to ``.bench_out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "syntheticdata_pipeline__spark"
ORACLE_GATE = os.path.join("tools", "check_oracle.py")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.optimize_s": "s",
    "plans.exec_s": "s",
    "plans.exchanges": "count",
    "plans.shuffle_bytes": "B",
    "plans.broadcast_bytes": "B",
    "plans.spill_bytes": "B",
    "sources.scan_s": "s",
    "sources.scan_rows": "count",
    "sources.write_s": "s",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "write_bytes_per_input_byte": "B/B",
    "functions.text.tokens_s": "s",
    "operators.neardup.shingle_s": "s",
    "operators.neardup.signature_s": "s",
    "operators.neardup.band_join_s": "s",
    "operators.neardup.verified_per_candidate": "ratio",
    "operators.neardup.sets_per_doc": "ratio",
    "operators.neardup.incremental_s": "s",
    "operators.clusters.cc_s": "s",
    "operators.clusters.cc_rounds": "count",
    "operators.clusters.kmeans_s": "s",
    "operators.similarity.topk_s": "s",
    "operators.similarity.candidates_per_result": "ratio",
    "operators.state.filter_new_s": "s",
    "operators.state.append_s": "s",
    "operators.state.compact_s": "s",
    "streaming.batch_s": "s",
    "streaming.input_rows_per_s": "1/s",
    "streaming.state_rows": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- host ----------------------------------------------------------------------


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def load_canary_ms() -> float:
    """Time a fixed CPU-bound job; a slow reading means a busy host."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"\x5a" * 65536
    for _ in range(256):
        h.update(block)
    return (time.perf_counter() - t0) * 1000.0


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pids: list[int]) -> int:
    """Proportional set size summed over ``pids``: a page shared by n of
    them counts 1/n to each, so the Python workers forked from one daemon
    count their shared pages once in total."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and its live descendants,
    each counting the children it has reaped, so the time of a worker that
    exits during a pass stays counted in its parent."""
    # utime, stime, cutime, cstime
    return sum(_ticks(f"/proc/{pid}/stat", slice(11, 15)) for pid in _process_tree(root)) / _TICK


def _ticks(path: str, fields: slice = slice(11, 13)) -> int:
    """Sum of clock-tick fields of a ``/proc/.../stat`` file (by default
    utime and stime); 0 once the process or thread has gone."""
    try:
        with open(path) as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])
    except (OSError, IndexError, ValueError):
        return 0


class EngineClock:
    """Wall and CPU time of the engine. The CPU time is the benchmark's main
    thread (the PySpark driver side, where plans are built) plus the driver
    JVM and every process under it (the daemon and its Python workers),
    less the JVM's JIT compiler threads. It leaves out time the host's
    other tenants or the hypervisor take from the engine's CPUs, and the
    memory sampler's thread.

    JIT compilation is left out because it is backlogged for the first
    minutes of the JVM's life: the compiler threads stay busy through every
    pass, so their CPU time follows the pass's wall time rather than the
    work the pass does. The compiler threads are fixed at JVM start
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so they can be found once."""

    def __init__(self):
        self.jvm: int | None = None
        self.jit_tids: list[str] = []

    def start(self, jvm: int) -> None:
        self.jvm = jvm
        tasks = f"/proc/{jvm}/task"
        self.jit_tids = [
            t for t in os.listdir(tasks) if _comm(f"{jvm}/task/{t}")[:3] in ("C1 ", "C2 ")
        ]

    def jit(self) -> float:
        return sum(_ticks(f"/proc/{self.jvm}/task/{t}/stat") for t in self.jit_tids) / _TICK

    def cpu(self) -> float:
        if self.jvm is None:
            return time.thread_time()
        return time.thread_time() + tree_cpu_s(self.jvm) - self.jit()

    def __call__(self) -> tuple[float, float]:
        return time.perf_counter(), self.cpu()

    def split(self) -> dict[str, float]:
        """CPU seconds so far by part: the driver's main thread, the JVM's
        JIT compiler threads (not in :meth:`cpu`), the rest of the JVM, the
        Python workers, and how much of the JVM's and workers' time ran in
        the kernel."""
        tree = _process_tree(self.jvm)
        jvm = _ticks(f"/proc/{self.jvm}/stat") / _TICK
        return {
            "driver_py": time.thread_time(),
            "jit": self.jit(),
            "jvm": jvm - self.jit(),
            "workers": tree_cpu_s(self.jvm) - jvm,
            "kernel": sum(_ticks(f"/proc/{p}/stat", slice(12, 15, 2)) for p in tree) / _TICK,
        }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _comm(pid) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _jvm_and_workers(root: int) -> list[int]:
    """The driver JVM under ``root`` and the Python workers below it. Other
    descendants are left out: the JVM runs short shell commands for file
    permissions, and a child caught between fork and exec reports the
    whole JVM's resident set a second time."""
    tree = _process_tree(root)
    jvm = next((p for p in tree if _comm(p) == "java"), None)
    if jvm is None:
        return []
    return [jvm] + [p for p in _process_tree(jvm)[1:] if _comm(p).startswith("python")]


class RssSampler:
    """Peak memory (proportional set size) of the driver JVM plus its
    Python workers, sampled on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _pss_bytes(_jvm_and_workers(self.root_pid)))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- session -----------------------------------------------------------------------


def configure_spark_env(work: str, heap_mb: int) -> None:
    """Confs that must exist before the JVM starts: the driver heap, the
    package on the Python workers' path, no console progress bars (a
    static conf), and every scratch file inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # JAVA_TOOL_OPTIONS also reaches the short-lived launcher JVM that
    # spark-submit starts first; without it that JVM writes under /tmp.
    # A fixed set of JIT compiler threads lets EngineClock leave them out.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote("spark.local.dir=" + os.path.join(work, "local")),
            "--conf " + shlex.quote("spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
            f"--driver-java-options -Xms{heap_mb}m",
            "pyspark-shell",
        ]
    )


def quiet_logs(spark) -> None:
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    # local checkpoints of already-finished plans make the scheduler log
    # one stack trace per stale accumulator update; the jobs are unaffected
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )


def session_facts(spark) -> dict:
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.default.parallelism",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.ui.showConsoleProgress",
    )
    conf = dict(spark.sparkContext.getConf().getAll())
    return {k: spark.conf.get(k, conf.get(k)) for k in keys}


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and every Python worker it forked,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _process_tree(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --- passes ------------------------------------------------------------------------


def pass_order(wl, seed: int, pass_no: int) -> list[str]:
    ops = wl.ops()
    if wl.name == "ingest":  # chunks are time-ordered by definition
        return ops
    random.Random(seed * 1_000_003 + pass_no).shuffle(ops)
    return ops


def run_pass(wl, ctx, order: list[str], pass_no: int) -> dict:
    from workloads import log_failure

    wl.begin_pass(ctx)
    ctx.counters = {}
    first_span = len(ctx.tracer.spans)
    latencies, by_op, failed = [], {}, 0
    w0, c0 = ctx.clock()
    for name in order:
        _, c = ctx.clock()
        try:
            wl.run_op(ctx, name, f"p{pass_no}:{name}")
        except Exception:
            log_failure(f"{wl.name} {name} (pass {pass_no})")
            failed += 1
            continue
        latencies.append(ctx.clock()[1] - c)
        by_op[name] = latencies[-1]
    w1, c1 = ctx.clock()
    return {
        "wall": w1 - w0,
        "cpu": c1 - c0,
        "latencies": latencies,
        "by_op": by_op,
        "failed": failed,
        "traced": ctx.tracing,
        "spans": (first_span, len(ctx.tracer.spans)),
        "counters": dict(ctx.counters),
    }


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100); 0 when every
    operation failed, which the result reports as incorrect anyway."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def per_layer(wl, tracer, passes: list[dict], t_session: float, probes: dict, in_bytes: int):
    traced = [p for p in passes if p["traced"]]

    def mean(f) -> float:
        return statistics.fmean(f(p) for p in traced)

    def span_s(name: str):
        # the benchmark's own spans, whose children are the layer functions
        # the call reached
        return lambda p: tracer.durations(tracer.spans[slice(*p["spans"])]).get(name, 0.0)

    def counter(key: str, scale: float = 1.0):
        return lambda p: p["counters"].get(key, 0) * scale

    stream_s = mean(counter("stream_batch_s"))
    m = {
        "session.get_spark_s": t_session,
        "plans.build_s": mean(span_s("plans.build")),
        "plans.build_jobs": mean(counter("build_jobs")),
        "plans.optimize_s": mean(span_s("plans.optimize")),
        "plans.exec_s": mean(span_s("plans.exec")),
        "plans.exchanges": mean(counter("exchanges")),
        "plans.shuffle_bytes": mean(counter("shuffle_bytes")),
        "plans.broadcast_bytes": mean(counter("broadcast_bytes")),
        "plans.spill_bytes": mean(counter("spill_bytes")),
        "sources.scan_s": mean(counter("scan_ms", 1e-3)),
        "sources.scan_rows": mean(counter("scan_rows")),
        "sources.write_s": mean(span_s("sources.write")),
        "sources.bytes_written": mean(counter("bytes_written")),
        "sources.files_written": mean(counter("files_written")),
        "write_bytes_per_input_byte": mean(counter("bytes_written")) / in_bytes,
        "operators.neardup.incremental_s": mean(span_s("operators.neardup.incremental")),
        "operators.state.filter_new_s": mean(span_s("operators.state.filter_new")),
        "operators.state.append_s": mean(span_s("operators.state.append")),
        "operators.state.compact_s": mean(span_s("operators.state.compact")),
        "streaming.batch_s": stream_s,
        "streaming.input_rows_per_s": (
            mean(counter("stream_input_rows")) / stream_s if stream_s else 0.0
        ),
        "streaming.state_rows": mean(counter("stream_state_rows")),
    }
    m.update(probes)
    return {k: m.get(k, 0.0) for k in PER_LAYER}


def traced_pass_share(tracer, passes: list[dict]) -> dict[str, float]:
    """Share of the traced passes' wall time that each module's spans spend
    in self time (``plans.build``, ``operators.clusters``, ...); what no span
    covers is ``untraced``."""
    traced = [p for p in passes if p["traced"]]
    wall = sum(p["wall"] for p in traced)
    out: dict[str, float] = {}
    for p in traced:
        for name, sec in tracer.self_times(tracer.spans[slice(*p["spans"])]).items():
            key = ".".join(name.split(".")[:2])
            out[key] = out.get(key, 0.0) + sec / wall
    out["untraced"] = 1.0 - sum(out.values())
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def run(args) -> int:
    from gen import ensure_inputs, input_bytes, input_rows
    from spans import Tracer, layer_spans
    from workloads import WORKLOADS, Ctx, OracleAnswers

    t_run = time.perf_counter()
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    ram_mb = host_ram_mb()
    # a fixed heap size (-Xms = -Xmx) keeps peak RSS comparable between
    # runs; the inputs need a small fraction of it
    heap_mb = min(1024, ram_mb // 4)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sf_dir = ensure_inputs(os.path.join(ROOT, ".bench_data"), args.seed)
    in_bytes = input_bytes(sf_dir, wl.tables)
    configure_spark_env(work, heap_mb)
    host = {
        "cpus": cpus,
        "ram_mb": ram_mb,
        "driver_heap_mb": heap_mb,
        "loadavg": os.getloadavg(),
        "canary_ms_start": load_canary_ms(),
        "python": platform.python_version(),
    }

    from pyspark import SparkContext

    from syntheticdata_pipeline__spark.plans import load_all
    from syntheticdata_pipeline__spark.session import get_spark
    from tools.check_oracle import duck_connect

    wl.resolve(load_all())
    con = duck_connect(sf_dir)
    con.execute(f"SET threads TO {max(cpus // 2, 1)}")  # leave the engine most of the host
    oracles = OracleAnswers(con, wl.oracle_sqls(), os.path.join(sf_dir, "oracle"))
    tracer = Tracer(enabled=bool(args.trace))
    clock = EngineClock()
    w0, c0 = clock()
    phases = {"prepare_s": w0 - t_run}
    with tracer.span("session.get_spark", "setup"):
        spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
    clock.start(SparkContext._gateway.proc.pid)
    host["jit_threads"] = len(clock.jit_tids)
    w1, c1 = clock()
    t_session, cpu_session = w1 - w0, c1 - c0
    try:
        quiet_logs(spark)
        host["spark"] = spark.version
        host["session"] = session_facts(spark)
        ctx = Ctx(spark, sf_dir, work, tracer, args.seed, clock)
        tracer.enabled = False  # the warm-up runs alike in both modes
        w0, c0 = clock()
        attempted, failed, (check_w, check_c) = wl.warm_up(
            ctx, pass_order(wl, args.seed, 0), oracles
        )
        w1, c1 = clock()
        phases["warm_up_s"] = w1 - w0 - check_w
        phases["check_only_s"] = check_w
        setup_cpu_s = cpu_session + c1 - c0 - check_c
        oracles.wait()  # done by now; never overlaps a timed pass

        passes: list[dict] = []
        t_start = time.perf_counter()
        steal0 = cpu_ticks()
        split0 = clock.split()
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            while (
                not passes
                or time.perf_counter() - t_start < args.seconds
                or (args.trace and len(passes) < 2)
            ):
                n = len(passes) + 1
                tracer.enabled = bool(args.trace) and n % 2 == 0
                layers = layer_spans(tracer, PACKAGE) if tracer.enabled else contextlib.nullcontext()
                with layers:
                    passes.append(run_pass(wl, ctx, pass_order(wl, args.seed, n), n))
        steal1 = cpu_ticks()
        split1 = clock.split()
        host["cpu_split_s"] = {k: split1[k] - split0[k] for k in split0}
        host["steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        phases["passes_s"] = time.perf_counter() - t_start
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        probes = wl.probes(ctx) if args.trace else {}
        phases["probes_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t0

    attempted += sum(len(wl.ops()) for _ in passes)
    failed += sum(p["failed"] for p in passes)
    latencies = [x for p in passes if not p["traced"] for x in p["latencies"]]
    untraced = [p["cpu"] for p in passes if not p["traced"]]
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": {
            "dir": os.path.relpath(sf_dir, ROOT),
            "bytes": in_bytes,
            "rows": {t: input_rows(sf_dir, t) for t in wl.tables},
        },
        "passes": len(untraced),
        "op_samples": len(latencies),
        "phases": {"get_spark_s": t_session, **phases},
        "setup_wall_s": t_session + phases["warm_up_s"],
        "pass_wall_s": [p["wall"] for p in passes if not p["traced"]],
        "op_seconds": [p["by_op"] for p in passes if not p["traced"]],
        "host": {**host, "canary_ms_end": load_canary_ms()},
    }
    if args.trace:
        metrics = per_layer(wl, tracer, passes, t_session, probes, in_bytes)
        units = PER_LAYER
        traced = [p["cpu"] for p in passes if p["traced"]]
        details["tracing_overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        t_base = tracer.spans[0]["start"] if tracer.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t_base, "end": s["end"] - t_base} for s in tracer.spans
        ]
        details["traced_pass_share"] = traced_pass_share(tracer, passes)
        record = {**details, "per_layer": metrics, "self_s": tracer.self_times(), "spans": spans}
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
        details["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {
            "setup_s": setup_cpu_s,
            "pass_s": statistics.median(untraced),
            "op_p50_s": percentile(latencies, 50),
            "op_p90_s": percentile(latencies, 90),
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = END_TO_END
    print(json.dumps(details))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        p for p in (os.path.join(PACKAGE, "__init__.py"), ORACLE_GATE)
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
