"""Tracing from outside the engine: spans around the benchmark's calls into
each package layer, plus counters read where the work happens.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, operation
  id) and computes each span name's self time: its duration minus the part
  its child spans cover. A disabled tracer records nothing.
- :func:`layer_spans` wraps the package's layer functions for the length of
  a block, so the calls a plan makes into them while it is built get spans.
- :func:`plan_counters` walks the final adaptive plan of a DataFrame whose
  own ``queryExecution`` has run, descending through query stages, and sums
  the SQL metrics of exchanges, scans and spilling operators.
- :func:`jobs_started` counts Spark jobs run inside a block (jobs that
  ``build()`` starts for eager pins and connected-components rounds).
- :func:`count_calls` counts ``DataFrame.count`` calls inside a block
  (connected components runs one convergence probe per round).
- :func:`fs_bytes_written` reads the Hadoop local-filesystem write counter,
  which every Spark file write in the driver JVM goes through.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record the block as a span. A span without an operation id takes
        its parent's. Only the thread that made the tracer records, so
        spans nest strictly."""
        if not self.enabled or threading.get_ident() != self._thread:
            yield
            return
        parent = self.spans[self._stack[-1]] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None or parent is None else parent["op"],
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, spans: list[dict]) -> dict[str, float]:
        """Seconds per span name, child spans included."""
        out: dict[str, float] = defaultdict(float)
        for rec in spans:
            out[rec["name"]] += rec["end"] - rec["start"]
        return dict(out)

    def self_times(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Seconds of self time per span name. Spans run on one thread and
        nest strictly, so a parent's covered time is the sum of its
        children's durations."""
        spans = self.spans if spans is None else spans
        child_time: dict[int, float] = defaultdict(float)
        for rec in spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for rec in spans:
            out[rec["name"]] += rec["end"] - rec["start"] - child_time.get(rec["id"], 0.0)
        return dict(out)


LAYERS = ("functions", "operators", "sources", "streaming")


@contextlib.contextmanager
def layer_spans(tracer: Tracer, package: str):
    """While the block runs, every module-level function of the package's
    layers in :data:`LAYERS` is replaced, wherever a module of the package
    binds it by name (its own module included), by a wrapper that records a
    span named after the function (``operators.clusters.connected_components``).
    Only work done during the call is covered: what the call leaves lazy in
    a plan runs later, under the action's span.

    The wrapper carries the function's module and name, and its own module
    binds it, so a Python worker that unpickles it imports the plain
    function."""
    prefix = package + "."
    mods = [m for n, m in list(sys.modules.items()) if n.startswith(prefix) and m is not None]
    wrappers: dict = {}
    for mod in mods:
        owner = mod.__name__[len(prefix):]
        if owner.split(".")[0] not in LAYERS:
            continue
        for attr, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and fn.__name__ == attr:
                wrappers[fn] = _spanned(tracer, f"{owner}.{attr}", fn)
    patched = []
    for mod in mods:
        for attr, fn in list(vars(mod).items()):
            wrapper = wrappers.get(fn) if inspect.isfunction(fn) else None
            if wrapper is not None:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr, fn))
    try:
        yield
    finally:
        for mod, attr, fn in patched:
            setattr(mod, attr, fn)


def _spanned(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


# --- SQL metrics of the final adaptive plan ------------------------------------

_COUNTERS = (
    "exchanges",
    "shuffle_bytes",
    "broadcast_bytes",
    "spill_bytes",
    "scan_ms",
    "scan_rows",
    "join_rows",
)


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    seqs = (node.children(), node.subqueries())
    return [s.apply(i) for s in seqs for i in range(s.size())]


def plan_counters(df: DataFrame) -> dict[str, int]:
    """Sum SQL metrics over the executed plan of ``df``'s own query
    execution. Reused exchanges are skipped, so each exchange counts once."""
    acc = dict.fromkeys(_COUNTERS, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue
        m = _metrics(node)
        if cls == "ShuffleExchangeExec":
            acc["exchanges"] += 1
            acc["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif cls == "BroadcastExchangeExec":
            acc["exchanges"] += 1
            acc["broadcast_bytes"] += m.get("dataSize", 0)
        elif cls in ("FileSourceScanExec", "BatchScanExec"):
            acc["scan_ms"] += m.get("scanTime", 0)
            acc["scan_rows"] += m.get("numOutputRows", 0)
        elif "Join" in cls:
            acc["join_rows"] += m.get("numOutputRows", 0)
        acc["spill_bytes"] += m.get("spillSize", 0)
        stack.extend(_children(node))
    return acc


# --- job and call counting ----------------------------------------------------------

_group_ids = itertools.count()


@contextlib.contextmanager
def jobs_started(spark, into: dict, key: str):
    """Add the number of Spark jobs started inside the block to
    ``into[key]``. Uses a fresh job group, so concurrent jobs of other
    groups are not counted."""
    sc = spark.sparkContext
    group = f"perfbench-{next(_group_ids)}"
    sc.setJobGroup(group, key)
    try:
        yield
    finally:
        into[key] = into.get(key, 0) + len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def count_calls(df_class: type, into: dict, key: str):
    """Add the number of ``df_class.count`` calls made inside the block to
    ``into[key]``; the original method still runs."""
    original = df_class.count

    def counting(self, *a, **kw):
        into[key] = into.get(key, 0) + 1
        return original(self, *a, **kw)

    df_class.count = counting
    try:
        yield
    finally:
        df_class.count = original


def fs_bytes_written(spark) -> int:
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(int(s.getBytesWritten()) for s in stats if s.getScheme() == "file")
