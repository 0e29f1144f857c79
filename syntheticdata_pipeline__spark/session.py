"""SparkSession bootstrap + runtime-conf hardening.

The correctness driver owns its own SparkSession, so every query entry point
calls :func:`ensure_runtime_confs` (runtime-settable SQL confs only) instead
of relying on builder-time configuration.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Runtime-settable confs every query depends on for deterministic,
# oracle-comparable output.
_RUNTIME_CONFS = {
    # Timestamps in testdata are naive/UTC; make Spark interpret them the
    # same way DuckDB does.
    "spark.sql.session.timeZone": "UTC",
    # J5 merge-with-precedence (right side wins), SURVEY §2.4.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime SQL confs; safe to call on a driver-owned session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be locked by the host; queries degrade gracefully.
            pass
    return spark


def get_spark(
    app_name: str = "syntheticdata_pipeline__spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session shaped like a cluster deployment.

    local[``cpus``], else local[$SPARK_GRAFT_CPUS], else one core per CPU
    this process may run on; on a real cluster the same code runs
    unchanged — only master/resource confs differ.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle = str(shuffle_partitions or int(cpus))
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Whole-stage codegen cache (a static conf; Spark's default is 100
        # entries). At 100, every warm pass of the benchmark recompiled
        # all it ran: ~550 classes per dedup pass, ~275 per ingest pass.
        # 1024 holds either pass with headroom; a repeat pass then
        # compiles 0-14. A session the caller built itself keeps the
        # size it was started with.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    return ensure_runtime_confs(builder.getOrCreate())


def pin(df: DataFrame) -> DataFrame:
    """Compute ``df`` once for every reference to it in the final plan.

    Pin a DataFrame only when it is (a) small relative to its lineage and
    (b) referenced more than once (PERF.md log #7). A pin truncates the
    lineage, so each reference re-reads the pinned rows instead of
    re-expanding the whole upstream plan; it also strips the optimizer's
    statistics (a pinned side no longer auto-broadcasts) and runs the
    input's shuffle stages when the plan is built. Pinning a
    single-reference table pays both costs for nothing.
    ``tests/test_plan_contracts.py`` checks rule (b) at every call site.

    The pin is lazy: the first action that reads it materializes it.
    """
    return df.localCheckpoint(eager=False)


def materialize(df: DataFrame) -> int:
    """Run ``df``'s own physical plan and return its row count. Every
    output column is computed: the RDD of rows is counted after the
    projection, so no column can be pruned (``DataFrame.count`` would plan
    a new query that reads no columns)."""
    return int(df._jdf.queryExecution().toRdd().count())


def _default_driver_mem() -> str:
    """24g, or three quarters of the host's RAM (MemTotal) when that is
    smaller, so the default heap never exceeds the machine."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb * 3 // 4)}m"


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# Confs that change the schema Spark infers from a parquet footer.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# (applicationId, absolute path) -> (file stamp + inference confs, schema);
# a rewritten file replaces its entry, so the memo holds one per file.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    session.

    Inferring a parquet schema runs a Spark job that reads the footer,
    and a catalog pass loads the same few files again and again. The
    schema Spark inferred is kept per application and path, with the
    file's mtime and size and the inference confs it was read under;
    while those match, a read passes it with ``.schema()``. Each read
    still gets a fresh relation; only the footer job is skipped.
    Directories, and paths ``os.stat`` cannot see, read exactly as
    ``spark.read.parquet`` does.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    confs = tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS)
    stamp = (st.st_mtime_ns, st.st_size, confs)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df
