"""Source adapters (SURVEY.md §2.1 S1-S10) and sinks (§2.2 K1-K6).

The driver testdata is parquet; these readers cover the reference's other
wire formats. All are schema-first with PERMISSIVE corrupt-record escape
hatches (the reference's tolerant-parse idiom, AsyncImageGen/src/parser.py:5-45
and qwen_vl_processor.py:177-187).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import PROMPT_JSONL
from ..session import read_parquet


def read_jsonl_tolerant(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType = PROMPT_JSONL,
    require_col: str | None = "prompt_number",
) -> DataFrame:
    """S1: stream JSONL, keep corrupt lines in ``_corrupt``, drop rows
    missing the required key (parser.py:27-36; prompts_parser.py:35-86).

    PERMISSIVE mode is Spark's native form of the reference's
    skip-and-continue loop; blank lines are dropped by the JSON reader
    itself.
    """
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(paths)
    )
    if require_col:
        df = df.filter(F.col(require_col).isNotNull() | F.col("_corrupt").isNotNull())
    return df


def read_json_docs(spark: SparkSession, path_glob: str, schema: StructType) -> DataFrame:
    """S2: directory of whole-file JSON documents
    (edit_model_pipeline.py:98-110 globs vl_analysis_*.json).

    Conservation contract (same as S1): a malformed file must surface as
    a ``_corrupt`` row carrying its raw text, never as a silent all-NULL
    row — PERMISSIVE only routes the raw record into a column whose name
    matches ``columnNameOfCorruptRecord``, so the option is wired here
    and the column is appended when the caller's schema lacks it (found
    by the hostile-bytes battery: a truncated file previously lost its
    content). A top-level JSON ARRAY explodes into one row per element;
    an empty/whitespace-only file yields NO row (absent, not corrupt) —
    both pinned in tests/test_jsonl_adversarial.py."""
    if "_corrupt" not in schema.fieldNames():
        from pyspark.sql.types import StringType, StructField

        schema = StructType(list(schema.fields) + [StructField("_corrupt", StringType())])
    return (
        spark.read.schema(schema)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path_glob)
        .withColumn("_src_file", F.input_file_name())
    )


def read_pairs_txt(spark: SparkSession, path: str) -> DataFrame:
    """S10: 'person cloth' per line (experiments/standard_vton/dataloader.py:189-192).

    Read as TEXT and split on a whitespace-class RUN (r13, queued fix
    #2) — the reference's ``line.split()`` semantics. The earlier CSV
    reader diverged on two inputs the reference handles fine: a double
    space made an empty middle field ('p1  c1' → ('p1', NULL), 'c1'
    silently dropped), and CSV quoting ate literal double quotes
    ('"p1 x" c1' → ('p1 x','c1') instead of the literal tokens).
    Leading/trailing whitespace (incl. the CRLF \\r) trims away; blank
    lines drop; a 1-token line NULL-pads; extra tokens beyond two are
    ignored — the S1 PERMISSIVE idiom, pinned in
    tests/test_sources_adversarial.py."""
    from ..functions.text import WS_CLASS

    toks = F.split(F.regexp_replace(F.col("value"), f"^{WS_CLASS}+|{WS_CLASS}+$", ""), f"{WS_CLASS}+")
    return (
        spark.read.text(path)
        .select(toks.alias("__t"))
        .filter(F.get("__t", 0) != "")
        .select(
            F.get("__t", 0).alias("person"),
            # get() tolerates the 1-token line (NULL, not the ANSI
            # INVALID_ARRAY_INDEX error a plain [1] raises)
            F.nullif(F.get("__t", 1), F.lit("")).alias("cloth"),
        )
    )


def scan_listing_ids(files_df: DataFrame, pattern: str = r"prompt_(\d+)") -> DataFrame:
    """S7: resume scan — extract processed ids from a file listing
    (s3_uploader.py:40-79), as anti-join input.

    The id cast is ``try_cast`` (r13, queued fix #3): an extracted id
    wider than BIGINT used to abort the whole resume scan under Spark
    4's ANSI cast (CAST_INVALID_INPUT) — one pathological filename in a
    bucket listing must not kill resume. Overflow → NULL → filtered
    with the existing non-match rows."""
    return (
        files_df.select(F.regexp_extract(F.col("path"), pattern, 1).alias("id"))
        .filter(F.col("id") != "")
        .select(F.col("id").try_cast("long").alias("prompt_number"))
        .filter(F.col("prompt_number").isNotNull())
        .dropDuplicates(["prompt_number"])
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS); expose integer microseconds
    (``ts_us``) + a TIMESTAMP column (``ts``).

    Spark version compatibility (both paths yield identical µs values):
    - Spark ≤3.x with ``spark.sql.legacy.parquet.nanosAsLong=true``: the
      column arrives as BIGINT nanoseconds → integer DIV 1000.
    - Spark 4.x: that legacy conf no longer applies and the column arrives
      as TIMESTAMP_NTZ (nanos truncated to µs by the reader) → cast to
      TIMESTAMP under the UTC session timezone (session.py sets it) and
      take ``unix_micros``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return (
            df.withColumn("ts_us", F.expr("ts DIV 1000"))
            .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        )
    ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts_us", F.unix_micros(ts)).withColumn("ts", ts)


# --- sinks --------------------------------------------------------------------


_HIVE_DEFAULT_PART = "__HIVE_DEFAULT_PARTITION__"


def write_keyed_json(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    """K1: logical equivalent of json-file-per-record (any_scraper.py:776-778)
    — one row per product, JSON lines, partitioned; file-per-record is an
    anti-pattern at scale.

    Partition values follow the Hive convention: NULL, the empty string,
    and the literal sentinel ``__HIVE_DEFAULT_PARTITION__`` all live in
    (and read back from) the default partition as NULL. The first two
    are normalized to NULL EXPLICITLY before the write because Spark's
    dynamic writer otherwise opens one output file per in-memory value —
    three distinct values escaping to the SAME directory collide inside
    any task that holds two of them (FileAlreadyExistsException), a
    data-dependent job crash the hostile-key battery reproduces. NUL
    bytes are STRIPPED from partition values first (r13, queued fix #1):
    Spark's escapePathName escapes '/', '=', '%', \\n … but not \\x00,
    and a POSIX path component cannot contain it — the write died with
    TASK_WRITE_FAILED. A NUL-bearing value is the third documented
    non-round-trippable class ('a\\x00b' reads back 'ab'; a value that
    strips to '' follows the empty-string rule). Every other value —
    separators, '=', unicode, whitespace, '..' — is escaped by Spark
    and round-trips identically."""
    if partition_cols:
        for c in partition_cols:
            if dict(df.dtypes).get(c) == "string":
                stripped = F.regexp_replace(F.col(c), "\\x00", "")
                df = df.withColumn(
                    c,
                    F.when(
                        (stripped == "") | (stripped == _HIVE_DEFAULT_PART),
                        F.lit(None).cast("string"),
                    ).otherwise(stripped),
                )
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)


def write_text_rendered(df: DataFrame, text_col: str, path: str) -> None:
    """K2: formatted text per record (prompts_parser.py:63-73)."""
    df.select(F.col(text_col).alias("value")).write.mode("overwrite").text(path)


def write_keyed_overwrite(
    df: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 64,
    upsert: bool = True,
) -> None:
    """Idempotent keyed sink (SURVEY §7.4): re-writing records for the
    same keys REPLACES them instead of duplicating — the property that
    makes Spark task retries + non-idempotent upstream side effects safe
    (the reference gets this by overwriting files keyed by product_id,
    any_scraper.py:776).

    The reference's overwrite is per KEY (one file per product_id), so
    ``upsert=True`` (default) merges at key granularity: rows already in
    a touched bucket whose key is NOT in the batch are carried forward
    (null-safe key compare, so a NULL-key row is replaced by a NULL-key
    batch row, not duplicated). The merge reads only the buckets the
    batch touches — the broadcast semi-join on the partition column
    triggers dynamic partition pruning, so untouched buckets are never
    scanned, and dynamic partition overwrite leaves them on disk
    untouched. This is the copy-on-write merge a log-structured table
    format would do, expressed on plain partitioned parquet.

    ``upsert=False`` is the pure retry fast path (no read): a REPLAYED
    batch cannot duplicate, but a PARTIAL batch then replaces its
    buckets wholesale — only safe when every batch re-emits full rows
    for all buckets it touches (the pre-round-11 contract).
    """
    from ..functions.determinism import hash_bucket

    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = df.withColumn("__bucket", hash_bucket(F.col(key_col), n_buckets))
    if upsert:
        try:
            existing = spark.read.parquet(path)
        except Exception:
            existing = None  # first write: nothing to merge
        if existing is not None:
            touched = out.select("__bucket").distinct()
            pruned = existing.join(F.broadcast(touched), "__bucket", "left_semi")
            batch_keys = out.select(key_col).distinct()
            keep = pruned.join(
                batch_keys,
                pruned[key_col].eqNullSafe(batch_keys[key_col]),
                "left_anti",
            )
            # materialize BEFORE the write: overwriting a path while a
            # lazy plan still reads it is rejected by Spark, and lazy
            # evaluation during the overwrite would race the deletes
            out = keep.unionByName(out).localCheckpoint(eager=True)
    out.write.mode("overwrite").partitionBy("__bucket").parquet(path)


def write_summary_json(df: DataFrame, path: str) -> None:
    """K6: small aggregate → single JSON (edit_model_pipeline.py:181-187)."""
    df.coalesce(1).write.mode("overwrite").json(path)
