"""Session constants are paid once: compiled query code survives across
executions (codegen cache sized by ``get_spark``) and each parquet
input's schema is inferred once per session (``read_parquet``)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from syntheticdata_pipeline__spark.plans import load_all
from syntheticdata_pipeline__spark.session import TABLES, _SCHEMAS, load_table, read_parquet

from .conftest import SF_SMOKE


def _compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _rows(df) -> list[str]:
    # repr keeps NaN comparable; one file reads back in one order
    return [repr(r) for r in df.collect()]


def test_codegen_cache_holds_a_pass(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"


def test_repeat_execution_compiles_nothing(spark):
    build = load_all()["minhash_lsh_candidates"].build

    def run() -> int:
        before = _compiles(spark)
        build(spark, SF_SMOKE)._jdf.queryExecution().toRdd().count()
        return _compiles(spark) - before

    run()
    assert run() == 0


def test_second_load_starts_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path / "orders.parquet")
    before = _job_ids(spark)
    first = load_table(spark, str(tmp_path), "orders")
    middle = _job_ids(spark)
    second = load_table(spark, str(tmp_path), "orders")
    assert middle - before, "the first read infers the schema with a job"
    assert not _job_ids(spark) - middle
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_memoized_reads_match_plain_reads(spark):
    for name in TABLES:
        path = os.path.join(SF_SMOKE, f"{name}.parquet")
        plain = spark.read.parquet(path)
        read_parquet(spark, path)
        memo = read_parquet(spark, path)
        assert memo.schema == plain.schema, name
        assert _rows(memo) == _rows(plain), name


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_inference_conf_flip_reinfers(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), path)
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(read_parquet(spark, path).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["b"] == "string"
        assert df.collect()[0].b == "hi"
    finally:
        spark.conf.set(key, old)


def test_directory_reads_as_before(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.range(5).write.parquet(path)
    for _ in range(2):
        df = read_parquet(spark, path)
        assert sorted(r.id for r in df.collect()) == list(range(5))
    assert not any(os.path.abspath(path) in key for key in _SCHEMAS)
