"""Schema evolution on a growing parquet dataset: at 100 TB a corpus is
written over months and columns get added; readers must merge footers and
backfill nulls without rewriting old files."""

from __future__ import annotations

import pyspark.sql.functions as F

from tools.plan_walk import walk_physical


def test_merge_schema_backfills_new_column(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.mode("append").parquet(path)
    # later writer adds a quality column
    spark.createDataFrame(
        [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    rows = {r.doc_id: (r.text, r.quality) for r in merged.collect()}
    assert rows == {1: ("alpha", None), 2: ("beta", None), 3: ("gamma", 0.9)}
    # old rows filter cleanly on the new column (null-safe semantics)
    assert merged.filter(F.col("quality") >= 0.5).count() == 1


def test_merged_read_still_prunes_columns(spark, tmp_path):
    path = str(tmp_path / "docs2")
    spark.createDataFrame([(1, "a", 7)], "doc_id long, text string, extra int").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame([(2, "b")], "doc_id long, text string").write.mode(
        "append"
    ).parquet(path)
    df = spark.read.option("mergeSchema", "true").parquet(path).select("doc_id")
    # the scan must read only doc_id, not the merged wide schema
    assert [s["ReadSchema"] for s in walk_physical(df).scans] == ["struct<doc_id:bigint>"]
    assert sorted(r.doc_id for r in df.collect()) == [1, 2]
