"""Scale-layout demonstrations: bucketed co-located joins (no exchange)
and partitioned writes with partition pruning — the physical-layout tools
a 100 TB deployment leans on."""

from __future__ import annotations

import pyspark.sql.functions as F

from tools.plan_walk import walk_physical

from .conftest import SF_SMOKE


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """bucketBy on the join key ⇒ SortMergeJoin with zero Exchange on the
    bucketed sides (co-located join — at 100 TB this removes the dominant
    shuffle of fact-fact joins)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        (
            orders.write.mode("overwrite")
            .option("path", str(tmp_path / "orders_b"))
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("orders_b")
        )
        (
            li.write.mode("overwrite")
            .option("path", str(tmp_path / "lineitem_b"))
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("lineitem_b")
        )
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        counts = walk_physical(j).counts
        assert counts["SortMergeJoinExec"]
        assert not counts["ShuffleExchangeExec"], "bucketed join shuffled!"
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_write_prunes(spark, tmp_path):
    """partitionBy(date) ⇒ a date filter becomes a PartitionFilter (prunes
    directories, reads nothing else)."""
    path = str(tmp_path / "orders_part")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    (scan,) = walk_physical(back).scans
    assert "order_year" in scan["PartitionFilters"]
    expected = orders.filter(F.col("order_year") == 1995).count()
    assert back.count() == expected


def test_aqe_coalesces_small_shuffle(spark):
    """AQE shrinks over-partitioned shuffles at runtime (the local[32]
    stand-in for runtime re-planning on a cluster)."""
    df = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )
    assert df.count() == 3
    # AQE enabled session-wide by ensure_runtime_confs
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
