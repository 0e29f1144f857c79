"""TPC-H-style analytics over the driver's star schema (adapted to the
columns present — TESTDATA.md). The reference is an ETL pipeline, not a
SQL engine, but its rebuilt engine IS one: these classics demonstrate the
full relational surface (multi-way joins, date-range scans, grouped
revenue math) with the same decimal-exact determinism as every other
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import davg, davg_sql, dsum, dsum_sql
from ..session import pin
from . import register
from .common import T

_DEC = "decimal(18,2)"


def _rev(df: DataFrame) -> F.Column:
    return (
        F.col("l_extendedprice").cast(_DEC) * (F.lit(1) - F.col("l_discount")).cast(_DEC)
    )


# --- Q1: pricing summary report --------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)} AS sum_disc_price,
  {dsum_sql('CAST(CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2)) AS DECIMAL(28,4)) * CAST(1 + (CASE WHEN isfinite(l_tax) THEN l_tax END) AS DECIMAL(18,2))', scale=6)} AS sum_charge,
  {davg_sql('l_quantity')} AS avg_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  {davg_sql('l_discount', scale=2)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", oracle=_Q1_ORACLE, tags=("tpch", "A1", "A7"))
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one scan, pushed-down date predicate, partial-agg
    shuffle of 6 exact decimal accumulators."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz")
    )
    disc_price = _rev(li)
    charge = disc_price.cast("decimal(28,4)") * (F.lit(1) + F.col("l_tax")).cast(_DEC)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount"), scale=2).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- Q3-shape: top unshipped-revenue orders ---------------------------------

_Q3_ORACLE = f"""
SELECT o.o_orderkey,
  {dsum_sql('CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l.l_discount) THEN l.l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue,
  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@register("tpch_q3_shipping_priority", oracle=_Q3_ORACLE, tags=("tpch", "J2", "D8"))
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered 3-way join, revenue per order,
    deterministic top-10 (exact decimal revenue ⇒ stable ordering)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    j = c.join(o, c.c_custkey == o.o_custkey).join(li, F.col("l_orderkey") == o.o_orderkey)
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(_rev(j)).cast("double").alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# --- Q5-shape: local-supplier revenue by nation ------------------------------

_Q5_ORACLE = f"""
SELECT n.n_name AS nation,
  {dsum_sql('CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l.l_discount) THEN l.l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("tpch_q5_local_supplier_revenue", oracle=_Q5_ORACLE, tags=("tpch", "J2", "J4"))
def tpch_q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join where supplier nation must equal
    customer nation — broadcast dims, one fact shuffle."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(_rev(j)).cast("double").alias("revenue")
    )


# --- Q4-shape: order-priority checking (EXISTS ⇒ left-semi join) -------------

_Q4_ORACLE = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
"""


@register("tpch_q4_order_priority", oracle=_Q4_ORACLE, tags=("tpch", "J3", "A1"))
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 item shipped >90 days after order —
    EXISTS as a left-semi join (adapted: no commit/receipt dates in the
    fixture, lateness vs orderdate instead)."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --- Q6-shape: forecasting revenue change (pure range-filter agg) ------------

_Q6_ORACLE = f"""
SELECT {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST((CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", oracle=_Q6_ORACLE, tags=("tpch", "F1"))
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: every predicate pushes to the scan; one global decimal
    sum — the minimal scan-dominated query."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_DEC))
        .cast("double")
        .alias("revenue")
    )


# --- Q18-shape: large-volume customers (HAVING + join back) ------------------

_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {dsum_sql('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS DECIMAL(38,2))) > 150)
SELECT c.c_name, o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register("tpch_q18_large_orders", oracle=_Q18_ORACLE, tags=("tpch", "A1", "J2"))
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filter (HAVING) then join the surviving
    keys back to the dims."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey", F.col("__q").cast("double").alias("total_qty"))
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = big.join(o, big.l_orderkey == o.o_orderkey).join(c, o.o_custkey == c.c_custkey)
    return j.select(
        "c_name",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_totalprice",
        "total_qty",
    )


# --- Q10-shape: returned-item reporting --------------------------------------

_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name,
  {dsum_sql('CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l.l_discount) THEN l.l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue,
  ANY_VALUE(n.n_name) AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", oracle=_Q10_ORACLE, tags=("tpch", "J2", "A3"))
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most value — the
    'problem customers' report."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name").agg(
        F.sum(_rev(j)).cast("double").alias("revenue"),
        F.first("n_name").alias("nation"),
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20).select(
        "c_custkey", "c_name", "revenue", "nation"
    )


# --- Q12-shape: shipping-class priority split --------------------------------

_Q12_ORACLE = """
SELECT l_linestatus AS ship_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register("tpch_q12_ship_priority_split", oracle=_Q12_ORACLE, tags=("tpch", "J2", "A2"))
def tpch_q12_ship_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (linestatus standing in for shipmode): big-big
    equi-join with the date range pushed into the lineitem scan, then a
    conditional-count rollup. Both sides shuffle once on the order key;
    the CASE aggregation is map-side partial."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = T(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # NULL-priority rows belong to NEITHER bucket: SQL's `NOT IN` is NULL
    # for a NULL priority, so CASE falls to ELSE 0 on both branches. A
    # `when(high, 0).otherwise(1)` would count NULLs as low — ~high keeps
    # the three-valued logic (round-9 NULL-facts sweep).
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# --- Q14-shape: promo revenue share ------------------------------------------

_Q14_ORACLE = f"""
SELECT round(
  100.0 * {dsum_sql("CASE WHEN p_type = 'PROMO' THEN CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,4)) END", scale=4)}
  / {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)},
  6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register("tpch_q14_promo_revenue", oracle=_Q14_ORACLE, tags=("tpch", "J4", "A3"))
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one-month lineitem scan (predicate pushed) with the
    part dim broadcast, then a single global ratio of two exact decimal
    sums (order-independent; the IEEE division + round(·,6) is identical
    across engines)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    p = T(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = _rev(j)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo.cast("decimal(38,4)")).cast("double")
            / F.sum(rev.cast("decimal(38,4)")).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


# --- Q17-shape: small-quantity-order revenue ---------------------------------

_Q17_ORACLE = f"""
WITH pa AS (
  SELECT l_partkey AS pk, {davg_sql('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT round({dsum_sql('l_extendedprice')} / 7.0, 6) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pa.pk
WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
"""


@register("tpch_q17_small_qty_revenue", oracle=_Q17_ORACLE, tags=("tpch", "J2", "A7"))
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated AVG subquery decorrelated into a
    per-part aggregate joined back on the same key — the two lineitem
    consumers share one shuffle partitioning on l_partkey, and the brand
    filter broadcasts through the part dim."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        pa, F.col("l_partkey") == F.col("pk")
    )
    return j.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty")).agg(
        F.round(dsum(F.col("l_extendedprice")) / 7.0, 6).alias("avg_yearly")
    )


# --- Q22-shape: dormant high-balance customers -------------------------------

_Q22_ORACLE = f"""
WITH ab AS (
  SELECT {davg_sql('c_acctbal')} AS avg_bal FROM customer WHERE c_acctbal > 0.0)
SELECT c_mktsegment,
  COUNT(*) AS numcust,
  {dsum_sql('c_acctbal')} AS totacctbal
FROM customer, ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""


@register("tpch_q22_dormant_customers", oracle=_Q22_ORACLE, tags=("tpch", "J3", "A7"))
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global positive-balance average)
    broadcast as a 1-row cross join, then a left-anti join against recent
    orders for customers dormant since the cutoff. The anti join shuffles
    on custkey (the date filter pushed into the orders scan first); the
    scalar side is a broadcast — no driver-side collect."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(davg(F.col("c_acctbal")).alias("avg_bal"))
    rich = c.crossJoin(F.broadcast(ab)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count("*").alias("numcust"),
        dsum(F.col("c_acctbal")).alias("totacctbal"),
    )


# --- Q7-shape: bi-nation shipping volume -------------------------------------

_Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""


@register("tpch_q7_binational_volume", oracle=_Q7_ORACLE, tags=("tpch", "J2", "J4"))
def tpch_q7_binational_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the two big tables shuffle-join once on the order
    key; customer/supplier/nation dims all broadcast, and the bi-nation
    disjunction is applied after the cheap dim joins (the date range is
    pushed into the lineitem scan)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("snk"))
        .join(cn, F.col("c_nationkey") == F.col("cnk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(F.sum(_rev(j)).cast("double").alias("revenue"))


# --- Q19-shape: disjunctive predicate revenue --------------------------------

_Q19_ORACLE = f"""
SELECT {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_disjunctive_revenue", oracle=_Q19_ORACLE, tags=("tpch", "F4", "J4"))
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common sub-predicates it can push (quantity/size bounds
    union into scan-level ranges); the residual disjunction evaluates
    post-BHJ. One broadcast join, one global decimal agg."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    f = j.filter(cond)
    return f.agg(
        F.sum(_rev(f)).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# --- Q8-shape: national market share ----------------------------------------

_VOL_DEC = (
    "CAST(CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2))"
    " * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2)) AS DECIMAL(38,4))"
)

_Q8_ORACLE = f"""
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM(CASE WHEN sn.n_name = 'NATION_2' THEN {_VOL_DEC}
                ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
    / CAST(SUM({_VOL_DEC}) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE r.r_name = 'ASIA'
  AND p.p_type = 'PROMO'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY year(o.o_orderdate)
"""


@register("tpch_q8_market_share", oracle=_Q8_ORACLE, tags=("tpch", "J2", "J4", "A3"))
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the fraction of a region's
    PROMO-part revenue supplied by one nation, per order year.

    Plan shape at 100 TB: lineitem⨝orders is the one big shuffle; part,
    customer, supplier, and both nation aliases broadcast; the region and
    p_type predicates prune the broadcast sides before the join. The
    share is a conditional decimal sum over the same rows as the total —
    one aggregate pass, no second scan (adapted to the fixture: no
    partsupp; p_type is a single token)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(r), F.col("crk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
    )
    vol = _rev(j).cast("decimal(38,4)")
    zero = F.lit(0).cast("decimal(38,4)")
    return j.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(zero)).cast("double")
            / F.sum(vol).cast("double")
        ).alias("mkt_share")
    )


# --- Q13-shape: customer order-count distribution ----------------------------

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) per_cust
GROUP BY c_count
"""


@register("tpch_q13_customer_distribution", oracle=_Q13_ORACLE, tags=("tpch", "J2", "A2"))
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed k orders — a LEFT OUTER
    join whose filter lives in the ON clause (customers with zero
    qualifying orders must survive with c_count=0), then two cascaded
    aggregations. The second groupBy keys on the first's output, so its
    input is already tiny (≤ max-orders-per-customer rows per partition
    after partial agg). Adapted: the fixture has no o_comment, the
    'special requests' exclusion becomes an order-priority exclusion."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- Q15-shape: top supplier by quarterly revenue ----------------------------

_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
    {dsum_sql('CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))', scale=4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@register("tpch_q15_top_supplier", oracle=_Q15_ORACLE, tags=("tpch", "A6", "J4"))
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals the
    global maximum. The revenue "view" is one partial-agg shuffle keyed by
    supplier; the scalar max is a broadcast-scalar crossJoin (no second
    shuffle of the fact table), and the equality is exact because the
    revenue totals are decimal-accumulated before the double export."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev(li)).cast("double").alias("total_revenue")
    )
    best = rev.agg(F.max("total_revenue").alias("best_revenue"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best), F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- Q21-shape: suppliers who kept orders waiting ----------------------------

_Q21_ORACLE = """
SELECT s.s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@register("tpch_q21_waiting_suppliers", oracle=_Q21_ORACLE, tags=("tpch", "J3", "D8"))
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers in one nation who were the SOLE late
    supplier on a multi-supplier finished order (lateness adapted to
    shipdate > orderdate + 90 days — the fixture has no commit/receipt
    dates, same adaptation as Q4).

    The classic EXISTS / NOT EXISTS pair is re-expressed as one per-order
    aggregate: n_suppliers = countDistinct(l_suppkey) and
    n_late_suppliers = countDistinct(l_suppkey WHERE late). A late row
    qualifies iff n_suppliers >= 2 (another supplier EXISTS) and
    n_late_suppliers = 1 (no OTHER late supplier NOT-EXISTS, since the
    row's own supplier is late). That turns two correlated semi/anti
    joins over the fact table into a single reusable per-order aggregate
    joined back on the order key — one shuffle instead of three at
    100 TB. Final top-20 is orderBy+limit (TakeOrdered), no global
    window."""
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    base = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    per_order = base.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_suppliers"),
    )
    sole_late = (
        base.filter(F.col("is_late"))
        .join(per_order.hint("merge"), "l_orderkey")
        .filter((F.col("n_suppliers") >= 2) & (F.col("n_late_suppliers") == 1))
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# --- Q2-shape: minimum-cost supplier -----------------------------------------
# The fixture has no partsupp table; the part-supplier cost relation is
# derived from lineitem as MIN(unit price) per (part, supplier) — pure
# IEEE double division, bit-identical across engines, so the correlated
# MIN-equality join stays exact without any rounding grid.

_Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS supplycost
  FROM lineitem GROUP BY 1, 2),
eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
cand AS (
  SELECT p.p_partkey, p.p_name, e.s_name, e.s_acctbal,
         e.n_name AS nation, ps.supplycost
  FROM part p
  JOIN ps ON ps.pk = p.p_partkey
  JOIN eu e ON e.s_suppkey = ps.sk
  WHERE p.p_type = 'SMALL' AND p.p_size BETWEEN 10 AND 30),
mn AS (SELECT p_partkey, MIN(supplycost) AS min_cost FROM cand GROUP BY 1)
SELECT c.s_acctbal, c.s_name, c.nation, c.p_partkey, c.p_name, c.supplycost
FROM cand c
JOIN mn ON c.p_partkey = mn.p_partkey AND c.supplycost = mn.min_cost
ORDER BY c.s_acctbal DESC, c.nation, c.s_name, c.p_partkey
LIMIT 20
"""


@register("tpch_q2_min_cost_supplier", oracle=_Q2_ORACLE, tags=("tpch", "J2", "A6"))
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the European supplier(s)
    offering it at the minimum derived unit cost (correlated MIN subquery
    decorrelated into a per-part aggregate joined back on the same key).

    Plan shape at 100 TB: the derived part-supplier cost relation is ONE
    partial-agg shuffle of the fact table keyed (partkey, suppkey); the
    region-pruned supplier dim broadcasts into it; the per-part MIN reuses
    the candidate set (already tiny after the part filter) — the fact
    table is scanned and shuffled exactly once. Final top-20 is
    orderBy+limit (TakeOrdered), no global window."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    # try_divide/NULLIF (r10 extremes battery → r11 fix): a zero-quantity
    # line has no unit cost — NULL falls out of the MIN on both engines,
    # where ANSI Spark previously died on DIVIDE_BY_ZERO while DuckDB
    # IEEE-tolerated ±Inf into the aggregate.
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.min(F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))).alias(
            "supplycost"
        )
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & F.col("p_size").between(10, 30)
    )
    # cand feeds both the per-part MIN and the final equality join
    cand = pin(
        ps.join(F.broadcast(p), F.col("pk") == F.col("p_partkey")).join(
            F.broadcast(eu), F.col("sk") == F.col("s_suppkey")
        )
    )
    mn = cand.groupBy(F.col("p_partkey").alias("mpk")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        cand.join(
            F.broadcast(mn),
            (F.col("p_partkey") == F.col("mpk"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .orderBy(F.col("s_acctbal").desc(), "nation", "s_name", "p_partkey")
        .limit(20)
        .select("s_acctbal", "s_name", "nation", "p_partkey", "p_name", "supplycost")
    )


# --- Q9-shape: product-type profit by nation and year ------------------------

_Q9_COST = "CAST((CASE WHEN isfinite(p_retailprice) THEN p_retailprice END) AS DECIMAL(18,2)) * CAST(0.6 AS DECIMAL(2,1))"
_Q9_AMOUNT = (
    "CAST(CAST((CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l_discount) THEN l_discount END) AS DECIMAL(18,2))"
    " AS DECIMAL(38,4))"
    f" - CAST(CAST({_Q9_COST} AS DECIMAL(21,3)) * CAST((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS DECIMAL(18,2))"
    " AS DECIMAL(38,4))"
)

_Q9_ORACLE = f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM({_Q9_AMOUNT}) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE 'hot %'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@register("tpch_q9_product_profit", oracle=_Q9_ORACLE, tags=("tpch", "J2", "J4", "A1"))
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'hot' parts by supplier nation and order
    year. Supply cost is derived as 60% of the part's retail price (the
    fixture has no partsupp); the whole profit expression stays in exact
    decimal arithmetic until the final double export.

    Plan shape at 100 TB: lineitem⨝orders is the one big shuffle; the
    name-filtered part dim prunes the fact rows through a broadcast
    BEFORE that shuffle (Catalyst pushes the BHJ below the exchange), and
    supplier/nation broadcast too. One aggregate pass."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("hot %"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    cost = (
        F.col("p_retailprice").cast("decimal(18,2)") * F.lit(0.6).cast("decimal(2,1)")
    ).cast("decimal(21,3)")
    amount = _rev(j).cast("decimal(38,4)") - (
        cost * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(38,4)")
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(F.sum(amount).cast("double").alias("sum_profit"))


# --- Q11-shape: important stock identification -------------------------------

_Q11_FRACTION = 0.001

_Q11_ORACLE = f"""
WITH natval AS (
  SELECT l.l_partkey,
    SUM(CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(38,2))) AS val
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
  GROUP BY l.l_partkey),
tot AS (SELECT SUM(val) AS total FROM natval)
SELECT n.l_partkey AS p_partkey, CAST(n.val AS DOUBLE) AS part_value
FROM natval n, tot t
WHERE n.val > {_Q11_FRACTION} * t.total
"""


@register("tpch_q11_important_stock", oracle=_Q11_ORACLE, tags=("tpch", "A1", "J4"))
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stocked value at one nation's
    suppliers exceeds a fixed fraction of that nation's total (value
    derived from lineitem extended price — the fixture has no partsupp).

    Plan shape at 100 TB: one partial-agg shuffle keyed by part; the
    HAVING-vs-scalar-subquery comparison is a 1-row broadcast crossJoin
    over the already-aggregated per-part rows — the fact table is never
    re-scanned for the global total (Spark reuses the agg output; the
    fraction threshold adapts to corpus size automatically). Exact
    decimal sums make the > comparison engine-portable."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    natli = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), F.col("s_nationkey") == n.n_nationkey
    )
    natval = natli.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("val")
    )
    tot = natval.agg(F.sum("val").alias("total"))
    return (
        natval.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > F.lit(_Q11_FRACTION) * F.col("total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("val").cast("double").alias("part_value"),
        )
    )


# --- Q16-shape: parts/supplier relationship ----------------------------------

# The exclusion is NOT EXISTS, not NOT IN (r13, queued fix #12): under a
# NULL l_suppkey the engine's left-anti KEEPS the row (NULL == x is
# unknown → no match) while NOT IN would DROP it (NULL NOT IN set =
# NULL) — the r9 "unknown ≠ seen" NULL-dims convention, found reachable
# here by the r12 sf0.01 depth sweep (tests/test_hostile_depth_pins.py).
_Q16_ORACLE = """
WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0),
rel AS (
  SELECT DISTINCT p.p_brand, p.p_type, p.p_size, l.l_suppkey
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
    AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
    AND NOT EXISTS (SELECT 1 FROM bad b WHERE b.s_suppkey = l.l_suppkey))
SELECT p_brand, p_type, p_size, COUNT(*) AS supplier_cnt
FROM rel
GROUP BY p_brand, p_type, p_size
"""


@register("tpch_q16_supplier_relationship", oracle=_Q16_ORACLE, tags=("tpch", "J3", "A11"))
def tpch_q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    for qualifying parts, excluding 'complaint' suppliers (adapted: the
    fixture has no s_comment, negative account balance stands in). The
    NOT EXISTS is a broadcast left-anti join (a NULL l_suppkey survives
    the exclusion on both engines — "unknown ≠ seen", the r9 NULL-dims
    convention); the count-distinct is a
    two-level aggregate (distinct shuffle keyed by the group+supplier,
    then a count) — both map-side-partial at 100 TB."""
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    rel = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return rel.groupBy("p_brand", "p_type", "p_size").agg(
        F.count("*").alias("supplier_cnt")
    )


# --- Q20-shape: potential part promotion -------------------------------------

_Q20_ORACLE = """
WITH pq AS (
  SELECT l.l_partkey, l.l_suppkey,
    SUM(CAST((CASE WHEN isfinite(l.l_quantity) THEN l.l_quantity END) AS DECIMAL(38,2))) AS total_qty,
    SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             THEN CAST((CASE WHEN isfinite(l.l_quantity) THEN l.l_quantity END) AS DECIMAL(38,2))
             ELSE CAST(0 AS DECIMAL(38,2)) END) AS qty_1997
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small %'
  GROUP BY 1, 2),
hoarders AS (
  SELECT DISTINCT l_suppkey FROM pq
  WHERE qty_1997 > 0 AND total_qty > 2.0 * qty_1997)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_12'
WHERE s.s_suppkey IN (SELECT l_suppkey FROM hoarders)
"""


@register("tpch_q20_part_promotion", oracle=_Q20_ORACLE, tags=("tpch", "J3", "A1"))
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding excess stock of
    'small' parts (NATION_12 suppliers) — shipped some in 1997 but their all-time volume on
    that part is more than twice the 1997 volume (availqty proxied by
    total shipped quantity; the fixture has no partsupp).

    Plan shape at 100 TB: the nested IN-chain decorrelates into ONE
    partial-agg shuffle of the name-filtered fact keyed (part, supplier)
    with a conditional sum for the year slice — no second scan for the
    inner subquery — then a distinct-supplier semi-join against the
    nation-pruned supplier dim (broadcast)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("small %")).select("p_partkey")
    in_1997 = (
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    qty = F.col("l_quantity").cast("decimal(38,2)")
    zero = F.lit(0).cast("decimal(38,2)")
    pq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(qty).alias("total_qty"),
            F.sum(F.when(in_1997, qty).otherwise(zero)).alias("qty_1997"),
        )
    )
    hoarders = (
        pq.filter((F.col("qty_1997") > 0) & (F.col("total_qty") > F.lit(2.0) * F.col("qty_1997")))
        .select("l_suppkey")
        .distinct()
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_12")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(hoarders, s.s_suppkey == hoarders.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )
