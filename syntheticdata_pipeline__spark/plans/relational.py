"""Core relational queries (SURVEY.md §2.3-§2.6: filters, joins,
aggregations, dedup/top-k/limits) over the driver testdata.

Every query aliases computed columns identically in the Spark plan and the
DuckDB oracle — the driver hashes values after sorting columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import (
    davg,
    davg_sql,
    dstddev,
    dstddev_sql,
    dsum,
    dsum_sql,
    hash_bucket_sql,
)
from ..operators.aggregates import max_by_deterministic, split_mean, status_pivot
from ..operators.clusters import connected_components, connected_components_sql
from ..operators.dedup import anti_join_state, first_wins, top_k_per_group
from ..operators.joins import cross_pair_budget, merge_with_precedence
from . import register
from .common import T

# --------------------------------------------------------------------------
# Flagship: the "FINAL SCRAPING REPORT" (A1-A3) recast as scan → join →
# agg → derived rates (test_kimono.py:63-74, 732-782).
# --------------------------------------------------------------------------

_REPORT_ORACLE = f"""
SELECT
  o.o_orderpriority AS priority,
  COUNT(DISTINCT o.o_orderkey) AS n_orders,
  COUNT(*) AS n_items,
  {dsum_sql('l.l_quantity')} AS sum_qty,
  {dsum_sql('l.l_extendedprice')} AS gross_revenue,
  {dsum_sql('CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(18,2)) * CAST(1 - (CASE WHEN isfinite(l.l_discount) THEN l.l_discount END) AS DECIMAL(18,2))', scale=4)} AS net_revenue,
  (CAST(COUNT(DISTINCT CASE WHEN o.o_orderstatus = 'F' THEN o.o_orderkey END) AS DOUBLE)
     / CAST(COUNT(DISTINCT o.o_orderkey) AS DOUBLE) * 100.0) AS fulfilled_rate,
  {davg_sql('l.l_extendedprice')} AS avg_item_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@register("report_order_fulfillment", oracle=_REPORT_ORACLE, tags=("A1", "A2", "A3", "J2"))
def report_order_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-report aggregation: counters + derived rates per priority class.

    Scale notes: equi-join shuffles both sides on orderkey; partial
    aggregation precedes the final 5-group shuffle. count(DISTINCT) is a
    two-phase expand — fine for one distinct column.
    """
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    dec2 = "decimal(18,2)"
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count("*").alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("gross_revenue"),
        F.sum(
            F.col("l_extendedprice").cast(dec2) * (F.lit(1) - F.col("l_discount")).cast(dec2)
        )
        .cast("double")
        .alias("net_revenue"),
        (
            F.countDistinct(
                F.when(F.col("o_orderstatus") == "F", F.col("o_orderkey"))
            ).cast("double")
            / F.countDistinct("o_orderkey").cast("double")
            * 100.0
        ).alias("fulfilled_rate"),
        davg(F.col("l_extendedprice")).alias("avg_item_price"),
    )


# --------------------------------------------------------------------------
# A4: category × status pivot (test_website_accessibility.py:390-447).
# --------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT c.c_mktsegment AS segment,
  COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS n_F,
  COUNT(CASE WHEN o.o_orderstatus = 'O' THEN 1 END) AS n_O,
  COUNT(CASE WHEN o.o_orderstatus = 'P' THEN 1 END) AS n_P
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@register("pivot_segment_status", oracle=_PIVOT_ORACLE, tags=("A4", "J2"))
def pivot_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional categorized summary as a wide pivot."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("segment"), "o_orderstatus"
    )
    return status_pivot(j, "segment", "o_orderstatus", ["F", "O", "P"])


# --------------------------------------------------------------------------
# A4 superset: cube over segment × status.
# --------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT CASE WHEN GROUPING(c.c_mktsegment) = 1 THEN 'ALL'
            ELSE coalesce(c.c_mktsegment, 'NULL') END AS segment,
       CASE WHEN GROUPING(o.o_orderstatus) = 1 THEN 'ALL'
            ELSE coalesce(o.o_orderstatus, 'NULL') END AS status,
       COUNT(*) AS n
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY CUBE (c.c_mktsegment, o.o_orderstatus)
"""


@register("cube_segment_status", oracle=_CUBE_ORACLE, tags=("A4",))
def cube_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup (idiomatic superset of the reference's two-level
    categorizer, SURVEY §2.5 note).

    Empty-input contract: SQL CUBE always emits the () grand-total row
    (count 0) on an empty input, but Spark's cube emits nothing — so a
    literal zero-row is unioned in and the ALREADY-AGGREGATED rows are
    re-merged by key (additive counts: the real () row absorbs the 0).
    The merge shuffles |groups| rows, not the corpus, so the empty-case
    correctness costs one tiny exchange (round-9 empty-facts sweep).

    NULL-group contract: a real NULL status/segment value is a data
    group, not a rollup — labeling by coalesce alone would collide it
    with the 'ALL' rollup rows (and the re-merge would then wrongly sum
    them). Both engines label through the GROUPING() bit: rollup → 'ALL',
    value NULL → 'NULL' (round-9 NULL-facts sweep)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey)
    base = (
        j.cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("c_mktsegment").alias("g_seg"),
            F.grouping("o_orderstatus").alias("g_st"),
        )
        .select(
            F.when(F.col("g_seg") == 1, F.lit("ALL"))
            .otherwise(F.coalesce(F.col("c_mktsegment"), F.lit("NULL")))
            .alias("segment"),
            F.when(F.col("g_st") == 1, F.lit("ALL"))
            .otherwise(F.coalesce(F.col("o_orderstatus"), F.lit("NULL")))
            .alias("status"),
            F.col("n"),
        )
    )
    zero = spark.range(1).select(
        F.lit("ALL").alias("segment"),
        F.lit("ALL").alias("status"),
        F.lit(0).cast("long").alias("n"),
    )
    return (
        base.unionByName(zero)
        .groupBy("segment", "status")
        .agg(F.sum("n").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# A6: max-by with deterministic tiebreak (largest image variant,
# any_scraper.py:364-368).
# --------------------------------------------------------------------------

_MAXBY_ORACLE = """
SELECT p_brand, p_name AS largest_part, sz AS variant_size FROM (
  SELECT p_brand, p_name, CAST(p_size AS BIGINT) * CAST(CAST((CASE WHEN isfinite(p_retailprice) THEN p_retailprice END) AS DECIMAL(18,2)) * 100 AS BIGINT) AS sz,
         row_number() OVER (PARTITION BY p_brand ORDER BY CAST(p_size AS BIGINT) * CAST(CAST((CASE WHEN isfinite(p_retailprice) THEN p_retailprice END) AS DECIMAL(18,2)) * 100 AS BIGINT) DESC, p_partkey) rn
  FROM part) WHERE rn = 1
"""


@register("largest_variant_per_brand", oracle=_MAXBY_ORACLE, tags=("A6", "D8"))
def largest_variant_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick the largest variant per brand; integer metric (size × cents)
    keeps the comparison exact."""
    p = T(spark, sf_dir, "part")
    metric = F.col("p_size").cast("bigint") * (
        F.col("p_retailprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    return max_by_deterministic(
        p.withColumn("variant_size", metric).withColumn("largest_part", F.col("p_name")),
        ["p_brand"],
        F.col("variant_size"),
        tiebreak=["p_partkey"],
        keep=["largest_part", "variant_size"],
    )


# --------------------------------------------------------------------------
# A7: mean/std per group from exact sums (metrics.py:334-345).
# --------------------------------------------------------------------------

_STATS_ORACLE = f"""
SELECT l_returnflag, COUNT(l_quantity) AS n,
  {davg_sql('l_quantity')} AS avg_qty,
  {dstddev_sql('l_quantity')} AS std_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  {dstddev_sql('l_extendedprice')} AS std_price
FROM lineitem GROUP BY l_returnflag
"""


@register("stats_quantity_by_returnflag", oracle=_STATS_ORACLE, tags=("A7",))
def stats_quantity_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent avg/std (native stddev is sequence-dependent —
    see functions.determinism)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        dstddev(F.col("l_quantity")).alias("std_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        dstddev(F.col("l_extendedprice")).alias("std_price"),
    )


# --------------------------------------------------------------------------
# D1: insertion-order first-wins dedup (any_scraper.py:584-597).
# --------------------------------------------------------------------------

_FIRSTWINS_ORACLE = """
SELECT l_partkey, l_orderkey AS first_orderkey, l_linenumber AS first_linenumber,
       l_extendedprice AS first_price
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY l_partkey
      ORDER BY l_shipdate NULLS LAST, l_orderkey, l_linenumber) rn
  FROM lineitem) WHERE rn = 1
"""


@register("first_wins_dedup_parts", oracle=_FIRSTWINS_ORACLE, tags=("D1", "D2"))
def first_wins_dedup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First occurrence per part in shipdate order — the window-based
    order-preserving dedup (bare dropDuplicates is nondeterministic).

    NULL placement is explicit on both sides (Spark defaults ASC to
    NULLS FIRST, DuckDB to NULLS LAST — round-9 NULL-facts sweep): a row
    with an unknown shipdate loses the first-wins race to any dated row."""
    li = T(spark, sf_dir, "lineitem")
    return first_wins(
        li,
        ["l_partkey"],
        [F.col("l_shipdate").asc_nulls_last(), F.col("l_orderkey"), F.col("l_linenumber")],
    ).select(
        "l_partkey",
        F.col("l_orderkey").alias("first_orderkey"),
        F.col("l_linenumber").alias("first_linenumber"),
        F.col("l_extendedprice").alias("first_price"),
    )


# --------------------------------------------------------------------------
# D8: top-k per group (≤6 images per product → top 3 items per order).
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(rn AS INTEGER) AS rank FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) rn
  FROM lineitem) WHERE rn <= 3
"""


@register("topk_lineitems_per_order", oracle=_TOPK_ORACLE, tags=("D8", "D7"))
def topk_lineitems_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priciest items per order; Spark's WindowGroupLimit keeps k
    rows per group during the sort — no full materialization."""
    li = T(spark, sf_dir, "lineitem")
    out = top_k_per_group(
        li,
        ["l_orderkey"],
        [F.col("l_extendedprice").desc(), F.col("l_linenumber")],
        k=3,
        rank_col="rank",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# J1 + D7/D9: bounded cross pairing (pipeline_orchestrator.py:135-149).
# --------------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r_regionkey, n_nationkey, r_name || '/' || n_name AS pair_name
FROM region CROSS JOIN nation
WHERE r_regionkey IS NOT NULL AND n_nationkey IS NOT NULL
ORDER BY r_regionkey, n_nationkey LIMIT 50
"""


@register("cross_pair_budget_q", oracle=_CROSS_ORACLE, tags=("J1", "D7", "D9"))
def cross_pair_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every region × every nation, budget-cut at 50 deterministically.

    Both pairing keys are required non-NULL: the budget cut is "first
    `budget` pairs in key order", and a NULL identity key has no
    position in any key order — Spark sorts it first, DuckDB last, so
    the two engines would cut DIFFERENT sets, and duplicate (NULL, k)
    sort keys break the total order the deterministic cut relies on.
    The reference pairs items enumerated from storage, where identity
    always exists (pipeline_orchestrator.py:135-149); an identity-less
    row is a corrupt record and skips the pairing, same as the F8
    null/blank-skip scan contract (round-9 NULL-dims sweep, region
    stripes)."""
    r = T(spark, sf_dir, "region").filter(F.col("r_regionkey").isNotNull())
    n = T(spark, sf_dir, "nation").filter(F.col("n_nationkey").isNotNull())
    out = cross_pair_budget(r, n, budget=50, order_cols=["r_regionkey", "n_nationkey"])
    return out.select(
        "r_regionkey",
        "n_nationkey",
        F.concat(F.col("r_name"), F.lit("/"), F.col("n_name")).alias("pair_name"),
    )


# --------------------------------------------------------------------------
# J3/D4: anti-join vs state (skip already-scraped, any_scraper.py:731).
# --------------------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("anti_join_new_customers", oracle=_ANTI_ORACLE, tags=("J3", "D4"))
def anti_join_new_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — the resume/skip anti-join.

    The contract is anti-join (NOT EXISTS) semantics, NOT SQL ``NOT IN``:
    a NULL-key row on either side is "unknown", not "seen" — a NULL-key
    customer is kept (it matches no state row), and a NULL key in state
    excludes nobody. ``NOT IN`` goes three-valued on both (one NULL in
    the subquery empties the whole result) — the resume semantics the
    reference's set-membership skip implements are the EXISTS kind
    (round-9 NULL-dims sweep)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join_state(c, o, ["c_custkey"]).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# J4: broadcast dispatch/config lookup (site → selectors).
# --------------------------------------------------------------------------

_DISPATCH_ORACLE = f"""
SELECT r.r_name AS region_name, COUNT(*) AS n_orders, {dsum_sql('o.o_totalprice')} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("dispatch_rollup_by_region", oracle=_DISPATCH_ORACLE, tags=("J4", "J2", "A1"))
def dispatch_rollup_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → chained broadcast dims (the site-config dispatch join shape,
    any_scraper.py:346-354): dims broadcast, fact never shuffles until the
    final 5-group agg."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    j = j.join(F.broadcast(n), j.c_nationkey == n.n_nationkey)
    j = j.join(F.broadcast(r), j.n_regionkey == r.r_regionkey)
    return j.groupBy(F.col("r_name").alias("region_name")).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


# --------------------------------------------------------------------------
# J5: merge with precedence ({**medium, **hard}, hard_sampler.py:66-70).
# --------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH lo AS (SELECT c_nationkey AS n_nationkey, COUNT(*) AS n FROM customer GROUP BY 1),
     hi AS (SELECT s_nationkey AS n_nationkey, COUNT(*) AS n FROM supplier GROUP BY 1)
SELECT coalesce(lo.n_nationkey, hi.n_nationkey) AS n_nationkey,
       coalesce(hi.n, lo.n) AS n,
       CASE WHEN hi.n IS NOT NULL THEN 'hi' ELSE 'lo' END AS winner
FROM lo FULL OUTER JOIN hi ON lo.n_nationkey = hi.n_nationkey
"""


@register("merge_precedence_nation_counts", oracle=_MERGE_ORACLE, tags=("J5",))
def merge_precedence_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-side-wins merge as full-outer + coalesce (row form of
    map_concat LAST_WIN).

    The winner label rides THROUGH the merge as a tagged value column
    rather than being re-derived by a second join on the key: with a
    NULL group key, a re-join can never match the NULL-key row the high
    side contributed (NULL = NULL is unknown), so that row's provenance
    would silently flip to 'lo' — a real mislabel the round-9 NULL-dims
    sweep caught. Provenance-through-the-fold also drops a whole join
    from the plan."""
    lo = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count("*").alias("n"))
        .withColumn("winner", F.lit("lo"))
    )
    hi = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("n_nationkey"))
        .agg(F.count("*").alias("n"))
        .withColumn("winner", F.lit("hi"))
    )
    return merge_with_precedence(lo, hi, ["n_nationkey"], ["n", "winner"]).select(
        "n_nationkey", "n", "winner"
    )


# --------------------------------------------------------------------------
# D5: set difference (remaining = all − selected, medium_sampler.py:33).
# --------------------------------------------------------------------------

_SETDIFF_ORACLE = """
SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS n_nationkey FROM supplier
"""


@register("set_difference_nations", oracle=_SETDIFF_ORACLE, tags=("D5",))
def set_difference_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no suppliers (DataFrame EXCEPT)."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey")).distinct()
    return c.subtract(s)


# --------------------------------------------------------------------------
# Window analytics: running totals per customer.
# --------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS run_n,
       CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS DECIMAL(38,2))) OVER w AS DOUBLE) AS run_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS LAST, o_orderkey)
"""


@register("running_order_totals", oracle=_RUNNING_ORACLE, tags=("windows",))
def running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order count + cumulative spend (decimal-exact
    prefix sums). NULL order dates sort last, explicitly on both sides
    (Spark defaults ASC to NULLS FIRST, DuckDB to NULLS LAST — round-9
    NULL-facts sweep); o_orderkey keeps the order total either way."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("run_n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).over(w).cast("double").alias("run_total"),
    )


# --------------------------------------------------------------------------
# A9: split-mean (Inception-Score aggregation shape, metrics.py:199-212).
# --------------------------------------------------------------------------

_SPLITMEAN_ORACLE = f"""
WITH s AS (
  SELECT {hash_bucket_sql('vec_id', 5, salt='is-split')} + 1 AS split,
         CAST(label AS DOUBLE) AS v
  FROM embeddings),
m AS (SELECT split, {davg_sql('v', scale=6)} AS split_mean FROM s GROUP BY split)
SELECT {davg_sql('split_mean', scale=12)} AS mean_of_splits,
       {dstddev_sql('split_mean', scale=12)} AS std_of_splits
FROM m
"""


@register("split_mean_labels", oracle=_SPLITMEAN_ORACLE, tags=("A9",))
def split_mean_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-bucket splits over embeddings → per-split mean label → mean/std
    of splits. The split id is a map-side seeded hash of vec_id (the
    cluster form of the reference's shuffle-then-chunk, metrics.py:199-212)
    — no global-order ntile window, so no single-partition sort at scale."""
    e = T(spark, sf_dir, "embeddings").select("vec_id", F.col("label").cast("double").alias("v"))
    return split_mean(e, "vec_id", F.col("v"), n_splits=5)


# --------------------------------------------------------------------------
# A4 list part: grouped membership lists (categorizer's per-category site
# lists, test_website_accessibility.py:449-498) — string-joined for a
# representation-stable oracle compare.
# --------------------------------------------------------------------------

_GROUPLIST_ORACLE = """
SELECT c_mktsegment AS segment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_list,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer GROUP BY c_mktsegment
"""


@register("grouped_nation_lists", oracle=_GROUPLIST_ORACLE, tags=("A4",))
def grouped_nation_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sort → join: deterministic grouped lists (bare
    collect_list order is partition-dependent)."""
    c = T(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.array_join(F.sort_array(F.collect_set("c_nationkey")), ",").alias("nation_list"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


# --------------------------------------------------------------------------
# A5 + T12: max numeric pagination button
# (zalando_gallery_scraper_s3.py:378-386).
# --------------------------------------------------------------------------

_MAXPAGE_ORACLE = """
WITH buttons AS (
  SELECT l_orderkey,
         CASE WHEN l_linenumber % 7 = 0 THEN 'Next'
              ELSE CAST(l_linenumber * 3 AS VARCHAR) END AS label
  FROM lineitem)
SELECT l_orderkey, MAX(CAST(label AS INTEGER)) AS max_page
FROM buttons WHERE regexp_matches(label, '^[0-9]+$')
GROUP BY l_orderkey
"""


@register("max_page_number", oracle=_MAXPAGE_ORACLE, tags=("A5", "T12"))
def max_page_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-test filter (T12) then max of the numeric buttons per page
    (A5) — the pagination-depth probe."""
    from ..functions.text import is_digits

    li = T(spark, sf_dir, "lineitem")
    buttons = li.select(
        "l_orderkey",
        F.when(F.col("l_linenumber") % 7 == 0, F.lit("Next"))
        .otherwise((F.col("l_linenumber") * 3).cast("string"))
        .alias("label"),
    )
    return (
        buttons.filter(is_digits(F.col("label")))
        .groupBy("l_orderkey")
        .agg(F.max(F.col("label").cast("int")).alias("max_page"))
    )


# --------------------------------------------------------------------------
# A7 over the event stream: per-type value stats.
# --------------------------------------------------------------------------

_EVSTATS_ORACLE = f"""
SELECT event_type, COUNT(value) AS n,
  {davg_sql('value', scale=9)} AS avg_value,
  {dstddev_sql('value', scale=6)} AS std_value
FROM events GROUP BY event_type
"""


@register("event_value_stats", oracle=_EVSTATS_ORACLE, tags=("A7", "R7"))
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-sum mean/std of the event value stream per type."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        davg(F.col("value"), scale=9).alias("avg_value"),
        dstddev(F.col("value"), scale=6).alias("std_value"),
    )


# --------------------------------------------------------------------------
# Skew-safe two-phase aggregation: salt → partial agg → final agg.
# Result is value-identical to the direct groupBy (which is the oracle) —
# the plan, not the answer, changes.
# --------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT l_returnflag, COUNT(*) AS n_items, {dsum_sql('l_extendedprice')} AS revenue
FROM lineitem GROUP BY l_returnflag
"""


@register("salted_skew_aggregate", oracle=_SALTED_ORACLE, tags=("skew", "A1"))
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via salting: phase 1 groups on (key, salt
    bucket) spreading a skewed key over 16 reducers; phase 2 merges the
    partials. Decimal partials make the merge exact — the result hashes
    identically to the one-shot groupBy oracle. This is the manual form
    of what AQE skew-split does for joins, needed for skewed groupBys."""
    from ..functions.determinism import hash_bucket

    li = T(spark, sf_dir, "lineitem")
    dec = "decimal(38,2)"
    phase1 = (
        li.withColumn("__salt", hash_bucket(F.col("l_orderkey"), 16))
        .groupBy("l_returnflag", "__salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("l_extendedprice").cast(dec)).alias("psum"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_items"),
        F.sum("psum").cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# A11: exact state cardinality (len(seen sets), test_kimono_ec2.py:358).
# --------------------------------------------------------------------------

_CARD_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


@register("state_cardinality_by_type", oracle=_CARD_ORACLE, tags=("A11",))
def state_cardinality_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (the oracle-checkable form; at 100 TB swap in
    approx_count_distinct — same plan minus the exact expand)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Pivot → unpivot round trip (wide↔long reshaping, M14 family): the wide
# per-segment status-count table melted back to long form with zero-fill
# for absent combinations.
# --------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH cnt AS (
  SELECT c_mktsegment, o_orderstatus AS status, COUNT(*) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderstatus),
seg AS (SELECT DISTINCT c_mktsegment FROM cnt),
st AS (SELECT unnest(['F', 'O', 'P']) AS status)
SELECT seg.c_mktsegment, st.status,
       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders
FROM seg CROSS JOIN st
LEFT JOIN cnt ON cnt.c_mktsegment IS NOT DISTINCT FROM seg.c_mktsegment
             AND cnt.status = st.status
"""


@register("unpivot_segment_status", oracle=_UNPIVOT_ORACLE, tags=("A2", "M14"))
def unpivot_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot table melted back to long with DataFrame.unpivot —
    missing (segment, status) combos zero-filled so the long form is
    dense. The pivot agg is one shuffle on segment; unpivot is map-side.

    A NULL segment is a real data group: Spark's groupBy/pivot carries
    its counts like any other key, so the oracle's melt-back join must
    be null-safe (``IS NOT DISTINCT FROM``) — a plain equality would
    zero-fill the NULL-segment row and drop its true counts (round-9
    NULL-dims sweep)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    statuses = ["F", "O", "P"]
    wide = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", statuses)
        .count()
        .na.fill(0, statuses)
    )
    return wide.unpivot(
        ["c_mktsegment"], statuses, "status", "n_orders"
    )


# --------------------------------------------------------------------------
# GROUPING SETS: the explicit multi-granularity rollup (detail / per-
# segment / grand total in ONE pass — Spark expands the sets map-side, so
# the corpus is scanned once instead of once per granularity).
# --------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
            ELSE coalesce(c_mktsegment, 'NULL') END AS seg,
       CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
            ELSE coalesce(o_orderstatus, 'NULL') END AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS DECIMAL(38,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), ())
"""


@register("grouping_sets_order_stats", oracle=_GSETS_ORACLE, tags=("A4", "A2"))
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three granularities in one shuffle via DataFrame.groupingSets;
    decimal-exact totals.

    Empty-input contract: the () grouping set is a global aggregate and
    must emit its zero row (COUNT 0, SUM NULL) even on an empty join —
    Spark's groupingSets emits nothing. Same literal-zero-row + re-merge
    shape as cube_segment_status: sum() over {real_value, 0/NULL} is
    exact, and the merge touches only the aggregated rows.

    NULL-group contract: labels go through the GROUPING() bit on both
    sides (rollup → 'ALL', real NULL value → 'NULL') so a NULL status
    group never collides with — and is never summed into — the rollup
    rows (round-9 NULL-facts sweep; see cube_segment_status)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    g = j.groupingSets(
        [["c_mktsegment", "o_orderstatus"], ["c_mktsegment"], []],
        "c_mktsegment",
        "o_orderstatus",
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast("double").alias(
            "total_price"
        ),
        F.grouping("c_mktsegment").alias("g_seg"),
        F.grouping("o_orderstatus").alias("g_st"),
    )
    base = g.select(
        F.when(F.col("g_seg") == 1, F.lit("ALL"))
        .otherwise(F.coalesce("c_mktsegment", F.lit("NULL")))
        .alias("seg"),
        F.when(F.col("g_st") == 1, F.lit("ALL"))
        .otherwise(F.coalesce("o_orderstatus", F.lit("NULL")))
        .alias("status"),
        "n_orders",
        "total_price",
    )
    zero = spark.range(1).select(
        F.lit("ALL").alias("seg"),
        F.lit("ALL").alias("status"),
        F.lit(0).cast("long").alias("n_orders"),
        F.lit(None).cast("double").alias("total_price"),
    )
    return (
        base.unionByName(zero)
        .groupBy("seg", "status")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Edit-distance fuzzy pairing, blocked on the name's noun. Levenshtein is
# the VERIFY kernel of fuzzy dedup — candidate generation at corpus scale
# routes through the LSH/simhash paths (see docs_q); blocking here is the
# small-domain analogue (pairs only form inside a noun block, never the
# full cross product), capped to the partkey range so the oracle stays
# exact.
# --------------------------------------------------------------------------

_FUZZY_CAP = 500
_LEV_MAX = 4

_FUZZY_ORACLE = f"""
WITH p AS (
  SELECT p_partkey, p_name,
         list_extract(string_split(p_name, ' '), -1) AS noun
  FROM part WHERE p_partkey < {_FUZZY_CAP})
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX}
"""


@register("part_name_fuzzy_pairs", oracle=_FUZZY_ORACLE, tags=("T14", "dedup-jaccard"))
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noun-blocked Levenshtein pairs: equi-join on the block key, edit
    distance only inside blocks (JVM-side levenshtein, identical unit-cost
    definition in DuckDB)."""
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _FUZZY_CAP)
        .select(
            "p_partkey",
            "p_name",
            F.element_at(F.split(F.col("p_name"), " "), -1).alias("noun"),
        )
    )
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), "noun"
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"), "noun"
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, "noun")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(lev <= _LEV_MAX)
        .select("id_a", "id_b", "name_a", "name_b", lev.cast("int").alias("lev"))
    )


# --------------------------------------------------------------------------
# Percent-of-parent hierarchical rollup: each nation's share of its
# region's revenue — the two-level ratio report shape.
# --------------------------------------------------------------------------

_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
    SUM(CAST((CASE WHEN isfinite(l.l_extendedprice) THEN l.l_extendedprice END) AS DECIMAL(38,2))) AS nation_rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2),
reg AS (SELECT region, SUM(nation_rev) AS region_rev FROM rev GROUP BY 1)
SELECT v.region, v.nation,
  CAST(v.nation_rev AS DOUBLE) AS nation_rev,
  CAST(g.region_rev AS DOUBLE) AS region_rev,
  round(CAST(v.nation_rev AS DOUBLE) / CAST(g.region_rev AS DOUBLE), 6) AS share
FROM rev v JOIN reg g ON v.region = g.region
"""


@register("region_nation_revenue_share", oracle=_SHARE_ORACLE, tags=("A3", "J4"))
def region_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of its region's total supplier revenue — the
    percent-of-parent hierarchical rollup: the child level aggregates the
    fact table ONCE (exact decimal sums), the parent level re-aggregates
    the child rows (25 rows, no second fact scan), and the ratio joins
    child to parent on the region key. The same cascade holds at any
    depth at 100 TB — each level above the first costs only the previous
    level's group count."""
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    )
    rev = j.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("nation_rev"))
    reg = rev.groupBy("region").agg(F.sum("nation_rev").alias("region_rev"))
    return rev.join(F.broadcast(reg), "region").select(
        "region",
        "nation",
        F.col("nation_rev").cast("double").alias("nation_rev"),
        F.col("region_rev").cast("double").alias("region_rev"),
        F.round(
            F.col("nation_rev").cast("double") / F.col("region_rev").cast("double"), 6
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# Entity resolution end-to-end: block → pairwise score → transitive
# cluster → canonicalize. The master-data pipeline over noisy names.
# --------------------------------------------------------------------------

_ER_LEV = 2

_ER_ORACLE = f"""
WITH RECURSIVE p AS (
  SELECT p_partkey, p_name,
         list_extract(string_split(p_name, ' '), -1) AS noun
  FROM part WHERE p_partkey < {_FUZZY_CAP}),
e0 AS (
  SELECT a.p_partkey AS s, b.p_partkey AS d
  FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= {_ER_LEV}),
{connected_components_sql('e0', 's', 'd')},
labeled AS (
  SELECT a.p_partkey, COALESCE(l.lab, a.p_partkey) AS canonical_id
  FROM p a LEFT JOIN labels l ON a.p_partkey = l.node)
SELECT x.p_partkey, x.canonical_id, n.p_name AS canonical_name,
       COUNT(*) OVER (PARTITION BY x.canonical_id) AS cluster_size
FROM labeled x JOIN p n ON x.canonical_id = n.p_partkey
"""


@register("entity_resolution_parts", oracle=_ER_ORACLE, tags=("dedup-jaccard", "clusters", "D1"))
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end over part names: BLOCK on the head
    noun (no all-pairs), SCORE blocked pairs by edit distance ≤ 2,
    CLUSTER transitively via distributed min-label propagation, and
    CANONICALIZE every part to its cluster representative's name —
    singletons map to themselves. The master-data-dedup pipeline as one
    Catalyst plan.

    Scale shape: blocking bounds the candidate join exactly like the
    inverted-index dedup family; label propagation is O(diameter) rounds
    of node-keyed joins (the quadratic transitive closure exists only in
    the DuckDB oracle); canonical names arrive through one broadcastable
    rep-keyed join; the only window counts rows per already-computed
    cluster id."""
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _FUZZY_CAP)
        .select(
            "p_partkey",
            "p_name",
            F.element_at(F.split(F.col("p_name"), " "), -1).alias("noun"),
        )
    )
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), "noun")
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"), "noun")
    edges = (
        a.join(b, "noun")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= _ER_LEV)
        .select("id_a", "id_b")
    )
    labels = connected_components(edges, src="id_a", dst="id_b")
    labeled = (
        p.join(labels.withColumnRenamed("node", "p_partkey"), "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("lab"), F.col("p_partkey")).alias("canonical_id"),
        )
    )
    canon = p.select(
        F.col("p_partkey").alias("canonical_id"), F.col("p_name").alias("canonical_name")
    )
    sizes = labeled.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return (
        labeled.join(F.broadcast(canon), "canonical_id")
        .join(F.broadcast(sizes), "canonical_id")
        .select("p_partkey", "canonical_id", "canonical_name", "cluster_size")
    )


# --------------------------------------------------------------------------
# Revenue concentration: how unequal is customer value? Top-decile share
# and the Gini coefficient, from a value histogram — no customer-level
# total order anywhere.
# --------------------------------------------------------------------------

_CONC_ORACLE = """
WITH clv AS (
  SELECT o_custkey, CAST(round(SUM(CAST((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS DECIMAL(38,2)))) AS BIGINT) AS v
  FROM orders GROUP BY o_custkey),
hist AS (SELECT v, COUNT(*) AS c FROM clv WHERE v IS NOT NULL GROUP BY v),
cum AS (
  SELECT v, c, c * v AS r,
    SUM(c) OVER (ORDER BY v) AS cum_c,
    SUM(c * v) OVER (ORDER BY v) AS cum_r
  FROM hist),
tot AS (
  SELECT MAX(cum_c) AS n, MAX(cum_r) AS rev,
    CAST(SUM(c * (2 * (cum_r - r) + r)) AS DOUBLE) AS lorenz2
  FROM cum),
topd AS (
  SELECT SUM(CASE WHEN cum_c > CAST(floor(0.9 * t.n) AS BIGINT) THEN r ELSE 0 END)
           AS approx_top_rev
  FROM cum CROSS JOIN tot t)
SELECT CAST(t.n AS BIGINT) AS n_customers,
  CAST(t.rev AS BIGINT) AS total_revenue,
  round(CAST(d.approx_top_rev AS DOUBLE) / t.rev, 6) AS top_decile_share,
  round(1.0 - t.lorenz2 / (CAST(t.n AS DOUBLE) * t.rev), 6) AS gini
FROM tot t CROSS JOIN topd d
"""


@register("customer_revenue_concentration", oracle=_CONC_ORACLE, tags=("A7", "quality"))
def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is customer value: the revenue share of the top
    value decile (customers in histogram bins wholly above the 90th count
    percentile) and the exact Gini coefficient — both computed from the
    whole-dollar CLV HISTOGRAM, never a per-customer ranking. Gini uses
    the trapezoid identity G = 1 − Σ cᵢ(2R₍ᵢ₋₁₎+rᵢ)/(N·R) over
    value-ordered bins: integer-exact sums until the final division.

    Scale shape: one fact rollup to per-customer decimal revenue, rounded
    to a whole-dollar grid so the histogram cardinality is bounded by the
    value range; the cumulative windows run over that grid, and the
    summary is a scalar crossJoin."""
    o = T(spark, sf_dir, "orders")
    clv = o.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,2)")))
        .cast("bigint")
        .alias("v")
    )
    # A customer whose every order price is NULL has no known value — it
    # cannot occupy a histogram bin (and a NULL bin would sit at opposite
    # ends of the cumulative ORDER BY in the two engines: Spark NULLS
    # FIRST, DuckDB NULLS LAST — round-9 NULL-facts sweep).
    hist = clv.filter(F.col("v").isNotNull()).groupBy("v").agg(F.count("*").alias("c"))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("r", F.col("c") * F.col("v"))
        .withColumn("cum_c", F.sum("c").over(wc))
        .withColumn("cum_r", F.sum(F.col("c") * F.col("v")).over(wc))
    )
    tot = cum.agg(
        F.max("cum_c").alias("n"),
        F.max("cum_r").alias("rev"),
        F.sum(
            F.col("c") * (2 * (F.col("cum_r") - F.col("r")) + F.col("r"))
        ).cast("double").alias("lorenz2"),
    )
    topd = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                # floor() is explicit on both sides: a bare double→BIGINT
                # cast truncates in Spark but rounds-to-nearest in DuckDB
                # (0.9·151 = 135.9 → 135 vs 136; latent until the round-9
                # NULL-facts sweep shifted n onto a ≥.5 fraction).
                F.when(
                    F.col("cum_c") > F.floor(F.lit(0.9) * F.col("n")).cast("bigint"),
                    F.col("r"),
                ).otherwise(0)
            ).alias("approx_top_rev")
        )
    )
    return tot.crossJoin(F.broadcast(topd)).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("rev").cast("bigint").alias("total_revenue"),
        F.round(F.col("approx_top_rev").cast("double") / F.col("rev"), 6).alias(
            "top_decile_share"
        ),
        F.round(
            F.lit(1.0) - F.col("lorenz2") / (F.col("n").cast("double") * F.col("rev")),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Order-aging report: open orders bucketed by age at a reference date —
# the operations backlog chart.
# --------------------------------------------------------------------------

_AGING_REF = "2001-01-01 00:00:00"

_AGING_ORACLE = f"""
WITH open_o AS (
  SELECT o_orderkey, o_totalprice,
    date_diff('day', o_orderdate, TIMESTAMP '{_AGING_REF}') AS age_days
  FROM orders
  WHERE o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '{_AGING_REF}'),
b AS (
  SELECT CASE WHEN age_days <= 30 THEN '0-30'
              WHEN age_days <= 90 THEN '31-90'
              WHEN age_days <= 365 THEN '91-365'
              ELSE '365+' END AS age_bucket,
         o_totalprice
  FROM open_o)
SELECT age_bucket, COUNT(*) AS n_orders,
  CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS DECIMAL(38,2))) AS DOUBLE) AS open_value
FROM b GROUP BY age_bucket
"""


@register("order_aging_report", oracle=_AGING_ORACLE, tags=("A2", "F1"))
def order_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging: open orders bucketed by age at a fixed reference
    date (0-30 / 31-90 / 91-365 / 365+ days) with count and exact-decimal
    open value per bucket — the operations chart every fulfillment team
    reads first. One pushed-down scan, integer day arithmetic, map-side
    rollup to four rows."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate") < F.lit(_AGING_REF).cast("timestamp_ntz"))
    )
    age = F.datediff(F.lit(_AGING_REF).cast("timestamp_ntz"), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    return o.groupBy(bucket.alias("age_bucket")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast("double").alias(
            "open_value"
        ),
    )


# --------------------------------------------------------------------------
# Year-over-year part velocity: the top movers table — which parts'
# volumes grew or collapsed between two years.
# --------------------------------------------------------------------------

_YOY_TOPK = 15

_YOY_ORACLE = f"""
WITH v AS (
  SELECT l_partkey,
    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             THEN CAST((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END)
      AS q96,
    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             THEN CAST((CASE WHEN isfinite(l_quantity) THEN l_quantity END) AS DECIMAL(38,2)) ELSE CAST(0 AS DECIMAL(38,2)) END)
      AS q97
  FROM lineitem GROUP BY l_partkey),
g AS (
  SELECT l_partkey, CAST(q96 AS DOUBLE) AS qty_1996, CAST(q97 AS DOUBLE) AS qty_1997,
    CAST(q97 AS DOUBLE) / CAST(q96 AS DOUBLE) AS growth
  FROM v WHERE q96 > 0 AND q97 > 0)
SELECT p.p_partkey, p.p_name, g.qty_1996, g.qty_1997, round(g.growth, 6) AS growth
FROM g JOIN part p ON g.l_partkey = p.p_partkey
ORDER BY g.growth DESC, p.p_partkey
LIMIT {_YOY_TOPK}
"""


@register("part_velocity_movers", oracle=_YOY_ORACLE, tags=("A3", "D8", "tpch"))
def part_velocity_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 parts by 1996→1997 shipped-volume growth (both years
    active): one conditional-sum pass over the fact table builds both
    year slices — no second scan, no join of year-filtered copies — then
    a broadcast of the part dim and a TakeOrdered top-k on the exact
    decimal-derived ratio."""
    li = T(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(38,2)")
    zero = F.lit(0).cast("decimal(38,2)")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")) & (
        F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    in97 = (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")) & (
        F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    v = li.groupBy("l_partkey").agg(
        F.sum(F.when(in96, qty).otherwise(zero)).alias("q96"),
        F.sum(F.when(in97, qty).otherwise(zero)).alias("q97"),
    )
    g = (
        v.filter((F.col("q96") > 0) & (F.col("q97") > 0))
        .select(
            "l_partkey",
            F.col("q96").cast("double").alias("qty_1996"),
            F.col("q97").cast("double").alias("qty_1997"),
            (F.col("q97").cast("double") / F.col("q96").cast("double")).alias("growth"),
        )
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        g.join(F.broadcast(p), g.l_partkey == p.p_partkey)
        .orderBy(F.col("growth").desc(), "p_partkey")
        .limit(_YOY_TOPK)
        .select(
            "p_partkey",
            "p_name",
            "qty_1996",
            "qty_1997",
            F.round("growth", 6).alias("growth"),
        )
    )


# --------------------------------------------------------------------------
# SLA compliance with an ALL-quantifier: an order meets the SLA only if
# EVERY lineitem shipped within 60 days — relational division as a
# per-order min/max aggregate, never a correlated subquery.
# --------------------------------------------------------------------------

_SLA_DAYS = 60

_SLA_ORACLE = f"""
WITH per_order AS (
  SELECT l.l_orderkey,
    MAX(date_diff('day', o.o_orderdate, l.l_shipdate)) AS worst_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_orderkey),
j AS (
  SELECT o.o_orderpriority, (p.worst_days <= {_SLA_DAYS}) AS met
  FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey)
SELECT o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CASE WHEN met THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
  round(CAST(SUM(CASE WHEN met THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS sla_rate
FROM j GROUP BY o_orderpriority
"""


@register("order_priority_sla", oracle=_SLA_ORACLE, tags=("A3", "J2"))
def order_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority SLA compliance where an order counts only if EVERY
    lineitem shipped within 60 days of ordering — the ALL-quantifier
    (relational division) expressed as one per-order MAX of the shipping
    delay, so the universal condition costs a single aggregate instead
    of a correlated NOT-EXISTS over the fact table. Integer day
    arithmetic; one fact shuffle keyed by order."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.max(F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))).alias(
                "worst_days"
            )
        )
    )
    j = per_order.join(o, per_order.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", (F.col("worst_days") <= _SLA_DAYS).alias("met")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("met"), 1).otherwise(0)).cast("bigint").alias("n_met"),
        F.round(
            F.sum(F.when(F.col("met"), 1).otherwise(0)).cast("double") / F.count("*"),
            6,
        ).alias("sla_rate"),
    )
