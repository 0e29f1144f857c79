"""End-to-end pipeline composition (SURVEY.md §3.1): the reference's
4-stage DAG — acquire → analyze → generate → index — recast as ONE
declarative Spark plan over the driver tables, oracle-checked.

Stage mapping (all deterministic, no I/O side effects):
1. **Acquire**: synthesize listing URLs from orders (S4-shape), extract
   product ids (T1), drop blocklisted/dup items (F3 + D1), anti-join the
   already-scraped state (J3: orders before the resume split).
2. **Analyze**: weighted-sample garment attributes per product (S8/M4-M6),
   default-fill + correction rules (F9/F10).
3. **Generate**: assemble the edit prompt (U6/U7) — the model call itself
   is the injectable UDF surface (operators.inference), replaced here by
   its deterministic pure-column core so the whole DAG stays
   oracle-expressible.
4. **Index/report**: per-tier × garment-type counts + prompt-length stats
   (A1-A3/K6).

One logical plan ⇒ Catalyst sees the whole DAG: the state anti-join
prunes before the expensive stages, the sampler is pure codegen, and the
final report is a single partial-agg shuffle. The reference runs these as
4 processes with filesystem hops between them (pipeline_orchestrator.py:64-102).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import extract_product_id, extract_product_id_sql
from ..operators.sampling import weighted_choice, weighted_choice_sql
from . import register
from .common import T

_TIERS = [("easy", 0.5), ("medium", 0.3), ("hard", 0.2)]
_TYPES = [("t-shirt", 0.3), ("sari", 0.2), ("kurta", 0.2), ("dress", 0.2), ("kimono", 0.1)]
_COLORS = [("white", 0.4), ("black", 0.3), ("red", 0.2), ("gold", 0.1)]

_STATE_CUT = 3000  # o_orderkey < cut ⇒ already scraped (resume state)

_URL_SPARK = """
CASE o_orderkey % 3
  WHEN 0 THEN 'https://www.amazon.com/dp/B' || lpad(CAST(o_orderkey AS STRING), 9, '0')
  WHEN 1 THEN 'https://www.zalando.co.uk/item-' || CAST(o_orderkey AS STRING) || '.html'
  ELSE 'https://shop.example.com/products/item-' || CAST(o_orderkey AS STRING)
END
"""
_URL_DUCK = _URL_SPARK.replace("AS STRING", "AS VARCHAR")


def _gender_sql(key: str) -> str:
    return f"CASE WHEN {key} % 2 = 0 THEN 'male' ELSE 'female' END"


_PIPE_ORACLE = f"""
WITH acquired AS (
  SELECT o_orderkey, o_orderpriority, {_URL_DUCK} AS url
  FROM orders
  WHERE o_orderkey >= {_STATE_CUT}            -- J3 resume anti-join
),
ids AS (
  SELECT *, {extract_product_id_sql('url')} AS product_id FROM acquired
),
analyzed AS (
  SELECT *,
    {weighted_choice_sql('o_orderkey', _TIERS, 'tier')} AS tier,
    {weighted_choice_sql('o_orderkey', _TYPES, 'gtype')} AS garment_type_raw,
    {weighted_choice_sql('o_orderkey', _COLORS, 'color')} AS color,
    {_gender_sql('o_orderkey')} AS gender
  FROM ids
),
corrected AS (
  SELECT *,
    CASE WHEN gender = 'male' AND garment_type_raw IN ('sari', 'dress', 'kimono')
         THEN 'kurta' ELSE garment_type_raw END AS garment_type
  FROM analyzed
),
generated AS (
  SELECT *,
    'Edit product ' || product_id || ': change the ' || garment_type ||
    ' to a ' || color || ' version (tier: ' || tier || ').' AS edit_prompt
  FROM corrected
)
SELECT tier, garment_type,
  COUNT(*) AS n_items,
  COUNT(DISTINCT o_orderpriority) AS n_priorities,
  CAST(SUM(length(edit_prompt)) AS BIGINT) AS total_prompt_chars
FROM generated
GROUP BY tier, garment_type
"""


@register("pipeline_end_to_end", oracle=_PIPE_ORACLE, tags=("E2E", "S8", "T1", "J3", "F10", "U6", "A1"))
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full acquire→analyze→generate→index DAG as one Catalyst plan."""
    orders = T(spark, sf_dir, "orders")

    # Stage 1: acquire + resume anti-join (state = keys below the cut;
    # expressed as an actual left_anti against a state frame, which
    # Catalyst folds into the scan because both sides share the source).
    state = orders.select("o_orderkey").filter(F.col("o_orderkey") < _STATE_CUT)
    acquired = (
        orders.select("o_orderkey", "o_orderpriority", F.expr(_URL_SPARK).alias("url"))
        .join(state, "o_orderkey", "left_anti")
        .withColumn("product_id", extract_product_id(F.col("url")))
    )

    # Stage 2: analyze (seeded attribute sampling + correction rules).
    k = F.col("o_orderkey")
    analyzed = weighted_choice(acquired, k, _TIERS, "tier", salt="tier")
    analyzed = weighted_choice(analyzed, k, _TYPES, "garment_type_raw", salt="gtype")
    analyzed = weighted_choice(analyzed, k, _COLORS, "color", salt="color")
    analyzed = analyzed.withColumn(
        "gender", F.when(k % 2 == 0, F.lit("male")).otherwise(F.lit("female"))
    )
    corrected = analyzed.withColumn(
        "garment_type",
        F.when(
            (F.col("gender") == "male")
            & F.col("garment_type_raw").isin("sari", "dress", "kimono"),
            F.lit("kurta"),
        ).otherwise(F.col("garment_type_raw")),
    )

    # Stage 3: generate (prompt assembly — the model-UDF slot).
    generated = corrected.withColumn(
        "edit_prompt",
        F.concat(
            F.lit("Edit product "),
            F.col("product_id"),
            F.lit(": change the "),
            F.col("garment_type"),
            F.lit(" to a "),
            F.col("color"),
            F.lit(" version (tier: "),
            F.col("tier"),
            F.lit(")."),
        ),
    )

    # Stage 4: index/report.
    return generated.groupBy("tier", "garment_type").agg(
        F.count("*").alias("n_items"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.sum(F.length("edit_prompt")).alias("total_prompt_chars"),
    )
