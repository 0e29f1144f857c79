"""Scalar-function and sampling queries (SURVEY.md §2.7-§2.8: T-family,
M4-M6, F9/F10, U6/U7, S8).

URL-shaped inputs are synthesized deterministically from testdata keys so
the id-extraction/rewrite rules (T1-T3) run against the same shapes the
reference handles (FIXTURES.md §B1 generator hints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    extract_image_id,
    extract_image_id_sql,
    extract_product_id,
    extract_product_id_sql,
    format_duration,
    format_duration_sql,
    matches_blocklist,
    matches_blocklist_sql,
    page_url,
    page_url_sql,
    slugify,
    slugify_sql,
    to_hires_url,
    to_hires_url_sql,
    url_host,
    url_host_sql,
    url_path,
    url_path_sql,
)
from ..operators.sampling import (
    category_gates,
    hierarchical_sample,
    hierarchical_sample_sql,
    weighted_choice,
    weighted_choice_sql,
)
from . import register
from .common import T

# --------------------------------------------------------------------------
# T1/T5/T6/T7: product-id extraction over the four URL shapes.
# --------------------------------------------------------------------------

# Spark-side synthetic URL (same expression mirrored in SQL below).
_URL_SPARK = """
CASE o_orderkey % 4
  WHEN 0 THEN 'https://www.amazon.com/dp/B' || lpad(CAST(o_orderkey AS STRING), 9, '0') || '?ref=sr_1'
  WHEN 1 THEN 'https://www.zalando.co.uk/item-' || CAST(o_orderkey AS STRING) || '.html'
  WHEN 2 THEN 'https://www.nykaa.com/p/SKU' || CAST(o_orderkey AS STRING) || '?src=home'
  ELSE 'https://shop.example.com/products/item-' || CAST(o_orderkey AS STRING)
END
"""

_URL_DUCK = """
CASE o_orderkey % 4
  WHEN 0 THEN 'https://www.amazon.com/dp/B' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') || '?ref=sr_1'
  WHEN 1 THEN 'https://www.zalando.co.uk/item-' || CAST(o_orderkey AS VARCHAR) || '.html'
  WHEN 2 THEN 'https://www.nykaa.com/p/SKU' || CAST(o_orderkey AS VARCHAR) || '?src=home'
  ELSE 'https://shop.example.com/products/item-' || CAST(o_orderkey AS VARCHAR)
END
"""

_IDS_ORACLE = f"""
WITH u AS (SELECT o_orderkey, {_URL_DUCK} AS url FROM orders)
SELECT o_orderkey, url,
  {extract_product_id_sql('url')} AS product_id,
  {url_host_sql('url')} AS host,
  {url_path_sql('url')} AS path,
  {page_url_sql('url', '2')} AS page2_url
FROM u
"""


@register("extract_ids_from_urls", oracle=_IDS_ORACLE, tags=("T1", "T5", "T6", "T7"))
def extract_ids_from_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASIN / .html-slug / /p/SKU / last-segment id extraction with md5
    fallback (any_scraper.py:161-196), plus host/path parse and pagination
    URL build — all codegen expressions, zero UDFs."""
    o = T(spark, sf_dir, "orders")
    u = o.select("o_orderkey", F.expr(_URL_SPARK).alias("url"))
    return u.select(
        "o_orderkey",
        "url",
        extract_product_id(F.col("url")).alias("product_id"),
        url_host(F.col("url")).alias("host"),
        url_path(F.col("url")).alias("path"),
        page_url(F.col("url"), F.lit(2)).alias("page2_url"),
    )


# --------------------------------------------------------------------------
# T2/T3/T14/F3: thumbnail→hi-res rewrite, image-id, blocklist.
# --------------------------------------------------------------------------

_IMG_SPARK = """
CASE p_partkey % 5
  WHEN 0 THEN 'https://m.media-imgs.test/images/I/61abcDEF._SX300_.jpg'
  WHEN 1 THEN 'https://img.test/spp-media-p1/' || md5(CAST(p_partkey AS STRING)) || '/thumb/item.jpg'
  WHEN 2 THEN 'https://cdn.test/tr:h-200,w-200/catalog/' || CAST(p_partkey AS STRING) || '_600x600.jpg?v=2'
  WHEN 3 THEN 'https://cdn.test/w_100,h_150/banner_' || CAST(p_partkey AS STRING) || '.png'
  ELSE 'https://cdn.test/products/photo_' || CAST(p_partkey * 1000 + 111111 AS STRING) || '_main.webp'
END
"""

_IMG_DUCK = _IMG_SPARK.replace("AS STRING", "AS VARCHAR")

_HIRES_ORACLE = f"""
WITH u AS (SELECT p_partkey, {_IMG_DUCK} AS src FROM part)
SELECT p_partkey, src,
  {to_hires_url_sql('src')} AS hires_url,
  {extract_image_id_sql('src')} AS image_id,
  {matches_blocklist_sql('src')} AS blocked
FROM u
"""


@register("hires_url_rewrite", oracle=_HIRES_ORACLE, tags=("T2", "T3", "T14", "F3", "D1"))
def hires_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-rule URL upgrades (any_scraper.py:224-265) + dedup-key
    extraction + blocklist predicate (F3)."""
    p = T(spark, sf_dir, "part")
    u = p.select("p_partkey", F.expr(_IMG_SPARK).alias("src"))
    return u.select(
        "p_partkey",
        "src",
        to_hires_url(F.col("src")).alias("hires_url"),
        extract_image_id(F.col("src")).alias("image_id"),
        matches_blocklist(F.col("src")).alias("blocked"),
    )


# --------------------------------------------------------------------------
# D2: filename-keyed dedup — first occurrence per extracted image id
# (test_kimono.py:374-386).
# --------------------------------------------------------------------------

_FNAME_DEDUP_ORACLE = f"""
WITH u AS (SELECT p_partkey, {_IMG_DUCK} AS src FROM part),
keyed AS (SELECT p_partkey, src, {extract_image_id_sql('src')} AS image_id FROM u),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY image_id ORDER BY p_partkey) rn
  FROM keyed)
SELECT image_id, p_partkey AS first_partkey FROM ranked WHERE rn = 1
"""


@register("filename_dedup", oracle=_FNAME_DEDUP_ORACLE, tags=("D2", "D1", "T3"))
def filename_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup by extracted base-filename/image id, first occurrence wins —
    the D2 variant of the order-preserving window dedup."""
    from ..operators.dedup import first_wins

    p = T(spark, sf_dir, "part")
    keyed = p.select(
        "p_partkey",
        extract_image_id(F.expr(_IMG_SPARK)).alias("image_id"),
    )
    return first_wins(keyed, ["image_id"], [F.col("p_partkey")]).select(
        "image_id", F.col("p_partkey").alias("first_partkey")
    )


# --------------------------------------------------------------------------
# F6 + implicit union (SURVEY §2.6): multi-selector link accumulation with
# nav-link exclusion (test_kimono.py:330-335, 589-595).
# --------------------------------------------------------------------------

_NAV_ORACLE = """
WITH sel1 AS (
  SELECT o_orderkey, '/products/item-' || CAST(o_orderkey AS VARCHAR) AS href FROM orders
  WHERE o_orderkey % 3 = 0),
sel2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN '/cart/add-' || CAST(o_orderkey AS VARCHAR)
              WHEN o_orderkey % 5 = 1 THEN '/account/settings'
              WHEN o_orderkey % 5 = 2 THEN '/search?q=' || CAST(o_orderkey AS VARCHAR)
              ELSE '/products/item-' || CAST(o_orderkey AS VARCHAR) END AS href
  FROM orders WHERE o_orderkey % 2 = 0),
unioned AS (SELECT href FROM sel1 UNION SELECT href FROM sel2)
SELECT href FROM unioned
WHERE NOT regexp_matches(href, '/cart|/account|/search')
"""


@register("nav_link_exclusion", oracle=_NAV_ORACLE, tags=("F6", "D3", "union"))
def nav_link_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two selector passes accumulate candidate links (implicit union →
    unionByName + distinct), then nav routes are excluded (F6)."""
    o = T(spark, sf_dir, "orders")
    sel1 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.concat(F.lit("/products/item-"), F.col("o_orderkey").cast("string")).alias("href")
    )
    sel2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.concat(F.lit("/cart/add-"), F.col("o_orderkey").cast("string")),
        )
        .when(F.col("o_orderkey") % 5 == 1, F.lit("/account/settings"))
        .when(
            F.col("o_orderkey") % 5 == 2,
            F.concat(F.lit("/search?q="), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("/products/item-"), F.col("o_orderkey").cast("string")))
        .alias("href")
    )
    unioned = sel1.unionByName(sel2).distinct()
    return unioned.filter(~F.col("href").rlike("/cart|/account|/search"))


# --------------------------------------------------------------------------
# T4/T15/D10: slugify + duration formatting + truncation.
# --------------------------------------------------------------------------

_SLUG_ORACLE = f"""
SELECT p_partkey,
  {slugify_sql('p_name')} AS slug,
  substr(p_name, 1, 12) AS short_title,
  {format_duration_sql('p_retailprice')} AS pretty_duration
FROM part
"""


@register("slugify_titles", oracle=_SLUG_ORACLE, tags=("T4", "T15", "D10"))
def slugify_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filesystem-safe slugs (people_western_keyword_extractor.py:44-49),
    title truncation (D10), s/min/h formatting (test_kimono.py:700-710)."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        slugify(F.col("p_name")).alias("slug"),
        F.substring(F.col("p_name"), 1, 12).alias("short_title"),
        format_duration(F.col("p_retailprice")).alias("pretty_duration"),
    )


# --------------------------------------------------------------------------
# T10/T11 + S1: tolerant JSON field extraction with corrupt-record fallback
# (qwen_vl_processor.py:177-187 free-text JSON rescue).
# --------------------------------------------------------------------------

# Tolerant-parse contract (r10 hostile-props battery → r11 fix,
# DIVERGENCES.md "Queued fix: hostile JSON props"):
#   valid   := the payload parses as a JSON OBJECT (the shape the model
#              was asked for) — anything else, from truncated text to a
#              bare array/null root, is preserved verbatim in
#              raw_response (the reference's free-text rescue,
#              qwen_vl_processor.py:177-187, keys on parseability — not
#              on any marker prefix);
#   k       := the value under key "k" iff it is a JSON NUMBER written
#              as an integer literal that fits INT32 — quoted "12" stays
#              NULL (strict typing), duplicate keys resolve LAST_WIN
#              (the J5 merge contract; Spark's Jackson parse and the
#              session's mapKeyDedupPolicy both take the last), 1e999 /
#              INT64_MAX+1 overflow to NULL on both engines (try_cast).
# The DuckDB twin mirrors each clause: json_valid + json_type='OBJECT'
# for validity, and a greedy last-occurrence integer-literal extract +
# TRY_CAST for k (json_extract alone is first-win and its INTEGER cast
# raises on Infinity/overflow — the r10 asymmetries). The regex twin's
# domain is flat objects with integer-literal values, which is both the
# clean-data shape and every hostile stripe. The greedy prefix is
# [\s\S]* rather than .* — RE2's '.' excludes \n, so a pretty-printed
# (multi-line) object would extract no k here while the engine's real
# JSON parser reads it fine (round-11 regex-flavor sweep).
_JSON_ORACLE = r"""
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 17 = 0 THEN 'garbage ' || props ELSE props END AS payload
  FROM events),
v AS (
  SELECT event_id, payload,
    CASE WHEN json_valid(payload)
         THEN (json_type(payload) = 'OBJECT') ELSE FALSE END AS is_obj
  FROM raw)
SELECT event_id,
  CASE WHEN is_obj THEN TRY_CAST(
    regexp_extract(payload, '^[\s\S]*"k"\s*:\s*(-?\d+)\s*[,}]', 1) AS INTEGER) END AS k,
  CASE WHEN is_obj THEN NULL ELSE payload END AS raw_response
FROM v
"""


@register("parse_props_json", oracle=_JSON_ORACLE, tags=("T10", "T11", "S1", "F8"))
def parse_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON parsing: object payloads yield k, everything else
    falls back to a raw_response column (the reference's escape hatch).

    Parseability is probed with a schema-free map parse — from_json
    returns NULL for any payload that is not a JSON object, exactly the
    validity rule — while k comes from the schema-typed struct parse,
    which is strict (quoted numbers / overflow → NULL) and LAST_WIN on
    duplicate keys. The corrupt-record fallback therefore keys on what
    the payload IS, not on any test stripe's marker prefix."""
    ev = T(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.when(F.col("event_id") % 17 == 0, F.concat(F.lit("garbage "), F.col("props")))
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = raw.select(
        "event_id",
        "payload",
        F.from_json(F.col("payload"), "map<string,string>", {"mode": "PERMISSIVE"})
        .isNotNull()
        .alias("is_obj"),
        F.from_json(F.col("payload"), "k int", {"mode": "PERMISSIVE"}).alias("k_struct"),
    )
    return parsed.select(
        "event_id",
        F.when(F.col("is_obj"), F.col("k_struct.k")).alias("k"),
        F.when(~F.col("is_obj"), F.col("payload")).alias("raw_response"),
    )


# --------------------------------------------------------------------------
# F9/F10: default-fill + rule-based correction
# (mllm_to_vlm_converter.py:9-85).
# --------------------------------------------------------------------------

_GARMENT_TYPES = ["t-shirt", "sari", "kurta", "dress", "kimono"]

_NORMALIZE_ORACLE = """
WITH g AS (
  SELECT p_partkey,
    CASE p_partkey % 2 WHEN 0 THEN 'male' ELSE 'female' END AS gender,
    CASE p_partkey % 5 WHEN 0 THEN 't-shirt' WHEN 1 THEN 'sari' WHEN 2 THEN 'kurta'
                       WHEN 3 THEN 'dress' ELSE 'kimono' END AS garment_type_raw,
    CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE string_split(p_name, ' ')[1] END AS color_raw,
    CASE p_partkey % 3 WHEN 0 THEN 'blouse' WHEN 1 THEN 'shirt' ELSE 'top' END AS top_type,
    CASE p_partkey % 4 WHEN 0 THEN 'shorts-length' ELSE 'regular' END AS length_raw
  FROM part)
SELECT p_partkey, gender, garment_type_raw,
  CASE WHEN gender = 'male' AND garment_type_raw IN ('sari', 'dress', 'kimono')
       THEN 'kurta' ELSE garment_type_raw END AS garment_type,
  coalesce(color_raw, 'white') AS color,
  CASE WHEN top_type = 'blouse' AND length_raw = 'shorts-length'
       THEN 'regular' ELSE length_raw END AS length
FROM g
"""


@register("normalize_correct_garments", oracle=_NORMALIZE_ORACLE, tags=("F9", "F10", "U7"))
def normalize_correct_garments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-fill (coalesce-to-default, F9) + implausible-combination
    rewrites (male+sari→kurta; blouse+shorts-length→regular, F10)."""
    p = T(spark, sf_dir, "part")
    g = p.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 2 == 0, F.lit("male")).otherwise(F.lit("female")).alias("gender"),
        F.element_at(F.array(*[F.lit(t) for t in _GARMENT_TYPES]), (F.col("p_partkey") % 5 + 1).cast("int"))
        .alias("garment_type_raw"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.split(F.col("p_name"), " ").getItem(0))
        .alias("color_raw"),
        F.element_at(
            F.array(F.lit("blouse"), F.lit("shirt"), F.lit("top")), (F.col("p_partkey") % 3 + 1).cast("int")
        ).alias("top_type"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit("shorts-length")).otherwise(F.lit("regular")).alias(
            "length_raw"
        ),
    )
    return g.select(
        "p_partkey",
        "gender",
        "garment_type_raw",
        F.when(
            (F.col("gender") == "male") & F.col("garment_type_raw").isin("sari", "dress", "kimono"),
            F.lit("kurta"),
        )
        .otherwise(F.col("garment_type_raw"))
        .alias("garment_type"),
        F.coalesce(F.col("color_raw"), F.lit("white")).alias("color"),
        F.when(
            (F.col("top_type") == "blouse") & (F.col("length_raw") == "shorts-length"),
            F.lit("regular"),
        )
        .otherwise(F.col("length_raw"))
        .alias("length"),
    )


# --------------------------------------------------------------------------
# U6/U7/T8/T9: edit-prompt assembly from structured fields
# (qwen_vl_processor.py:207-231 — pure column expressions, no UDF).
# --------------------------------------------------------------------------

_PROMPT_ORACLE = """
WITH g AS (
  SELECT p_partkey,
    CASE p_partkey % 5 WHEN 0 THEN 't-shirt' WHEN 1 THEN 'sari' WHEN 2 THEN 'kurta'
                       WHEN 3 THEN 'dress' ELSE 'kimono' END AS garment_type,
    coalesce(CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE string_split(p_name, ' ')[1] END, 'white') AS color,
    lower(p_type) AS material
  FROM part)
SELECT p_partkey,
  'Change the ' || garment_type || ' to a ' || color || ' ' || material ||
  ' version while preserving the person''s pose and the background.' AS edit_prompt
FROM g
"""


@register("prompt_assembly", oracle=_PROMPT_ORACLE, tags=("U6", "U7", "T8", "T9"))
def prompt_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-language edit prompt from struct fields — concat expressions
    replace the reference's f-string builder."""
    p = T(spark, sf_dir, "part")
    g = p.select(
        "p_partkey",
        F.element_at(F.array(*[F.lit(t) for t in _GARMENT_TYPES]), (F.col("p_partkey") % 5 + 1).cast("int"))
        .alias("garment_type"),
        F.coalesce(
            F.when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("string")).otherwise(
                F.split(F.col("p_name"), " ").getItem(0)
            ),
            F.lit("white"),
        ).alias("color"),
        F.lower(F.col("p_type")).alias("material"),
    )
    return g.select(
        "p_partkey",
        F.concat(
            F.lit("Change the "),
            F.col("garment_type"),
            F.lit(" to a "),
            F.col("color"),
            F.lit(" "),
            F.col("material"),
            F.lit(" version while preserving the person's pose and the background."),
        ).alias("edit_prompt"),
    )


# --------------------------------------------------------------------------
# F1/F2/F4: image validity predicates (image_utils.py:12-29,
# any_scraper.py:301-318) over synthesized asset dimensions.
# --------------------------------------------------------------------------

_ASSET_ORACLE = """
WITH assets AS (
  SELECT p_partkey,
    400 + (p_partkey * 37) % 1200 AS w,
    400 + (p_partkey * 53) % 1500 AS h,
    CASE p_partkey % 11 WHEN 0 THEN 'text/html' ELSE 'image/jpeg' END AS content_type
  FROM part)
SELECT p_partkey, w, h,
  (w >= 512 AND h >= 512) AS res_ok,
  (abs(CAST(w AS DOUBLE)/CAST(h AS DOUBLE) - 0.75)  < 0.05 OR
   abs(CAST(w AS DOUBLE)/CAST(h AS DOUBLE) - 0.8)   < 0.05 OR
   abs(CAST(w AS DOUBLE)/CAST(h AS DOUBLE) - 1.0)   < 0.05) AS aspect_ok,
  (content_type NOT LIKE 'text/html%') AS content_ok
FROM assets
"""


@register("image_validity_predicates", oracle=_ASSET_ORACLE, tags=("F1", "F2", "F4"))
def image_validity_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-resolution (F1, 512px spec), allowed aspect ratios {3:4, 4:5,
    1:1} ±0.05 (F2), and content-type rejection (F4) as one projection."""
    from ..operators.multimodal import aspect_ratio_ok, min_resolution_ok

    p = T(spark, sf_dir, "part")
    assets = p.select(
        "p_partkey",
        (F.lit(400) + (F.col("p_partkey") * 37) % 1200).cast("int").alias("w"),
        (F.lit(400) + (F.col("p_partkey") * 53) % 1500).cast("int").alias("h"),
        F.when(F.col("p_partkey") % 11 == 0, F.lit("text/html"))
        .otherwise(F.lit("image/jpeg"))
        .alias("content_type"),
    )
    return assets.select(
        "p_partkey",
        "w",
        "h",
        min_resolution_ok(F.col("w"), F.col("h"), 512).alias("res_ok"),
        aspect_ratio_ok(F.col("w"), F.col("h")).alias("aspect_ok"),
        (~F.col("content_type").startswith("text/html")).alias("content_ok"),
    )


# --------------------------------------------------------------------------
# M4/S9: seeded weighted choice.
# --------------------------------------------------------------------------

_TIERS = [("easy", 0.5), ("medium", 0.3), ("hard", 0.2)]

_WCHOICE_ORACLE = f"""
SELECT o_orderkey, {weighted_choice_sql('o_orderkey', _TIERS, 'tier')} AS tier
FROM orders
"""


@register("weighted_tier_choice", oracle=_WCHOICE_ORACLE, tags=("M4", "S9"))
def weighted_tier_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One seeded weighted draw per order (the reference's
    random.choices over (item, prob) lists, keyword_sampler.py:5-14)."""
    o = T(spark, sf_dir, "orders")
    return weighted_choice(
        o.select("o_orderkey"), F.col("o_orderkey"), _TIERS, out_col="tier", salt="tier"
    )


# --------------------------------------------------------------------------
# M5: independent category gates (easy_sampler.py:26-42).
# --------------------------------------------------------------------------

_GATES = [("color", 0.9), ("material", 0.7), ("pattern", 0.4), ("surface_detail", 0.2)]

from ..functions.determinism import unit_rand_sql as _urs  # noqa: E402

_GATES_ORACLE = "SELECT " + ", ".join(
    f"CAST(SUM(CASE WHEN {_urs('c_custkey', f'gate|{cat}')} < {prob} THEN 1 ELSE 0 END) AS BIGINT) AS n_{cat}"
    for cat, prob in _GATES
) + ", COUNT(*) AS n_total FROM customer"


_MIN_PICKS = 2

_cats_values = ", ".join(f"('{c}', {p})" for c, p in _GATES)
_gate_r = _urs("CAST(c_custkey AS VARCHAR) || '|' || category", "gate")
_fill_r = _urs("CAST(c_custkey AS VARCHAR) || '|' || category", "fill")

_BACKFILL_ORACLE = f"""
WITH cats(category, prob) AS (VALUES {_cats_values}),
rows_ AS (
  SELECT c_custkey, category, prob,
         {_gate_r} AS r_gate, {_fill_r} AS r_fill
  FROM customer CROSS JOIN cats),
marked AS (SELECT *, (r_gate < prob) AS gated FROM rows_),
ranked AS (
  SELECT *,
    SUM(CASE WHEN gated THEN 1 ELSE 0 END) OVER (PARTITION BY c_custkey) AS n_gated,
    row_number() OVER (PARTITION BY c_custkey, gated ORDER BY r_fill, category) AS fill_rank
  FROM marked)
SELECT c_custkey AS key, category,
  (gated OR (NOT gated AND fill_rank <= greatest({_MIN_PICKS} - n_gated, 0))) AS selected
FROM ranked
"""


@register("category_backfill_selection", oracle=_BACKFILL_ORACLE, tags=("M5",))
def category_backfill_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-then-backfill-to-minimum category selection
    (medium_sampler.py:24-50): every key ends with ≥ MIN picks, fills
    drawn seeded from the unselected pool."""
    from ..operators.sampling import gates_with_backfill

    c = T(spark, sf_dir, "customer")
    return gates_with_backfill(
        c.select("c_custkey"), F.col("c_custkey"), _GATES, min_count=_MIN_PICKS
    )


@register("category_gate_counts", oracle=_GATES_ORACLE, tags=("M5",))
def category_gate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category inclusion gates (random.random() < prob) as seeded
    draws; output = how many rows picked each category."""
    c = T(spark, sf_dir, "customer")
    gated = category_gates(c.select("c_custkey"), F.col("c_custkey"), _GATES)
    return gated.agg(
        *[
            F.sum(F.when(F.col(f"pick_{cat}"), 1).otherwise(0)).alias(f"n_{cat}")
            for cat, _p in _GATES
        ],
        F.count("*").alias("n_total"),
    )


# --------------------------------------------------------------------------
# T16 + D10: HTML title extraction with truncation
# (extract_product_title, any_scraper.py:509-535).
# --------------------------------------------------------------------------

from ..functions.text import strip_html, strip_html_sql  # noqa: E402

_HTML_ORACLE = f"""
WITH pages AS (
  SELECT p_partkey,
         '<div class="product"><h1> ' || p_name ||
         ' </h1>&nbsp;<span>' || p_brand || '</span></div>' AS html
  FROM part)
SELECT p_partkey, substr({strip_html_sql('html')}, 1, 60) AS title
FROM pages
"""


@register("html_title_extract", oracle=_HTML_ORACLE, tags=("T16", "D10"))
def html_title_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag/entity-stripped page text, truncated to the reference's 60-char
    display cap (any_scraper.py:533)."""
    p = T(spark, sf_dir, "part")
    pages = p.select(
        "p_partkey",
        F.concat(
            F.lit('<div class="product"><h1> '),
            F.col("p_name"),
            F.lit(" </h1>&nbsp;<span>"),
            F.col("p_brand"),
            F.lit("</span></div>"),
        ).alias("html"),
    )
    return pages.select(
        "p_partkey", F.substring(strip_html(F.col("html")), 1, 60).alias("title")
    )


# --------------------------------------------------------------------------
# F7 + D3 + D11 + M12: gallery assembly — build the nested images array of
# product_metadata (any_scraper.py:764-774), gate on gallery size, cap at
# 6, re-explode with index.
# --------------------------------------------------------------------------

_GALLERY_ORACLE = """
WITH imgs AS (
  SELECT l_orderkey AS product_key,
         'img_' || CAST(l_partkey % 40 AS VARCHAR) AS image_id
  FROM lineitem),
dedup AS (SELECT DISTINCT product_key, image_id FROM imgs),
gallery AS (
  SELECT product_key, list_sort(list(image_id)) AS images
  FROM dedup GROUP BY product_key),
gated AS (
  SELECT product_key, images[1:6] AS kept, len(images) AS total_found
  FROM gallery WHERE len(images) >= 2)
SELECT product_key, total_found,
       generate_subscripts(kept, 1) AS idx, unnest(kept) AS image_id
FROM gated
"""


@register("gallery_assembly", oracle=_GALLERY_ORACLE, tags=("F7", "D3", "D11", "M12", "K1"))
def gallery_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product image gallery: in-page dedup (D3) → sorted collect →
    min-gallery gate len≥2 (F7, any_scraper.py:559) → first-6 cap (D11,
    zalando_production_scraper.py:142) → posexplode with index (M12, the
    image index assignment)."""
    li = T(spark, sf_dir, "lineitem")
    imgs = li.select(
        F.col("l_orderkey").alias("product_key"),
        F.concat(F.lit("img_"), (F.col("l_partkey") % 40).cast("string")).alias("image_id"),
    ).dropDuplicates(["product_key", "image_id"])
    gallery = imgs.groupBy("product_key").agg(
        F.sort_array(F.collect_list("image_id")).alias("images")
    )
    gated = gallery.filter(F.size("images") >= 2).select(
        "product_key",
        F.slice(F.col("images"), 1, 6).alias("kept"),
        F.size("images").cast("bigint").alias("total_found"),
    )
    return gated.select(
        "product_key",
        "total_found",
        F.posexplode("kept").alias("idx0", "image_id"),
    ).select(
        "product_key",
        "total_found",
        (F.col("idx0") + 1).cast("bigint").alias("idx"),
        "image_id",
    )


# --------------------------------------------------------------------------
# S8 + M6: generator source + hierarchical sampling
# (keyword_sampler.py:16-46 unrolled).
# --------------------------------------------------------------------------

_GARMENT_TREE = {
    "children": {
        "upper": {
            "prob": 0.6,
            "children": {
                "casual": {"prob": 0.7, "keywords": [("t-shirt", 0.6), ("hoodie", 0.4)]},
                "formal": {"prob": 0.3, "keywords": [("shirt", 0.7), ("blazer", 0.3)]},
            },
        },
        "lower": {"prob": 0.25, "keywords": [("jeans", 0.5), ("skirt", 0.3), ("shorts", 0.2)]},
        "full": {"prob": 0.15, "keywords": [("dress", 0.6), ("kimono", 0.2), ("sari", 0.2)]},
    }
}

_SCENES = [("studio", 0.4), ("street", 0.3), ("beach", 0.2), ("garden", 0.1)]

_GEN_N = 2000

_GEN_ORACLE = f"""
SELECT CAST(range AS BIGINT) AS sample_id,
  {hierarchical_sample_sql('range', _GARMENT_TREE, 'garment')} AS garment,
  {weighted_choice_sql('range', _SCENES, 'scene')} AS scene
FROM range({_GEN_N})
"""


@register("sample_prompt_generator", oracle=_GEN_ORACLE, tags=("S8", "M6", "M4"))
def sample_prompt_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize 2000 seeded prompt-attribute rows: two-level weighted
    descent for garment, flat draw for scene — the reference's recursive
    sampler unrolled into one codegen stage."""
    from ..operators.sampling import generator_source

    g = generator_source(spark, _GEN_N)
    g = hierarchical_sample(g, F.col("sample_id"), _GARMENT_TREE, out_col="garment", salt="garment")
    return weighted_choice(g, F.col("sample_id"), _SCENES, out_col="scene", salt="scene")
