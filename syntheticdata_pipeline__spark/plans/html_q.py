"""HTML-acquisition queries: real DOM selector extraction (T16/S4) and
relative-URL resolution (T6b) with DuckDB oracle twins.

Synthetic product pages are assembled from ``documents`` columns with
plain Spark string expressions, parsed back through the stdlib-DOM
selector kernel (operators/htmlx.py), and checked against an oracle that
predicts every extraction directly from the source columns — which proves
the parse→select→get_text path end-to-end, not just the string plumbing.

Reference behaviors covered: selector dispatch + per-site selector lists
(any_scraper.py:332-460), the ``select_one`` title ladder with
``get_text(strip=True)`` (any_scraper.py:509-535), attribute harvesting
(any_scraper.py:378-383), and ``urljoin`` href resolution
(any_scraper.py:284,444)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import resolve_url, to_hires_url, to_hires_url_sql
from ..operators.htmlx import HtmlSpec, html_extract
from ..sources.browser import FakeBrowser, fetch_pages
from . import register
from .common import T

# --------------------------------------------------------------------------
# html_selector_extract: build page → parse → selector-extract → compare
# --------------------------------------------------------------------------

# First 4 words of the document text serve as the product title.
_TITLE_SPARK = "array_join(slice(split(trim(text), ' '), 1, 4), ' ')"
_TITLE_DUCK = "array_to_string(list_slice(string_split(trim(text), ' '), 1, 4), ' ')"

# Three page shapes exercise the reference's title-selector ladder
# (any_scraper.py:519-535): #productTitle → h1.product-title → h1. Shape 1
# places a decoy plain <h1> BEFORE the classed one, so ladder priority
# (first matching selector, not first matching element) is observable.
_PAGE_SPARK = f"""
concat(
  '<html><head><title>Shop</title></head><body>',
  '<div id="nav"><a class="nav" href="/cart/add-', CAST(doc_id AS STRING), '">cart</a></div>',
  CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN concat('<span id="productTitle"> ', {_TITLE_SPARK}, ' </span>')
    WHEN 1 THEN concat('<h1>decoy heading</h1><h1 class="product-title">', {_TITLE_SPARK}, '</h1>')
    ELSE concat('<h1> ', {_TITLE_SPARK}, ' </h1>')
  END,
  '<div class="gallery">',
  '<img src="https://cdn.test/shop/img-', CAST(doc_id AS STRING), '-0.jpg">',
  '<img src="https://cdn.test/shop/img-', CAST(doc_id AS STRING), '-1.jpg">',
  '<img src="https://static.test/logo-', CAST(doc_id AS STRING), '.png">',
  '</div>',
  CASE WHEN n_chars IS NOT NULL
       THEN concat('<div data-testid="price">$', CAST(n_chars AS STRING), '</div>')
       ELSE '' END,
  CASE WHEN lang IS NOT NULL THEN concat('<p>', lang, '</p>') ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '<p>even</p>' ELSE '' END,
  '</body></html>')
"""

# get_text(strip=True) Python-strips each text fragment, so the oracle's
# directly-computed title must be stripped of the same ASCII whitespace
# set (space/\t/\n/\x0B/\f/\r) — found by the hostile-text battery when a
# fixture title carried edge whitespace that the DOM extraction removes.
_PY_STRIP_CHARS = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"

_HTML_SEL_ORACLE = f"""
SELECT doc_id,
  trim({_TITLE_DUCK}, {_PY_STRIP_CHARS}) AS page_title,
  'https://cdn.test/shop/img-' || CAST(doc_id AS VARCHAR) || '-0.jpg|' ||
  'https://cdn.test/shop/img-' || CAST(doc_id AS VARCHAR) || '-1.jpg' AS gallery_srcs,
  CASE WHEN n_chars IS NULL THEN NULL
       ELSE '$' || CAST(n_chars AS VARCHAR) END AS price_text,
  CAST((CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END)
       + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_paras,
  '/cart/add-' || CAST(doc_id AS VARCHAR) AS cart_href
FROM documents
"""


@register("html_selector_extract", oracle=_HTML_SEL_ORACLE, tags=("T16", "S4", "F6", "U1"))
def html_selector_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-DOM selector extraction: title ladder, gallery ``img[src*=]``
    harvest with CDN filter, ``[data-testid=]`` lookup, element counts and
    nav-href capture — the any_scraper.py:332-535 behaviors on Spark.

    NULL contract (round-9 NULL-metadata sweep): NULL metadata renders
    an ABSENT element, not a NULL page — a bare ``concat`` would
    NULL-poison the whole document and every extraction with it. The
    selector path then exercises the real missing-element behaviors: a
    missing price div → ``text_first`` returns NULL; a missing lang
    paragraph → the ``p`` count drops; the oracle twin predicts both."""
    d = T(spark, sf_dir, "documents")
    pages = d.select("doc_id", F.expr(_PAGE_SPARK).alias("html"))
    extracted = html_extract(
        pages,
        [
            HtmlSpec("page_title", "#productTitle, h1.product-title, h1", "text_ladder"),
            HtmlSpec("gallery_src_list", "div.gallery img[src*='cdn.test']", "attr_all", "src"),
            HtmlSpec("price_text", "[data-testid='price']", "text_first"),
            HtmlSpec("n_paras", "p", "count"),
            HtmlSpec("cart_href", "#nav a[href^='/cart']", "attr_first", "href"),
        ],
        html_col="html",
        fanout="doc_id",  # documents ships as one fat file at small SF
    )
    return extracted.select(
        "doc_id",
        F.col("page_title"),
        F.array_join("gallery_src_list", "|").alias("gallery_srcs"),
        "price_text",
        "n_paras",
        "cart_href",
    )


# --------------------------------------------------------------------------
# resolve_relative_urls: urljoin over the href shapes scrapers actually see
# --------------------------------------------------------------------------

_BASE_SPARK = (
    "concat('https://shop.example.com/cat/sub/item-', CAST(doc_id AS STRING), '.html')"
)
_BASE_DUCK = "'https://shop.example.com/cat/sub/item-' || CAST(doc_id AS VARCHAR) || '.html'"

_HREF_SPARK = """
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN concat('https://other.example.net/x/', CAST(doc_id AS STRING), '.jpg')
  WHEN 1 THEN '//cdn.example.net/lib/app.js'
  WHEN 2 THEN concat('/rooted/img-', CAST(doc_id AS STRING), '.jpg')
  WHEN 3 THEN concat('img-', CAST(doc_id AS STRING), '.jpg')
  WHEN 4 THEN concat('../up/', CAST(doc_id AS STRING), '.png')
  WHEN 5 THEN concat('./here/', CAST(doc_id AS STRING), '.png')
  WHEN 6 THEN concat('?page=', CAST(doc_id AS STRING))
  ELSE concat('#frag-', CAST(doc_id AS STRING))
END
"""

_HREF_DUCK = _HREF_SPARK.replace("AS STRING", "AS VARCHAR")

# The oracle predicts each case directly: origin = https://shop.example.com,
# base dir = /cat/sub/ (so '../up/' lands in /cat/up/).
_RESOLVE_ORACLE = f"""
WITH u AS (SELECT doc_id, {_BASE_DUCK} AS base, {_HREF_DUCK} AS href FROM documents)
SELECT doc_id, href,
  CASE CAST(doc_id % 8 AS INT)
    WHEN 0 THEN href
    WHEN 1 THEN 'https:' || href
    WHEN 2 THEN 'https://shop.example.com' || href
    WHEN 3 THEN 'https://shop.example.com/cat/sub/' || href
    WHEN 4 THEN 'https://shop.example.com/cat/up/' || CAST(doc_id AS VARCHAR) || '.png'
    WHEN 5 THEN 'https://shop.example.com/cat/sub/here/' || CAST(doc_id AS VARCHAR) || '.png'
    WHEN 6 THEN base || '?page=' || CAST(doc_id AS VARCHAR)
    ELSE base || '#frag-' || CAST(doc_id AS VARCHAR)
  END AS resolved
FROM u
"""


# --------------------------------------------------------------------------
# browser_gallery_pipeline: S5 end-to-end — browse → DOM-select → hi-res
# --------------------------------------------------------------------------
# FakeBrowser pages are md5(url)-deterministic, so DuckDB can predict every
# extraction: the oracle rebuilds the gallery srcs from md5(url) and applies
# the same _WxH→1800x1800 rewrite (T2). This makes the S5 source + DOM
# kernel + rewrite chain (the reference's whole acquisition loop:
# fetch any_scraper.py:332-460, select :509-535, convert_to_high_res
# :224-265) a driver-hash-checked unit.

_PURL_SPARK = "concat('https://shop.test/products/item-', CAST(c_custkey AS STRING))"
_PURL_DUCK = "'https://shop.test/products/item-' || CAST(c_custkey AS VARCHAR)"

_BROWSE_ORACLE = f"""
WITH u AS (SELECT c_custkey, {_PURL_DUCK} AS url FROM customer WHERE c_custkey % 20 = 0),
page AS (
  SELECT c_custkey, url,
         'item ' || CAST(c_custkey AS VARCHAR) AS page_title,
         'https://cdn.test/' || substr(md5(url), 1, 8) || '/main_600x600.jpg' AS src0,
         'https://cdn.test/' || substr(md5(url), 1, 8) || '/alt_600x600.jpg' AS src1
  FROM u)
SELECT c_custkey, page_title,
  {to_hires_url_sql('src0')} || '|' || {to_hires_url_sql('src1')} AS hires_gallery
FROM page
"""


@register("browser_gallery_pipeline", oracle=_BROWSE_ORACLE, tags=("S5", "T16", "T2", "F6"))
def browser_gallery_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 acquisition loop end-to-end on Spark: per-executor browser fetch
    (FakeBrowser — deterministic page render), DOM selector harvest with
    CDN filter (logo excluded by the [src*=] predicate), thumbnail→hi-res
    rewrite. One mapInPandas stage; html dropped before the project."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    # fan out BEFORE the fetch: browsers live per executor, so URL
    # partitioning IS the fetch parallelism (and the politeness budget)
    urls = c.select("c_custkey", F.expr(_PURL_SPARK).alias("url")).repartition(
        spark.sparkContext.defaultParallelism, "c_custkey"
    )
    pages = fetch_pages(urls, FakeBrowser, adapter_key="browser_gallery_pipeline")
    ext = html_extract(
        pages,
        [
            HtmlSpec("page_title", "#productTitle, h1.product-title, h1", "text_ladder"),
            HtmlSpec("srcs", ".product-gallery img[src*='cdn.test']", "attr_all", "src"),
        ],
    )
    hires = ext.select(
        "c_custkey",
        "page_title",
        F.array_join(
            F.transform(F.col("srcs"), lambda s: to_hires_url(s)), "|"
        ).alias("hires_gallery"),
    )
    return hires


@register("resolve_relative_urls", oracle=_RESOLVE_ORACLE, tags=("T6", "T6b"))
def resolve_relative_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """urljoin(base, href) for the 8 href shapes scraped pages produce —
    pure column expressions (no UDF), stdlib-parity tested
    (tests/test_resolve_url.py)."""
    d = T(spark, sf_dir, "documents")
    u = d.select(
        "doc_id",
        F.expr(_BASE_SPARK).alias("base"),
        F.expr(_HREF_SPARK).alias("href"),
    )
    return u.select(
        "doc_id",
        "href",
        resolve_url(F.col("base"), F.col("href")).alias("resolved"),
    )
