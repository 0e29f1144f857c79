"""Scalar-function parity tests against the reference's observable rules
(SURVEY.md §2.7)."""

from __future__ import annotations

import pyspark.sql.functions as F

from syntheticdata_pipeline__spark.functions.determinism import (
    bucket_micros,
    dstddev,
    dsum,
    unit_rand,
)
from syntheticdata_pipeline__spark.functions.text import (
    extract_image_id,
    extract_product_id,
    format_duration,
    matches_blocklist,
    page_url,
    slugify,
    strip_query,
    to_hires_url,
    url_host,
)


def _one(spark, col, value: str | None = None):
    df = spark.createDataFrame([(value,)], "s string") if value is not None else spark.range(1)
    return df.select(col.alias("v")).collect()[0].v


def test_extract_product_id_rules(spark):
    cases = {
        "https://www.amazon.com/dp/B08XYZ12AB?th=1": "B08XYZ12AB",
        "https://www.zalando.co.uk/nike-air-max.html": "nike-air-max",
        "https://www.nykaa.com/p/SKU123?src=x": "SKU123",
        "https://shop.example.com/products/red-dress": "red-dress",
    }
    for url, expect in cases.items():
        assert _one(spark, extract_product_id(F.col("s")), url) == expect


def test_extract_image_id_hex_and_fallback(spark):
    hexid = "a" * 32
    assert _one(spark, extract_image_id(F.col("s")), f"https://c.test/spp-media-p1/{hexid}/org/x.jpg") == hexid
    # no rule matches → md5(url)
    out = _one(spark, extract_image_id(F.col("s")), "https://c.test/??")
    assert len(out) == 32


def test_hires_rewrite_rules(spark):
    """T2 rules: _SX300_→_SL1500_, /thumb/→/org/, strip query/_WxH."""
    assert (
        _one(spark, to_hires_url(F.col("s")), "https://m.test/I/61ab._SX300_.jpg?x=1")
        == "https://m.test/I/61ab._SL1500_.jpg"
    )
    assert (
        _one(spark, to_hires_url(F.col("s")), "https://c.test/spp/abc/thumb/item.jpg")
        == "https://c.test/spp/abc/org/item.jpg"
    )
    assert (
        _one(spark, to_hires_url(F.col("s")), "https://cdn.test/p/photo_600x600.jpg")
        == "https://cdn.test/p/photo_1800x1800.jpg"
    )


def test_slugify_reference_rules(spark):
    """T4 (people_western_keyword_extractor.py:44-49)."""
    assert _one(spark, slugify(F.col("s")), "  Red/Blue  DRESS #1 ") == "red_blue_dress_1"


def test_strip_query_and_host(spark):
    assert _one(spark, strip_query(F.col("s")), "http://a.b/c?x=1&y=2") == "http://a.b/c"
    assert _one(spark, url_host(F.col("s")), "https://www.zalando.co.uk/x.html") == "www.zalando.co.uk"


def test_page_url_separator(spark):
    assert _one(spark, page_url(F.col("s"), F.lit(3)), "http://a.b/c") == "http://a.b/c?p=3"
    assert _one(spark, page_url(F.col("s"), F.lit(3)), "http://a.b/c?x=1") == "http://a.b/c?x=1&p=3"


def test_blocklist(spark):
    assert _one(spark, matches_blocklist(F.col("s")), "https://c.test/LOGO_small.png") is True
    assert _one(spark, matches_blocklist(F.col("s")), "https://c.test/product.png") is False


def test_format_duration_ladder(spark):
    df = spark.createDataFrame([(42.5,), (185.0,), (7300.0,)], "d double")
    out = [r.v for r in df.select(format_duration(F.col("d")).alias("v")).orderBy("d").collect()]
    assert out == ["42s", "3min", "2h"]


def test_unit_rand_range_and_determinism(spark):
    df = spark.range(1000).select(unit_rand(F.col("id"), "t").alias("r"))
    rows = [r.r for r in df.collect()]
    assert all(0.0 <= r < 1.0 for r in rows)
    rows2 = [r.r for r in spark.range(1000).select(unit_rand(F.col("id"), "t").alias("r")).collect()]
    assert rows == rows2


def test_dsum_partition_invariant(spark):
    df = spark.range(10000).select((F.col("id") / 100.0).alias("v"))
    a = df.repartition(1).select(dsum(F.col("v"), scale=2).alias("s")).collect()[0].s
    b = df.repartition(32).select(dsum(F.col("v"), scale=2).alias("s")).collect()[0].s
    assert a == b


def test_dstddev_nonnegative(spark):
    df = spark.createDataFrame([(1.0,), (1.0,), (1.0,)], "v double")
    s = df.select(dstddev(F.col("v")).alias("s")).collect()[0].s
    assert s == 0.0


def test_bucket_micros_alignment(spark):
    df = spark.createDataFrame([(1704067507000000,)], "us long")
    b = df.select(bucket_micros(F.col("us"), 300).alias("b")).collect()[0].b
    assert b == 1704067500000000


def test_fold_case_cross_engine_parity(spark):
    """fold_case/fold_case_sql must be byte-identical on the case-mapping
    divergers (round-11 casefold stripe): Java/Spark lower() applies
    Unicode FULL lowercasing (İ → i+U+0307, Final_Sigma → ς), DuckDB the
    SIMPLE map — the fold canonicalizes both ends. Includes the dedup-
    membership case: {'ΑΣ', 'ας', 'ΑΣ '} must share one folded key."""
    import duckdb

    from pyspark.sql import functions as F

    from syntheticdata_pipeline__spark.functions.text import fold_case, fold_case_sql

    probes = [
        "İstanbul",
        "ΟΔΟΣ",
        "ΣΙΣΥΦΟΣ",
        "ΑΣ",
        "ας",
        "σς mixed ςσ",
        "straße",
        "ẞAL",
        "ﬁle ﬂow",
        "ǅungla",
        "ıI iI",
        "ＡＢＣ",
        "plain ASCII Text",
        "",
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "s string")
    got = [r.f for r in sdf.select(fold_case(F.col("s")).alias("f")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {fold_case_sql('?')}", [p]).fetchone()[0] for p in probes
    ]
    con.close()
    assert got == want, list(zip(probes, got, want))
    # membership: the Greek pair folds to ONE key on both engines
    assert got[probes.index("ΑΣ")] == got[probes.index("ας")] == "ασ"


def test_floor_bucket_start_cross_engine_parity(spark):
    """floor_bucket_start/floor_bucket_start_sql must agree on pre-epoch,
    epoch-adjacent, positive, and NULL µs values — and genuinely FLOOR
    (window_start <= ts, one width wide) where `x - x % w` (Spark) and
    `(x // w) * w` (DuckDB) both flip to ceiling for negatives."""
    import duckdb

    from pyspark.sql import functions as F

    from syntheticdata_pipeline__spark.functions.determinism import (
        floor_bucket_start,
        floor_bucket_start_sql,
    )

    w = 300_000_000  # 5 minutes in µs
    probes = [
        -15_133_450_000_000,  # the hostile-ts battery's 1969 diverger
        -1,
        -w,
        -w - 1,
        0,
        1,
        w - 1,
        w,
        1_705_320_000_000_000,
        None,
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "us long")
    got = [
        r.b for r in sdf.select(floor_bucket_start(F.col("us"), w).alias("b")).collect()
    ]
    con = duckdb.connect()
    # the twin expands its argument twice, hence two bind params
    want = [
        con.execute(f"SELECT {floor_bucket_start_sql('?::BIGINT', w)}", [p, p]).fetchone()[0]
        for p in probes
    ]
    con.close()
    assert got == want, list(zip(probes, got, want))
    for p, b in zip(probes, got):
        if p is None:
            assert b is None
        else:
            assert b <= p < b + w, (p, b)
            assert b % w == 0


def test_fixed_sum_cross_engine_parity(spark):
    """fixed_sum/fixed_sum_sql agree bit-for-bit, at 1 and at N
    partitions, on signed terms: each term truncates toward zero (so
    magnitudes below 10^-scale add 0, and -1.6e-9 adds -1 unit, not -2
    as a rounding cast would give), NULL terms are skipped, and the
    1e12 scale follows the same rule."""
    import math

    import duckdb

    from syntheticdata_pipeline__spark.functions.determinism import (
        fixed_sum,
        fixed_sum_sql,
        fixed_term,
        fixed_term_sql,
    )

    base = [
        0.5, -0.5, 4e-10, -4e-10, 9.99e-10, -9.99e-10, 1.6e-9, -1.6e-9,
        1.9999999999e-9, -1.9999999999e-9, 3.141592653589793, -2.718281828459045,
        0.72125, -123456.789012345, 0.0, -0.0, None,
    ]  # fmt: skip
    vals = [None if v is None else v * (1 + k % 7) * (-1) ** k for k in range(40) for v in base]
    # 680 rows in insertion order (rowid) on both engines
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    for scale in (9, 12):
        terms = [math.trunc(v * 10.0**scale) for v in vals if v is not None]
        want = float(sum(terms)) / 10.0**scale
        got_terms = [r.t for r in sdf.select(fixed_term(F.col("v"), scale).alias("t")).collect()]
        duck_terms = [
            r[0]
            for r in con.execute(f"SELECT {fixed_term_sql('v', scale)} FROM t ORDER BY rowid")
            .fetchall()
        ]
        assert [t for t in got_terms if t is not None] == terms
        assert got_terms == duck_terms
        duck = con.execute(f"SELECT {fixed_sum_sql('v', scale)} FROM t").fetchone()[0]
        for n in (1, 7):
            s = sdf.repartition(n).select(fixed_sum(F.col("v"), scale).alias("s"))
            assert s.collect()[0].s == duck == want, (scale, n)
    con.close()


def test_fixed_sum_overflow_raises_on_both_engines(spark):
    """A sum whose terms fit BIGINT but whose total does not (two rows of
    5e9: 5e18 units each, 1e19 together) is rejected by both engines:
    Spark's ANSI ``sum`` raises, and DuckDB's HUGEINT sum raises when
    ``fixed_unscale_sql`` casts it back to BIGINT."""
    import duckdb
    import pytest

    from syntheticdata_pipeline__spark.functions.determinism import fixed_sum, fixed_sum_sql

    vals = [(5e9,), (5e9,)]
    sdf = spark.createDataFrame(vals, "v double")
    for n in (1, 2):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            sdf.repartition(n).select(fixed_sum(F.col("v")).alias("s")).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", vals)
    with pytest.raises(duckdb.Error, match="out of range"):
        con.execute(f"SELECT {fixed_sum_sql('v')} FROM t").fetchone()
    con.close()
