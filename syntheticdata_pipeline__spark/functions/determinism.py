"""Deterministic, engine-portable building blocks.

The correctness gate compares Spark output against a DuckDB oracle by value
hash, so every numeric path must be bit-reproducible across engines and
across partitionings:

- **Money aggregates** go through DECIMAL (exact, order-independent), then
  cast to DOUBLE at the very end. A raw ``sum(double)`` is
  order-dependent and can differ between engines/partitionings.
- **Randomness** is never ``rand()``: a seeded md5 of the row key yields an
  identical uniform draw in any engine (the reference pins seeds too, e.g.
  ``manual_seed(42)`` at edit_model_pipeline.py:67).
- **Event time** is integer microseconds (``BIGINT``), never raw
  timestamps, because parquet NANOS + session timezones diverge between
  engines.
- **Sums of computed doubles** (regression moments, entropy terms,
  vector means) go through :func:`fixed_sum`: each term truncated
  toward zero to a BIGINT count of 10^-scale units, summed exactly,
  then divided back. A decimal cast would round, and float32-derived
  doubles can sit exactly halfway on a decimal grid, where Spark
  rounds HALF_UP and DuckDB half-to-even; truncation has no tie. The
  BIGINT term and sum are also the value-domain envelope: a term or a
  sum past 2^63 units raises on both engines.

Verified bit-equal against DuckDB 1.0 on /root/testdata (see tests).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^32 as double — md5 prefix is 8 hex chars = 32 bits.
_TWO_32 = 4294967296.0


def unit_rand(key: Column, salt: str = "42") -> Column:
    """Deterministic uniform draw in [0, 1) keyed by ``key`` and ``salt``.

    Replaces the reference's unseeded ``random.random()`` gates
    (easy_sampler.py:26-42) with a reproducible, distributed-safe draw:
    md5 of the salted key → first 32 bits → scale to [0,1).

    DuckDB oracle twin::

        CAST('0x' || substr(md5(<salt> || '|' || CAST(<key> AS VARCHAR)), 1, 8)
             AS BIGINT) / 4294967296.0
    """
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(_TWO_32)).alias(
        "unit_rand"
    )


def unit_rand_sql(key_sql: str, salt: str = "42") -> str:
    """DuckDB-SQL twin of :func:`unit_rand` (for oracle strings)."""
    return (
        f"(CAST('0x' || substr(md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) / {_TWO_32})"
    )


def hash_bucket(key: Column, n_buckets: int, salt: str = "b") -> Column:
    """Deterministic bucket id in [0, n_buckets) from a key (salting/skew)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.lit(n_buckets)).cast("int")


def hash_bucket_sql(key_sql: str, n_buckets: int, salt: str = "b") -> str:
    return (
        f"CAST(CAST('0x' || substr(md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {n_buckets} AS INTEGER)"
    )


def finite_or_null(col: Column) -> Column:
    """NaN/±Inf → NULL: a non-finite double is "not a measurement".

    Non-finite contract (round-9 non-finite sweep): NaN and ±Inf carry
    no valid magnitude — they are the IEEE encoding of an unknown or
    undefined measurement, the float analog of NULL — so every exact
    statistic treats them exactly like NULL (skipped from sums, counts,
    histograms, and CDFs on BOTH engines). Without this guard the two
    engines take opposite defaults: Spark's non-ANSI decimal cast turns
    NaN into NULL silently while DuckDB's decimal/HUGEINT accumulation
    raises — the asymmetric middle state the value-domain contract
    forbids. Finite values pass through untouched, so this is an
    identity on every clean fixture. LOUD symmetric rejection remains
    the contract for finite-but-unrepresentable magnitudes
    (tests/test_value_domain_contract.py).
    """
    return F.when(~F.isnan(col) & (F.abs(col) < F.lit(float("inf"))), col)


def finite_or_null_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`finite_or_null` (for oracle strings)."""
    return f"(CASE WHEN isfinite({col_sql}) THEN {col_sql} END)"


# 2^62: exactly representable as a double AND inside BIGINT range, so the
# same clamp constant survives double arithmetic and the BIGINT cast
# identically on both engines (Long.MAX itself rounds UP to 2^63 as a
# double, which DuckDB's cast then rejects).
BUCKET_CLAMP = 4611686018427387904.0


def clamped_floor(pos: Column, lo: float, hi: float) -> Column:
    """Saturating bucket index: floor(clamp(pos, lo, hi)) as BIGINT.

    Domain-total by construction (r10 extremes battery → r11 fix): a
    bucket position derived from domain-edge doubles can be huge-finite,
    ±Inf, or NaN (range width overflowing to Inf makes (v-mn)/(mx-mn)
    = Inf/Inf). Both engines order NaN above every double and skip NULL
    in least/greatest, so clamp-then-floor lands NaN/+Inf on ``hi``,
    -Inf on ``lo``, and every finite position on the same integer —
    where the bare ``CAST(floor(pos) AS BIGINT)`` saturates silently in
    Spark and raises in DuckDB. NULL positions must be guarded by the
    CALLER (least/greatest would swallow the NULL into the clamp edge).
    """
    return F.floor(F.least(F.lit(hi), F.greatest(F.lit(lo), pos))).cast("bigint")


def clamped_floor_sql(pos_sql: str, lo: float, hi: float) -> str:
    """DuckDB twin of :func:`clamped_floor` (same NULL caveat)."""
    return (
        f"CAST(floor(least(greatest({pos_sql}, {lo!r}), {hi!r})) AS BIGINT)"
    )


def floor_bucket_start(us: Column, width_us: int) -> Column:
    """FLOOR-aligned bucket start for integer-µs timestamps: the largest
    multiple of ``width_us`` that is ≤ ``us`` — for EVERY timestamp,
    including pre-epoch (hostile-ts sweep, round 11). ``us - us % w``
    flips to ceiling for negative µs (Java % keeps the dividend's sign)
    and splits the epoch-straddling bucket in two, so 1969-12-31 23:59
    and 1970-01-01 00:00 land in one double-width "bucket 0"; pmod is
    the sign-safe remainder. Matches Spark's native window().start.
    Twin: :func:`floor_bucket_start_sql`."""
    return us - F.pmod(us, F.lit(width_us))


def floor_bucket_start_sql(us_sql: str, width_us: int) -> str:
    """DuckDB twin of :func:`floor_bucket_start` (DuckDB's ``//`` and
    ``%`` truncate toward zero, so the mathematical mod is spelled
    out).

    NOTE: ``us_sql`` is expanded THREE times in the emitted text (r11
    ADVICE #2). Fine for a plain column reference; for a non-trivial
    expression (e.g. ``epoch_us(ts)``, as composed in events_q's
    ``_res_union``) prefer aliasing it in a CTE first so the oracle
    evaluates it once, the SQL stays readable, and parity probes bind
    one param per probe. Oracle-only concern: the Spark twin binds a
    Column once."""
    return f"({us_sql} - (({us_sql} % {width_us}) + {width_us}) % {width_us})"


def dsum(col: Column, scale: int = 2, precision: int = 38) -> Column:
    """Order-independent SUM of a double column with ``scale`` true decimals.

    Exact decimal accumulation, exported as DOUBLE. Money columns in the
    testdata carry 2 decimals; products of two 2-decimal values need
    ``scale=4``, triple products ``scale=6``. Non-finite inputs are
    skipped like NULL on both engines (see :func:`finite_or_null`).
    """
    return F.sum(finite_or_null(col).cast(f"decimal({precision},{scale})")).cast("double")


def dsum_sql(col_sql: str, scale: int = 2, precision: int = 38) -> str:
    g = finite_or_null_sql(col_sql)
    return f"CAST(SUM(CAST({g} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def fixed_term(x: Column, scale: int = 9) -> Column:
    """``x`` in units of 10^-scale, truncated toward zero to BIGINT: the
    summand of :func:`fixed_sum` (Spark's cast truncates toward zero)."""
    return (x * F.lit(10.0**scale)).cast("bigint")


def fixed_term_sql(x_sql: str, scale: int = 9) -> str:
    """DuckDB twin of :func:`fixed_term` (DuckDB's cast rounds, so the
    truncation is spelled out)."""
    return f"CAST(trunc(({x_sql}) * {10**scale}.0) AS BIGINT)"


def fixed_unscale(s: Column, scale: int = 9) -> Column:
    """A sum of :func:`fixed_term` values back to a DOUBLE."""
    return s.cast("double") / F.lit(10.0**scale)


def fixed_unscale_sql(s_sql: str, scale: int = 9) -> str:
    """DuckDB twin of :func:`fixed_unscale`. DuckDB sums BIGINT into
    HUGEINT, so the sum is cast back to BIGINT first: a sum past BIGINT
    then raises, as Spark's ANSI ``sum`` does."""
    return f"(CAST(CAST({s_sql} AS BIGINT) AS DOUBLE) / {10**scale}.0)"


def fixed_sum(x: Column, scale: int = 9) -> Column:
    """Order-independent SUM of a computed double: exact BIGINT sum of
    the terms truncated to ``scale`` decimals, exported as DOUBLE.
    NULL terms are skipped. A term or a sum outside BIGINT raises on
    both engines (Spark's ANSI cast and ``sum``, DuckDB's Conversion
    Error, the sum via :func:`fixed_unscale_sql`'s BIGINT cast)."""
    return fixed_unscale(F.sum(fixed_term(x, scale)), scale)


def fixed_sum_sql(x_sql: str, scale: int = 9) -> str:
    """DuckDB twin of :func:`fixed_sum`."""
    return fixed_unscale_sql(f"SUM({fixed_term_sql(x_sql, scale)})", scale)


def davg(col: Column, scale: int = 2, precision: int = 38) -> Column:
    """Exact-sum average: CAST(decimal-sum AS DOUBLE) / count — deterministic
    IEEE division, identical across engines. Numerator and denominator
    both skip non-finite inputs (mean OF THE MEASUREMENTS)."""
    g = finite_or_null(col)
    return F.sum(g.cast(f"decimal({precision},{scale})")).cast("double") / F.count(g)


def davg_sql(col_sql: str, scale: int = 2, precision: int = 38) -> str:
    g = finite_or_null_sql(col_sql)
    return (
        f"(CAST(SUM(CAST({g} AS DECIMAL({precision},{scale}))) AS DOUBLE)"
        f" / COUNT({g}))"
    )


def dstddev(col: Column, scale: int = 2, precision: int = 38) -> Column:
    """Sample stddev from exact decimal sums of x and x².

    Engines' native stddev is order-dependent (Welford/pairwise); this is
    sqrt((Σx² − (Σx)²/n) / (n−1)) with Σ exact → bit-stable. Covers A7
    (metrics.py:334-345).
    """
    sq_scale = min(2 * scale, 18)
    g = finite_or_null(col)
    s1 = F.sum(g.cast(f"decimal({precision},{scale})")).cast("double")
    s2 = F.sum(
        (g.cast(f"decimal(19,{scale})") * g.cast(f"decimal(19,{scale})")).cast(
            f"decimal({precision},{sq_scale})"
        )
    ).cast("double")
    n = F.count(g).cast("double")
    var = (s2 - (s1 * s1) / n) / (n - F.lit(1.0))
    # round(·,6): the Σx² decimal can exceed 2^53 in scaled-integer form,
    # where DuckDB's decimal→double conversion double-rounds (up to 1 ulp
    # off Java's correctly-rounded conversion); sqrt outputs are irrational
    # so a 6-decimal grid absorbs the discrepancy with no tie risk.
    return F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)


def dstddev_sql(col_sql: str, scale: int = 2, precision: int = 38) -> str:
    sq_scale = min(2 * scale, 18)
    g = finite_or_null_sql(col_sql)
    s1 = f"CAST(SUM(CAST({g} AS DECIMAL({precision},{scale}))) AS DOUBLE)"
    s2 = (
        f"CAST(SUM(CAST(CAST({g} AS DECIMAL(19,{scale})) * "
        f"CAST({g} AS DECIMAL(19,{scale})) AS DECIMAL({precision},{sq_scale}))) AS DOUBLE)"
    )
    n = f"CAST(COUNT({g}) AS DOUBLE)"
    return f"round(sqrt(greatest(({s2} - ({s1} * {s1}) / {n}) / ({n} - 1.0), 0.0)), 6)"


def event_micros(ts_nanos_col: str = "ts") -> Column:
    """events.ts (parquet NANOS read as BIGINT via
    ``spark.sql.legacy.parquet.nanosAsLong``) → integer microseconds.

    Integer ``DIV`` keeps full precision (double division would corrupt
    ns-scale longs above 2^53); DuckDB's TIMESTAMP read truncates ns→µs
    identically. Oracle twin: ``epoch_us(ts)``.
    """
    return F.expr(f"{ts_nanos_col} DIV 1000")


def bucket_micros(us: Column, width_seconds: int) -> Column:
    """Tumbling-window start (µs) by integer arithmetic — timezone-proof.

    Matches both Spark ``window(ts, ...)`` and DuckDB ``time_bucket`` for
    epoch-aligned widths. Oracle: ``(epoch_us(ts) // W) * W``.
    """
    w = width_seconds * 1_000_000
    return (us - (us % F.lit(w))).cast("bigint")
