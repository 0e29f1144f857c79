"""Equivalence/invariance tests for the round-6 analytics batch —
properties the DuckDB oracle can't see: partitioning-independence, the
collapse reconstruction in the band sweep, and sketch-merge identity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_pagerank_invariant_under_repartition(spark):
    """The trunc-scaled contribution sums make PageRank order-free: the
    same query on an adversarially repartitioned edge input must produce
    bit-identical ranks."""
    from syntheticdata_pipeline__spark.plans.vectors_q import similarity_pagerank

    base = _rows(similarity_pagerank(spark, SF_SMOKE), "vec_id", "pagerank")
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = _rows(similarity_pagerank(spark, SF_SMOKE), "vec_id", "pagerank")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    assert base == again
    # sanity: ranks deviate from the teleport floor somewhere (graph non-empty)
    assert any(abs(r - 0.15) > 1e-9 for _, r in base)


def test_band_sweep_matches_expanded_join(spark):
    """The sweep reconstructs duplicate-doc pair counts arithmetically
    (within-group C(m,2) + rep-pair m_a*m_b). Recompute each config's
    count the expensive way — banding ALL docs, no collapse — and
    compare."""
    from syntheticdata_pipeline__spark.operators.neardup import (
        minhash_signature,
        word_shingles,
    )
    from syntheticdata_pipeline__spark.plans.docs_q import (
        _MH_HASHES,
        _SWEEP_CONFIGS,
        lsh_band_sweep,
    )
    from syntheticdata_pipeline__spark.plans.common import T

    got = {
        (r["n_bands"], r["rows_per_band"]): r["n_candidate_pairs"]
        for r in lsh_band_sweep(spark, SF_SMOKE).collect()
    }
    d = T(spark, SF_SMOKE, "documents")
    sigs = d.select(
        F.col("doc_id").alias("id"),
        minhash_signature(word_shingles(F.col("text")), _MH_HASHES).alias("sig"),
    ).cache()
    for b, r in _SWEEP_CONFIGS:
        bands_arr = F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    F.concat_ws("", F.slice("sig", j * r + 1, r)).alias("bh"),
                )
                for j in range(b)
            ]
        )
        long = sigs.select("id", F.explode(bands_arr).alias("x")).select(
            "id", "x.band", "x.bh"
        )
        naive = (
            long.alias("l")
            .join(
                long.alias("r2"),
                (F.col("l.band") == F.col("r2.band"))
                & (F.col("l.bh") == F.col("r2.bh"))
                & (F.col("l.id") < F.col("r2.id")),
            )
            .select(F.col("l.id"), F.col("r2.id"))
            .distinct()
            .count()
        )
        assert got[(b, r)] == naive, f"config ({b},{r})"
    sigs.unpersist()


def test_band_sweep_monotone_in_bands(spark):
    """More, narrower bands can only add candidate pairs (a collision in
    any band suffices, and every r'-row band hash refines an r-row one is
    not guaranteed — but the 50%-threshold ordering must hold on
    candidate volume for nested configs of the same signature)."""
    from syntheticdata_pipeline__spark.plans.docs_q import lsh_band_sweep

    rows = {
        (r["n_bands"], r["rows_per_band"]): r["n_candidate_pairs"]
        for r in lsh_band_sweep(spark, SF_SMOKE).collect()
    }
    # (6,2) has the lowest collision threshold => at least as many
    # candidates as the strictest config (2,6).
    assert rows[(6, 2)] >= rows[(2, 6)]


def test_hll_window_merge_equals_one_shot(spark):
    """Merging daily register partials must equal the one-shot sketch —
    max-of-max associativity, the property that lets rollup state answer
    any window at 100 TB."""
    from syntheticdata_pipeline__spark.operators.sketches import hll_distinct
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.sketches_q import _HLL_P, hll_window_merge

    merged = _rows(hll_window_merge(spark, SF_SMOKE), "event_type", "hll_merged_est")
    ev = T(spark, SF_SMOKE, "events")
    oneshot = _rows(
        hll_distinct(ev, ["event_type"], F.col("user_id"), p=_HLL_P).select(
            "event_type", F.round("distinct_est", 6).alias("est")
        ),
        "event_type",
        "est",
    )
    assert merged == oneshot


def test_burst_detection_bounds(spark):
    """Burst counts are within [1, user event total] and the flag matches
    the threshold exactly."""
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.events_q import (
        _BURST_FLAG_AT,
        burst_detection,
    )

    out = burst_detection(spark, SF_SMOKE)
    totals = (
        T(spark, SF_SMOKE, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    )
    j = out.join(totals, "user_id").collect()
    assert len(j) == totals.count()
    for r in j:
        assert 1 <= r["max_burst_5min"] <= r["n"]
        assert r["flagged"] == (r["max_burst_5min"] >= _BURST_FLAG_AT)


def test_continuation_pairs_are_true_boundaries(spark):
    """Every reported pair really has tail(prev) == head(next) on the
    raw token arrays."""
    from syntheticdata_pipeline__spark.functions.text import tokens
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.docs_q import (
        _CONT_M,
        doc_continuation_pairs,
    )

    pairs = doc_continuation_pairs(spark, SF_SMOKE).collect()
    toks = {
        r["doc_id"]: r["t"]
        for r in T(spark, SF_SMOKE, "documents")
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("t"))
        .collect()
    }
    assert pairs, "fixture should contain at least one boundary match"
    for p in pairs:
        assert toks[p["id_prev"]][-_CONT_M:] == toks[p["id_next"]][:_CONT_M]


def test_prefix_filter_join_lossless_vs_python(spark):
    """Recompute the tau-threshold shingle-Jaccard pairs in pure Python
    from the raw fixture and compare — the prefix filter must lose
    nothing (its defining guarantee vs LSH)."""
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.docs_q import (
        _PF_TAU,
        jaccard_prefix_filter_join,
    )
    from syntheticdata_pipeline__spark.operators.neardup import word_shingles

    got = sorted(
        (r["id_a"], r["id_b"]) for r in jaccard_prefix_filter_join(spark, SF_SMOKE).collect()
    )
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in T(spark, SF_SMOKE, "documents")
        .select("doc_id", word_shingles(F.col("text")).alias("sh"))
        .collect()
    }
    ids = sorted(sets)
    want = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter and inter / (len(sets[a]) + len(sets[b]) - inter) >= _PF_TAU:
                want.append((a, b))
    assert got == sorted(want)
    assert want, "fixture should contain near-dup pairs at this threshold"


def test_exact_median_matches_python_sort(spark):
    """The two-level refinement must select exactly the lower median
    (k = (n+1)//2-th smallest) per group, recomputed by a full Python
    sort of the raw values."""
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.events_q import exact_median_two_pass

    got = {
        r["event_type"]: (r["n"], r["median"])
        for r in exact_median_two_pass(spark, SF_SMOKE).collect()
    }
    vals: dict[str, list[float]] = {}
    for r in T(spark, SF_SMOKE, "events").select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for t, vs in vals.items():
        vs.sort()
        k = (len(vs) + 1) // 2
        assert got[t] == (len(vs), vs[k - 1]), t


def test_value_trend_matches_python_ols(spark):
    """Slope per type equals an unscaled numpy-free Python OLS on the
    same [0,1]-normalized points, within the trunc-grid tolerance."""
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.events_q import value_trend_by_type

    got = {r["event_type"]: r["slope"] for r in value_trend_by_type(spark, SF_SMOKE).collect()}
    rows = (
        T(spark, SF_SMOKE, "events").select("event_type", "ts_us", "value").collect()
    )
    by_type: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append((r["ts_us"], r["value"]))
    for t, pts in by_type.items():
        mn = min(p[0] for p in pts)
        mx = max(p[0] for p in pts)
        xs = [0.0 if mx == mn else (p[0] - mn) / (mx - mn) for p in pts]
        ys = [p[1] for p in pts]
        n = len(pts)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert abs(got[t] - slope) < 1e-4, t


def test_version_diff_partitions_every_doc(spark):
    """added + removed + modified + unchanged must account for exactly
    |v1 ∪ v2| docs, and the class counts must match the seeded draws."""
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.dataset_q import dataset_version_diff

    got = {r["change_class"]: r["n_docs"] for r in dataset_version_diff(spark, SF_SMOKE).collect()}
    n_v1 = T(spark, SF_SMOKE, "documents").count()
    assert set(got) == {"added", "removed", "modified", "unchanged"}
    # v1 docs split into removed/modified/unchanged; added rows are extra.
    assert got["removed"] + got["modified"] + got["unchanged"] == n_v1
    assert got["added"] > 0 and got["removed"] > 0 and got["modified"] > 0


def test_incremental_transitions_equal_batch(spark):
    """Chunk the stream into 3 time-ordered slices, thread the last-event
    state through incremental_transition_counts, sum the chunk counts —
    must equal the one-shot per-user lag counts (boundary transitions
    included), proving the operator associative under the time-order
    precondition."""
    from pyspark.sql import Window

    from syntheticdata_pipeline__spark.operators.state import (
        incremental_transition_counts,
    )
    from syntheticdata_pipeline__spark.plans.common import T

    ev = T(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    chunks = [
        ev.filter(F.col("ts_us") <= cut1),
        ev.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)),
        ev.filter(F.col("ts_us") > cut2),
    ]
    state = None
    totals: dict[tuple, int] = {}
    for c in chunks:
        counts, state = incremental_transition_counts(c, state)
        state = state.cache()
        for r in counts.collect():
            k = (r["from_type"], r["to_type"])
            totals[k] = totals.get(k, 0) + r["n"]

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    batch = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    want = {(r["prev"], r["event_type"]): r["n"] for r in batch}
    assert totals == want
    # state holds exactly one row per user ever seen
    assert state.count() == ev.select("user_id").distinct().count()


def test_incremental_transitions_random_chunkings(spark):
    """Property over 6 seeded random streams: for ANY time-ordered
    chunking (random cut count/positions), summed incremental counts
    equal the one-shot lag counts, and the final state is each user's
    true last event."""
    import random

    from syntheticdata_pipeline__spark.operators.state import (
        incremental_transition_counts,
    )

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(8, 40)
        rows = [
            (rng.randint(0, 4), rng.choice("abc"), t * 10 + rng.randint(0, 5), t)
            for t in range(n)
        ]
        df = spark.createDataFrame(rows, "user_id long, event_type string, ts_us long, event_id long")
        cuts = sorted(rng.sample(range(0, n * 10), rng.randint(0, 3))) + [n * 10 + 10]
        state, totals, lo = None, {}, -1
        for c in cuts:
            chunk = df.filter((F.col("ts_us") > lo) & (F.col("ts_us") <= c))
            counts, state = incremental_transition_counts(chunk, state)
            for r in counts.collect():
                k = (r["from_type"], r["to_type"])
                totals[k] = totals.get(k, 0) + r["n"]
            lo = c
        # python reference
        by_user: dict[int, list[tuple[int, int, str]]] = {}
        for u, t, ts, eid in rows:
            by_user.setdefault(u, []).append((ts, eid, t))
        want: dict[tuple, int] = {}
        last = {}
        for u, seq in by_user.items():
            seq.sort()
            for (p, n_) in zip(seq, seq[1:]):
                k = (p[2], n_[2])
                want[k] = want.get(k, 0) + 1
            last[u] = seq[-1][2]
        assert totals == want, f"seed {seed}"
        got_last = {r["user_id"]: r["event_type"] for r in state.collect()}
        assert got_last == last, f"seed {seed}"
