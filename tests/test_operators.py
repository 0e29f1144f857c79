"""Operator-level behavior tests (reference parity: SURVEY.md §5.2)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from syntheticdata_pipeline__spark.operators.dedup import (
    anti_join_state,
    exact_dedup_by_hash,
    first_wins,
    top_k_per_group,
)
from syntheticdata_pipeline__spark.operators.joins import (
    cross_pair_budget,
    merge_with_precedence,
)
from syntheticdata_pipeline__spark.operators.sampling import (
    category_gates,
    cumulative_weights,
    hierarchical_sample,
    weighted_choice,
)
from syntheticdata_pipeline__spark.operators.state import StateTable


def test_first_wins_insertion_order(spark):
    """D1: first occurrence by explicit position wins — parity with the
    reference's seen-set loop (any_scraper.py:584-597)."""
    rows = [("k1", 3, "c"), ("k1", 1, "a"), ("k2", 2, "b"), ("k1", 2, "b2"), ("k2", 5, "z")]
    df = spark.createDataFrame(rows, "key string, pos int, val string")
    out = {r.key: r.val for r in first_wins(df, ["key"], [F.col("pos")]).collect()}
    assert out == {"k1": "a", "k2": "b"}


def test_first_wins_idempotent(spark):
    df = spark.range(100).withColumn("key", (F.col("id") % 7).cast("int"))
    once = first_wins(df, ["key"], [F.col("id")])
    twice = first_wins(once, ["key"], [F.col("id")])
    assert sorted(r.id for r in once.collect()) == sorted(r.id for r in twice.collect())
    assert once.count() == 7


def test_first_wins_stable_across_partitionings(spark):
    df = spark.range(1000).withColumn("key", (F.col("id") % 13).cast("int"))
    a = first_wins(df.repartition(1), ["key"], [F.col("id")]).collect()
    b = first_wins(df.repartition(16), ["key"], [F.col("id")]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_top_k_per_group(spark):
    df = spark.range(50).withColumn("g", (F.col("id") % 5).cast("int"))
    out = top_k_per_group(df, ["g"], [F.col("id").desc()], k=3)
    assert out.count() == 15
    g0 = sorted(r.id for r in out.filter(F.col("g") == 0).collect())
    assert g0 == [35, 40, 45]


def test_exact_dedup_by_hash_normalizes(spark):
    rows = [(1, "Hello  World"), (2, "hello world"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    out = exact_dedup_by_hash(df, "body", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_anti_join_state(spark):
    new = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "url string")
    state = spark.createDataFrame([("u2",), ("u2",)], "url string")
    out = anti_join_state(new, state, ["url"])
    assert sorted(r.url for r in out.collect()) == ["u1", "u3"]


def test_cross_pair_budget_deterministic(spark):
    left = spark.createDataFrame([(i,) for i in range(4)], "a int")
    right = spark.createDataFrame([(i,) for i in range(4)], "b int")
    out1 = cross_pair_budget(left, right, 5, order_cols=["a", "b"]).collect()
    out2 = cross_pair_budget(left, right, 5, order_cols=["a", "b"]).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == 5


def test_merge_with_precedence(spark):
    lo = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    hi = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")
    out = {r.k: r.v for r in merge_with_precedence(lo, hi, ["k"], ["v"]).collect()}
    assert out == {"a": 1, "b": 20, "c": 30}


# --- sampling ----------------------------------------------------------------


def test_cumulative_weights_normalized():
    cw = cumulative_weights([("a", 2.0), ("b", 1.0), ("c", 1.0)])
    assert cw[0] == ("a", 0.0, 0.5)
    assert cw[-1][2] == pytest.approx(1.0)


def test_weighted_choice_seed_replay(spark):
    """Seeded draws replay exactly (the fixed-seed policy, SURVEY §4)."""
    df = spark.range(500)
    items = [("x", 0.5), ("y", 0.3), ("z", 0.2)]
    a = weighted_choice(df, F.col("id"), items, "pick", salt="s1").collect()
    b = weighted_choice(df, F.col("id"), items, "pick", salt="s1").collect()
    assert [r.pick for r in sorted(a, key=lambda r: r.id)] == [
        r.pick for r in sorted(b, key=lambda r: r.id)
    ]


def test_weighted_choice_distribution(spark):
    """M4: empirical frequencies track the weights (chi-squared-ish bound
    over 20k seeded draws)."""
    df = spark.range(20000)
    items = [("x", 0.5), ("y", 0.3), ("z", 0.2)]
    out = weighted_choice(df, F.col("id"), items, "pick", salt="dist")
    counts = {r.pick: r.n for r in out.groupBy("pick").agg(F.count("*").alias("n")).collect()}
    for name, w in items:
        assert abs(counts[name] / 20000 - w) < 0.02, (name, counts)


def test_category_gates_probabilities(spark):
    df = spark.range(20000)
    out = category_gates(df, F.col("id"), [("c1", 0.7), ("c2", 0.1)])
    n1 = out.filter("pick_c1").count() / 20000
    n2 = out.filter("pick_c2").count() / 20000
    assert abs(n1 - 0.7) < 0.02 and abs(n2 - 0.1) < 0.02


def test_hierarchical_sample_leaf_reachability(spark):
    tree = {
        "children": {
            "a": {"prob": 0.5, "keywords": [("a1", 0.5), ("a2", 0.5)]},
            "b": {"prob": 0.5, "keywords": [("b1", 1.0)]},
        }
    }
    df = spark.range(5000)
    out = hierarchical_sample(df, F.col("id"), tree, "leaf")
    leaves = {r.leaf for r in out.select("leaf").distinct().collect()}
    assert leaves == {"a1", "a2", "b1"}


# --- state/resume -------------------------------------------------------------


def test_state_table_resume_equals_fresh(spark, tmp_path):
    """R2 property: processing with a checkpoint state = fresh run minus
    already-done keys (test_kimono_ec2.py:344-377 semantics)."""
    path = str(tmp_path / "state")
    st = StateTable(spark, path, ["url"])
    work = spark.createDataFrame([(f"u{i}",) for i in range(10)], "url string")
    assert st.filter_new(work).count() == 10

    st.append(work.limit(4))
    remaining = st.filter_new(work)
    assert remaining.count() == 6

    st.append(remaining)
    assert st.filter_new(work).count() == 0
    assert st.count() == 10

    st.compact()
    assert st.count() == 10
    assert st.filter_new(work).count() == 0


def test_simhash_hamming_pairs_pigeonhole_complete(spark):
    """Banding is EXACT for max_hamming < bands: the banded join finds
    every pair with Hamming <= 3, not an approximation (verified against
    the brute-force pair set over the same signatures)."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.operators.neardup import (
        hamming16,
        simhash_bits,
        simhash_hamming_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_hamming_pairs(d, bands=4, max_hamming=3).collect()
    }
    sigs = d.select(F.col("doc_id").alias("id"), simhash_bits(F.col("text"), 16, "sh").alias("sig"))
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    brute = {
        (r.id_a, r.id_b): r.h
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming16(F.col("sa"), F.col("sb")).cast("int").alias("h"))
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert banded == brute  # complete AND distance-correct

    import pytest

    with pytest.raises(ValueError, match="only exact"):
        simhash_hamming_pairs(d, bands=4, max_hamming=4)


def test_simhash_sig_agg_matches_fold(spark):
    """The explode+aggregate signature kernel (r14 rewrite) is
    value-identical to the 16-fold HOF form on hostile inputs: NULL
    text (NULL token array -> all-zero signature), empty / whitespace
    text (single empty token), unicode, VT-class whitespace."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.operators.neardup import (
        simhash_bits,
        simhash_sig_agg,
    )

    hostile = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "a"),
            (5, "a a a"),
            (6, "é café 中文"),
            (7, "x\ty\nz"),
            (8, " leading trailing "),
            (9, "same same"),
            (10, "\x0b vt-token"),
        ],
        "id bigint, text string",
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    for d in (hostile, docs):
        old = d.select("id", simhash_bits(F.col("text"), 16, "sh").alias("sig_old"))
        new = simhash_sig_agg(
            d.withColumnRenamed("text", "__txt"), id_col="id", text_col="__txt"
        ).withColumnRenamed("sig", "sig_new")
        j = old.join(new, "id", "full")
        assert j.filter(~F.col("sig_old").eqNullSafe(F.col("sig_new"))).count() == 0
        assert j.filter(F.col("sig_old").isNull() | F.col("sig_new").isNull()).count() == 0


def test_minhash_mins_agg_matches_hof(spark):
    """The explode+aggregate min-hash kernel (r14 rewrite) is
    value-identical to the 12 array_min(transform(...)) HOF columns on
    hostile inputs: NULL text (NULL shingle set -> all-NULL signature),
    empty text (empty set -> all-NULL), whitespace (single '' shingle),
    unicode, short docs (partial shingle), and the sf0.001 corpus."""
    import pyspark.sql.functions as F

    from syntheticdata_pipeline__spark.operators.neardup import (
        minhash_mins_agg,
        minhash_signature,
        word_shingles,
    )

    hostile = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "one two three four five"),
            (7, "é café 中文 tokens here"),
            (8, "dup dup dup dup"),
        ],
        "id bigint, text string",
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    for d in (hostile, docs):
        sh = d.select("id", word_shingles(F.col("text")).alias("sh"))
        old = sh.select("id", minhash_signature(F.col("sh"), 12).alias("sig_old"))
        new = minhash_mins_agg(sh, 12).select(
            "id", F.array(*[F.col(f"h{i}") for i in range(12)]).alias("sig_new")
        )
        j = old.join(new, "id", "full")
        assert j.count() == d.count()  # explode_outer keeps every id
        assert j.filter(~F.col("sig_old").eqNullSafe(F.col("sig_new"))).count() == 0


def test_rank_topk_matches_sql_twin(spark):
    """similarity.rank_topk and rank_topk_sql keep the same rows with the
    same INT rank: tied scores go to the lower neighbor id, and a NULL
    score ranks after every number in both engines."""
    import duckdb

    from syntheticdata_pipeline__spark.operators.similarity import rank_topk, rank_topk_sql

    rows = [
        (1, 5, 0.9), (1, 3, 0.9), (1, 4, 0.9), (1, 2, 0.5), (1, 6, None), (1, 7, 0.1),
        (2, 1, None), (2, 3, 0.2),
    ]  # fmt: skip
    sdf = spark.createDataFrame(rows, "query_id long, neighbor_id long, score double")
    con = duckdb.connect()
    con.execute("CREATE TABLE scored (query_id BIGINT, neighbor_id BIGINT, score DOUBLE)")
    con.executemany("INSERT INTO scored VALUES (?, ?, ?)", rows)
    want = {
        3: [(1, 3, 0.9, 1), (1, 4, 0.9, 2), (1, 5, 0.9, 3), (2, 3, 0.2, 1), (2, 1, None, 2)],
        6: [
            (1, 3, 0.9, 1), (1, 4, 0.9, 2), (1, 5, 0.9, 3), (1, 2, 0.5, 4), (1, 7, 0.1, 5),
            (1, 6, None, 6), (2, 3, 0.2, 1), (2, 1, None, 2),
        ],
    }  # fmt: skip
    for k, rows_k in want.items():
        got = rank_topk(sdf, k)
        assert dict(got.dtypes)["rank"] == "int"
        duck = con.execute(rank_topk_sql("scored", k) + " ORDER BY query_id, rank").fetchall()
        assert [tuple(r) for r in got.orderBy("query_id", "rank").collect()] == rows_k
        assert duck == rows_k, k
    con.close()


def test_probe_buckets_matches_sql_twin(spark):
    """similarity.probe_buckets and probe_buckets_sql list the same
    bucket and Hamming-1 neighbors, in the same order."""
    import duckdb

    from syntheticdata_pipeline__spark.operators.similarity import (
        probe_buckets,
        probe_buckets_sql,
    )

    ids = spark.range(16).select(F.col("id").cast("int").alias("b"))
    got = [r.p for r in ids.orderBy("b").select(probe_buckets(F.col("b"), 4).alias("p")).collect()]
    con = duckdb.connect()
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {probe_buckets_sql('b', 4)} FROM range(16) t(b) ORDER BY b"
        ).fetchall()
    ]
    con.close()
    assert got == duck == [[b] + [b ^ (1 << h) for h in range(4)] for b in range(16)]
