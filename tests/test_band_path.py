"""One MinHash banding path (operators/neardup.py).

- ``band_key`` (Spark) and ``band_key_sql`` (DuckDB) give the same key
  for every band of every split the catalog uses.
- ``corpus_dedup_pipeline`` shingles its survivors once: the banding and
  the verification read the same pinned shingle sets.
- ``incremental_minhash_dedup`` against a prior state plans one band
  equi-join, over (batch ∪ prior) band rows on one side.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tools.plan_walk import seq, walk


def _count_exprs(plan, cls: str) -> int:
    """Expression nodes of class ``cls`` anywhere in a logical plan."""
    exprs = (e for _, _, node in walk(plan) for e in seq(node.expressions()))
    return sum(c == cls for e in exprs for _, c, _ in walk(e))


def test_band_key_matches_sql_twin(spark, duck):
    from syntheticdata_pipeline__spark.operators.neardup import (
        band_key,
        band_key_sql,
        minhash_mins_agg,
        minhash_signature_sql,
        word_shingles,
        word_shingles_sql,
    )
    from syntheticdata_pipeline__spark.plans.common import T
    from syntheticdata_pipeline__spark.plans.docs_q import _MH_HASHES, _SWEEP_CONFIGS

    splits = [(b, r, j) for b, r in _SWEEP_CONFIGS for j in range(b)]
    assert (6, 2, 0) in splits

    shingled = T(spark, SF_SMOKE, "documents").select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh")
    )
    mins = minhash_mins_agg(shingled, _MH_HASHES)
    hashes = [F.col(f"h{i}") for i in range(_MH_HASHES)]
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.lit(j).alias("band"),
                band_key(F.array(*hashes), j, r).alias("bh"),
                band_key(hashes, j, r).alias("bh_cols"),
            )
            for b, r, j in splits
        ]
    )
    rows = mins.select("id", F.explode(keys).alias("x")).select("id", "x.*").collect()
    got = {(x.b, x.id, x.band): x.bh for x in rows}
    # the h* columns band exactly like the array packed from them
    assert all(x.bh == x.bh_cols for x in rows)

    union = " UNION ALL ".join(
        f"SELECT {b}, doc_id, {j}, {band_key_sql('sig', j, r)} FROM sigs" for b, r, j in splits
    )
    want = {
        (b, i, j): k
        for b, i, j, k in duck.execute(
            f"""WITH sigs AS (
              SELECT doc_id, {minhash_signature_sql(word_shingles_sql('text'), _MH_HASHES)} AS sig
              FROM documents)
            {union}"""
        ).fetchall()
    }
    n_docs = duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert len(want) == n_docs * len(splits)
    assert None not in want.values()
    assert got == want


def test_band_key_is_null_when_any_hash_is_null(spark):
    from syntheticdata_pipeline__spark.operators.neardup import band_key

    sig = spark.createDataFrame([(["a", None, "c", "d"],)], "sig array<string>")
    row = sig.select(
        band_key(F.col("sig"), 0, 2).alias("k0"), band_key(F.col("sig"), 1, 2).alias("k1")
    ).first()
    assert (row.k0, row.k1) == (None, "cd")


def test_corpus_dedup_pipeline_shingles_once(spark, monkeypatch):
    """Count word_shingles evaluations (its ``arrays_zip``) over the final
    optimized plan plus the input plan of every pin the build makes; the
    pinned sub-plans show up in the final plan only as RDD scans."""
    from pyspark.sql.classic.dataframe import DataFrame

    from syntheticdata_pipeline__spark.plans import load_all

    pinned = []
    checkpoint = DataFrame.localCheckpoint

    def recording(df, *args, **kwargs):
        pinned.append(df._jdf.queryExecution().optimizedPlan())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    df = load_all()["corpus_dedup_pipeline"].build(spark, SF_SMOKE)
    plans = [df._jdf.queryExecution().optimizedPlan(), *pinned]
    assert sum(_count_exprs(p, "ArraysZip") for p in plans) == 1


def test_incremental_dedup_plans_one_band_join(spark):
    from syntheticdata_pipeline__spark.operators.neardup import incremental_minhash_dedup
    from syntheticdata_pipeline__spark.plans.common import T

    docs = T(spark, SF_SMOKE, "documents")
    _, state = incremental_minhash_dedup(docs.filter("doc_id < 250"), None, bands=6)
    survivors, _ = incremental_minhash_dedup(docs.filter("doc_id >= 250"), state, bands=6)
    band_join = re.compile(r"\(bh#\d+ = bh#\d+\)")
    joins = [
        n
        for _, cls, n in walk(survivors._jdf.queryExecution().optimizedPlan())
        if cls == "Join" and band_join.search(n.simpleString(1000))
    ]
    assert len(joins) == 1, [j.simpleString(1000) for j in joins]
