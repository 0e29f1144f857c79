"""Training-dataset preparation operators (SURVEY.md §2.11 north star):
deterministic splits, fixed-size per-group samples, sequence packing,
and source-mixture weighting — the ops a 100 TB pretraining corpus runs
after dedup/quality filtering.

All randomness is md5-keyed (functions.determinism.unit_rand): splits and
samples are reproducible on any cluster and any partitioning, and the
DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.determinism import fixed_term, fixed_unscale, unit_rand


def split_bounds(
    fractions: Sequence[tuple[str, float]],
) -> list[tuple[str, float]]:
    """Cumulative upper bounds for the split CASE ladder. Exposed so the
    oracle SQL interpolates the *same* float literals the Spark plan uses
    (the accumulation order matters at the last ulp)."""
    bounds = []
    acc = 0.0
    total = sum(f for _, f in fractions)
    for name, f in fractions:
        acc += f / total
        bounds.append((name, acc))
    return bounds


def deterministic_split(
    df: DataFrame,
    key: Column,
    fractions: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a split by its key's seeded uniform draw —
    stable under reshuffling, re-runs, and cluster moves (unlike
    ``randomSplit``, which is partition-dependent)."""
    bounds = split_bounds(fractions)
    r = unit_rand(key, salt)
    expr = F.lit(bounds[-1][0])
    for name, hi in reversed(bounds[:-1]):
        expr = F.when(r < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def sample_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key: Column,
    k: int,
    salt: str = "sample",
) -> DataFrame:
    """Fixed-size deterministic sample per group: rank rows by a seeded
    draw (tie-broken by the key) and keep k. The distributed form of
    reservoir sampling — one shuffle on the group key, top-k pushed into
    the sort."""
    w = Window.partitionBy(*group_cols).orderBy(unit_rand(key, salt), key)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_sequences(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: Column,
    size_col: Column,
    budget: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Sequence packing: assign documents (ordered within each group) to
    consecutive token-budget bins — bin = floor(exclusive running token
    sum / budget). One window cumsum; bins stream out in order, which is
    what a packed-example writer consumes.

    (Greedy first-fit packs marginally tighter but needs sequential
    state; the cumsum form is the scalable canonical approximation.)
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl_cum = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return df.withColumn(bin_col, F.floor(excl_cum / F.lit(budget)).cast("bigint"))


def mixture_expand(
    df: DataFrame,
    weight_col: Column,
    max_repeats: int = 10,
) -> DataFrame:
    """Source-mixture upsampling: repeat each row ``weight`` times (the
    epoch-expansion form of mixture weights). Integer weights only;
    explode(sequence) keeps it JVM-side — no Python, no driver loop."""
    reps = F.least(F.greatest(weight_col.cast("int"), F.lit(0)), F.lit(max_repeats))
    return (
        df.withColumn("__rep", F.explode(F.sequence(F.lit(1), reps)))
        .withColumnRenamed("__rep", "epoch_copy")
    )


def dsir_log_weights(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-bigram bag-of-
    ngrams features, a target and a raw unigram-over-buckets LM with
    add-one smoothing, and per-doc log importance weight
    log w(x) = Σ_features log(p_target(b) / p_raw(b)).

    ``docs`` needs (doc_id, text); ``target_pred`` marks the rows whose
    feature distribution defines the target domain. Returns
    (doc_id, n_features, log_w).

    Scale shape: features hash into ``n_buckets`` map-side, both LMs are
    ``n_buckets``-row aggregates (broadcast), and the per-doc sum runs as
    a trunc-scaled BIGINT so it is exact and order-independent. No
    per-doc state exceeds its own (doc, bucket) histogram — the same
    one-shuffle profile as a word count at any corpus size.
    """
    from ..functions.determinism import hash_bucket
    from ..functions.text import fold_case, tokens

    toks = docs.select(
        "doc_id", target_pred.alias("__is_target"), tokens(fold_case(F.col("text"))).alias("__t")
    )
    grams = toks.select(
        "doc_id",
        "__is_target",
        F.explode(
            # sequence(1, 0) would descend, so short docs get an empty array
            F.expr(
                "CASE WHEN size(__t) >= 2 THEN transform(sequence(1, size(__t) - 1), "
                "i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1))) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("__gram"),
    ).withColumn("__b", hash_bucket(F.col("__gram"), n_buckets, salt))

    raw_lm = grams.groupBy("__b").agg(F.count("*").alias("__rc"))
    tgt_lm = grams.filter("__is_target").groupBy("__b").agg(F.count("*").alias("__tc"))
    r_tot = raw_lm.agg(F.sum("__rc").alias("__rt"))
    t_tot = tgt_lm.agg(F.sum("__tc").alias("__tt"))
    lw = (
        raw_lm.join(tgt_lm, "__b", "left")
        .na.fill({"__tc": 0})
        .crossJoin(F.broadcast(r_tot))
        .crossJoin(F.broadcast(t_tot))
        .select(
            "__b",
            (
                F.log(
                    (F.col("__tc") + 1).cast("double") / (F.col("__tt") + n_buckets)
                )
                - F.log((F.col("__rc") + 1).cast("double") / (F.col("__rt") + n_buckets))
            ).alias("__lw"),
        )
    )
    per_doc_bucket = grams.groupBy("doc_id", "__b").agg(F.count("*").alias("__n"))
    contrib = per_doc_bucket.join(F.broadcast(lw), "__b").select(
        "doc_id",
        F.col("__n"),
        fixed_term(F.col("__n") * F.col("__lw")).alias("__c"),
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("__n").cast("bigint").alias("n_features"),
        fixed_unscale(F.sum("__c")).alias("log_w"),
    )
