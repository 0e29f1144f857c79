"""Near-duplicate detection (SURVEY.md §2.11): MinHash+LSH, SimHash,
n-gram Jaccard. Generalizes the reference's hash-set dedup (D1-D4,
any_scraper.py:198-222,584-603) to fuzzy text dedup at corpus scale.

Engine-portability: all hashing is md5-based (identical hex in Spark and
DuckDB), signatures are computed with strict sequential folds, so the
DuckDB oracle reproduces every signature bit-for-bit.

Scale design:
- Shingling + signatures are map-side only (one corpus scan).
- LSH banding turns the quadratic all-pairs problem into a groupBy on
  (band_id, band_hash) — candidate pairs come from a self-join *within
  buckets*, which is the standard 100 TB-safe plan. Band keys come only
  from :func:`band_key` / :func:`band_key_sql` and band rows only from
  :func:`_band_rows`. Bucket skew is left to AQE skew join; LSH buckets
  have no size cap (the one cap in this module is
  :func:`jaccard_pairs_inverted`'s ``df_cap`` on shingle postings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, tokens_sql
from ..session import pin


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, ' '-joined.

    Implementation note: built from ``arrays_zip`` of n shifted slices,
    NOT ``transform(sequence, i -> slice(toks, i, n))`` — a lambda that
    references the un-materialized token expression re-evaluates the
    regex split per element (O(tokens²) splits; measured 7× slower).
    Here ``toks`` appears a constant n+1 times per row. Short docs
    (< n tokens) produce one partial shingle, matching the slice-clamp
    semantics of the oracle twin (arrays_zip pads with null; concat_ws
    skips nulls).
    """
    toks = tokens(text_col)
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, cnt).alias(f"t{i}") for i in range(n)]
    )
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]))
    )


def word_shingles_sql(text_sql: str, n: int = 3) -> str:
    toks = tokens_sql(text_sql)
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def minhash_signature(shingles: Column, num_hashes: int = 12, salt: str = "mh") -> Column:
    """MinHash signature: per hash-function i, the lexicographic min of
    md5(i|shingle). String-min is portable and order-free; md5 plays the
    role of the i-th random permutation."""
    sigs = [
        F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{salt}{i}|"), s))))
        for i in range(num_hashes)
    ]
    return F.array(*sigs)


def minhash_signature_sql(shingles_sql: str, num_hashes: int = 12, salt: str = "mh") -> str:
    sigs = [
        f"list_min(list_transform({shingles_sql}, s -> md5('{salt}{i}|' || s)))"
        for i in range(num_hashes)
    ]
    return "[" + ", ".join(sigs) + "]"


# Separator for set-fingerprint encoding: a control byte that cannot
# occur inside whitespace-split tokens, so the joined encoding is
# prefix-collision-free. Kept as a visible escape in a named constant
# (a raw byte in a string literal renders as concat_ws("") in diffs).
_SET_SEP = "\x01"
# Second separator for the double-join fingerprint (see
# collapse_identical_sets): two joins of the same elements under two
# DIFFERENT separators cannot both collide for distinct arrays.
_SET_SEP2 = "\x02"


def collapse_identical_sets(
    sets_df: DataFrame,
    id_col: str = "id",
    set_col: str = "sh",
    group_cols: tuple[str, ...] = (),
    ordered: bool = False,
) -> DataFrame:
    """Collapse rows with identical ``set_col`` contents (within
    ``group_cols``) to one representative row: (group_cols…, id=min id,
    set_col, members=[all ids]).

    The group key is the pair md5(\\x01-join) ‖ md5(\\x02-join) of the
    sorted elements — fixed width, so the shuffle never carries raw
    arrays as keys. A SINGLE separator join is ambiguous when an element
    itself contains the separator (r14 ADVICE reproducer:
    {'abcd\\x01efgh'} and {'abcd','efgh'} encoded identically, collapsed
    into one group, and emitted a phantom pair the base equi-join can
    never produce; shingles contain whatever bytes the document had, so
    "tokens are whitespace-split" was not a safe precondition). Joining
    the SAME elements twice under two different separators is injective:
    if two distinct arrays matched both joins, some position would be a
    boundary in one array but element content in the other, and that one
    content byte would have to equal \\x01 (to match join 1) and \\x02
    (to match join 2) simultaneously. Two codegen'd concat+md5 passes —
    measured cheaper than any per-element (higher-order-function)
    encoding, which at sf0.1 cost +15–30% on the collapse queries. With
    ``ordered=True`` elements are fingerprinted in array order (SEQUENCE
    identity, for positional operators) instead of sorted (set
    identity). This is the exact-duplicate collapse every set-similarity
    stage should run first: downstream quadratic work then scales with
    DISTINCT sets, and duplicate-heavy corpora (the 100 TB norm)
    re-expand only at output time.

    Precondition (r15 ADVICE): every ``set_col`` value must be a
    non-empty array with no NULL elements. ``concat_ws`` skips NULLs and
    joins ``[]`` and ``['']`` to the same empty string, so a NULL set, an
    empty set and ``['']`` share one key, as do arrays that differ only
    in NULL elements; the collapse would then emit phantom within-group
    pairs. Every in-repo caller filters ``size(set_col) > 0`` (or a
    stricter minimum length) before collapsing, and its sets come from
    tokenizers that never emit NULL elements
    (tests/test_collapse_equivalence.py pins the filter).
    """
    enc = F.col(set_col) if ordered else F.sort_array(set_col)
    keyed = sets_df.withColumn(
        "__skey",
        F.concat(
            F.md5(F.concat_ws(_SET_SEP, enc)),
            F.md5(F.concat_ws(_SET_SEP2, enc)),
        ),
    )
    return keyed.groupBy(*group_cols, "__skey").agg(
        F.min(id_col).alias(id_col),
        F.min_by(set_col, id_col).alias(set_col),
        F.collect_list(id_col).alias("members"),
    ).drop("__skey")


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    groups: DataFrame,
    id_col: str = "id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    within_payload: dict | None = None,
) -> DataFrame:
    """Expand representative pairs from a :func:`collapse_identical_sets`
    run back to member pairs.

    Cross-group member pairs inherit every payload column of their
    representative pair (set-level measures depend only on the sets).
    Within-group pairs (identical sets) are generated directly with
    ``within_payload`` (column-name → Column, e.g. ``{"jac": F.lit(1.0)}``;
    expressions may reference any ``groups`` column, e.g. ``F.size("sh")``
    — Catalyst prunes what they don't use); pass ``None`` to emit
    cross-group pairs only. Callers must pre-filter ``groups`` to the rows
    eligible for within-group emission (e.g. drop empty-set groups that
    never enter the pair stage)."""
    mem = groups.select(F.col(id_col).alias("rep"), "members")
    payload = [c for c in rep_pairs.columns if c not in (a_col, b_col)]
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias(a_col), F.col("members").alias("__ma")), a_col
        )
        .join(mem.select(F.col("rep").alias(b_col), F.col("members").alias("__mb")), b_col)
        .select(F.explode("__ma").alias("__a"), "__mb", *payload)
        .select("__a", F.explode("__mb").alias("__b"), *payload)
        .select(
            F.least("__a", "__b").alias(a_col),
            F.greatest("__a", "__b").alias(b_col),
            *payload,
        )
    )
    if within_payload is None:
        return cross
    within = (
        groups.filter(F.size("members") >= 2)
        .withColumn("__a", F.explode("members"))
        .withColumn("__b", F.explode("members"))
        .filter(F.col("__a") < F.col("__b"))
        .select(
            F.col("__a").alias(a_col),
            F.col("__b").alias(b_col),
            *[v.alias(k) for k, v in within_payload.items()],
        )
    )
    return cross.unionByName(within)


def band_key(sig: Column | list[Column], band: int, rows: int) -> Column:
    """LSH band key: signature entries ``band*rows`` … ``band*rows+rows-1``
    concatenated. ``sig`` is an array column or a list of the per-hash
    columns (``sig[i]`` indexes either, so the ``h*`` columns of
    :func:`minhash_mins_agg` band without being packed into an array).
    NULL when any entry is NULL: a NULL-text doc (all-NULL signature)
    lands in no bucket, which :func:`incremental_minhash_dedup`'s
    NULL-text rule relies on."""
    return F.concat(*[sig[band * rows + r] for r in range(rows)])


def band_key_sql(sig_sql: str, band: int, rows: int) -> str:
    """DuckDB twin of :func:`band_key` (1-based slice). Equal to it on
    signatures without NULL entries; ``array_to_string`` skips NULLs."""
    return f"array_to_string({sig_sql}[{band * rows + 1}:{(band + 1) * rows}], '')"


def _band_keys(sig: Column | list[Column], num_hashes: int, bands: int) -> list[Column]:
    rows = num_hashes // bands
    return [band_key(sig, b, rows) for b in range(bands)]


def _band_rows(df: DataFrame, keep: list[str], keys: list[Column], key_col: str = "bh") -> DataFrame:
    """One row per (input row, band): ``keep`` plus (band, ``key_col``)
    with band b keyed by ``keys[b]`` — the stack every band join reads."""
    pairs = [c for b, key in enumerate(keys) for c in (F.lit(b), key)]
    return df.select(*keep, F.stack(F.lit(len(keys)), *pairs).alias("band", key_col))


def minhash_mins_agg(
    shingled: DataFrame,
    num_hashes: int = 12,
    salt: str = "mh",
    id_col: str = "id",
    set_col: str = "sh",
) -> DataFrame:
    """(id, h0..h{n-1}) per-permutation min-hashes via explode + codegen
    min aggregation — value-identical to ``num_hashes`` interpreted
    ``array_min(transform(...))`` HOF columns, without their overhead.

    The HOF form evaluates num_hashes lambda trees per row outside
    whole-stage codegen (measured: the 12-fold signature stage alone was
    most of minhash_lsh_candidates at sf0.1). Here each set element
    becomes one row; the num_hashes salted md5+min are plain codegen
    aggregates with map-side partial aggregation, so the exchange
    carries one fixed-width (id, 12×32-hex) row per id per partition.
    Exactness: min over md5 hex strings is order-independent and uses
    the same binary string ordering as array_min; NULL/empty sets
    explode_outer to a single NULL element, md5(NULL)=NULL, and
    min(all-NULL)=NULL — exactly array_min(transform(NULL|[])).

    Precondition (r14 ADVICE): ``id_col`` values must be unique and
    non-NULL — the groupBy collapses duplicate ids (and all NULL ids)
    into ONE signature over the union of their sets, whereas the HOF
    form kept one output row per input row. Every in-repo caller feeds
    unique non-null doc ids."""
    ex = shingled.select(id_col, F.explode_outer(set_col).alias("__s"))
    return ex.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{salt}{i}|"), F.col("__s")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_pairs_from_sets(
    shingled: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: sets sharing ≥1 LSH band. Takes
    pre-computed shingle sets (columns ``id``, ``sh``), so callers can
    collapse identical sets first and band only the representatives, and
    shingle once for banding and verification alike.

    rows-per-band = num_hashes/bands; a pair collides on a band iff that
    slice of the signature matches exactly. Returns (id_a, id_b, n_bands)
    with id_a < id_b."""
    # Min-hashes via the explode+aggregate kernel (r14, guide §4.1) —
    # value-identical to the 12 interpreted HOF columns.
    mins = minhash_mins_agg(shingled, num_hashes)
    # Band rows straight off the h* columns. r15: the old explicit
    # .repartition("band", "bh") ("pre-partition so the self-join reuses
    # ONE exchange for both sides") was FALSIFIED by the committed r14
    # plan dump: the planner broadcasts one join side, so the sides are a
    # shuffle Exchange and a BroadcastExchange — ReuseExchange can never
    # unify them, and the repartition was pure overhead on BOTH sides
    # (an extra Exchange under the BroadcastExchange, and a
    # REPARTITION_BY_COL the broadcast probe side doesn't need). Dropped;
    # EnsureRequirements inserts the join-key exchanges itself whenever
    # the planner picks SMJ/SHJ at scale. (A pin on the
    # banded rows was also A/B'd to stop the signature chain computing
    # once per join side — solo best-of-3 LOST, 3.3 s vs 3.0 s on
    # minhash_lsh_candidates and 5.1 s vs 3.4 s on corpus_dedup_pipeline:
    # the materialization costs more than the duplicated ~2k-distinct-doc
    # signature aggregate saves at sf0.1 — same verdict class as the r14
    # lsh_band_sweep kernel revert.)
    hashes = [F.col(f"h{i}") for i in range(num_hashes)]
    banded = _band_rows(mins, ["id"], _band_keys(hashes, num_hashes, bands))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_bands"))
    )


def jaccard_pairs_inverted(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    threshold: float = 0.05,
    shingle_n: int = 3,
    collapse_identical: bool = True,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via an inverted shingle index.

    Instead of the quadratic pairs × array_intersect plan, explode
    (block, shingle, doc) postings, self-join on the shingle, and count
    co-occurrences per pair: |∩| arrives as a group count and
    J = |∩| / (|A|+|B|−|∩|). Pairs sharing zero shingles are never
    materialized (their J=0 < threshold anyway) — identical output,
    ~300× fewer intermediate rows on the bench corpus.

    Two scale guards on top of the base plan:

    - ``collapse_identical`` (default on, output-preserving): docs with
      identical shingle SETS collapse to one representative before the
      postings join, and pairs are re-expanded afterward (identical sets
      ⇒ J=1 within a group; every cross pair inherits its representative
      pair's J — Jaccard depends only on the set). Exact-duplicate-heavy
      corpora (the common case at 100 TB) pay the quadratic postings
      cost only on DISTINCT documents; the duplicate blow-up happens in
      the cheap final explode, whose size is the output size.
    - ``df_cap`` (opt-in, changes semantics): drop shingles present in
      more than ``df_cap`` documents from every doc's set before
      comparing — standard boilerplate-shingle pruning; a shingle shared
      by millions of docs is a quadratic bucket and carries no near-dup
      signal. Callers that use it must apply the same cap in any oracle.

    Postings-list skew on residual common shingles is handled by AQE
    skew join.
    """
    # Parallelize the raw rows first (a small corpus arrives as one input
    # split; shingling must not run in one task), then shingle. Both join
    # sides reuse this one exchange.
    src = docs.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        F.col(text_col).alias("__txt"),
    ).repartition("id")
    # NULL text yields a NULL shingle set. In the base (collapse-off)
    # plan such a doc has no postings and can never pair; in the collapse
    # path it would fingerprint into the empty-encoding group (concat_ws
    # skips NULLs) and emit phantom within-group jac=1.0 pairs. Drop the
    # rows up front so both paths stay output-identical (size(NULL) = -1,
    # so > 0 excludes exactly the NULL sets; whitespace-only docs keep
    # their [''] singleton and legitimately pair at jac=1.0).
    # NULL block (failed language-ID upstream) can never equi-join in the
    # base plan or the oracle (NULL = NULL is not true), yet groupBy in
    # the collapse would key NULL blocks together and emit phantom
    # within-group jac=1.0 pairs for NULL-block docs with identical sets
    # (r14 NULL-metadata battery find, same class as the r13 NULL-
    # signature fix). Drop them up front — output-identical on both the
    # collapse-on and collapse-off paths.
    sh = src.select(
        "blk", "id", word_shingles(F.col("__txt"), shingle_n).alias("sh")
    ).filter((F.size("sh") > 0) & F.col("blk").isNotNull())

    groups = None
    if collapse_identical:
        # r14 (guide §5): groups feeds the postings explode plus up to
        # four expand/eligibility branches — without the pin each branch
        # re-ran the whole scan+shingle+collapse subtree (the before-plan
        # carried 5 parquet scans; 18 with the df-cap).
        groups = pin(
            collapse_identical_sets(sh, id_col="id", set_col="sh", group_cols=("blk",))
        )
        base = groups.select("blk", "id", "sh")
    else:
        base = sh

    ex = base.select("blk", "id", F.explode("sh").alias("shingle"))
    if df_cap is not None:
        # Document-level df (a collapsed group of m docs contributes m),
        # so the cap means the same thing with or without the collapse.
        if groups is not None:
            w = groups.select("blk", "id", F.size("members").alias("w"))
            posted = ex.join(w, ["blk", "id"])
            dfreq = posted.groupBy("blk", "shingle").agg(F.sum("w").alias("df"))
        else:
            dfreq = ex.groupBy("blk", "shingle").agg(F.count("*").alias("df"))
        bad = dfreq.filter(F.col("df") > df_cap).select("blk", "shingle")
        ex = ex.join(bad, ["blk", "shingle"], "left_anti")
        # Pruned set size must be recounted — it is the Jaccard denominator.
        from pyspark.sql import Window

        # r14 (guide §5): the capped postings feed both self-join sides
        # plus the eligibility semi-join — the df-count anti-join +
        # recount window run once, not three times.
        ex = pin(ex.withColumn("n", F.count("*").over(Window.partitionBy("blk", "id"))))
    else:
        ex = base.select(
            "blk", "id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
        )

    a = ex.alias("a")
    b = ex.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    pairs = co.select("id_a", "id_b", jac.alias("jac")).filter(F.col("jac") >= threshold)

    if groups is None:
        return pairs

    # Re-expand representatives to member pairs. Docs whose (possibly
    # pruned) set is empty never join anything: they have no postings, so
    # they are absent from `nonempty` — matching the base plan, where an
    # empty set can never reach any threshold > 0.
    # Within-group J=1 emission must skip groups whose set is empty — but
    # sets can only BECOME empty via df_cap pruning (word_shingles clamps
    # to ≥1 element), so the extra distinct-postings scan is cap-only.
    eligible = (
        groups.join(ex.select("id").distinct(), "id", "left_semi")
        if df_cap is not None
        else groups
    )
    return expand_collapsed_pairs(
        pairs, eligible, id_col="id", within_payload={"jac": F.lit(1.0)}
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays.

    Computed as |∩| / (|A| + |B| − |∩|) — avoids array_union whose element
    order differs between engines (sizes don't)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast("double")


def jaccard_sql(a: str, b: str) -> str:
    inter = f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
    return (
        f"({inter} / CAST(len({a}) + len({b}) - len(list_intersect({a}, {b})) AS DOUBLE))"
    )


# Width of every SimHash signature the pair path bands and compares:
# hamming16 counts exactly these bits, so it is not a parameter there.
SIMHASH_BITS = 16


def simhash_bits(text_col: Column, n_bits: int, salt: str) -> Column:
    """``n_bits``-bit SimHash over whitespace tokens (expression form).

    Bit b is 1 iff Σ_tokens (±1 by bit b of md5(token)) > 0. Bits come from
    hex nibbles of the md5 (nibble b > 7 ⇒ bit set) — portable to DuckDB."""
    toks = tokens(text_col)

    def bit_vote(b: int):
        # nibble b of md5(token): hex char at position b+1; high nibble → +1
        def merge(a: Column, t: Column) -> Column:
            hexc = F.substring(F.md5(F.concat(F.lit(salt), t)), b + 1, 1)
            return a + F.when(F.instr(F.lit("89abcdef"), hexc) > 0, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(toks, F.lit(0), merge)

    acc = F.lit(0).cast("bigint")
    for b in range(n_bits):
        acc = acc + F.when(bit_vote(b) > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return acc


def simhash_bits_sql(text_sql: str, n_bits: int, salt: str) -> str:
    toks = tokens_sql(text_sql)
    terms = []
    for b in range(n_bits):
        vote = (
            f"list_reduce(list_prepend(0, list_transform({toks}, "
            f"t -> CASE WHEN strpos('89abcdef', substr(md5('{salt}' || t), {b + 1}, 1)) > 0 "
            f"THEN 1 ELSE -1 END)), (a, v) -> a + v)"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN {2 ** b}::BIGINT ELSE 0::BIGINT END")
    return "(" + " + ".join(terms) + ")"


def simhash_sig_agg(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "__txt",
    n_bits: int = SIMHASH_BITS,
    salt: str = "sh",
    sig_col: str = "sig",
) -> DataFrame:
    """(id, sig) via explode + codegen aggregation — value-identical to
    ``simhash_bits`` but without its 16 interpreted HOF folds.

    The fold form re-hashes every token once PER BIT (n_bits md5 calls
    per token inside interpreted lambda trees — measured 3.6 s of the
    5.7 s simhash query at sf0.1). Here each token row computes md5
    once, the 16 nibble votes are plain codegen CASE sums with map-side
    partial aggregation (the shuffle carries one 16-int row per doc per
    partition), and the signature is re-assembled from the vote signs.
    Exactness: votes are integer sums (order-independent, exact); docs
    whose token array is NULL get NULL votes from the left join and
    every ``vote > 0`` test is then false — bit 0 — matching the fold's
    NULL-aggregate → 0 signature."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("__sid"), toks.alias("__toks"))
    ex = base.select("__sid", F.explode("__toks").alias("__t")).select(
        "__sid", F.md5(F.concat(F.lit(salt), F.col("__t"))).alias("__h")
    )
    votes = ex.groupBy("__sid").agg(
        *[
            F.sum(
                F.when(
                    F.instr(F.lit("89abcdef"), F.substring("__h", b + 1, 1)) > 0,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"__v{b}")
            for b in range(n_bits)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for b in range(n_bits):
        sig = sig + F.when(
            F.col(f"__v{b}") > 0, F.lit(2**b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return (
        base.select("__sid")
        .join(votes, "__sid", "left")
        .select(F.col("__sid").alias(id_col), sig.alias(sig_col))
    )


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit simhashes via popcount of XOR
    (expression form; portable)."""
    x = a.bitwiseXOR(b)
    return sum(
        [
            F.when(x.bitwiseAND(F.lit(1 << b)) != 0, F.lit(1)).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        ],
        F.lit(0),
    )


def hamming16_sql(a: str, b: str) -> str:
    # NB: loop variable must not shadow the operand names
    terms = [
        f"CASE WHEN xor({a}, {b}) & {1 << bit} != 0 THEN 1 ELSE 0 END"
        for bit in range(SIMHASH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
    salt: str = "sh",
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded.

    The signature is split into ``bands`` equal bit-slices; candidate
    pairs match on at least one slice (equi-join), then the exact Hamming
    distance filters to ≤ ``max_hamming``. By pigeonhole this is EXACT
    (zero recall loss) whenever ``max_hamming < bands``: a pair differing
    in ≤ bands−1 bits cannot differ in every band. Cost is the banded
    join's Σ|bucket|², never n² — the same scale shape as MinHash LSH but
    for the Hamming metric (the classic Google near-dup crawl design).

    Collapse (r13): the band join runs over DISTINCT SIGNATURES, not
    docs. A SIMHASH_BITS signature has at most 2**16 = 65,536 values, so
    the quadratic stage is bounded by that CONSTANT regardless of corpus
    size — without it, a 4-bit band value has only 16 buckets
    and every bucket grows O(n), making the join quadratic in the corpus
    at 100 TB. Two-level: identical TEXT collapses first (cheap md5 key,
    so byte-replicas never recompute the expensive 16-vote aggregate
    signature), then identical signatures merge across text groups.
    Hamming depends only on the signature, so the expansion back to
    member pairs is output-identical (within-group pairs are distance 0;
    tests/test_collapse_equivalence.py proves collapse-on == collapse-off).

    Returns (id_a, id_b, hamming), id_a < id_b, each pair once.
    """
    pairs, groups = simhash_hamming_rep_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        bands=bands,
        max_hamming=max_hamming,
        salt=salt,
        collapse_identical=collapse_identical,
    )
    if groups is None:
        return pairs
    return expand_collapsed_pairs(
        pairs, groups, id_col="id",
        within_payload={"hamming": F.lit(0).cast("int")},
    )


def simhash_hamming_rep_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
    salt: str = "sh",
    collapse_identical: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Stages 1-3 of :func:`simhash_hamming_pairs` — collapse, band
    join, Hamming verify — WITHOUT the member-pair expansion: returns
    ``(rep_pairs, groups)`` (groups is None with ``collapse_identical``
    off, and the pairs are then final). Split out (r14) so the 2**16
    band-stage bound is measurable in isolation: on a replica-laced
    corpus the full query's output is quadratic in replica-group size BY
    CONTRACT (every member pair is emitted), which swamps any wall-clock
    measurement of the band stage itself — the 100× deep point times
    THIS function to assert the compute stage stays flat while the full
    query's growth is attributable to emitted-row count
    (tools/deep_query_point.py --simhash-rep-stage)."""
    if max_hamming >= bands:
        raise ValueError(
            f"banding is only exact for max_hamming < bands (got {max_hamming} >= {bands})"
        )
    bits_per_band = SIMHASH_BITS // bands
    mask = (1 << bits_per_band) - 1
    src = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt")).repartition(
        "id"
    )
    groups = None
    if collapse_identical:
        # level 1: identical text → one signature computation per
        # distinct text (SimHash depends only on the token multiset)
        tgroups = src.groupBy(F.md5("__txt").alias("__tkey")).agg(
            F.min("id").alias("id"),
            F.min_by("__txt", "id").alias("__txt"),
            F.collect_list("id").alias("members"),
        ).drop("__tkey")
        # r14: signatures via the explode+agg kernel (simhash_sig_agg)
        # instead of the 16-fold HOF expression, joined back to the
        # member lists on the (co-partitioned) group id
        tsigs = tgroups.select("id", "members").join(
            simhash_sig_agg(
                tgroups.select("id", "__txt"), id_col="id", text_col="__txt", salt=salt
            ),
            "id",
        )
        # level 2: identical signature → one band-join row per distinct
        # signature (≤ 2**16 rows, corpus-size-independent); member
        # lists merge, the representative id is the min over the union
        # pinned (≤ 2**16 rows): groups feeds the band join AND three
        # branches of expand_collapsed_pairs
        groups = pin(
            tsigs.groupBy("sig").agg(
                F.min("id").alias("id"),
                F.flatten(F.collect_list("members")).alias("members"),
            )
        )
        sigs = groups.select("id", "sig").repartition("id")
    else:
        sigs = simhash_sig_agg(src, id_col="id", text_col="__txt", salt=salt).repartition("id")
    slices = [
        F.shiftright("sig", b * bits_per_band).bitwiseAND(F.lit(mask)) for b in range(bands)
    ]
    banded = _band_rows(sigs, ["id", "sig"], slices, "bv").repartition("band", "bv")
    # explicit renames (not .alias views): a self-join on the same lineage
    # silently resolves l.sig/r.sig to one side, making xor(sig,sig)=0
    left = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bv"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bv"
    )
    pairs = (
        left.join(right, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming16(F.col("sig_a"), F.col("sig_b")).cast("int").alias("hamming"),
        )
        .distinct()  # a close pair can collide on several bands
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs, groups


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<string>) MinHash signatures — the compact per-doc
    state an incremental dedup persists (num_hashes md5 strings per doc,
    ~400 B; never the text or shingle set).

    ``id_col`` must be unique and non-NULL (minhash_mins_agg
    precondition: duplicate/NULL ids collapse into one signature)."""
    shingled = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
        .repartition("id")
        # no second barrier needed: the explode+aggregate kernel (unlike
        # the 12 HOF columns it replaced) references the shingle
        # expression exactly once, so CollapseProject cannot fan it out
        .select("id", word_shingles(F.col("__txt"), shingle_n).alias("sh"))
    )
    mins = minhash_mins_agg(shingled, num_hashes)
    return mins.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash estimate of Jaccard: fraction of agreeing signature
    positions (an unbiased estimator; the decision statistic incremental
    dedup uses so state never needs the shingle sets)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree.cast("double") / F.size(sig_a).cast("double")


def incremental_minhash_dedup(
    batch: DataFrame,
    state_sigs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 6,
    est_threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against the signatures of every doc seen so far
    — the incremental-ingestion form of corpus near-dup dedup (a 100 TB
    corpus is never re-deduped from scratch when a day's crawl lands).

    Decision rule: a doc is a duplicate iff some EARLIER doc (lower id —
    ids must be monotone across batches) shares ≥1 LSH band with it and
    the signature-estimated Jaccard is ≥ ``est_threshold``. The rule
    checks each doc against ALL earlier docs (not just survivors), which
    makes it associative: feeding one batch or the same rows split into
    any number of batches yields identical survivor sets
    (tests/test_incremental_dedup.py proves it).

    Returns ``(survivors, new_state_sigs)`` where ``new_state_sigs`` is
    (id, sig) for every batch doc — append it to the persisted state
    (e.g. via operators.state.StateTable / parquet append). State is one
    signature row per seen doc; band rows are derived, so the stored
    footprint is num_hashes hashes per document.

    Identical-signature collapse (r13, queued fix #10): docs with
    byte-identical SIGNATURES share every LSH band, so the band join
    was quadratic in replica-group size — the diagnosed cause of the
    ≈n^1.7 30×→60× stress segment (the stress layout replicates docs
    byte-identically). Since identical signatures estimate Jaccard
    exactly 1.0 ≥ any valid threshold, every non-minimum member of an
    identical-signature group is a duplicate BY CONSTRUCTION; only the
    group-minimum representative enters the band join, on both the
    batch and the prior-state side. Output-identical: "∃ earlier doc of
    signature S matching X" ⟺ "min-id doc of S is earlier and matches
    X" (band sets and Jaccard estimates depend only on the signature),
    so the survivor set — and the associativity guarantee — are
    unchanged (tests/test_incremental_dedup.py +
    tests/test_collapse_equivalence.py).
    """
    if not (0.0 < est_threshold <= 1.0):
        raise ValueError(
            f"est_threshold must be in (0, 1] (a MinHash Jaccard estimate "
            f"cannot exceed 1), got {est_threshold!r}"
        )
    from pyspark.sql import Window

    sigs = minhash_signatures(
        batch, id_col=id_col, text_col=text_col, num_hashes=num_hashes
    )
    # signature entries are fixed-width md5 hex, so '|'-joined is an
    # unambiguous group key — for NON-NULL signatures. NULL text yields an
    # all-NULL signature (shingles are NULL, so every array_min is NULL;
    # non-NULL text always yields all-non-NULL entries, so sig[0] is a
    # complete discriminator). Those rows are EXEMPT from the collapse:
    # concat_ws skips NULLs, so they would all share md5('') and the
    # non-minimum ids would be flagged as dups — yet their band hashes
    # are NULL and can never equi-join, so the band rule keeps every one
    # of them. Collapsing them would (a) contradict the band rule the
    # collapse claims to be output-identical to, and (b) make survivor
    # sets depend on batch boundaries (a NULL-text doc in a later batch
    # survives, one in the same batch would not), breaking the
    # associativity guarantee (tests/test_incremental_dedup.py::
    # test_null_text_survives_and_associative). They skip the band join
    # entirely — a NULL bh matches nothing on either engine.
    sig_ok = F.col("sig")[0].isNotNull()
    sig_key = F.md5(F.concat_ws("|", "sig"))
    wmin = Window.partitionBy("__sk")
    # r14 (guide §5): keyed feeds both the collapse-dup filter and the
    # representative filter
    keyed = pin(
        sigs.withColumn("__sk", sig_key).withColumn("__gmin", F.min("id").over(wmin))
    )
    collapse_dups = keyed.filter(sig_ok & (F.col("id") > F.col("__gmin"))).select("id")
    reps = keyed.filter(sig_ok & (F.col("id") == F.col("__gmin"))).select("id", "sig")

    def band_rows(df: DataFrame) -> DataFrame:
        keys = _band_keys(F.col("sig"), num_hashes, bands)
        return _band_rows(df, ["id", "sig"], keys).repartition("band", "bh")

    new_bands = band_rows(reps)
    earlier = new_bands
    if state_sigs is not None:
        # prior side collapses the same way: "∃ prior doc of signature S
        # with lower id" ⟺ "the min-id prior doc of S has lower id"
        prior_keyed = (
            state_sigs.select(F.col("id"), F.col("sig"))
            .withColumn("__sk", sig_key)
            .withColumn("__gmin", F.min("id").over(wmin))
        )
        # same all-NULL-signature exemption as the batch side: a NULL-sig
        # prior doc's bands are NULL and match nothing, so it never
        # represents anyone — dropping it here keeps the collapse
        # output-identical to the uncollapsed band rule.
        prior_reps = prior_keyed.filter(sig_ok & (F.col("id") == F.col("__gmin"))).select(
            "id", "sig"
        )
        earlier = new_bands.unionByName(band_rows(prior_reps))

    # ONE band join: (batch ∪ prior) band rows against the batch's. Union
    # distributes over the join, so this is the within-batch join plus the
    # vs-prior join. id_a < id_b makes the earlier doc win inside the
    # batch, and against the prior side it re-asserts the "ids monotone
    # across batches" precondition at runtime: a state row with a HIGHER
    # id than a batch doc is NOT an earlier doc, and silently counting it
    # as one would drop docs a one-shot run keeps (breaking the
    # associativity guarantee above). With monotone ids the filter
    # passes every vs-prior pair; with violated ids it degrades to the
    # correct earlier-wins rule instead of corrupting the output.
    l = earlier.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bh"
    )
    r = new_bands.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bh"
    )
    cand = (
        l.join(r, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )

    dup_ids = (
        cand.filter(estimated_jaccard(F.col("sig_a"), F.col("sig_b")) >= est_threshold)
        .select(F.col("id_b").alias("id"))
        .unionByName(collapse_dups)
        .distinct()
    )
    survivors = batch.join(
        dup_ids.withColumnRenamed("id", id_col), [id_col], "left_anti"
    )
    return survivors, sigs
