"""Physical-plan contracts: lock the scale-critical plan shapes so a
refactor can't silently regress them. PLANS_AUDIT.md reports these
properties; this file ASSERTS them on a representative set.

Every plan property is read from one walk of the physical plan tree
(``tools/plan_walk.py``), the same walk that writes PLANS_AUDIT.md and
the plan dumps.

Contracts:
 1. No unlisted query may contain a CartesianProduct /
    BroadcastNestedLoopJoin — only the intentionally bounded ones
    (budgeted pairing, broadcast-scalar crossJoins, the labeled
    brute-force ANN verifiers).
 2. Flagship dim joins stay broadcast (no SortMergeJoin of a dim).
 3. Pruned scans: queries projecting few columns must not read the full
    table schema (column pruning reaches the parquet scan).
 4. De-skewed quantile family: no windowspecdefinition partitioned by a
    low-cardinality group directly over per-doc rows (the histogram-CDF
    invariant) — checked structurally: on every path down from each
    Window of the perplexity gate, the first aggregate or scan met is an
    aggregate grouped by the window's own columns (its input is the value
    histogram), not a scan or a per-doc aggregate.
 5. Pins earn their keep: every ``session.pin`` call site is referenced
    at least twice in some catalog query that reaches it (PERF.md log
    #7), and nothing else in the package calls ``localCheckpoint``.
 6. One banding path: LSH band keys and band rows are built only by
    the helpers in ``operators/neardup.py`` (a source-text check).
 7. One closure path: oracle connected components come only from
    ``clusters.connected_components_sql`` and the near-dup edge rule
    only from its docs_q pair (a source-text check).
 8. One fixture builder: no file in ``tests/`` or ``tools/`` writes a
    hostile fixture table with a DuckDB COPY or links one with
    ``os.symlink`` outside ``sweep_membership.striped_dir`` (a
    source-text check).
 9. Plan fingerprints ignore expression ids: a query built again later
    in the session dumps the same text, and ``plan_walk.py --diff``
    names exactly the query whose dump changed.
10. One fixed-point sum: the 1e9/1e12 scale of the order-free double
    sum and DuckDB's truncating BIGINT cast are spelled only in the
    ``fixed_*`` helpers of ``functions/determinism.py`` (a source-text
    check over the whole package).
11. One ANN top-k: the per-query rank window (partitioned by
    ``query_id``) and the Hamming-1 probe XOR are spelled only in
    ``similarity.rank_topk``/``rank_topk_sql`` and
    ``similarity.probe_buckets``/``probe_buckets_sql`` (a source-text
    check over the whole package).
"""

from __future__ import annotations

import ast
import os
import re
import sys
from collections import Counter
from dataclasses import dataclass, field

import pytest

from tests.conftest import SF_SMOKE
from tools.plan_walk import AGGREGATES, NESTED_LOOPS, Walked, capture, print_diff, seq
from tools.plan_walk import walk, walk_physical, write_dumps

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "syntheticdata_pipeline__spark")


def _final(catalog, name: str) -> Walked:
    b = catalog[name]
    assert not b.error, f"{name} failed to build: {b.error}"
    return b.plan


def _nlj(plan: Walked) -> int:
    return sum(plan.counts[cls] for cls in NESTED_LOOPS)


# Queries ALLOWED to contain NLJ/cartesian nodes: 1-row broadcast-scalar
# crossJoins, the explicitly budgeted pairing op, and the labeled
# brute-force ANN verifiers (bounded query set x corpus).
_NLJ_ALLOWED = {
    "ann_brute_topk",
    "ann_dim_truncation_recall",
    "ann_recall_at_k",
    "cross_pair_budget_q",
    "embedding_cosine_neardup",
    "array_error_metrics",
    "inception_score_splits",
    "semantic_decontaminate",
    "tpch_q22_dormant_customers",
    "tpch_q11_important_stock",
    "tpch_q14_promo_revenue",  # scalar ratio
    "event_value_outliers",
    "event_rate_report",
    "key_skew_profile",
    "lsh_band_sweep",
    "heaps_vocab_growth",
    "value_trend_by_type",
    "exact_median_two_pass",
    "rank_normalized_quality",
    "neyman_allocation_sample",
    "dsir_importance_resample",
    "doc_length_percentiles",
    "unigram_perplexity_gate",
    "bigram_perplexity_gate",
    "ccnet_perplexity_buckets",
    "ks_length_drift_by_source",
    "vocab_coverage_oov",
    "token_entropy_by_source",
    "zipf_slope_by_lang",
    "similarity_pagerank",
    "hll_distinct_users",
    "hll_window_merge",
    "kmv_distinct_users",
    "weighted_sample_no_replacement",
    "source_sqrt_mixture",
    "mixture_expansion",
    "dataset_split_counts",
    "curation_pipeline_end_to_end",
    "embedding_top_pc_power",
    "embedding_moments",
    "embedding_covariance",
    "kmeans_embedding_clusters",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "ann_lsh_topk",
    "cosine_neardup_lsh",
    "cosine_neardup_lsh_probed",
    "semantic_dedup_stats",
    "split_mean_labels",
    "bm25_topk_docs",
    "tfidf_top_terms",
    "bloom_decontaminate",
    "decontaminate_train",
    "cross_source_overlap",
    "cluster_aware_split_leakage",
    "sample_prompt_generator",
    "weighted_tier_choice",
    "pipeline_end_to_end",
    "max_page_number",
    "embedding_int8_quantize",  # broadcast scale-array crossJoin (1 row)
    "dup_rate_estimate",  # 1-row estimate x 1-row truth scalar crossJoin
    "top_event_trigrams",  # 1-row share-total broadcast crossJoin
    "lsh_param_chooser",  # 4-row config table x 1-row best-candidate minimum
    "join_size_estimate_cm",  # 1-row estimate x 1-row exact scalar crossJoin
    "kmv_set_overlap",  # 1-row sketch estimate x 1-row exact scalar crossJoin
    "lang_source_chi2",  # contingency cells x 1-row statistic crossJoin
    "customer_revenue_concentration",  # histogram x 1-row totals crossJoins
    "quality_duplication_lift",  # 1-row doc-count broadcast crossJoin (tiles)
    "funnel_conversion_ordered",  # broadcast per-step scalar thresholds
    "negative_sample_pairs",  # bounded seeded pairing (J1 budget class)
}

# A sample of big-join queries that must keep every NLJ out entirely.
_STRICT_NO_NLJ = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "exact_dedup_docs",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "jaccard_prefix_filter_join",
    "report_order_fulfillment",
    "dispatch_rollup_by_region",
    "substring_dup_pairs",
    "doc_continuation_pairs",
    "event_transition_matrix",
    "burst_detection",
    "dataset_version_diff",
    "region_nation_revenue_share",
]


@pytest.mark.parametrize("name", _STRICT_NO_NLJ)
def test_no_cartesian_in_strict_queries(catalog, name):
    assert _nlj(_final(catalog, name)) == 0, f"{name} grew a nested-loop/cartesian node"


def test_dims_stay_broadcast_in_tpch_q5(catalog):
    """Q5's four dim joins must all be BHJ; the only SMJ permitted is the
    fact-fact join (orders x lineitem) — none today."""
    counts = _final(catalog, "tpch_q5_local_supplier_revenue").counts
    assert counts["BroadcastHashJoinExec"] >= 3
    assert counts["SortMergeJoinExec"] <= 1


def test_q1_scan_prunes_columns(catalog):
    """TPC-H Q1 reads 7 of lineitem's 11 columns — the ReadSchema must
    not contain the join keys it never touches."""
    schemas = [s["ReadSchema"] for s in _final(catalog, "tpch_q1_pricing_summary").scans]
    assert schemas, "no parquet scan found"
    for s in schemas:
        assert "l_orderkey" not in s and "l_partkey" not in s, s


def test_q6_pushes_every_predicate(catalog):
    pushed = " ".join(s["PushedFilters"] for s in _final(catalog, "tpch_q6_forecast_revenue").scans)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed to scan"


def _first_below(node, stop) -> list[tuple[str, object]]:
    """On each path down from ``node``, the first node whose class is in
    ``stop``, as (class, node)."""
    out = []
    for kid in seq(node.children()):
        cls = kid.getClass().getSimpleName()
        out += [(cls, kid)] if cls in stop else _first_below(kid, stop)
    return out


def test_perplexity_gate_windows_consume_aggregates(spark):
    """The de-skew invariant, structurally: on every path down from each
    Window node, the first aggregate or scan (parquet or pinned) met is an
    aggregate grouped by exactly the window's partition and order columns.
    The window runs over a value histogram, never over raw or per-doc
    rows."""
    from syntheticdata_pipeline__spark.plans import load_all

    df = load_all()["unigram_perplexity_gate"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan()
    windows = [n for _, cls, n in walk(plan) if cls == "WindowExec"]
    assert windows, "the perplexity gate lost its CDF window"
    stop = (*AGGREGATES, "FileSourceScanExec", "RDDScanExec")
    for window in windows:
        cols = sorted(
            [e.name() for e in seq(window.partitionSpec())]
            + [o.child().name() for o in seq(window.orderSpec())]
        )
        below = _first_below(window, stop)
        assert below, f"window over {cols} reads no aggregate or scan"
        for cls, node in below:
            assert cls in AGGREGATES, f"window over {cols} reads a {cls}, not a histogram"
            keys = sorted(e.name() for e in seq(node.groupingExpressions()))
            assert keys == cols, f"window over {cols} reads an aggregate by {keys}, not a histogram"


@dataclass
class _Pin:
    site: tuple[str, str, int]  # (module path, function, line) of the pin() call
    rdd: int  # id of the RDD the pinned relation reads
    input_rdds: list[int]  # pinned RDDs read by the pin's own input plan


@dataclass
class _Built:
    plan: Walked | None = None  # the walked final physical plan (None when the build raised)
    error: str = ""
    pins: list[_Pin] = field(default_factory=list)
    final_rdds: list[int] = field(default_factory=list)


def _rdd_refs(plan) -> list[int]:
    """Ids of the existing RDDs (pins among them) a plan reads, once per
    reference."""
    return [node.rdd().id() for _, cls, node in walk(plan) if cls in ("LogicalRDD", "RDDScanExec")]


@pytest.fixture(scope="module")
def catalog(spark) -> dict[str, _Built]:
    """Build every batch query once at smoke scale, keeping its walked
    final physical plan and, for contract 5, every pin it made and the pinned
    RDDs its final optimized plan reads."""
    from pyspark.sql.classic.dataframe import DataFrame

    from syntheticdata_pipeline__spark import session
    from syntheticdata_pipeline__spark.plans import load_all

    checkpoint = DataFrame.localCheckpoint
    current: list[_Pin] = []

    def recording(df, *args, **kwargs):
        out = checkpoint(df, *args, **kwargs)
        if sys._getframe(1).f_code is session.pin.__code__:
            call = sys._getframe(2)
            site = (
                os.path.relpath(call.f_code.co_filename, _PKG),
                call.f_code.co_name,
                call.f_lineno,
            )
            current.append(
                _Pin(
                    site,
                    out._jdf.queryExecution().analyzed().rdd().id(),
                    _rdd_refs(df._jdf.queryExecution().optimizedPlan()),
                )
            )
        return out

    built: dict[str, _Built] = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "localCheckpoint", recording)
        for name, spec in sorted(load_all().items()):
            if "stream" in name:
                continue  # streaming plans need execution to materialize
            current.clear()
            b = built[name] = _Built()
            try:
                df = spec.build(spark, SF_SMOKE)
                b.plan = walk_physical(df)
                b.final_rdds = _rdd_refs(df._jdf.queryExecution().optimizedPlan())
            except Exception as e:
                b.error = type(e).__name__
            b.pins = list(current)
    return built


# Queries whose plans hold text that depends on expression ids: the
# distinct-aggregate rewrite's groups (q21, report), scan filters past
# Spark's 100-character metadata cut (q22) and lambda variables (ann_lsh).
_ID_SENSITIVE = [
    "tpch_q21_waiting_suppliers",
    "report_order_fulfillment",
    "tpch_q22_dormant_customers",
    "ann_lsh_topk",
]


@pytest.fixture(scope="module")
def rebuilt(spark, catalog) -> dict[str, Walked]:
    """The id-sensitive queries built again, at later expression ids."""
    return capture(spark, SF_SMOKE, set(_ID_SENSITIVE))


@pytest.mark.parametrize("name", _ID_SENSITIVE)
def test_fingerprint_ignores_expression_ids(catalog, rebuilt, name):
    first = _final(catalog, name)
    assert "..." not in first.dump, "scan metadata abbreviated"
    assert rebuilt[name].dump == first.dump
    assert rebuilt[name].fingerprint == first.fingerprint


def test_diff_names_exactly_the_changed_query(catalog, rebuilt, tmp_path, capsys):
    write_dumps({name: _final(catalog, name) for name in _ID_SENSITIVE}, str(tmp_path))
    assert print_diff(rebuilt, str(tmp_path)) == 0
    assert capsys.readouterr().out.splitlines()[-1] == "plans unchanged (4 queries)"
    with open(tmp_path / "ann_lsh_topk.txt", "a") as f:
        f.write("Filter false\n")
    assert print_diff(rebuilt, str(tmp_path)) == 1
    assert capsys.readouterr().out.splitlines()[-1] == "plans unchanged except 1 of 4: ann_lsh_topk"


def test_catalog_wide_nlj_whitelist(catalog):
    """Sweep the catalog: any query NOT on the allowed list must be
    NLJ/cartesian-free. (Full-catalog sweep lives in PLANS_AUDIT.md;
    this guards the invariant in CI at smoke scale.)"""
    flagged = []
    raised = []
    for name, b in catalog.items():
        if name in _NLJ_ALLOWED:
            continue
        if b.error:
            raised.append(f"{name}: {b.error}")
            continue
        if _nlj(b.plan):
            flagged.append(name)
    # A query whose build raises silently drops out of the NLJ guard, so
    # raising is itself a failure unless the query is on a known
    # env-gated list (currently empty: every batch query builds in this
    # container — the boto3/protobuf gates only affect non-catalog ops).
    known_env_gated: set[str] = set()
    unexpected = [r for r in raised if r.split(":")[0] not in known_env_gated]
    assert not unexpected, f"catalog builds raised (guard coverage lost): {unexpected}"
    assert not flagged, f"unlisted cartesian/NLJ in: {flagged}"


# Pins kept for something other than reuse, keyed (module, function).
_PIN_BARRIERS = {
    # The token array is read once, but the pin stops CollapseProject from
    # re-inlining the tokenizer into the five gopher rule expressions (the
    # tokenizer ran 5x per row before it, r13).
    ("plans/quality_q.py", "gopher_quality_flags"),
}


def _package_calls(attr: str) -> list[tuple[str, str, int]]:
    """(module path, enclosing function, line) of every call to ``attr``
    (as a name or a method) in the package's code."""
    sites = []
    for root, _, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read())

            def visit(node, func):
                for child in ast.iter_child_nodes(node):
                    inner = func
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        inner = child.name
                    elif isinstance(child, ast.Call):
                        f = child.func
                        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                        if name == attr:
                            sites.append((os.path.relpath(path, _PKG), func, child.lineno))
                    visit(child, inner)

            visit(tree, "<module>")
    return sites


def test_every_pin_is_referenced_twice(catalog):
    """Contract 5: a pin is worth its materialization only when its
    result is read more than once (PERF.md log #7). For every pin a
    query makes, count the references to its RDD in the query's final
    optimized plan plus the input plans of the pins made after it; each
    ``pin`` call site must reach 2 in at least one catalog query, and
    every call site must be reached by some catalog query."""
    best: dict[tuple[str, str, int], tuple[int, str]] = {}
    for name, b in catalog.items():
        refs = Counter(b.final_rdds)
        for p in b.pins:
            refs.update(p.input_rdds)
        for p in b.pins:
            if refs[p.rdd] > best.get(p.site, (-1, ""))[0]:
                best[p.site] = (refs[p.rdd], name)
    sites = set(_package_calls("pin"))
    assert set(best) <= sites, f"pins recorded off the scanned call sites: {set(best) - sites}"
    barriers = {s for s in sites if s[:2] in _PIN_BARRIERS}
    assert {s[:2] for s in barriers} == _PIN_BARRIERS, "a barrier entry names no pin call"
    unreached = sorted(sites - set(best))
    assert not unreached, f"pin call sites no catalog query reaches: {unreached}"
    single = sorted(
        f"{s[0]}:{s[2]} ({s[1]}): {n} reference(s), best in {q}"
        for s, (n, q) in best.items()
        if n < 2 and s not in barriers
    )
    assert not single, "pins referenced fewer than twice:\n" + "\n".join(single)


def test_no_bare_local_checkpoint():
    """Every lineage pin goes through ``session.pin``; the only other
    ``localCheckpoint`` is the upsert writer's snapshot of the rows it is
    about to overwrite, which correctness needs."""
    calls = sorted(f"{m}:{line} ({fn})" for m, fn, line in _package_calls("localCheckpoint"))
    assert [c.split(":")[0] for c in calls] == ["session.py", "sources/readers.py"], calls


# How a signature becomes LSH band rows, written as source text: the
# Spark stack of band rows, a Spark slice-join band key, and the DuckDB
# slice-join band key. Each may appear only in its one helper.
_BAND_HELPERS = {
    r"\bstack\(": {("operators/neardup.py", "_band_rows")},
    r'concat_ws\(""\s*,\s*F\.slice\(': set(),
    r"array_to_string\([^(),]*\[[^\]]*\], ''\)": {("operators/neardup.py", "band_key_sql")},
}


# The recursive closure (the ``reach`` CTE and its recursive step) and
# the near-dup edge rule, in either engine's spelling.
_CLUSTER_HELPERS = {
    r"\breach\s*\(|\bFROM reach\b": {("operators/clusters.py", "connected_components_sql")},
    r"jac\"?\)?\s*>=\s*\{?_CLUSTER_JAC\b": {
        ("plans/docs_q.py", "_near_dup_edges"),
        ("plans/docs_q.py", "_NEAR_DUP_EDGES_ORACLE"),
    },
}


# Writing a fixture table or linking an untouched one.
_FIXTURE_HELPERS = {
    r"\bCOPY \(|\bos\.symlink\(": {("tests/sweep_membership.py", "striped_dir")},
}


# The fixed-point sum's scale as a literal (SQL decimal, or a Python
# float multiplied, divided or lit; a bare ``or 1e9`` default is another
# rule), a computed power of ten, and DuckDB's truncating BIGINT cast.
_FIXED_POINT_HELPERS = {
    r"\b10{9}(?:0{3})?\b|(?:[*/]\s*|lit\()1e(?:9|12)\b": set(),
    r"\b10(?:\.0)?\s*\*\*": {
        ("functions/determinism.py", f)
        for f in ("fixed_term", "fixed_term_sql", "fixed_unscale", "fixed_unscale_sql")
    },
    r"CAST\(\s*trunc\(": {("functions/determinism.py", "fixed_term_sql")},
}


# A window partitioned by query_id (the per-query top-k rank) in either
# engine, and a bucket XOR with a shifted plane bit (the multi-probe
# list). neardup's SimHash popcount XORs two hashes, not a plane bit.
_ANN_HELPERS = {
    r"PARTITION BY (?:\w+\.)?query_id\b|partitionBy\(\s*[\"']query_id\b": {
        ("operators/similarity.py", "rank_topk"),
        ("operators/similarity.py", "rank_topk_sql"),
    },
    r"(?:\bxor|bitwiseXOR)\([^)]*\b1\s*<<": {
        ("operators/similarity.py", "probe_buckets"),
        ("operators/similarity.py", "probe_buckets_sql"),
    },
}


def _source_sites(patterns, base=_PKG, dirs=(".",)) -> dict[str, set[tuple[str, str]]]:
    """Where each regex matches a source line under ``dirs`` of ``base``:
    the (file relative to ``base``, name) of the innermost enclosing
    function or module-level assignment."""
    found: dict[str, set[tuple[str, str]]] = {p: set() for p in patterns}
    for root, _, files in (w for d in dirs for w in os.walk(os.path.join(base, d))):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                src = f.read()
            tree = ast.parse(src)
            scopes = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ] + [
                (n.lineno, n.end_lineno, n.targets[0].id)
                for n in tree.body
                if isinstance(n, ast.Assign) and isinstance(n.targets[0], ast.Name)
            ]
            for lineno, line in enumerate(src.splitlines(), 1):
                for pattern in patterns:
                    if re.search(pattern, line):
                        inner = [f for f in scopes if f[0] <= lineno <= f[1]]
                        name = max(inner)[2] if inner else "<module>"
                        found[pattern].add((os.path.relpath(path, base), name))
    return found


def test_band_keys_have_one_home():
    """LSH band keys come only from ``neardup.band_key``/``band_key_sql``
    and band rows only from ``neardup._band_rows`` (one banding decision,
    not one copy per query)."""
    assert _source_sites(_BAND_HELPERS) == _BAND_HELPERS


def test_cluster_closure_has_one_home():
    """Oracle transitive closures come only from
    ``clusters.connected_components_sql``, and the near-dup edge rule
    (verified pair with jac >= _CLUSTER_JAC) only from docs_q's engine
    pair ``_near_dup_edges`` / ``_NEAR_DUP_EDGES_ORACLE``."""
    assert _source_sites(_CLUSTER_HELPERS) == _CLUSTER_HELPERS


def test_fixed_point_sum_has_one_home():
    """Every order-free sum of computed doubles goes through
    ``determinism.fixed_sum``/``fixed_sum_sql`` (or their term and
    unscale halves): no query spells the scale or the truncating cast."""
    assert _source_sites(_FIXED_POINT_HELPERS) == _FIXED_POINT_HELPERS


def test_ann_topk_has_one_home():
    """Every ANN top-k ends in ``similarity.rank_topk``/``rank_topk_sql``
    and every multi-probe list comes from ``similarity.probe_buckets``/
    ``probe_buckets_sql``: no query spells the rank window or the probe
    XOR."""
    assert _source_sites(_ANN_HELPERS) == _ANN_HELPERS


def test_fixtures_have_one_builder():
    """Every hostile fixture directory in ``tests/`` and ``tools/`` is
    built by ``sweep_membership.striped_dir`` from a ``STRIPES`` row."""
    assert _source_sites(_FIXTURE_HELPERS, _REPO, ("tests", "tools")) == _FIXTURE_HELPERS
