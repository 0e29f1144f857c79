"""The identical-set collapse must be a pure plan optimization: pair
output with collapse on == off, on a corpus with planted exact
duplicates, fuzzed near-duplicates, and degenerate docs."""

from __future__ import annotations

import random

import pytest

from syntheticdata_pipeline__spark.operators.neardup import (
    jaccard_pairs_inverted,
    simhash_hamming_pairs,
)


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    doc_id = 0
    for base in range(12):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        text = " ".join(words)
        # exact replicas (1-4 copies) — the case the collapse targets
        for _ in range(rng.randint(1, 4)):
            rows.append((doc_id, text, "xx"))
            doc_id += 1
        # a near-duplicate: one word changed
        if len(words) > 2:
            mutated = list(words)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(mutated), "xx"))
            doc_id += 1
    # degenerate docs: empty and single-word
    rows.append((doc_id, "", "xx"))
    rows.append((doc_id + 1, "", "xx"))
    rows.append((doc_id + 2, "solo", "xx"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _pairs(df):
    return {tuple(r) for r in df.collect()}


def test_jaccard_collapse_equivalence(dup_corpus):
    on = jaccard_pairs_inverted(dup_corpus, collapse_identical=True)
    off = jaccard_pairs_inverted(dup_corpus, collapse_identical=False)
    got, want = _pairs(on), _pairs(off)
    assert got == want and len(want) > 0


def test_jaccard_collapse_equivalence_with_df_cap(dup_corpus):
    on = jaccard_pairs_inverted(dup_corpus, collapse_identical=True, df_cap=3)
    off = jaccard_pairs_inverted(dup_corpus, collapse_identical=False, df_cap=3)
    assert _pairs(on) == _pairs(off)


def test_simhash_collapse_equivalence(dup_corpus):
    on = simhash_hamming_pairs(dup_corpus, collapse_identical=True)
    off = simhash_hamming_pairs(dup_corpus, collapse_identical=False)
    got, want = _pairs(on), _pairs(off)
    assert got == want and len(want) > 0


def test_separator_in_element_never_collides(spark):
    """r15 (r14 ADVICE high): a \\x01 INSIDE a token must not make two
    distinct sets fingerprint identically. Before the double-separator
    key (md5 of the \\x01-join concatenated with md5 of the \\x02-join),
    {'abcd\\x01efgh'} and {'abcd','efgh'} encoded to the same md5,
    collapsed into one group, and emitted a phantom jac=1.0 pair the
    base equi-join can never produce."""
    from pyspark.sql import functions as F

    from syntheticdata_pipeline__spark.operators.neardup import (
        collapse_identical_sets,
    )

    rows = [
        (0, ["abcd\x01efgh"]),
        (1, ["abcd", "efgh"]),
        # positive control: truly identical sets still collapse
        (2, ["abcd", "efgh"]),
        # more forgery shapes: [''] vs ['', '']; then a prefix-ambiguous
        # pair aimed at a length-prefixed encoding, which was considered
        # but not shipped. Rows 5/6 stay because any future key encoding
        # must keep them apart too.
        (3, [""]),
        (4, ["", ""]),
        (5, ["1:a"]),
        (6, ["a"]),
    ]
    df = spark.createDataFrame(rows, "id long, sh array<string>")
    groups = collapse_identical_sets(df, id_col="id", set_col="sh").collect()
    by_rep = {r["id"]: sorted(r["members"]) for r in groups}
    assert by_rep[1] == [1, 2]  # identical sets still collapse
    assert by_rep[0] == [0]  # the forged set stays its own group
    assert by_rep[3] == [3] and by_rep[4] == [4]
    assert by_rep[5] == [5] and by_rep[6] == [6]
    assert len(groups) == 6


def test_collapse_equivalence_under_separator_texts(spark):
    """End-to-end: docs whose TEXT contains \\x01 (so shingles carry it)
    must produce identical pair sets with the collapse on and off."""
    rows = [
        (0, "abcd\x01efgh w x", "xx"),
        (1, "abcd efgh w x", "xx"),
        (2, "abcd efgh w x", "xx"),
        (3, "q r s t", "xx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    on = jaccard_pairs_inverted(df, collapse_identical=True, threshold=0.01)
    off = jaccard_pairs_inverted(df, collapse_identical=False, threshold=0.01)
    assert _pairs(on) == _pairs(off) and len(_pairs(off)) > 0


def _collapse_call_sites() -> set[tuple[str, str]]:
    """(file name, innermost enclosing function) of every in-package call
    to collapse_identical_sets, found by parsing the source."""
    import ast
    import pathlib

    import syntheticdata_pipeline__spark as pkg

    sites = set()

    def walk(node, path, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                if getattr(f, "id", getattr(f, "attr", None)) == "collapse_identical_sets":
                    sites.add((path.name, func))
            walk(child, path, child.name if isinstance(child, ast.FunctionDef) else func)

    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        walk(ast.parse(path.read_text()), path, None)
    return sites


# one catalog query per call site; the test below fails if a new call
# site is not reached from this list
_COLLAPSE_CALLER_QUERIES = (
    "minhash_lsh_candidates",
    "jaccard_prefix_filter_join",
    "lsh_band_sweep",
    "ngram_jaccard_pairs",
    "substring_dup_pairs",
    "substring_max_span",
    "token_overlap_pairs",
)


def test_every_collapse_caller_filters_empty_sets(spark, monkeypatch):
    """collapse_identical_sets requires non-empty sets: [] and [''] (and
    a NULL set) share one fingerprint, so a caller that let empty sets
    through would get phantom within-group pairs. Every in-repo call
    site must filter size(set) > 0 (or a stricter minimum) upstream;
    this reads the filter off the analyzed plan of the DataFrame each
    caller actually passes in."""
    import inspect
    import re

    import syntheticdata_pipeline__spark.operators.neardup as nd
    from syntheticdata_pipeline__spark.plans import load_all

    from .conftest import SF_SMOKE

    class Captured(Exception):
        pass

    def capture(sets_df, id_col="id", set_col="sh", **_kw):
        caller = inspect.stack()[1]
        site = (caller.filename.rsplit("/", 1)[-1], caller.function)
        raise Captured(site, sets_df, set_col)

    monkeypatch.setattr(nd, "collapse_identical_sets", capture)
    registry = load_all()
    seen = set()
    for name in _COLLAPSE_CALLER_QUERIES:
        with pytest.raises(Captured) as exc:
            registry[name].build(spark, SF_SMOKE)
        site, sets_df, set_col = exc.value.args
        seen.add(site)
        plan = sets_df._jdf.queryExecution().analyzed().toString()
        bounds = re.findall(
            rf"size\({set_col}#\d+, (?:true|false)\) (>=?) (\d+)", plan
        )
        assert any(op == ">" or int(n) >= 1 for op, n in bounds), (name, site, plan)
    assert seen == _collapse_call_sites()
