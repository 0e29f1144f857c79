"""Shared machinery of the hostile-input batteries and the depth sweep.

**Fixtures.** ``STRIPES`` holds every hostile layout the committed
batteries (``tests/test_*``) and ``tools/hostile_depth_sweep.py`` use,
each written once: ``label -> {table: DuckDB SELECT over the table's own
name}``. ``striped_dir(src, dst, STRIPES[label])`` is the only fixture
builder: it writes each rewritten table to ``dst`` and symlinks the
rest of ``src``, so the same layout can be laid over any scale factor.
A battery binds ``x_dir = striped_fixture(label)`` for the sf0.001
layout.

**Membership** is derived from the registry at collection time so a
sweep cannot silently rot — from BOTH of:

1. the build function's source (quoted table names, plus explicit
   helper markers like ``_E(spark`` for loaders that hide the quoted
   name), and
2. the query's rendered oracle SQL (``\\b<table>\\b`` word matches —
   catches queries that reach a table only through a composed builder
   or helper CTE, the gap the r9 ADVICE flagged: a refactor that moves
   a read behind a helper used to shrink a battery with no test
   failing).

Each caller also asserts a FLOOR on member count (the catalog is frozen
at 190, so current membership is a stable lower bound): if a refactor
drops the count below the floor, the battery fails loudly at collection
instead of silently thinning.
"""

from __future__ import annotations

import inspect
import os
import re
import shutil

import pytest

from tools.check_oracle import TABLES, duck_connect


def striped_dir(src: str, dst: str, rewrites: dict[str, str]) -> str:
    """Lay ``rewrites`` over the tables of ``src`` in ``dst``: each
    rewritten table is its SELECT (run over ``src``) written as parquet,
    every other table a symlink to the original. Returns ``dst``."""
    os.makedirs(dst, exist_ok=True)
    con = duck_connect(src)
    try:
        for t in TABLES:
            path = os.path.join(src, f"{t}.parquet")
            if t in rewrites:
                con.execute(f"COPY ({rewrites[t]}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
            elif os.path.exists(path):
                os.symlink(path, os.path.join(dst, f"{t}.parquet"))
    finally:
        con.close()
    return dst


def striped_fixture(label: str):
    """A module-scoped fixture yielding sf0.001 with the
    ``STRIPES[label]`` layout laid over it; bind it to the fixture's
    name in the battery module."""

    @pytest.fixture(scope="module")
    def fixture(tmp_path_factory):
        from tests.conftest import SF_SMOKE

        d = striped_dir(SF_SMOKE, str(tmp_path_factory.mktemp("striped")), STRIPES[label])
        yield d
        shutil.rmtree(d, ignore_errors=True)

    return fixture


def _replace(table: str, *cols: str) -> str:
    return f"SELECT * REPLACE ({', '.join(cols)}) FROM {table}"


def _empty(*tables: str) -> dict[str, str]:
    """Zero-row tables with the schema preserved."""
    return {t: f"SELECT * FROM {t} WHERE 1=0" for t in tables}


def _cases(expr: str, values: list[str], col: str) -> str:
    """``col`` replaced by the i-th literal where ``expr`` = i."""
    arms = " ".join(f"WHEN {i} THEN '{s.replace(chr(39), chr(39) * 2)}'" for i, s in enumerate(values))
    return f"CASE {expr} {arms} ELSE {col} END AS {col}"


# NULL stripes: table -> (row key, ((column, modulus), ...)). Moduli are
# coprime within a table so single- and multi-column-NULL rows occur.
_NULLED = {
    "documents": ("doc_id", (("lang", 7), ("source", 11), ("n_chars", 13))),
    "lineitem": (
        "(l_orderkey*10 + l_linenumber)",
        (("l_quantity", 13), ("l_extendedprice", 17), ("l_discount", 19),
         ("l_returnflag", 23), ("l_shipdate", 29), ("l_suppkey", 31)),
    ),
    "orders": (
        "o_orderkey",
        (("o_custkey", 17), ("o_totalprice", 13), ("o_orderstatus", 19),
         ("o_orderdate", 23), ("o_orderpriority", 29)),
    ),
    "events": ("event_id", (("user_id", 17), ("value", 13), ("event_type", 19), ("props", 23))),
    "customer": (
        "c_custkey",
        (("c_nationkey", 7), ("c_acctbal", 11), ("c_mktsegment", 13), ("c_name", 17),
         ("c_custkey", 19)),
    ),
    "supplier": ("s_suppkey", (("s_nationkey", 3), ("s_acctbal", 4), ("s_name", 5))),
    "part": (
        "p_partkey",
        (("p_brand", 7), ("p_type", 11), ("p_size", 13), ("p_retailprice", 17), ("p_name", 19)),
    ),
    "nation": ("n_nationkey", (("n_regionkey", 5), ("n_name", 7))),
    "region": ("r_regionkey", (("r_regionkey", 2), ("r_name", 3))),
}


def _null_cols(table: str, only: tuple[str, ...] = ()) -> list[str]:
    key, cols = _NULLED[table]
    return [
        f"CASE WHEN {key} % {m} = 0 THEN NULL ELSE {c} END AS {c}"
        for c, m in cols
        if not only or c in only
    ]


def _nulled(*tables: str) -> dict[str, str]:
    return {t: _replace(t, *_null_cols(t)) for t in tables}


# Non-finite stripes: NaN / +inf / -inf on three consecutive residues of
# a %23 cycle; table -> ((column, row key), ...), keys offset per column.
_NONFINITE = {
    "events": (("value", "event_id"),),
    "lineitem": (
        ("l_quantity", "(l_orderkey*10+l_linenumber)"),
        ("l_extendedprice", "(l_orderkey*10+l_linenumber+3)"),
        ("l_discount", "(l_orderkey*10+l_linenumber+11)"),
        ("l_tax", "(l_orderkey*10+l_linenumber+17)"),
    ),
    "orders": (("o_totalprice", "o_orderkey"),),
    "customer": (("c_acctbal", "c_custkey"),),
    "supplier": (("s_acctbal", "s_suppkey"),),
    "part": (("p_retailprice", "p_partkey"),),
}


def _nonfinite(*tables: str) -> dict[str, str]:
    return {
        t: _replace(
            t,
            *(
                f"CASE WHEN {k} % 23 = 7 THEN 'nan'::DOUBLE"
                f" WHEN {k} % 23 = 8 THEN 'inf'::DOUBLE"
                f" WHEN {k} % 23 = 9 THEN '-inf'::DOUBLE"
                f" ELSE {c} END AS {c}"
                for c, k in _NONFINITE[t]
            ),
        )
        for t in tables
    }


# NULL ts (%7), pre-epoch 1969 µs-laden (%11), far-future 2342 past the
# datetime64[ns] ceiling (%13), one shared duplicate instant (%5); the
# CASE arms are ordered, first match wins.
_HOSTILE_TS = (
    "CASE"
    " WHEN event_id % 7 = 0 THEN NULL"
    " WHEN event_id % 11 = 0 THEN"
    " TIMESTAMP '1969-07-20 20:17:40.123456'"
    " - to_days(CAST(event_id % 97 AS INTEGER))"
    " - to_microseconds(CAST(event_id % 999983 AS BIGINT))"
    " WHEN event_id % 13 = 0 THEN"
    " TIMESTAMP '2342-06-01 00:00:00.999999'"
    " + to_hours(CAST(event_id % 43 AS INTEGER))"
    " WHEN event_id % 5 = 0 THEN TIMESTAMP '2024-01-15 12:00:00'"
    " ELSE ts END AS ts"
)

_MAX_I64 = 2**63 - 1

# Codepoint-level hostility for documents.text on doc_id % 37
# (tests/test_text_adversarial.py). Explicit escapes — the hostile
# codepoints are invisible or bidi-reordering, so literals would be
# unreviewable.
_HOSTILE_TEXT = [
    # 0: ZWSP / ZWNJ / ZWJ inside words
    "zero\u200bwidth\u200bjoined tokens zero\u200cwidth\u200djoined again and again",
    # 1: RLO ... PDF bidi controls
    "visible \u202etrick\u202c order visible \u202etrick\u202c order here",
    # 2: one huge unbroken token
    ("x" * 2000) + " tail",
    # 3: doubled/leading/trailing mixed-whitespace runs
    "  doubled  spaces\tand\ttabs\rplus  trailing  runs   ",
    # 4: NFC 'caf\u00e9' vs NFD 'cafe' + combining acute in one doc
    "caf\u00e9 nfc then cafe\u0301 nfd caf\u00e9 nfc then cafe\u0301 nfd",
    # 5: astral-plane mathematical alphanumerics (non-BMP)
    "\U0001d54a\U0001d56d\U0001d552\U0001d563\U0001d55c math "
    "\U0001d54a\U0001d56d\U0001d552\U0001d563\U0001d55c alphanumerics twice",
    # 6: latin 'a' vs cyrillic U+0430 confusables
    "pascal p\u0430scal pascal p\u0430scal confusable pair test words",
    # 7: single repeated character
    "a" * 600,
    # 8: empty string (not NULL)
    "",
    # 9: C0 controls (BEL/VT/FF) embedded mid-token
    "bell\u0007tone vt\u000bsplit ff\u000cfeed bell\u0007tone again",
    # 10: non-space whitespace at the EDGES - trim() removes only ' '
    #     on both engines, so a leading tab/VT must yield a leading
    #     EMPTY token identically (round-11 follow-up to the WS_CLASS
    #     fix: pins the trim/split interaction, not just the class)
    "\t\u000bleading ws edges trailing\u000b\t",
    # 11: case-mapping divergers (round 11) — Java/Spark lower() applies
    #     Unicode FULL lowercase (SpecialCasing: U+0130 'İ' → 'i'+U+0307,
    #     Final_Sigma Σ → ς) while DuckDB lower() applies the SIMPLE
    #     per-codepoint map ('İ' → 'i', Σ → σ always); upper() diverges
    #     wider (ß → SS vs ẞ, ligature ﬁ → FI vs ﬁ). Any query that
    #     case-folds document text must fold through a twinned
    #     deterministic fold, not bare lower().
    "İstanbul ΟΔΟΣ ΣΙΣΥΦΟΣ straße ẞAL ﬁle ﬂow İİ ΑΣ σς İstanbul ΟΔΟΣ",
]

# Hostile JSON for events.props on event_id % 31
# (tests/test_props_adversarial.py).
_HOSTILE_PROPS = [
    '{"k":',                            # truncated object
    "",                                 # empty string (not NULL)
    "[]",                               # array root
    '{"k":1,"k":2}',                    # duplicate keys
    '{"k": "12"}',                      # quoted number
    '{"k": 1e999}',                     # double overflow literal
    '{"k": null}',                      # explicit null value
    "null",                             # bare null root
    "{ }",                              # whitespace-only object
    '{"k": 9223372036854775808}',       # INT64_MAX + 1
    # round-11 additions (hostile-text battery follow-up): VT is NOT
    # legal JSON whitespace (spec: space/\t/\n/\r only), so a VT after
    # the colon must invalidate the payload on BOTH engines — and the
    # oracle's RE2 '\s*' (which excludes VT) must not extract k either;
    # the legal-whitespace mix must parse to k=7 on both.
    '{"k":\u000b7}',                    # VT pseudo-whitespace → invalid
    '{"k":\t 7\r\n}',                   # legal JSON whitespace mix → k=7
    # pretty-printed object (round-11 regex-flavor sweep): the
    # oracle's greedy k-extraction prefix was '.*', and RE2's '.'
    # excludes newline, so a multi-line object parsed k=7 in the
    # engine but NULL in the oracle; the prefix is now [\s\S]*
    '{\n  "k": 7,\n  "other": "x"\n}',
]

_PLANT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

STRIPES: dict[str, dict[str, str]] = {
    # -- the depth sweep's per-axis stripes (also committed batteries) --
    "nullmeta(documents)": _nulled("documents"),
    "nullfacts(lineitem+orders)": _nulled("lineitem", "orders"),
    "nullevents(events)": _nulled("events"),
    "nulldims(customer+supplier+part+nation+region)": _nulled(
        "customer", "supplier", "part", "nation", "region"
    ),
    "nonfinite(events.value)": _nonfinite("events"),
    "nonfinite(lineitem+orders measures)": _nonfinite("lineitem", "orders"),
    "nonfinite(embedding components)": {
        "embeddings": _replace(
            "embeddings",
            "CASE WHEN vec_id % 23 = 7 THEN list_concat(['nan'::FLOAT], embedding[2:]) "
            "WHEN vec_id % 23 = 8 THEN list_concat(['inf'::FLOAT], embedding[2:]) "
            "WHEN vec_id % 23 = 9 THEN list_concat(['-inf'::FLOAT], embedding[2:]) "
            "ELSE embedding END AS embedding",
        )
    },
    # Unicode-hazard stripe (r13): the codepoint battery's hazard classes
    # planted INSIDE real corpus text (every 13th doc), so tokenize →
    # shingle → hash → band/grid sees them colliding with real data.
    "unicode(documents.text)": {
        "documents": _replace(
            "documents",
            "CASE doc_id % 13"
            " WHEN 0 THEN text || ' nbsp' || chr(160) || 'joined'"
            " WHEN 1 THEN text || ' e' || chr(769) || ' combining'"
            " WHEN 2 THEN text || ' 中文文本去重'"
            " WHEN 3 THEN text || ' \U0001f642\U0001f680 emoji'"
            " WHEN 4 THEN chr(11) || chr(11) || text"
            " WHEN 5 THEN 'zero' || chr(8203) || 'width ' || text"
            " WHEN 6 THEN chr(8207) || text"
            " WHEN 7 THEN text || ' сопу'"
            " WHEN 8 THEN 'cafe' || chr(769) || ' ' || text"
            " WHEN 9 THEN text || chr(1) || 'ctrl'"
            " WHEN 10 THEN text || ' ' || chr(304) || 'stanbul'"
            " WHEN 11 THEN text || ' \U0001d7cf\U0001d7d0'"
            " ELSE text END AS text",
        )
    },
    "hostile-ts(events.ts)": {"events": _replace("events", _HOSTILE_TS)},
    # hostile-ts and nullevents touch disjoint events columns, so their
    # composition has every hostility co-occurring in one table.
    "combo-events(hostile-ts + null columns at once)": {
        "events": _replace("events", _HOSTILE_TS, *_null_cols("events"))
    },
    # -- battery-only layouts --
    "nonfinite(customer+supplier+part measures)": _nonfinite("customer", "supplier", "part"),
    "empty(events)": _empty("events"),
    "empty(embeddings)": _empty("embeddings"),
    "empty(documents+embeddings)": _empty("documents", "embeddings"),
    "empty(lineitem+orders)": _empty("lineitem", "orders"),
    "empty(customer+supplier+part+nation)": _empty("customer", "supplier", "part", "nation"),
    # whole-NULL vector %17, one NULL component %19, NULL label %13; a
    # NULL element nullifies the vector at load on both engines (DuckDB's
    # bare bool_and skipped NULL elements where Spark's forall went
    # three-valued, r9 ADVICE #1)
    "nullvec(embeddings)": {
        "embeddings": _replace(
            "embeddings",
            "CASE WHEN vec_id % 17 = 0 THEN NULL"
            " WHEN vec_id % 19 = 0 THEN list_transform(embedding,"
            " (x, i) -> CASE WHEN i = vec_id % 64 + 1 THEN NULL ELSE x END)"
            " ELSE embedding END AS embedding",
            "CASE WHEN vec_id % 13 = 0 THEN NULL ELSE label END AS label",
        )
    },
    # zero %17, empty [] %13, ragged short %19 / long %23, all-1e-30 %29
    "degenerate(embeddings)": {
        "embeddings": _replace(
            "embeddings",
            "CASE"
            " WHEN vec_id % 17 = 0 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))"
            " WHEN vec_id % 13 = 0 THEN CAST([] AS FLOAT[])"
            " WHEN vec_id % 19 = 0 THEN embedding[1:32]"
            " WHEN vec_id % 23 = 0 THEN list_concat(embedding, embedding[1:32])"
            " WHEN vec_id % 29 = 0 THEN list_transform(embedding, x -> CAST(1e-30 AS FLOAT))"
            " ELSE embedding END AS embedding",
        )
    },
    # domain edges on coprime residues: value %7, ts %11, user_id %13
    "extreme(events)": {
        "events": _replace(
            "events",
            "CASE event_id % 7 WHEN 0 THEN -0.0 WHEN 1 THEN 1.7e308 WHEN 2 THEN -1.7e308"
            " WHEN 3 THEN 5e-324 WHEN 4 THEN 1e-310 ELSE value END AS value",
            "CASE event_id % 11 WHEN 0 THEN TIMESTAMP '0001-01-01 00:00:00'"
            " WHEN 1 THEN TIMESTAMP '9999-12-31 23:59:59.999999'"
            " WHEN 2 THEN TIMESTAMP '1969-12-31 23:59:59.000001' ELSE ts END AS ts",
            f"CASE WHEN event_id % 13 = 0 THEN {_MAX_I64} ELSE user_id END AS user_id",
        )
    },
    "extreme(documents.n_chars)": {
        "documents": _replace(
            "documents",
            f"CASE doc_id % 7 WHEN 0 THEN {_MAX_I64} WHEN 1 THEN 0 WHEN 2 THEN -1"
            " ELSE n_chars END AS n_chars",
        )
    },
    "extreme(lineitem+orders)": {
        "lineitem": _replace(
            "lineitem",
            "CASE (l_orderkey*10+l_linenumber) % 41 WHEN 0 THEN 1.7e308 WHEN 1 THEN -0.0"
            " WHEN 2 THEN 5e-324 ELSE l_quantity END AS l_quantity",
            "CASE (l_orderkey*10+l_linenumber) % 43 WHEN 0 THEN 1.7e308 WHEN 1 THEN -1.7e308"
            " ELSE l_extendedprice END AS l_extendedprice",
            "CASE (l_orderkey*10+l_linenumber) % 47 WHEN 0 THEN -0.0 WHEN 1 THEN 1e-310"
            " ELSE l_discount END AS l_discount",
            "CASE (l_orderkey*10+l_linenumber) % 53 WHEN 0 THEN TIMESTAMP '9999-12-31 23:59:59'"
            " WHEN 1 THEN TIMESTAMP '0001-01-01 00:00:00' ELSE l_shipdate END AS l_shipdate",
        ),
        "orders": _replace(
            "orders",
            "CASE o_orderkey % 17 WHEN 0 THEN 1.7e308 WHEN 1 THEN -0.0"
            " ELSE o_totalprice END AS o_totalprice",
            "CASE o_orderkey % 19 WHEN 0 THEN TIMESTAMP '9999-12-31 23:59:59'"
            " WHEN 1 THEN TIMESTAMP '0001-01-01 00:00:00' ELSE o_orderdate END AS o_orderdate",
        ),
    },
    # finite float32 edges: one ±3e38 component, all-subnormal, signed zero
    "extreme(embeddings)": {
        "embeddings": _replace(
            "embeddings",
            "CASE vec_id % 23"
            " WHEN 0 THEN list_transform(list_zip(embedding, range(1, len(embedding)+1)),"
            " z -> CASE WHEN z[2]-1 = vec_id % 64 THEN 3.0e38::FLOAT ELSE z[1] END)"
            " WHEN 1 THEN list_transform(embedding, x -> 1e-40::FLOAT)"
            " WHEN 2 THEN list_transform(list_zip(embedding, range(1, len(embedding)+1)),"
            " z -> CASE WHEN z[2]-1 = vec_id % 64 THEN -0.0::FLOAT ELSE z[1] END)"
            " ELSE embedding END AS embedding",
        )
    },
    # |value| = 1e12 outside the fixed-point statistics' domain
    "value-domain(events.value)": {
        "events": _replace(
            "events",
            "CASE WHEN event_id = 0 THEN 1e12 WHEN event_id = 1 THEN -1e12"
            " WHEN event_id = 2 THEN 1e-9 WHEN event_id = 3 THEN 0.0 ELSE value END AS value",
        )
    },
    # 40% NaN clicks, the rest split across the range ends
    "median-gap(events.value)": {
        "events": _replace(
            "events",
            "CASE WHEN event_type = 'click' AND event_id % 5 IN (0, 1) THEN 'nan'::DOUBLE"
            " WHEN event_type = 'click' AND event_id % 5 = 2 THEN 1.0"
            " WHEN event_type = 'click' THEN 1000.0 ELSE value END AS value",
        )
    },
    # ~25% of events share (user_id, ts) with an event of another type
    "ts-collision(events)": {
        "events": "SELECT * FROM events UNION ALL"
        " SELECT event_id + 1000 AS event_id, ts, user_id,"
        " CASE WHEN event_type = 'error' THEN 'view' ELSE 'error' END AS event_type,"
        " value + 1.5 AS value, props FROM events WHERE event_id % 3 = 0"
    },
    "hostile-props(events.props)": {
        "events": _replace("events", _cases("event_id % 31", _HOSTILE_PROPS, "props"))
    },
    "hostile-text(documents.text)": {
        "documents": _replace("documents", _cases("doc_id % 37", _HOSTILE_TEXT, "text"))
    },
    # two NULL-text and two whitespace-only docs
    "nulltext(documents.text)": {
        "documents": _replace(
            "documents",
            "CASE WHEN doc_id < 2 THEN NULL WHEN doc_id < 4 THEN '   ' ELSE text END AS text",
        )
    },
    # six identical texts: NULL lang (0,1), NULL source (2,3), real block (4,5)
    "nullblock(documents)": {
        "documents": _replace(
            "documents",
            f"CASE WHEN doc_id < 6 THEN '{_PLANT}' ELSE text END AS text",
            "CASE WHEN doc_id IN (0, 1) THEN NULL WHEN doc_id IN (4, 5) THEN 'en'"
            " ELSE lang END AS lang",
            "CASE WHEN doc_id IN (2, 3) THEN NULL WHEN doc_id IN (4, 5) THEN 'src0'"
            " ELSE source END AS source",
        )
    },
    # five docs: accents, CJK, emoji, NBSP, combining marks
    "unicode-5doc(documents.text)": {
        "documents": _replace(
            "documents",
            "CASE"
            " WHEN doc_id = 0 THEN 'café résumé naïve déjà vu café résumé naïve déjà vu café résumé'"
            " WHEN doc_id = 1 THEN '中文 文本 去重 测试 中文 文本 去重 测试 中文 文本 去重'"
            " WHEN doc_id = 2 THEN 'emoji 🙂 test 🚀 emoji 🙂 test 🚀 emoji 🙂 test'"
            " WHEN doc_id = 3 THEN 'nbsp' || chr(160) || 'joined words nbsp' || chr(160)"
            " || 'joined words here now'"
            " WHEN doc_id = 4 THEN 'combining e' || chr(769) || ' accent combining e'"
            " || chr(769) || ' accent more words'"
            " ELSE text END AS text",
        )
    },
    # single columns of the NULL stripes, laid over sf0.01 by the
    # depth-find pins (tests/test_hostile_depth_pins.py)
    "nullfacts(lineitem.l_suppkey)": {
        "lineitem": _replace("lineitem", *_null_cols("lineitem", ("l_suppkey",)))
    },
    "nullevents(events.user_id)": {
        "events": _replace("events", *_null_cols("events", ("user_id",)))
    },
}


def _union(*labels: str) -> dict[str, str]:
    return {t: q for label in labels for t, q in STRIPES[label].items()}


# The four NULL stripes touch disjoint table sets, as do the three
# non-finite ones: each union lays every hostility at once, so a plan
# joining two striped tables meets both conventions.
STRIPES["combo-null(all nine tables at once)"] = _union(
    "nullmeta(documents)",
    "nullfacts(lineitem+orders)",
    "nullevents(events)",
    "nulldims(customer+supplier+part+nation+region)",
)
STRIPES["combo-nonfinite(events+facts+embeddings at once)"] = _union(
    "nonfinite(events.value)",
    "nonfinite(lineitem+orders measures)",
    "nonfinite(embedding components)",
)


def sweep_members(
    tables: tuple[str, ...],
    *,
    extra_src_markers: tuple[str, ...] = (),
    floor: int = 0,
) -> list[str]:
    from syntheticdata_pipeline__spark.plans import load_all

    out = set()
    pats = [re.compile(rf"\b{re.escape(t)}\b") for t in tables]
    for name, spec in load_all().items():
        try:
            src = inspect.getsource(spec.build)
        except (OSError, TypeError):
            src = ""
        if any(f'"{t}"' in src or f"'{t}'" in src for t in tables):
            # quoted-name matching avoids the `"part"`-in-`repartition` trap
            out.add(name)
        elif any(m in src for m in extra_src_markers):
            out.add(name)
        elif spec.oracle and any(p.search(spec.oracle) for p in pats):
            out.add(name)
    members = sorted(out)
    assert len(members) >= floor, (
        f"sweep membership for {tables} shrank to {len(members)} "
        f"(floor {floor}) — a refactor hid a table read from the battery; "
        f"update the floor only for a conscious catalog change"
    )
    return members
