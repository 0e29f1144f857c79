"""Grid-key decimal-halfway tie sweep (r13, queued #11).

The class this hunts: ``round(x, k)`` used as a GROUPING/JOIN KEY where
the nearest double to x has a SHORTEST decimal representation that
terminates at exactly k+1 decimals with a trailing '5' — a true decimal
halfway at the k-dp grid. There Spark (BigDecimal HALF_UP over the
shortest representation) and DuckDB (rounding the binary double)
disagree by one grid cell whenever the binary double sits below the
decimal halfway. The r12 sf0.1 sweep caught one live instance (quality
0.72125 in ``rank_normalized_quality``); this sweep's static audit
found the one LATENT sibling and r13 converted both to the IEEE floor
grid.

## Static key audit (r13 table, r14 audit broadened per ADVICE)

Every engine-native round() feeding a groupBy/join/window key:

| site | grid | status |
|---|---|---|
| rank_normalized_quality qv (dataset_q) | quality @ 4dp | converted r12 → floor(q*1e4+0.5) |
| quality_duplication_lift qv (docs_q)   | quality @ 4dp | converted r13 → floor(q*1e4+0.5) (same quality expr ⇒ same 0.72125 exposure at sf0.1; latent only because the one-cell shift didn't cross a quartile boundary) |
| perplexity-gate logprob (docs_q ×3 queries) | AVG(ln p) @ 6dp | allowlisted r14: no decimal-lattice mechanism; live halfway scan of the actual value sets every gate run (scan_logprob_halfways) |
| CLV histogram v (relational) | decimal(38,2) sum @ whole dollars | allowlisted r14: decimal-exact, tie behavior identical cross-engine for non-negative values |
| (all other grouping grids) | integer µs buckets / DIV, decimal-exact sums, or 6-dp grids over values with ≤5 decimal digits | tie-free by construction |

The r13 static backstop matched only the literal alias 'qv' (r13 ADVICE
#3); the r14 audit is an AST pass over EVERY F.round alias that feeds a
groupBy/join/partitionBy key (any alias, whole engine package) plus a
scan of the EVALUATED oracle SQL for round-aliases in GROUP BY /
PARTITION BY / ON clauses, with an exhaustiveness-asserted allowlist
(_AUDITED_OK: unlisted site fails, stale entry fails). Known residual
blind spot: positional GROUP BY references (GROUP BY 1) are not mapped
back to select items — covered by the empirical halfway scans and the
cross-engine catalog sweeps.

Output-position rounds are NOT in scope: on fixed data a live halfway
disagreement in an output is caught directly by the cross-engine
full-catalog oracle sweep (that is how r12 found 0.72125), and a
halfway whose binary double sits above the decimal midpoint rounds the
same way on both engines permanently — there is no latent output class
on committed fixtures.

## Empirical pass (this tool)

The one double-valued grid input in the catalog is the 4-dp quality
score. For each SF dir: compute the quality value set via DuckDB, flag
every value whose shortest repr (Python repr == Java Double.toString's
shortest-decimal algorithm) is a halfway at 4dp, and verify the floor
grid assigns each flagged value a single deterministic key (pure double
multiply-add-floor — bit-identical across engines by IEEE 754).

Usage::

    python tools/grid_tie_sweep.py [sf_dir ...]   # default sf0.01 + sf0.1

Exit 0 when every flagged halfway is floor-grid-covered; 1 if a
round-keyed site remains (the static table above must then be updated).
"""

from __future__ import annotations

import math
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_HALFWAY_4DP = re.compile(r"^-?\d+\.\d{4}5$")


def scan_sf(sf_dir: str) -> tuple[int, list[tuple[int, float]]]:
    import duckdb

    from syntheticdata_pipeline__spark.functions.text import tokens_sql
    from syntheticdata_pipeline__spark.operators.textops import quality_score_sql

    con = duckdb.connect()
    # the quality score both (former) round-keyed grids were keyed on
    sql = f"""SELECT doc_id, {quality_score_sql()} AS q
FROM (SELECT doc_id, text, {tokens_sql('text')} AS toks
      FROM read_parquet('{sf_dir}/documents.parquet'))"""
    rows = con.execute(sql).fetchall()
    con.close()
    hits = [(i, q) for i, q in rows if q is not None and _HALFWAY_4DP.match(repr(q))]
    return len(rows), hits


_KEY_METHODS = {"groupBy", "groupby", "partitionBy", "join"}

# Audited round-keyed sites: every site the broadened audit finds MUST be
# listed here with the reason it is tie-safe (or be converted to the
# floor grid). The tool fails on any UNLISTED site (a new round-keyed
# grid) and on any STALE entry (an allowlisted site that no longer
# exists) — so this list is asserted exhaustive on every gate run
# (r14, ADVICE r13 #3).
_AUDITED_OK: dict[str, str] = {
    "syntheticdata_pipeline__spark/plans/docs_q.py::logprob": (
        "6-dp grid over per-doc AVG(ln(p)) values (unigram/bigram "
        "perplexity gates + ccnet buckets). Log-average doubles carry "
        "full-precision mantissas with NO decimal-lattice mechanism to "
        "land on a 7-decimal halfway (unlike the quality score's "
        "0.4a+0.3b+0.3c lattice that produced 0.72125); this tool "
        "empirically scans the ACTUAL logprob value sets of both gates "
        "at every swept SF for ^-?\\d+\\.\\d{6}5$ reprs and fails on "
        "any hit — 0 hits at sf0.01/sf0.1 (r14)."
    ),
    "syntheticdata_pipeline__spark/plans/relational.py::v": (
        "round() over a DECIMAL(38,2) SUM (whole-dollar CLV histogram "
        "grid). Decimal arithmetic is exact — no shortest-repr/binary "
        "divergence exists; a .50 tie rounds HALF_UP in Spark and "
        "half-away-from-zero in DuckDB, identical for the non-negative "
        "o_totalprice domain."
    ),
}

# SQL clause openers whose contents are grouping/join keys
_SQL_CLAUSE = re.compile(r"\b(GROUP\s+BY|PARTITION\s+BY|\bON)\b", re.IGNORECASE)
_SQL_CLAUSE_END = re.compile(
    r"\b(SELECT|FROM|WHERE|HAVING|ORDER\s+BY|LIMIT|QUALIFY|WINDOW|UNION|JOIN|LEFT|RIGHT|INNER|USING)\b|\)",
    re.IGNORECASE,
)


def _python_round_key_sites() -> list[tuple[str, str]]:
    """AST audit over the whole engine package: flag every ``F.round(...)
    .alias(name)`` whose alias is ALSO used as a groupBy / join /
    partitionBy key in the same file, plus any ``F.round`` call nested
    directly inside a key-position argument list. This replaces the
    r13 regex that only matched the literal alias 'qv' (ADVICE r13 #3):
    the class is round-keyed GRIDS, whatever the alias."""
    import ast

    bad: list[tuple[str, str]] = []
    pkg = os.path.join(ROOT, "syntheticdata_pipeline__spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ROOT)
            tree = ast.parse(open(path).read())

            def has_round(node: ast.AST) -> bool:
                return any(
                    isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and sub.func.attr == "round"
                    for sub in ast.walk(node)
                )

            round_aliases: dict[str, int] = {}
            key_names: set[str] = set()
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                if (
                    node.func.attr == "alias"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and isinstance(node.args[0].value, str)
                    and has_round(node.func.value)
                ):
                    round_aliases[node.args[0].value] = node.lineno
                if node.func.attr in _KEY_METHODS:
                    # audit the KEY arguments only — walking the whole
                    # Call node would descend into the receiver chain (or,
                    # for join, the other-side DataFrame expression) and
                    # flag upstream output-position rounds like
                    # df.withColumn(F.round(...)).join(...)
                    key_args = (
                        node.args[1:] if node.func.attr == "join" else list(node.args)
                    )
                    for arg in key_args + [
                        kw.value for kw in node.keywords if kw.arg != "other"
                    ]:
                        if has_round(arg):
                            bad.append((
                                f"{rel}::{node.func.attr}-inline",
                                f"{rel}:{node.lineno}: F.round inside "
                                f".{node.func.attr}(...) key list",
                            ))
                        for sub in ast.walk(arg):
                            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                                key_names.add(sub.value)
            for name, lineno in sorted(round_aliases.items()):
                if name in key_names:
                    bad.append((
                        f"{rel}::{name}",
                        f"{rel}:{lineno}: F.round alias {name!r} is used as a "
                        f"groupBy/join/partitionBy key in this file",
                    ))
    return bad


def _sql_round_key_sites() -> list[str]:
    """Audit the EVALUATED oracle SQL of every catalog query (not the
    source text — oracles are assembled f-strings): flag round(...) AS
    alias where the alias token reappears inside a GROUP BY / PARTITION
    BY / ON clause of the same oracle, and any round( written directly
    inside such a clause. Limitation (documented): positional GROUP BY
    references (GROUP BY 1) are not mapped back to select items — the
    empirical halfway sweep below remains the belt for those."""
    from syntheticdata_pipeline__spark.plans import load_all

    bad: list[tuple[str, str]] = []
    for qname, spec in sorted(load_all().items()):
        sql = spec.oracle
        if not sql:
            continue
        # round(<balanced>) AS alias
        aliases: set[str] = set()
        for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
            depth, i = 1, m.end()
            while i < len(sql) and depth:
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            tail = re.match(r"\s*AS\s+(\w+)", sql[i:], re.IGNORECASE)
            if tail:
                aliases.add(tail.group(1))
        clause_text: list[str] = []
        for m in _SQL_CLAUSE.finditer(sql):
            rest = sql[m.end():]
            endm = _SQL_CLAUSE_END.search(rest)
            clause_text.append(rest[: endm.start()] if endm else rest)
        for ct in clause_text:
            if re.search(r"\bround\s*\(", ct, re.IGNORECASE):
                bad.append((
                    f"oracle:{qname}::inline",
                    f"oracle {qname}: round( directly inside a key clause",
                ))
            for name in aliases:
                # (?!\s*\.) and (?<![.\w]) exclude qualified references —
                # a table alias `p` in `p.col` is not the rounded column
                if re.search(rf"(?<![.\w]){re.escape(name)}(?!\s*\.)(?!\w)", ct):
                    bad.append((
                        f"oracle:{qname}::{name}",
                        f"oracle {qname}: round-alias {name!r} used in a key clause",
                    ))
    return bad


def audit_no_round_keys() -> list[str]:
    """Static backstop: no plan (Python side, ANY alias) and no oracle
    (evaluated SQL) may feed a round(·,k) value into a grouping / join /
    window-partition key, except sites in _AUDITED_OK with a recorded
    tie-safety reason. The allowlist is asserted exhaustive both ways:
    an unlisted site fails (new round-keyed grid), and a stale entry
    fails (audited site no longer exists — its reason may be rotting)."""
    found = dict(_python_round_key_sites() + _sql_round_key_sites())
    problems = [
        f"UNLISTED {msg}" for key, msg in sorted(found.items()) if key not in _AUDITED_OK
    ]
    problems += [
        f"STALE allowlist entry (site gone): {key}"
        for key in sorted(_AUDITED_OK)
        if key not in found
    ]
    return problems


_HALFWAY_6DP = re.compile(r"^-?\d+\.\d{6}5$")


def scan_logprob_halfways(sf_dir: str) -> list[tuple[str, float]]:
    """Live check backing the docs_q 'logprob' allowlist entry: compute
    the ACTUAL grid-key value sets of the perplexity gates (the oracle's
    own logprob output; ccnet_perplexity_buckets grids the same unigram
    values) and flag any whose shortest repr is a 6-dp halfway. A hit
    means the tie-safety reason no longer holds — fail the gate and
    convert the site to the floor grid."""
    from tools.check_oracle import duck_connect

    from syntheticdata_pipeline__spark.plans import load_all

    reg = load_all()
    con = duck_connect(sf_dir)
    hits: list[tuple[str, float]] = []
    try:
        for q in ("unigram_perplexity_gate", "bigram_perplexity_gate"):
            vals = con.execute(
                f"SELECT DISTINCT logprob FROM ({reg[q].oracle})"
            ).fetchall()
            hits += [
                (q, v) for (v,) in vals if v is not None and _HALFWAY_6DP.match(repr(v))
            ]
    finally:
        con.close()
    return hits


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    bad = audit_no_round_keys()
    if bad:
        print("ROUND-KEYED GRID SITES REMAIN (convert to the floor grid or allowlist):")
        for b in bad:
            print(f"  {b}")
    for d in dirs:
        n, hits = scan_sf(d)
        print(f"== {d}: {n} docs, {len(hits)} quality values halfway at 4dp")
        for doc_id, q in hits:
            lo = math.floor(q * 10000.0 + 0.5)
            print(f"   doc {doc_id}: q={q!r} -> floor-grid key {int(lo)} (deterministic)")
        lp_hits = scan_logprob_halfways(d)
        print(
            f"== {d}: {len(lp_hits)} logprob grid values halfway at 6dp "
            f"(allowlist check for plans/docs_q.py::logprob)"
        )
        for qname, v in lp_hits:
            print(f"   {qname}: {v!r} — ALLOWLIST REASON BROKEN, convert to floor grid")
        bad.extend(f"logprob halfway: {q}={v!r}" for q, v in lp_hits)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
