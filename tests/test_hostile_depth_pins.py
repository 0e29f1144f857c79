"""Pins for the round-12 hostile DEPTH sweep finds
(tools/hostile_depth_sweep.py: the committed sf0.001 NULL-stripe
batteries re-run over sf0.01 — more rows make more stripe collisions
reachable). Results: nullmeta 67/67, nullfacts 44/45, nullevents 36/37;
the two fails were pinned here red-to-flip in r12 and FLIPPED in r13
when the queued fixes landed (DIVERGENCES.md "Queued fix: depth-sweep
pair") — both stripes now hash-match cross-engine:

1. tpch_q16_supplier_relationship — the engine's left-anti KEEPS a
   NULL-l_suppkey row (NULL == x is unknown, no match) and counts a
   phantom NULL "supplier"; the oracle's NOT IN DROPS it (NULL NOT IN
   set = NULL). The r9 NULL-dims convention ("unknown ≠ seen": oracle →
   NOT EXISTS, matching anti-join) was applied to the resume queries
   but never to Q16. At sf0.001 no striped row survives the part
   filters, so the committed battery stayed green — only depth exposes
   it.
2. kmv_distinct_users — the sketch-kernel NULL-key split pinned in
   test_sketches_adversarial.py, now confirmed REACHABLE from a catalog
   query: with NULL user_ids striped in, Spark ranks the NULL hash
   first (NULLS FIRST) and DuckDB last. At sf0.001 every group stays
   under k distinct users, so the exact-count fallback (where both
   engines agree) hides the divergence.

Both fixtures are built at sf0.01 with the EXACT stripe SQL of the
committed sf0.001 batteries.
"""

from __future__ import annotations

from tests.conftest import SF_ORACLE
from tests.sweep_membership import STRIPES, striped_dir
from tools.check_oracle import oracle_verdict


def test_q16_null_suppkey_agrees_after_not_exists_fix(spark, tmp_path):
    """FLIPPED r13 (queued fix #12): the Q16 oracle moved from NOT IN to
    NOT EXISTS (the r9 'unknown ≠ seen' convention), so a NULL
    l_suppkey survives the exclusion on both engines and the sf0.01
    NULL stripe that split them in r12 now hash-matches."""
    d = striped_dir(SF_ORACLE, str(tmp_path), STRIPES["nullfacts(lineitem.l_suppkey)"])
    assert oracle_verdict(spark, d, "tpch_q16_supplier_relationship") is True


def test_kmv_users_null_keys_agree_after_drop_fix(spark, tmp_path):
    """FLIPPED r13 (queued fix #7): the KMV kernel drops NULL keys at
    build on both engines (DIVERGENCES 'sketch kernels must drop NULL
    keys'), so the NULLS-FIRST/NULLS-LAST rank split the r12 depth
    sweep found is gone — the striped fixture now hash-matches."""
    d = striped_dir(SF_ORACLE, str(tmp_path), STRIPES["nullevents(events.user_id)"])
    assert oracle_verdict(spark, d, "kmv_distinct_users") is True
