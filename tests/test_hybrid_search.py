"""Hybrid RRF retrieval (llm/search.py hybrid_search_rrf): oracle
parity at the driver SF, fusion arithmetic, and the bounded two-tower plan."""

from __future__ import annotations

from tests.conftest import SF_DIR
from tests.oracle_util import compare

DRIVER_SF = "/root/testdata/sf0.01"


def test_staged_parity_at_driver_sf(spark):
    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "hybrid_search_rrf")


def test_rrf_arithmetic_and_shape(spark):
    """Every emitted rrf equals the fixed-point sum of its two sides'
    1/(K+rank) terms (recomputed independently here), each query emits
    exactly TOPK rows, and both towers contribute rows — the fusion is
    non-vacuous in both directions."""
    from tank_spark.llm.search import (
        HYBRID_QVECS,
        HYBRID_TOPK,
        RRF_K,
        _SCALE,
        hybrid_search_rrf,
    )

    rows = hybrid_search_rrf(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
        want = 0
        for side in ("lex_rank", "sem_rank"):
            if r[side] is not None:
                assert 1 <= r[side] <= HYBRID_TOPK
                want += round(_SCALE / (RRF_K + r[side]))
        assert round(r["rrf"] * _SCALE) == want
    assert set(by_q) == {q for q, _ in HYBRID_QVECS}
    for q, rs in by_q.items():
        assert len(rs) == HYBRID_TOPK
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, HYBRID_TOPK + 1))
        # rrf non-increasing in rank (the fusion order is real)
        ordered = sorted(rs, key=lambda r: r["rank"])
        assert all(a["rrf"] >= b["rrf"]
                   for a, b in zip(ordered, ordered[1:]))
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["sem_rank"] is not None for r in rows)


def test_overlap_doc_outranks_single_tower(spark):
    """The RRF point: a document on BOTH lists beats a same-rank
    single-tower document. The synthetic corpus has no natural
    overlap, so fuse two constructed rank lists through the same
    fixed-point arithmetic and assert the ordering property the
    registered entry's plan implements."""
    from tank_spark.llm.search import RRF_K, _SCALE

    both = round(_SCALE / (RRF_K + 3)) + round(_SCALE / (RRF_K + 3))
    single_best = round(_SCALE / (RRF_K + 1))
    assert both > single_best  # rank-3 on both towers > rank-1 on one


def test_ivf_twin_staged_parity(spark):
    """hybrid_search_rrf_ivf: full oracle parity at DRIVER_SF and the
    pytest SF (the documented 'swap brute force for the IVF probe' is
    a registered entry, not a promise). Both engines compute the IDENTICAL trained probe, so
    parity is exact even where the probe's recall misses shift fused
    ranks vs the brute twin."""
    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "hybrid_search_rrf_ivf")


def _ops_to_fusion_join(df) -> list[str]:
    """Operator-name sequence from the plan root down to (and
    including) the FullOuter SortMergeJoin — the fusion tail's
    physical shape, independent of expression ids."""
    import re

    ops = []
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"(?:^|[\s\-+:*)])([A-Za-z][A-Za-z0-9]*)", line)
        if not m:
            continue
        ops.append(m.group(1))
        if "SortMergeJoin" in line and "FullOuter" in line:
            return ops
    raise AssertionError("no FullOuter SortMergeJoin in plan:\n" + plan)


def test_ivf_twin_fusion_tail_plan_identity(spark):
    """The fusion tail is byte-shared code (_rrf_fuse/_rrf_tail_sql);
    pin that it is also the SAME PHYSICAL PLAN in both twins: the
    operator sequence from the root to the FullOuter SortMergeJoin is
    identical, and each plan has exactly one SortMergeJoin (the fusion
    itself — the towers must never introduce another)."""
    from tank_spark.llm.search import hybrid_search_rrf, hybrid_search_rrf_ivf

    brute = hybrid_search_rrf(spark, SF_DIR)
    ivf = hybrid_search_rrf_ivf(spark, SF_DIR)
    assert _ops_to_fusion_join(brute) == _ops_to_fusion_join(ivf)
    for df in (brute, ivf):
        plan = df._jdf.queryExecution().executedPlan().toString()
        smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
        assert len(smj) == 1 and "FullOuter" in smj[0]
        assert "CartesianProduct" not in plan


def test_ivf_twin_differs_only_by_probe_misses(spark):
    """The pinned statement of WHERE the twins may differ: any (qid,
    doc_id) ranked by the brute twin but absent from the IVF twin's
    semantic contributions must be a probe recall miss — i.e. the IVF
    sem tower never invents docs the brute tower doesn't know (its
    candidate set is a subset), and lex-only rows are identical in
    both."""
    from tank_spark.llm.search import hybrid_search_rrf, hybrid_search_rrf_ivf

    brute = {(r["qid"], r["doc_id"]): r
             for r in hybrid_search_rrf(spark, SF_DIR).collect()}
    ivf = {(r["qid"], r["doc_id"]): r
           for r in hybrid_search_rrf_ivf(spark, SF_DIR).collect()}
    brute_sem = {k for k, r in brute.items() if r["sem_rank"] is not None}
    ivf_sem = {k for k, r in ivf.items() if r["sem_rank"] is not None}
    # The probe's CANDIDATE set is a subset of the brute tower's, but
    # the top-K cut can promote lower-cosine candidates into the IVF
    # top-K when a true neighbor's list went unprobed — so the exact
    # invariant is on ORDER, not containment: both towers rank by the
    # same exact cosine, so docs ranked by both keep relative order.
    common = brute_sem & ivf_sem
    b_order = sorted(common, key=lambda k: (k[0], brute[k]["sem_rank"]))
    i_order = sorted(common, key=lambda k: (k[0], ivf[k]["sem_rank"]))
    assert b_order == i_order
    # and the lexical tower is untouched: lex_rank agrees wherever a
    # (qid, doc_id) appears in both fused outputs
    for k in set(brute) & set(ivf):
        assert brute[k]["lex_rank"] == ivf[k]["lex_rank"]


def test_two_tower_plan_is_bounded(spark):
    """Semantic side: query vectors broadcast (the knn convention).
    The ONE SortMergeJoin allowed is the FullOuter fusion itself —
    Spark cannot broadcast a full outer join, and both its inputs are
    top-K-bounded (K rows per query), so it never scales with the
    corpus; every corpus-sized join must be broadcast."""
    from tank_spark.llm.search import hybrid_search_rrf

    plan = (hybrid_search_rrf(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert len(smj) == 1 and "FullOuter" in smj[0]
    assert "BroadcastNestedLoopJoin" in plan  # the broadcast query side
    assert "CartesianProduct" not in plan
