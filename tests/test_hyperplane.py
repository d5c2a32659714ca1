"""Random-hyperplane cosine LSH (llm/hyperplane.py): oracle parity at
the driver SF, the deterministic-collision invariant, the honest
recall instrument, and the banded (never all-pairs) plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.oracle_util import compare

DRIVER_SF = "/root/testdata/sf0.01"


def test_staged_parity_at_driver_sf(spark):
    """Both entries hold full oracle parity at the driver SF AND the
    pytest SF."""
    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "neardup_hyperplane_lsh_pairs")
        compare(spark, sf_dir, "neardup_hyperplane_recall_eval")


def test_w12_staged_parity(spark):
    """The width-scaled twin: full oracle parity at DRIVER_SF and the
    pytest SF (the 2x12 sizing that survived corpus growth at 10x,
    SCALE.md "Round-12: the hyperplane WIDTH dial, measured at 10x",
    lives as a driver-checkable entry)."""
    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "neardup_hyperplane_lsh_pairs_w12")


def test_w12_recall_pin(spark):
    """The planted-recall instrument AT THE WIDER WIDTH, pinned: the
    cos-1.0 classes stay deterministic 1.0 (identical vectors share
    every band at ANY width), and near_bump reads the measured 0.95 —
    slightly under the 2x8 width's 0.970 because narrower per-band
    match probability is the price of the 16x larger key space that
    keeps buckets under the cap at 10x corpus. Width buys capacity,
    not near-threshold recall — pinned, not hidden."""
    from tank_spark.llm.hyperplane import HP_BANDS, HP_PLANES_W12, _recall_df

    for sf_dir in (SF_DIR, DRIVER_SF):
        rows = {r["pair_class"]: r for r in
                _recall_df(spark, sf_dir, HP_PLANES_W12, HP_BANDS)
                .collect()}
        assert rows["recrawl"]["recall"] == 1.0
        assert rows["fresh_twin"]["recall"] == 1.0
        assert rows["near_bump"]["recall"] >= 0.9
        assert all(rows[c]["n_truth"] > 0
                   for c in ("recrawl", "near_bump", "fresh_twin"))


def test_w12_planes_prefix_extend_the_default():
    """Widening the signature EXTENDS the frozen plane table (plane k's
    md5 derivation depends only on k): the w12 table's first 16 planes
    are bit-identical to the default's, so the two registered widths
    are one family at two dials, not two incompatible indexes."""
    from tank_spark.llm.hyperplane import (HP_PLANES, HP_PLANES_W12,
                                           _PLANES, _planes_for)

    wide = _planes_for(HP_PLANES_W12)
    assert len(wide) == HP_PLANES_W12
    assert wide[:HP_PLANES] == _PLANES


def test_plane_table_contract():
    """16 planes x DIM exact rationals in [-0.5, 0.5), derived from md5
    — re-derivable from the string spec, finite, engine-portable."""
    from tank_spark.llm.hyperplane import HP_PLANES, _PLANES, _hp_planes
    from tank_spark.llm.similarity import DIM

    assert len(_PLANES) == HP_PLANES
    assert all(len(p) == DIM for p in _PLANES)
    assert all(-0.5 <= v < 0.5 for p in _PLANES for v in p)
    # exact rational with denominator 256: v * 256 is an integer
    assert all(float(v * 256).is_integer() for p in _PLANES for v in p)
    assert _hp_planes() == _PLANES  # deterministic re-derivation


def test_identical_vectors_always_collide(spark):
    """sign(v . h) is a FUNCTION of v: identical vectors (re-crawls,
    twin emissions — cosine 1.0) share every band, so their recall is
    deterministic 1.0 unless a hot bucket was capped away. The recall
    eval must read exactly that; only near_bump (cos ~0.9987) may lose
    pairs, and those are banding misses — the dial the eval exists to
    measure."""
    from tank_spark.plans.registry import load_all

    rows = {r["pair_class"]: r for r in
            load_all()["neardup_hyperplane_recall_eval"]
            .spark(spark, SF_DIR).collect()}
    assert rows["recrawl"]["recall"] == 1.0
    assert rows["fresh_twin"]["recall"] == 1.0
    assert rows["near_bump"]["recall"] >= 0.9
    # truth classes are fully populated (no vacuous eval — the round-2
    # lesson: an instrument whose bands are all zero checks nothing)
    assert all(rows[c]["n_truth"] > 0
               for c in ("recrawl", "near_bump", "fresh_twin"))


import pytest


@pytest.mark.parametrize("entry", ["neardup_hyperplane_lsh_pairs",
                                   "neardup_hyperplane_lsh_pairs_w12"])
def test_pairs_are_banded_never_all_pairs(spark, entry):
    """The candidate join must key on the band columns (the LSH point:
    equi-join on band value, not a cross/nested-loop product), the
    hot-bucket census must broadcast, and every surviving pair must
    verify at the exact threshold — at BOTH registered widths (the
    w12 twin's scale claim is the same banded shape, wider keys)."""
    from tank_spark.plans.registry import load_all

    df = load_all()[entry].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan  # the candidate join's key
    rows = df.collect()
    assert all(r["cosine"] >= 0.9 for r in rows)
    assert all(r["vec_a"] < r["vec_b"] for r in rows)


def test_natural_corpus_stays_out_of_the_tau_regime(spark):
    """The instrument's premise, verified on current data: no BASE
    corpus pair reaches HP_TAU (the planted pairs are the entire
    ground truth). Checked through the found pairs — every surviving
    pair involves at least one derived (vid >= INC_OFFSET) row."""
    from tank_spark.llm.hyperplane import INC_OFFSET
    from tank_spark.plans.registry import load_all

    rows = (load_all()["neardup_hyperplane_lsh_pairs"]
            .spark(spark, SF_DIR).collect())
    assert rows  # non-vacuous
    assert all(r["vec_b"] >= INC_OFFSET for r in rows)


def test_band_census_staged_parity_and_gauge(spark):
    """hyperplane_band_census: full oracle parity at DRIVER_SF and the
    pytest SF, plus the gauge's meaning: at the test corpora the
    registered width keeps every bucket under the cap (n_capped = 0 — matching the pairs entry's lossless planted
    recall), and the candidate upper bound reconciles with the actual
    banded-join fan-out."""
    from tank_spark.plans.registry import load_all

    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "hyperplane_band_census")
    rows = (load_all()["hyperplane_band_census"]
            .spark(spark, SF_DIR).collect())
    assert {r["band_idx"] for r in rows} == {0, 1}
    assert all(r["n_capped"] == 0 for r in rows)
    assert all(r["max_occupancy"] <= 64 for r in rows)
    assert all(r["candidate_pairs_ub"] >= 0 for r in rows)


def test_clusters_staged_parity_and_structure(spark):
    """neardup_hyperplane_clusters: full oracle parity at DRIVER_SF
    and the pytest SF, plus the component
    semantics on the derived corpus: the planted pairs are DISJOINT
    (recrawl / near_bump / fresh_twin draw from disjoint orig slices),
    so every component has exactly 2 members, component = the lower
    vid, and exactly one canonical per component."""
    from tank_spark.plans.registry import load_all

    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "neardup_hyperplane_clusters")
    rows = (load_all()["neardup_hyperplane_clusters"]
            .spark(spark, SF_DIR).collect())
    assert rows
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert len(members) == 2
        assert comp == min(m["vec_id"] for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert next(m for m in members
                    if m["is_canonical"] == 1)["vec_id"] == comp
