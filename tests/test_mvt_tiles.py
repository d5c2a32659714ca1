"""Golden tests for the distributed MVT tile pipeline: decode the blobs
and check the feature sets against independently-computed expectations
(never raw bytes alone — encoding is deterministic here but the check
should survive encoder changes; SURVEY.md §5)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_tile_mvt_feature_sets(spark):
    from pyspark.sql import functions as F

    from tank_spark.geom import mvt as mvtmod
    from tank_spark.operators.mvt_tiles import EXTEND, LAYER, mvt_tiles
    from tank_spark.operators.tiles import tile_hash_range
    from tank_spark.sources.features import features_df

    out = {(r["z"], r["x"], r["y"]): r for r in mvt_tiles(spark, SF_DIR).collect()}
    assert len(out) == 6

    # independent expectation for the single-bucket tile (13, 1281, 3137):
    # every feature of that bucket is a point inside the unbuffered tile
    # (points are generated interior to their tile), so all survive the clip
    lo, hi = tile_hash_range(13, 1281, 3137)
    exp = features_df(spark, SF_DIR).filter(F.col("hash").between(lo, hi)).collect()
    r = out[(13, 1281, 3137)]
    assert r["n_features"] == len(exp) > 0

    tile = mvtmod.decode(bytes(r["mvt"]))
    layer = tile[LAYER]
    assert layer["extent"] == EXTEND and layer["version"] == 2
    feats = layer["features"]
    assert len(feats) == len(exp)
    got_ids = sorted(f["id"] for f in feats)
    assert got_ids == sorted(e["key"] for e in exp)
    # props round-trip with types
    by_id = {f["id"]: f for f in feats}
    from tank_spark.geom import wkt as wktmod

    for e in exp:
        f = by_id[e["key"]]
        assert f["props"]["kind"] == e["kind"]
        assert f["props"]["cnt"] == e["cnt"]
        assert abs(f["props"]["score"] - e["score"]) < 1e-9
        # every vertex in tile-local integer coords inside the buffered
        # extent (features are a point/line/polygon mix)
        for cx, cy in wktmod.iter_points(f["geom_type"], f["coords"]):
            assert -70 <= cx <= EXTEND + 70 and -70 <= cy <= EXTEND + 70

    # z=7 covers the whole 64x64 block: every feature of the dataset
    whole = features_df(spark, SF_DIR).count()
    assert out[(7, 20, 49)]["n_features"] == whole

    # z=15 parent regime reads the parent bucket but clips to the subtile:
    # strictly fewer features than the parent z=13 tile holds
    assert 0 <= out[(15, 5126, 12550)]["n_features"] <= r["n_features"]


def test_tile_mvt_determinism(spark):
    from tank_spark.operators.mvt_tiles import mvt_tiles

    a = {(r["z"], r["x"], r["y"]): r["mvt_md5"]
         for r in mvt_tiles(spark, SF_DIR).collect()}
    b = {(r["z"], r["x"], r["y"]): r["mvt_md5"]
         for r in mvt_tiles(spark, SF_DIR).collect()}
    assert a == b


def test_tree_path_decode_parity(spark):
    """The z7 full-fidelity tile funnels the whole table into one
    assembly group; its decoded feature set must equal the whole table,
    with props intact and ids key-sorted."""
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.operators.mvt_tiles import LAYER, mvt_tiles
    from tank_spark.sources.features import features_df

    from collections import Counter

    row = mvt_tiles(spark, SF_DIR, requests=[(7, 20, 49)]).collect()[0]
    exp = features_df(spark, SF_DIR).collect()  # keys are NOT unique
    assert row["n_features"] == len(exp)

    layer = mvtmod.decode(bytes(row["mvt"]))[LAYER]
    feats = layer["features"]
    assert [f["id"] for f in feats] == sorted(e["key"] for e in exp)
    got = Counter(
        (f["id"], f["props"]["kind"], f["props"]["cnt"], f["props"]["tag"],
         round(f["props"]["score"], 9))
        for f in feats
    )
    want = Counter(
        (e["key"], e["kind"], e["cnt"], e["tag"], round(e["score"], 9))
        for e in exp
    )
    assert got == want


def test_assemble_layer_empty_props():
    """A layer declaring ZERO attributes still assembles: every feature
    gets an empty tag list, not a crashed length mismatch (ADVICE r2)."""
    import numpy as np

    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import mvt_np

    ids = np.array([3, 7, 11], dtype=np.int64)
    gbuf, glens = mvt_np.encode_point_geoms(
        np.array([10, 20, 30], dtype=np.int64),
        np.array([40, 50, 60], dtype=np.int64),
    )
    blob = mvt_np.assemble_layer(
        ids, np.array([1, 1, 1]), gbuf, glens, {}, layer_name="empty.props"
    )
    layer = mvtmod.decode(blob)["empty.props"]
    assert [f["id"] for f in layer["features"]] == [3, 7, 11]
    assert all(f["props"] == {} for f in layer["features"])


def test_request_join_empty_batch(spark):
    """An empty request batch returns an empty joined frame with the
    normal schema instead of raising (ADVICE r2)."""
    from tank_spark.operators.mvt_tiles import _request_join
    from tank_spark.sources.features import features_df

    out = _request_join(spark, features_df(spark, SF_DIR), [])
    assert out.count() == 0
    assert {"z", "x", "y", "blk", "key", "geometry"} <= set(out.columns)


def test_heatmap_mvt_counts_match(spark):
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.operators.heatmap import heatmap
    from tank_spark.operators.mvt_tiles import LAYER, heatmap_mvt

    blob_row = heatmap_mvt(spark, SF_DIR, 9, 80, 196).collect()[0]
    cells = heatmap(spark, SF_DIR, 9, 80, 196).collect()
    assert blob_row["n_cells"] == len(cells) > 0

    layer = mvtmod.decode(bytes(blob_row["mvt"]))[LAYER]
    got_counts = sorted(f["props"]["count"] for f in layer["features"])
    assert got_counts == sorted(c["n_features"] for c in cells)
    # cells are closed polygons
    for f in layer["features"]:
        ring = f["coords"][0]
        assert ring[0] == ring[-1] and len(ring) == 5


def test_dict_nan_prop_falls_back(spark):
    """A double prop column containing NaN (which no value table can
    key: NaN != NaN) still serves its tile instead of crashing the job:
    every feature comes back, the NaN row falls back to carrying no
    tag, and the other rows keep their exact values — and a NaN-free
    column tags every row."""
    from pyspark.sql import functions as F

    from tank_spark.geom import morton
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom.tilemath import tile_bbox
    from tank_spark.operators.mvt_tiles import LAYER, mvt_tiles_for

    z, x, y = 13, 1281, 3137
    lon0, lat0, lon1, lat1 = tile_bbox(z, x, y)

    def serve(scores):
        rows = [
            (morton.interleave(x, y), k,
             f"POINT ({lon0 + (lon1 - lon0) * (k + 0.5) / len(scores):.9f} "
             f"{(lat0 + lat1) / 2:.9f})", s)
            for k, s in enumerate(scores)
        ]
        feats = spark.createDataFrame(
            rows, "hash long, key long, geometry string, score double")
        out = mvt_tiles_for(spark, feats, [(z, x, y)],
                            prop_cols=("score",)).collect()
        assert len(out) == 1 and out[0]["n_features"] == len(scores)
        return mvtmod.decode(bytes(out[0]["mvt"]))[LAYER]["features"]

    got = serve([1.0, float("nan"), 2.5, 1.0])
    assert [f["id"] for f in got] == [0, 1, 2, 3]
    assert [f["props"] for f in got] == [
        {"score": 1.0}, {}, {"score": 2.5}, {"score": 1.0}]

    clean = serve([1.0, 2.5])
    assert [f["props"] for f in clean] == [{"score": 1.0}, {"score": 2.5}]


def test_overview_budget_bounds_features(spark, monkeypatch):
    """The budgeted overview policy: with a deliberately tiny budget the
    served sample's feature count stays O(budget) no matter the table
    size, and the modulus is derived as ceil(n / budget) per tile."""
    from tank_spark.operators import mvt_tiles as mt
    from tank_spark.sources.features import features_df

    budget = 1000
    monkeypatch.setattr(mt, "OVERVIEW_FEATURE_BUDGET", budget)

    req = [(7, 20, 49)]
    feats = features_df(spark, SF_DIR)
    n = feats.count()

    mods = {(z, x, y): mod
            for z, x, y, mod in mt._sample_mods_list(spark, feats, req)}
    assert mods[(7, 20, 49)] == (n + budget - 1) // budget > 1

    out = mt.mvt_tiles(spark, SF_DIR, requests=req,
                       overview_sampling=True).collect()
    served = out[0]["n_features"]
    # keys are not perfectly uniform mod m, allow slack — the point is
    # O(budget), not O(table)
    assert 0 < served <= 2 * budget
    assert served < n

    # normal zooms are untouched by the sampling policy
    full = mt.mvt_tiles(spark, SF_DIR, requests=[(13, 1281, 3137)],
                        overview_sampling=True).collect()[0]
    ref = mt.mvt_tiles(spark, SF_DIR,
                       requests=[(13, 1281, 3137)]).collect()[0]
    assert full["mvt_md5"] == ref["mvt_md5"]


def test_sampled_tree_routing_equivalent(spark, monkeypatch):
    """A sampled overview tile in a mixed batch comes back sampled and
    budget-bounded."""
    from tank_spark.operators import mvt_tiles as mt

    monkeypatch.setattr(mt, "OVERVIEW_FEATURE_BUDGET", 200)
    req = [(7, 20, 49), (13, 1281, 3137)]

    direct = {(r["z"], r["x"], r["y"]): (r["n_features"], r["mvt_md5"], r["sample_mod"])
              for r in mt.mvt_tiles(spark, SF_DIR, requests=req,
                                    overview_sampling=True).collect()}
    assert direct[(7, 20, 49)][2] > 1       # the overview tile IS sampled
    assert 0 < direct[(7, 20, 49)][0] <= 2 * 200


def test_tile_mvt_z7_parity_roundtrip(spark):
    """The registered z7 decode-parity audit: decoded feature count must
    equal the declared count, and the decoded totals must be non-trivial
    (a truncated/corrupt blob would zero them)."""
    from tank_spark.plans.registry import load_all

    rows = load_all()["tile_mvt_z7_parity"].spark(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["z"], r["x"], r["y"]) == (7, 20, 49)
    assert r["features_match"] == 1
    assert r["decoded_features"] == r["declared_features"] > 0
    assert r["decoded_points"] >= r["decoded_features"]  # >= 1 pt/feature
    assert r["decoded_prop_values"] > 0
    assert r["extent"] == 4096
    assert r["mvt_size"] > 0 and len(r["mvt_md5"]) == 32


def test_tile_mvt_batch_parity_roundtrip(spark):
    """The registered batch decode-parity audit (the full-oracle twin of
    tile_mvt_batch): one row per hash-aligned default request, decoded
    count == declared count everywhere, geometry-type counts partition
    the features, and every feature carries all four props. (The value-
    level match against the SQL selection is the oracle-parity sweep.)"""
    from tank_spark.operators.mvt_tiles import PARITY_REQUESTS
    from tank_spark.plans.registry import load_all

    rows = load_all()["tile_mvt_batch_parity"].spark(spark, SF_DIR).collect()
    assert {(r["z"], r["x"], r["y"]) for r in rows} == set(PARITY_REQUESTS)
    for r in rows:
        assert r["features_match"] == 1
        assert r["n_point"] + r["n_line"] + r["n_poly"] == r["decoded_features"]
        assert r["decoded_prop_values"] == 4 * r["decoded_features"]
        assert r["sample_mod"] >= 1


def test_fast_nonpoint_bit_parity_with_per_row_path():
    """The vectorized non-point fast path (r13) must produce BYTE-identical
    stage output to the per-row wkt.loads -> clip -> transform -> encode
    loop, and must decline (fall back) on every shape it cannot reproduce:
    border-straddlers, unclosed rings, multi-geometries, junk text."""
    import numpy as np
    import pandas as pd

    from tank_spark.geom.tilemath import tile_bbox
    from tank_spark.operators import mvt_tiles as mt

    z, x, y = 13, 1281, 3137
    lon0, lat0, lon1, lat1 = tile_bbox(z, x, y)
    cx, cy = (lon0 + lon1) / 2, (lat0 + lat1) / 2
    dlon, dlat = (lon1 - lon0) / 10, (lat1 - lat0) / 10
    geoms = [
        # fast-path candidates: fully-inside 2-pt line / closed ring
        f"LINESTRING ({cx - dlon} {cy}, {cx + dlon} {cy})",
        f"POLYGON (({cx - dlon} {cy - dlat}, {cx + dlon} {cy - dlat}, "
        f"{cx + dlon} {cy + dlat}, {cx - dlon} {cy + dlat}, "
        f"{cx - dlon} {cy - dlat}))",
        # reversed winding ring (orient must flip it identically)
        f"POLYGON (({cx - dlon} {cy - dlat}, {cx - dlon} {cy + dlat}, "
        f"{cx + dlon} {cy + dlat}, {cx + dlon} {cy - dlat}, "
        f"{cx - dlon} {cy - dlat}))",
        # degenerate zero-length line
        f"LINESTRING ({cx} {cy}, {cx} {cy})",
        # border-straddler: must fall back to the real clip
        f"LINESTRING ({lon0 - dlon} {cy}, {cx} {cy})",
        f"POLYGON (({lon0 - dlon} {cy - dlat}, {cx} {cy - dlat}, "
        f"{cx} {cy + dlat}, {lon0 - dlon} {cy + dlat}, "
        f"{lon0 - dlon} {cy - dlat}))",
        # unclosed ring, 3-pt line, multi-geometry, junk: all fall back
        f"POLYGON (({cx - dlon} {cy - dlat}, {cx + dlon} {cy - dlat}, "
        f"{cx} {cy + dlat}))",
        f"LINESTRING ({cx - dlon} {cy}, {cx} {cy}, {cx + dlon} {cy})",
        f"MULTILINESTRING (({cx - dlon} {cy}, {cx + dlon} {cy}))",
        "LINESTRING (junk)",
    ]
    pdf = pd.DataFrame({
        "z": z, "x": x, "y": y,
        "key": np.arange(len(geoms), dtype=np.int64),
        "geometry": geoms,
        "kind": "road", "score": 1.5, "cnt": 3, "tag": "tag1",
    })

    stage = mt.make_geom_stage(mt.DEFAULT_PROPS)
    fast = list(stage(iter([pdf.copy()])))

    k1 = 0.5 * mt.BUFFER / mt.EXTEND
    handled, _, _ = mt._fast_nonpoint(pdf.reset_index(drop=True), k1)
    assert handled.tolist() == [True] * 4 + [False] * 6

    real = mt._fast_nonpoint
    mt._fast_nonpoint = lambda gen, _k1: (
        np.zeros(len(gen), dtype=bool), np.zeros(len(gen), dtype=np.int32),
        np.empty(len(gen), dtype=object))
    try:
        slow = list(stage(iter([pdf.copy()])))
    finally:
        mt._fast_nonpoint = real

    fc = pd.concat(fast, ignore_index=True)
    sc = pd.concat(slow, ignore_index=True)
    assert len(fc) == len(sc)
    for c in ("z", "x", "y"):
        assert (fc[c].to_numpy() == sc[c].to_numpy()).all()
    assert all(a == b for a, b in zip(fc["chunk"], sc["chunk"]))
