"""Cache-invalidation tests: region clustering, quadtree cover
correctness (every affected cached tile is invalidated; disjoint tiles
are not), subtree-root compression."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from tank_spark.geom import tilemath
from tank_spark.operators.invalidation import (
    BBox, cluster_regions, invalidation_keys_for, quadtree_cover,
    subtree_contains,
)


def test_cluster_regions_merges_to_cap():
    boxes = [BBox(i, i, i + 1, i + 1) for i in range(10)]
    regions = cluster_regions(boxes, max_regions=3)
    assert len(regions) == 3
    # every input bbox is inside some region
    for b in boxes:
        assert any(r.covers(b) for r in regions)


def test_quadtree_cover_small_region():
    # a small bbox around one z13 tile in the features block
    lon_min, lat_min, lon_max, lat_max = tilemath.tile_bbox(13, 1281, 3137)
    dirty = BBox(lon_min + 1e-6, lat_min + 1e-6, lon_max - 1e-6, lat_max - 1e-6)
    tiles, roots = quadtree_cover(dirty)
    cover = set(tiles)
    for root in roots:
        assert subtree_contains(root, root)
    # the dirty tile's whole ancestor chain (z2..z13) must be affected
    for z in range(2, 14):
        shift = 13 - z
        t = (z, 1281 >> shift, 3137 >> shift)
        assert t in cover or any(subtree_contains(r, t) for r in roots)
    # a far-away tile is NOT invalidated
    far = (13, 100, 100)
    assert far not in cover and not any(subtree_contains(r, far) for r in roots)


def test_quadtree_cover_whole_world_is_one_root():
    dirty = BBox(-180.0, -86.0, 180.0, 86.0)
    tiles, roots = quadtree_cover(dirty)
    # world-sized dirt covers the root tile -> one subtree root, no walk
    assert roots == [(0, 0, 0)] and tiles == []
    keys = invalidation_keys_for([dirty])
    assert keys == ["subtree/0/0/0"]  # compressed, not 4^15 keys


@given(
    st.floats(-120.0, 120.0), st.floats(-60.0, 60.0),
    st.floats(0.001, 5.0), st.floats(0.001, 5.0),
)
@settings(max_examples=25, deadline=None)
def test_cover_is_sound(lon, lat, w, h):
    """Soundness: any cached tile whose bbox intersects the dirty region
    is caught by the cover (tile list or a subtree root)."""
    dirty = BBox(lon, lat, lon + w, lat + h)
    tiles, roots = quadtree_cover(dirty, zoom_start=2, zoom_end=8)
    cover = set(tiles)
    # check exhaustively at z=8 in the dirty neighborhood
    x0, y0 = tilemath.tile_number(min(lat + h, 85.0), lon, 8)
    x1, y1 = tilemath.tile_number(max(lat, -85.0), min(lon + w, 179.99), 8)
    for x in range(max(x0 - 1, 0), min(x1 + 2, 256)):
        for y in range(max(y0 - 1, 0), min(y1 + 2, 256)):
            lon_min, lat_min, lon_max, lat_max = tilemath.tile_bbox(8, x, y)
            if dirty.intersects(BBox(lon_min, lat_min, lon_max, lat_max)):
                t = (8, x, y)
                assert t in cover or any(subtree_contains(r, t) for r in roots), t


def test_invalidation_keys_pair_tile_and_heatmap():
    lon_min, lat_min, lon_max, lat_max = tilemath.tile_bbox(13, 1281, 3137)
    keys = invalidation_keys_for(
        [BBox(lon_min, lat_min, lon_max, lat_max)], zoom_end=13
    )
    tile_keys = {k for k in keys if k.startswith("tile/")}
    hm_keys = {k.replace("heatmap/", "tile/") for k in keys if k.startswith("heatmap/")}
    assert tile_keys == hm_keys and len(tile_keys) > 0


# ---------------------------------------------------------------------------
# V3: per-feature cover invalidation (BoundingManager.kt — dead path in the
# reference, Tyler.kt:140; implemented for surface completeness)
# ---------------------------------------------------------------------------

from tank_spark.geom import predicates
from tank_spark.operators.invalidation import (
    FeatureBoundingManager, feature_quadtree_cover,
)

UNIT_SQ = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]]
DONUT = [
    [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
    [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]],
]


def test_point_in_rings_boundary_and_hole():
    assert predicates.point_in_rings(5.0, 5.0, UNIT_SQ)
    assert not predicates.point_in_rings(11.0, 5.0, UNIT_SQ)
    assert predicates.point_in_rings(0.0, 5.0, UNIT_SQ)      # boundary
    assert predicates.point_in_rings(10.0, 10.0, UNIT_SQ)    # corner
    assert not predicates.point_in_rings(5.0, 5.0, DONUT)    # in the hole
    assert predicates.point_in_rings(2.0, 2.0, DONUT)


def test_rect_intersects_all_shapes():
    # rect inside polygon / polygon inside rect / crossing / disjoint
    assert predicates.rect_intersects("Polygon", UNIT_SQ, (2, 2, 3, 3))
    assert predicates.rect_intersects("Polygon", UNIT_SQ, (-5, -5, 15, 15))
    assert predicates.rect_intersects("Polygon", UNIT_SQ, (8, 8, 12, 12))
    assert not predicates.rect_intersects("Polygon", UNIT_SQ, (11, 11, 12, 12))
    # boundary touch counts (JTS intersects)
    assert predicates.rect_intersects("Polygon", UNIT_SQ, (10, 0, 12, 2))
    # rect inside the hole is disjoint from the polygon
    assert not predicates.rect_intersects("Polygon", DONUT, (4.5, 4.5, 5.5, 5.5))
    assert predicates.rect_intersects("Point", [1.0, 1.0], (0, 0, 2, 2))
    assert not predicates.rect_intersects("Point", [3.0, 1.0], (0, 0, 2, 2))
    assert predicates.rect_intersects(
        "LineString", [[-1.0, 1.0], [3.0, 1.0]], (0, 0, 2, 2))
    assert not predicates.rect_intersects(
        "LineString", [[-1.0, 5.0], [3.0, 5.0]], (0, 0, 2, 2))


def test_rect_covered_by():
    assert predicates.rect_covered_by("Polygon", UNIT_SQ, (2, 2, 3, 3))
    # the whole square covers itself (boundary contact allowed)
    assert predicates.rect_covered_by("Polygon", UNIT_SQ, (0, 0, 10, 10))
    # rect poking out / edge crossing through -> not covered
    assert not predicates.rect_covered_by("Polygon", UNIT_SQ, (8, 8, 12, 12))
    # rect straddling the hole -> not covered; rect inside hole -> not
    assert not predicates.rect_covered_by("Polygon", DONUT, (3, 3, 7, 7))
    assert not predicates.rect_covered_by("Polygon", DONUT, (4.5, 4.5, 5.5, 5.5))
    assert predicates.rect_covered_by("Polygon", DONUT, (1.0, 1.0, 3.0, 3.0))
    # only area geometries can cover
    assert not predicates.rect_covered_by(
        "LineString", [[0.0, 0.0], [10.0, 10.0]], (2, 2, 3, 3))


def test_feature_cover_point_is_ancestor_chain():
    tiles, roots = feature_quadtree_cover("Point", [13.4, 52.5], zoom_end=15)
    assert roots == [] and len(tiles) == 16
    for z in range(16):
        x, y = tilemath.tile_number(52.5, 13.4, z)
        assert (z, x, y) in tiles


def _expand(roots, tiles, zoom_end):
    out = set(tiles)
    for rz, rx, ry in roots:
        for zz in range(rz, zoom_end + 1):
            s = zz - rz
            for dx in range(1 << s):
                for dy in range(1 << s):
                    out.add((zz, (rx << s) + dx, (ry << s) + dy))
    return out


@given(st.integers(0, 10_000))
@settings(max_examples=15, deadline=None)
def test_feature_cover_matches_bruteforce(seed):
    """The walk's (tiles + expanded roots) equals the brute-force set of
    every tile whose rect intersects the polygon, and every emitted root
    is brute-force covered — the exact invariant of the reference's
    invalCacheCV + invalCacheAllChildren pair."""
    import random

    rng = random.Random(seed)
    pts = [(rng.uniform(-170, 170), rng.uniform(-80, 80)) for _ in range(3)]
    coords = [[list(p) for p in pts + [pts[0]]]]
    ze = 4
    tiles, roots = feature_quadtree_cover("Polygon", coords, zoom_end=ze)
    brute_inter, brute_cov = set(), set()
    for z in range(ze + 1):
        for x in range(2 ** z):
            for y in range(2 ** z):
                rect = tilemath.tile_bbox(z, x, y)
                if predicates.rect_intersects("Polygon", coords, rect):
                    brute_inter.add((z, x, y))
                if predicates.rect_covered_by("Polygon", coords, rect):
                    brute_cov.add((z, x, y))
    assert _expand(roots, tiles, ze) == brute_inter
    assert set(roots) <= brute_cov


def test_feature_bounding_manager_threshold_flush():
    flushed = []
    mgr = FeatureBoundingManager(
        threshold=9, zoom_end=3, on_flush=lambda t, r: flushed.append((t, r)))
    assert mgr.add("Point", [13.4, 52.5]) == []
    assert mgr.pending_size() == 4           # chain z0..z3
    assert mgr.add("Point", [-70.0, -30.0]) == []
    assert mgr.pending_size() == 7           # shares only the z0 root
    keys = mgr.add("Point", [150.0, 60.0])   # 9 >= threshold -> auto-flush
    assert keys and flushed and mgr.pending_size() == 0
    tile_keys = {k for k in keys if k.startswith("tile/")}
    hm_keys = {k.replace("heatmap/", "tile/") for k in keys
               if k.startswith("heatmap/")}
    assert tile_keys == hm_keys and len(tile_keys) == 9
    assert mgr.flush() == []                 # empty set drains to nothing


def test_feature_bounding_manager_root_compression():
    # a polygon covering a z2 tile entirely: the root subsumes its
    # descendants in both the set and the pending count
    lon0, lat0, lon1, lat1 = tilemath.tile_bbox(2, 2, 1)
    pad_lon, pad_lat = (lon1 - lon0) * 0.3, 8.0
    coords = [[
        [lon0 - pad_lon, lat0 - pad_lat], [lon1 + pad_lon, lat0 - pad_lat],
        [lon1 + pad_lon, lat1 + pad_lat], [lon0 - pad_lon, lat1 + pad_lat],
        [lon0 - pad_lon, lat0 - pad_lat],
    ]]
    mgr = FeatureBoundingManager(threshold=10 ** 9, zoom_end=6)
    mgr.add("Polygon", coords)
    tiles, roots = mgr.pending_cover()
    assert any(subtree_contains(r, (2, 2, 1)) for r in roots)
    for t in tiles:
        assert not any(subtree_contains(r, t) for r in roots)
    for r in roots:
        assert not any(o != r and subtree_contains(o, r) for o in roots)


def test_tile_cache_invalidate_features(spark, tmp_path):
    from tank_spark.operators.tile_cache import TileCache

    cache = TileCache(str(tmp_path / "cache"))
    # one entry inside the dirty polygon's z9 cover, one far away
    zin = (9, tilemath.tile_number(52.5, 13.4, 9)[0],
           tilemath.tile_number(52.5, 13.4, 9)[1])
    zout = (9, tilemath.tile_number(-30.0, -70.0, 9)[0],
            tilemath.tile_number(-30.0, -70.0, 9)[1])
    cache.put("tile", *zin, b"in")
    cache.put("heatmap", *zin, b"in-hm")
    cache.put("tile", *zout, b"out")
    lon0, lat0, lon1, lat1 = tilemath.tile_bbox(9, zin[1], zin[2])
    wkt = (f"POLYGON (({lon0 - 0.01} {lat0 - 0.01}, {lon1 + 0.01} {lat0 - 0.01}, "
           f"{lon1 + 0.01} {lat1 + 0.01}, {lon0 - 0.01} {lat1 + 0.01}, "
           f"{lon0 - 0.01} {lat0 - 0.01}))")
    n = cache.invalidate_features([wkt])
    assert n >= 2
    assert cache.get("tile", *zin) is None
    assert cache.get("heatmap", *zin) is None
    assert cache.get("tile", *zout) == b"out"


def test_tile_cache_large_cover_matches_the_driver_model(spark, tmp_path):
    """A cover of thousands of tiles and roots at many zooms deletes
    exactly the cached keys a driver-side descendant test selects."""
    import random

    from tank_spark.operators.tile_cache import TileCache

    rng = random.Random(7)
    keys = {(k, z, rng.randrange(1 << z), rng.randrange(1 << z))
            for k in ("tile", "heatmap") for z in (2, 5, 9, 13, 15)
            for _ in range(6)}
    tiles = {(z, rng.randrange(1 << z), rng.randrange(1 << z))
             for z in (9, 13, 15) for _ in range(1500)}
    tiles |= {key[1:] for key in sorted(keys)[::4]}
    # ancestors two zooms up of some keys, and one root over no key
    roots = [(z - 2, x >> 2, y >> 2) for _k, z, x, y in sorted(keys)[1::5]
             if z > 4]
    roots.append((3, 1, 2))

    def covered(z, x, y):
        return (z, x, y) in tiles or any(
            z >= rz and (x >> (z - rz), y >> (z - rz)) == (rx, ry)
            for rz, rx, ry in roots)

    cache = TileCache(str(tmp_path / "cache"))
    for k, z, x, y in sorted(keys):
        cache.put(k, z, x, y, f"{k}/{z}/{x}/{y}".encode())
    want = {key for key in keys if covered(*key[1:])}
    assert 0 < len(want) < len(keys)
    assert cache.invalidate_cover(sorted(tiles), roots) == len(want)
    for k, z, x, y in sorted(keys):
        got = cache.get(k, z, x, y)
        assert got == (None if (k, z, x, y) in want
                       else f"{k}/{z}/{x}/{y}".encode())
