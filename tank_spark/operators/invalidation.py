"""Tile-cache invalidation — the reference's quadtree cover walk
(SURVEY.md §2.6: RegionManager.kt:145-184, BoundingManager.kt:37-90,
Region.kt, Tile.kt) re-expressed for a key-per-file tile cache.

Semantics preserved from the reference:

* V2 quadtree cover: BFS from tile (0,0,0); a tile *covered by* the dirty
  geometry invalidates its whole subtree down to ``zoom_end`` without
  further tests; a tile merely *intersecting* recurses into its 4
  children; disjoint tiles prune the branch (BoundingManager.kt:49-87).
* V1 region clustering: incoming dirty bboxes merge into at most
  ``max_regions`` regions before the walk, so one walk covers a batch
  (RegionManager.kt:25-131 — nearest-pair merge by bbox distance).
* Both tile and heatmap keys invalidate per tile (application.kt delete
  of ``tile/z/x/y`` + ``heatmap/z/x/y``).

Spark integration: ``invalidation_keys_for`` is driver-side planning math
(the key list is bounded by the quadtree, not the data — exactly like the
reference's memcached deletes); applying it to the cache is one unlink
per cached key in the cover (``tile_cache``). The per-mutation
dirty-bucket lists from operators/table_ops.py give the dirty geometry
for free.
"""

from __future__ import annotations

from dataclasses import dataclass

from tank_spark.geom import tilemath, wkt

ZOOM_START, ZOOM_END = 2, 15   # reference application.conf:14-17 cache band


@dataclass
class BBox:
    xmin: float
    ymin: float
    xmax: float
    ymax: float

    def intersects(self, other: "BBox") -> bool:
        return not (
            self.xmax < other.xmin or other.xmax < self.xmin
            or self.ymax < other.ymin or other.ymax < self.ymin
        )

    def covers(self, other: "BBox") -> bool:
        """self fully covers other (reference `coveredBy` reversed)."""
        return (
            self.xmin <= other.xmin and self.ymin <= other.ymin
            and self.xmax >= other.xmax and self.ymax >= other.ymax
        )

    def union(self, other: "BBox") -> "BBox":
        return BBox(
            min(self.xmin, other.xmin), min(self.ymin, other.ymin),
            max(self.xmax, other.xmax), max(self.ymax, other.ymax),
        )

    def distance(self, other: "BBox") -> float:
        dx = max(self.xmin - other.xmax, other.xmin - self.xmax, 0.0)
        dy = max(self.ymin - other.ymax, other.ymin - self.ymax, 0.0)
        return (dx * dx + dy * dy) ** 0.5


def cluster_regions(bboxes: list[BBox], max_regions: int = 3) -> list[BBox]:
    """V1: merge dirty bboxes into <= max_regions regions by repeatedly
    unioning the closest pair (reference cache_region_count default 3,
    application.conf:24-29)."""
    regions = list(bboxes)
    while len(regions) > max_regions:
        best, bi, bj = None, 0, 1
        for i in range(len(regions)):
            for j in range(i + 1, len(regions)):
                d = regions[i].distance(regions[j])
                if best is None or d < best:
                    best, bi, bj = d, i, j
        merged = regions[bi].union(regions[bj])
        regions = [r for k, r in enumerate(regions) if k not in (bi, bj)]
        regions.append(merged)
    return regions


def _tile_bbox_lonlat(z: int, x: int, y: int) -> BBox:
    lon_min, lat_min, lon_max, lat_max = tilemath.tile_bbox(z, x, y)
    return BBox(lon_min, lat_min, lon_max, lat_max)


def quadtree_cover(
    dirty: BBox, zoom_start: int = ZOOM_START, zoom_end: int = ZOOM_END,
) -> tuple[list[tuple[int, int, int]], list[tuple[int, int, int]]]:
    """V2: (boundary_tiles, covered_subtree_roots) for the dirty bbox.

    BFS from (0,0,0); a tile fully covered by the dirty region is emitted
    as a SUBTREE ROOT (its 4^(zoom_end-z) descendants are implied — a
    directory walk of the cache, never an enumeration; the
    reference enumerates every key for memcached, which explodes for
    large regions). Merely-intersecting tiles are emitted individually
    and recursed — O(perimeter) per zoom.
    """
    tiles: list[tuple[int, int, int]] = []
    roots: list[tuple[int, int, int]] = []

    def walk(z: int, x: int, y: int) -> None:
        tb = _tile_bbox_lonlat(z, x, y)
        if not dirty.intersects(tb):
            return
        if dirty.covers(tb):
            roots.append((z, x, y))
            return
        if z >= zoom_start:
            tiles.append((z, x, y))
        if z < zoom_end:
            for cx in (2 * x, 2 * x + 1):
                for cy in (2 * y, 2 * y + 1):
                    walk(z + 1, cx, cy)

    walk(0, 0, 0)
    return tiles, roots


def subtree_contains(root: tuple[int, int, int], tile: tuple[int, int, int]) -> bool:
    """True if ``tile`` is ``root`` or a descendant of it."""
    rz, rx, ry = root
    z, x, y = tile
    if z < rz:
        return False
    shift = z - rz
    return (x >> shift) == rx and (y >> shift) == ry


def feature_quadtree_cover(
    geom_type: str, coords, zoom_end: int = ZOOM_END,
) -> tuple[list[tuple[int, int, int]], list[tuple[int, int, int]]]:
    """V3: per-feature cover walk against the REAL geometry
    (BoundingManager.kt:37-55 ``invalCacheCV``), not a bbox.

    Walk from (0,0,0) over tiles with ``z <= zoom_end`` (DFS order
    here vs the reference's BFS queue — the emitted SET is identical
    since membership never depends on visit order); a tile
    ``coveredBy`` the geometry becomes a SUBTREE ROOT (the reference
    enumerates every descendant for memcached,
    BoundingManager.kt:63-77 — the cache keeps the root as one
    directory walk, same compression as V2); a merely-intersecting
    tile is emitted individually and its children recurse; disjoint
    branches prune.  Unlike the V2 region walk there is no zoom_start
    band — the reference's per-feature set starts at z=0.

    The geometry predicates are exact rect-vs-geometry tests
    (geom/predicates.py), matching the JTS calls tile-shape for
    tile-shape; for Point/LineString features ``coveredBy`` never
    fires, so the walk degenerates to the containing-tile ancestor
    chains, exactly as in the reference.
    """
    from tank_spark.geom import predicates

    tiles: list[tuple[int, int, int]] = []
    roots: list[tuple[int, int, int]] = []
    queue: list[tuple[int, int, int]] = [(0, 0, 0)]
    while queue:
        z, x, y = queue.pop()
        if z > zoom_end:
            continue
        rect = tilemath.tile_bbox(z, x, y)
        if predicates.rect_covered_by(geom_type, coords, rect):
            roots.append((z, x, y))
            continue
        if predicates.rect_intersects(geom_type, coords, rect):
            tiles.append((z, x, y))
            for cx in (2 * x, 2 * x + 1):
                for cy in (2 * y, 2 * y + 1):
                    queue.append((z + 1, cx, cy))
    return tiles, roots


def _subtree_size(rz: int, zoom_end: int) -> int:
    """Enumerated tile count of a subtree root at zoom ``rz`` truncated
    at ``zoom_end`` — what the reference's ``tilingSet`` would hold for
    it (BoundingManager.kt:63-77 adds every descendant)."""
    return sum(4 ** (zz - rz) for zz in range(rz, zoom_end + 1))


class FeatureBoundingManager:
    """V3 driver-side accumulator mirroring BoundingManager.kt:15-31.

    NOTE: this is a DEAD PATH in the reference — the only call site is
    commented out (Tyler.kt:140, ``//boundingManager.add(f)``) in favor
    of the batched V1+V2 region walk.  Implemented for surface
    completeness with the same contract: ``add(feature)`` accumulates
    the feature's cover into a deduped set; when the pending size
    reaches ``threshold`` (reference default 1000,
    application.conf:28 / application.kt:96) the set auto-flushes;
    ``flush()`` force-drains.  Pending size counts subtree roots at
    their enumerated descendant count, which is what the reference's
    flat ``tilingSet.size`` sees.

    ``on_flush(tiles, roots)`` is the sink hook — wire it to
    ``TileCache.invalidate_cover`` for the cache's file deletes, or
    leave unset and consume the returned key lists (the memcached
    shape).  Each flush returns the paired ``tile/`` + ``heatmap/``
    key list it drained, like the reference's paired deletes.
    """

    def __init__(self, threshold: int = 1000, zoom_end: int = ZOOM_END,
                 on_flush=None, max_expand: int = 100_000):
        self.threshold = threshold
        self.zoom_end = zoom_end
        self.on_flush = on_flush
        self.max_expand = max_expand
        self._tiles: set[tuple[int, int, int]] = set()
        self._roots: set[tuple[int, int, int]] = set()

    def pending_cover(self) -> tuple[list, list]:
        """(tiles, subtree roots) accumulated so far, sorted."""
        return sorted(self._tiles), sorted(self._roots)

    def pending_size(self) -> int:
        return len(self._tiles) + sum(
            _subtree_size(rz, self.zoom_end) for rz, _, _ in self._roots
        )

    def add(self, geom_type: str, coords) -> list[str]:
        """Accumulate one feature's cover (``BoundingManager.add``);
        returns the flushed key list if the threshold tripped, else []."""
        tiles, roots = feature_quadtree_cover(geom_type, coords, self.zoom_end)
        self._roots.update(roots)
        self._tiles.update(tiles)
        # keep the set in reference shape: a tile under a root is already
        # counted by the root's enumerated subtree (safeAddToSet dedup)
        self._roots = {
            r for r in self._roots
            if not any(o != r and subtree_contains(o, r) for o in self._roots)
        }
        self._tiles = {
            t for t in self._tiles
            if not any(subtree_contains(r, t) for r in self._roots)
        }
        if self.pending_size() >= self.threshold:
            return self.flush()
        return []

    def add_wkt(self, wkt_text: str) -> list[str]:
        geom_type, coords = wkt.loads(wkt_text)
        return self.add(geom_type, coords)

    def flush(self) -> list[str]:
        """Drain the pending set (``BoundingManager.flush``): emit the
        paired key list, call the sink hook, clear."""
        if not self._tiles and not self._roots:
            return []
        keys = cover_keys(sorted(self._tiles), sorted(self._roots),
                          zoom_start=0, zoom_end=self.zoom_end,
                          max_expand=self.max_expand)
        if self.on_flush is not None:
            self.on_flush(sorted(self._tiles), sorted(self._roots))
        self._tiles.clear()
        self._roots.clear()
        return keys


def cover_keys(tiles, roots, zoom_start: int = ZOOM_START,
               zoom_end: int = ZOOM_END,
               max_expand: int = 100_000) -> list[str]:
    """(tiles, subtree roots) -> sorted cache-key list; both ``tile/``
    and ``heatmap/`` namespaces, like the reference's paired memcached
    deletes (BoundingManager.kt:86-90). Covered subtrees expand to keys
    only while under ``max_expand``; beyond that a ``subtree/z/x/y``
    prefix key is emitted (range-delete form)."""
    keys: set[str] = set()
    for z, x, y in tiles:
        if z >= zoom_start:
            keys.add(f"tile/{z}/{x}/{y}")
            keys.add(f"heatmap/{z}/{x}/{y}")
    for rz, rx, ry in roots:
        subtree_size = sum(
            4 ** (zz - rz) for zz in range(max(rz, zoom_start), zoom_end + 1)
        )
        if subtree_size * 2 <= max_expand:
            for zz in range(max(rz, zoom_start), zoom_end + 1):
                shift = zz - rz
                for dx in range(1 << shift):
                    for dy in range(1 << shift):
                        keys.add(f"tile/{zz}/{(rx << shift) + dx}/{(ry << shift) + dy}")
                        keys.add(f"heatmap/{zz}/{(rx << shift) + dx}/{(ry << shift) + dy}")
        else:
            keys.add(f"subtree/{rz}/{rx}/{ry}")
    return sorted(keys)


def invalidation_keys_for(dirty_bboxes: list[BBox], max_regions: int = 3,
                          zoom_start: int = ZOOM_START,
                          zoom_end: int = ZOOM_END,
                          max_expand: int = 100_000) -> list[str]:
    """Cache keys to drop for a batch of dirty bboxes: region-clustered
    (V1) then quadtree-covered (V2)."""
    keys: set[str] = set()
    for region in cluster_regions(dirty_bboxes, max_regions):
        tiles, roots = quadtree_cover(region, zoom_start, zoom_end)
        keys.update(cover_keys(tiles, roots, zoom_start, zoom_end, max_expand))
    return sorted(keys)
