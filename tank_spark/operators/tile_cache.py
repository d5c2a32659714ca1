"""Key-addressed tile cache (reference S8: memcached get/set/delete of
encoded tiles by ``tile|heatmap/z/x/y``, application.kt:358-362,
469-470, BoundingManager.kt:86-90, TileTranscoder.kt) + the V1/V2/V3
invalidation wiring.

Reference semantics preserved: cacheable zoom band z in [2, 15]
(application.conf:14-17), TTL (reference 10000 s), paired tile/heatmap
namespaces, invalidation by region-clustered quadtree cover after writes.

Storage: one parquet file per key, ``<cache_dir>/<kind>/<z>/<x>/<y>.parquet``,
holding one row ``(blob binary, created_at double)``, read and written on
the driver with pyarrow; no Spark job, no in-process state.

* ``put`` writes the row to a dot-prefixed temp file in the key's
  directory and renames it over the key's path: a reader sees a whole
  file, and the newest write wins.
* ``get`` reads the key's one path. A missing file is a miss (also when
  an invalidation unlinks it mid-read); the TTL is checked against the
  stored ``created_at``.
* ``invalidate_cover`` unlinks the cover's keys of every kind: a cover
  tile's own paths, and under a subtree root the files at every zoom at
  or below it, found by listing the zoom directories and, inside them,
  only the ``x`` directories in the root's range. Its cost follows the
  cover, not the cache.

Every call goes to the file system, so another process's puts and
invalidations are seen by the next ``get``: the memcached key space on a
local (or mounted, shared) directory.
"""

from __future__ import annotations

import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from tank_spark import cache
from tank_spark.operators.invalidation import (
    ZOOM_END, ZOOM_START, BBox, FeatureBoundingManager, cluster_regions,
    quadtree_cover,
)

TTL_SECONDS = 10_000  # reference application.kt:470

_ROW_SCHEMA = pa.schema([("blob", pa.binary()), ("created_at", pa.float64())])
# kinds that are one directory name
_PLAIN_KIND = re.compile(r"[A-Za-z0-9_-]+")
_SUFFIX = ".parquet"


class TileCache:
    def __init__(self, cache_dir: str, ttl_seconds: int = TTL_SECONDS):
        self.ttl = ttl_seconds
        self._dir = os.path.abspath(cache.local_dir(cache_dir))

    def _path(self, kind: str, z: int, x: int, y: int) -> str:
        if not _PLAIN_KIND.fullmatch(kind):
            raise ValueError(f"cache kind must match {_PLAIN_KIND.pattern}: {kind!r}")
        return os.path.join(self._dir, kind, str(z), str(x), f"{y}{_SUFFIX}")

    @staticmethod
    def cacheable(z: int) -> bool:
        return ZOOM_START <= z <= ZOOM_END  # reference application.kt:358

    def get(self, kind: str, z: int, x: int, y: int) -> bytes | None:
        if not self.cacheable(z):
            return None
        try:
            with open(self._path(kind, z, x, y), "rb") as f:
                row = pq.ParquetFile(f).read().to_pylist()[0]
        except FileNotFoundError:
            return None
        if row["created_at"] <= time.time() - self.ttl:
            return None
        return row["blob"]

    def put(self, kind: str, z: int, x: int, y: int, blob: bytes) -> None:
        if not self.cacheable(z):
            return
        path = self._path(kind, z, x, y)
        x_dir = os.path.dirname(path)
        os.makedirs(x_dir, exist_ok=True)
        tmp = os.path.join(x_dir, f".{y}.{uuid.uuid4().hex}.tmp")
        row = {"blob": [bytes(blob)], "created_at": [float(time.time())]}
        pq.write_table(pa.Table.from_pydict(row, schema=_ROW_SCHEMA), tmp)
        os.replace(tmp, path)

    def invalidate_bboxes(self, dirty: list[BBox]) -> int:
        """V1 + V2: cluster dirty bboxes, cover with the quadtree, delete
        every cached tile/heatmap entry (both kinds) in the cover.
        Returns the number of distinct cache keys invalidated.
        """
        tiles: set[tuple[int, int, int]] = set()
        roots: list[tuple[int, int, int]] = []
        for region in cluster_regions(dirty):
            tl, rt = quadtree_cover(region)
            tiles.update(tl)
            roots.extend(rt)
        return self.invalidate_cover(sorted(tiles), roots)

    def invalidate_features(self, geometries) -> int:
        """V3: per-feature cover invalidation (BoundingManager.kt:37-55
        — a dead path in the reference, Tyler.kt:140; see
        invalidation.FeatureBoundingManager).  ``geometries`` is an
        iterable of WKT strings or (geom_type, coords) pairs; their
        covers merge into ONE delete, the batched form of the
        reference's threshold flush."""
        mgr = FeatureBoundingManager(threshold=2 ** 63)
        for g in geometries:
            if isinstance(g, str):
                mgr.add_wkt(g)
            else:
                mgr.add(g[0], g[1])
        return self.invalidate_cover(*mgr.pending_cover())

    def invalidate_cover(self, tiles, roots) -> int:
        """Delete every cached entry, of every kind, matching the given
        (tiles, subtree roots) cover; the shared apply path for V1+V2
        region covers and V3 feature covers. Returns the number of
        distinct cache keys deleted."""
        kinds = [k for k in _names(self._dir) if _PLAIN_KIND.fullmatch(k)]
        paths = {self._path(k, *t) for k in kinds for t in tiles}
        for k in kinds:
            paths.update(_under(os.path.join(self._dir, k), roots))
        return sum(map(_unlink, paths))


def _under(kind_dir: str, roots):
    """The cached paths of one kind below any subtree root: the
    zoom-``z`` descendants of root ``(rz, rx, ry)`` are the keys whose
    ``(x >> (z - rz), y >> (z - rz))`` is ``(rx, ry)``."""
    by_zoom: dict[int, set[tuple[int, int]]] = {}
    for rz, rx, ry in roots:
        by_zoom.setdefault(rz, set()).add((rx, ry))
    cols = {rz: {rx for rx, _ry in xy} for rz, xy in by_zoom.items()}
    for z in _ints(kind_dir):
        zooms = [rz for rz in by_zoom if rz <= z]
        if not zooms:
            continue
        z_dir = os.path.join(kind_dir, str(z))
        for x in _ints(z_dir):
            near = [rz for rz in zooms if x >> (z - rz) in cols[rz]]
            if not near:
                continue
            x_dir = os.path.join(z_dir, str(x))
            for y in _ints(x_dir, _SUFFIX):
                if any((x >> (z - rz), y >> (z - rz)) in by_zoom[rz]
                       for rz in near):
                    yield os.path.join(x_dir, f"{y}{_SUFFIX}")


def _names(d: str) -> list[str]:
    """The entries of directory ``d`` but dot-prefixed temp files; none
    for a missing directory."""
    try:
        return [n for n in os.listdir(d) if not n.startswith(".")]
    except (FileNotFoundError, NotADirectoryError):
        return []


def _ints(d: str, suffix: str = "") -> list[int]:
    """The non-negative integers that name entries ``<int><suffix>`` of
    directory ``d``."""
    stems = (n[:len(n) - len(suffix)] for n in _names(d) if n.endswith(suffix))
    return [int(s) for s in stems if s.isdigit()]


def _unlink(path: str) -> bool:
    try:
        os.unlink(path)
        return True
    except FileNotFoundError:   # not cached, or deleted by another writer
        return False
