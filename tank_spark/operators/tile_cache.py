"""Table-backed tile cache (reference S8: memcached get/set of encoded
tiles, application.kt:358-362, 469-470, TileTranscoder.kt) + the V1/V2
invalidation wiring.

Reference semantics preserved: cacheable zoom band z in [2, 15]
(application.conf:14-17), TTL (reference 10000 s), paired tile/heatmap
namespaces, invalidation by region-clustered quadtree cover after writes.

Storage: a parquet table partitioned by (kind, z) — a cache probe is a
partition-pruned lookup; invalidation deletes matching rows copy-on-write
(a subtree root is one ancestor test per row, so a world-sized
invalidation is one table rewrite, not 4^13 tombstones).

Session handle: the cache table is read through the feature table's
handle rule (``table_ops.read_table``): one DataFrame per (session, cache
directory, data version), built without a Spark job. The version is
``cache.dir_version`` over ``kind=*/z=*``; ``put`` and
``invalidate_cover`` end with ``table_ops.refresh_table``, which drops
the handle, and the directory version catches writers this process does
not see.

Serving front: ``get`` serves from the ``tile_cache.front`` namespace of
the session cache, keyed by (cache directory, kind, z, x, y) with the
cache table's directory version as fingerprint. The value is the key's
newest ``(blob, created_at)`` row, or None for an absent key; the TTL is
checked on every serve. Only a front miss (a new key, or a moved
version) probes the table with Spark. ``put`` writes its one row as one
parquet file on the driver (pyarrow, a dot-prefixed temp file renamed
into ``kind=/z=``) and stores the blob in the front under the new
version; the directory's other entries keep the old version and re-probe
once. ``invalidate_cover`` drops the directory's entries and holds up
to ``cache.MEMO_CAP`` keys it deleted as absent. This is the reference's
memcached in front of its tile store; the table is the shared, durable
layer, the same on any parquet store at 100 TB.
"""

from __future__ import annotations

import itertools
import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tank_spark import cache
from tank_spark.operators.invalidation import (
    ZOOM_END, ZOOM_START, BBox, FeatureBoundingManager, cluster_regions,
    quadtree_cover,
)
from tank_spark.operators.table_ops import (
    SPARK_SCHEMA_KEY, has_data, read_table, refresh_table,
)

TTL_SECONDS = 10_000  # reference application.kt:470
FRONT = "tile_cache.front"

# the data columns of a cache row file (kind and z are its directories),
# with the Spark schema in the footer as Spark's own writer stores it
_ROW_SCHEMA = pa.schema(
    [("x", pa.int32()), ("y", pa.int32()), ("blob", pa.binary()),
     ("created_at", pa.float64())],
    metadata={SPARK_SCHEMA_KEY: T.StructType([
        T.StructField("x", T.IntegerType()), T.StructField("y", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("created_at", T.DoubleType()),
    ]).json().encode()},
)
# kinds that are their own partition path segment (Spark escapes others)
_PLAIN_KIND = re.compile(r"[A-Za-z0-9_-]+")


class TileCache:
    def __init__(self, spark: SparkSession, cache_dir: str,
                 ttl_seconds: int = TTL_SECONDS):
        self.spark = spark
        self.cache_dir = cache_dir
        self.ttl = ttl_seconds
        self._dir = os.path.abspath(cache.local_fs_path(cache_dir))

    def _table(self) -> DataFrame | None:
        """The cache table's handle at its current version; None while
        the cache is empty (no table yet)."""
        if not has_data(self.cache_dir):
            return None
        try:
            return read_table(self.spark, self.cache_dir, 2)
        except AnalysisException:
            return None

    def _key(self, kind: str, z: int, x: int, y: int) -> tuple:
        return (self._dir, kind, z, x, y)

    def _in_dir(self, key: tuple) -> bool:
        return key[0] == self._dir

    @staticmethod
    def cacheable(z: int) -> bool:
        return ZOOM_START <= z <= ZOOM_END  # reference application.kt:358

    def get(self, kind: str, z: int, x: int, y: int) -> bytes | None:
        if not self.cacheable(z):
            return None
        newest = cache.cached(
            FRONT, self._key(kind, z, x, y),
            lambda: self._probe(kind, z, x, y),
            fp=cache.dir_version(self.cache_dir, 2),
        )
        if newest is None or newest[1] <= time.time() - self.ttl:
            return None
        return newest[0]

    def _probe(self, kind: str, z: int, x: int, y: int) -> tuple | None:
        """The key's newest stored ``(blob, created_at)``, or None."""
        t = self._table()
        if t is None:
            return None
        rows = (
            t.filter(
                (F.col("kind") == kind) & (F.col("z") == z)
                & (F.col("x") == x) & (F.col("y") == y)
            )
            .orderBy(F.col("created_at").desc())
            .limit(1)
            .select("blob", "created_at")
            .collect()
        )
        return (bytes(rows[0]["blob"]), rows[0]["created_at"]) if rows else None

    def put(self, kind: str, z: int, x: int, y: int, blob: bytes) -> None:
        if not self.cacheable(z):
            return
        if not _PLAIN_KIND.fullmatch(kind):
            raise ValueError(f"cache kind must match {_PLAIN_KIND.pattern}: {kind!r}")
        blob, created_at = bytes(blob), float(time.time())
        part = os.path.join(self._dir, f"kind={kind}", f"z={z}")
        os.makedirs(part, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(part, f".{name}.tmp")   # hidden from Spark's listing
        row = {"x": [x], "y": [y], "blob": [blob], "created_at": [created_at]}
        pq.write_table(pa.Table.from_pydict(row, schema=_ROW_SCHEMA), tmp)
        os.replace(tmp, os.path.join(part, name))
        refresh_table(self.spark, self.cache_dir)
        # other keys re-probe once: whoever else wrote, the new version
        # is read from the table
        key = self._key(kind, z, x, y)
        cache.clear(FRONT, lambda k: k == key)
        cache.cached(FRONT, key, lambda: (blob, created_at),
                     fp=cache.dir_version(self.cache_dir, 2))

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
        covers merge into ONE table delete, the batched form of the
        reference's threshold flush."""
        mgr = FeatureBoundingManager(threshold=2 ** 63)
        for g in geometries:
            if isinstance(g, str):
                mgr.add_wkt(g)
            else:
                mgr.add(g[0], g[1])
        return self.invalidate_cover(*mgr.pending_cover())

    def invalidate_cover(self, tiles, roots) -> int:
        """Delete every cached tile/heatmap entry matching the given
        (tiles, subtree roots) cover; the shared apply path for V1+V2
        region covers and V3 feature covers. Returns the number of
        distinct cache keys deleted.

        One job without a shuffle collects the keys (no blobs) of the
        rows in the cover, as many as the cache holds there; only when
        there are any, the survivors are checkpointed and written over
        the table. The front then drops the directory's entries and
        holds up to ``cache.MEMO_CAP`` deleted keys as absent (more would
        only evict each other), so the re-render of an invalidated tile
        does not probe the table.
        """
        t = self._table()
        if t is None:
            return 0
        in_cover = F.expr(_cover_sql(tiles, roots))
        hit = {tuple(r) for r in
               t.filter(in_cover).select("kind", "z", "x", "y").collect()}
        if not hit:
            return 0
        # the checkpoint cuts lineage from the files the overwrite removes
        survivors = t.filter(~in_cover).localCheckpoint(eager=True)
        try:
            (
                survivors.write.mode("overwrite").partitionBy("kind", "z")
                .parquet(self.cache_dir)
            )
        finally:
            survivors.unpersist()
        refresh_table(self.spark, self.cache_dir)
        cache.clear(FRONT, self._in_dir)
        after = cache.dir_version(self.cache_dir, 2)
        for key in itertools.islice(hit, cache.MEMO_CAP):
            cache.cached(FRONT, (self._dir, *key), lambda: None, fp=after)
        return len(hit)


def _code(z, x, y) -> int:
    """One integer per tile: coordinates below 2^20 (zoom <= 20)."""
    return (z << 40) | (x << 20) | y


def _cover_sql(tiles, roots) -> str:
    """The predicate of a cover over the cache table's ``z, x, y``: a
    cover tile's own key, or any key under a covered root (whose
    ancestor at the root's zoom, ``(x, y) >> (z - rz)``, is the root).
    Membership is one ``IN`` list per root zoom (an InSet after
    optimization), never a literal OR-chain per tile: a 1000-term Column
    tree overflows the JVM stack at analysis time (observed). The string
    is one py4j call, where a Column literal per code is one each."""
    def member(z: str, x: str, y: str, codes) -> str:
        listed = ", ".join(map(str, sorted(codes)))
        return f"(({z}) * {1 << 40}L + ({x}) * {1 << 20}L + ({y})) IN ({listed})"

    terms = []
    if tiles:
        terms.append(member("z", "x", "y", {_code(*t) for t in tiles}))
    by_zoom: dict[int, set[int]] = {}
    for rz, rx, ry in roots:
        by_zoom.setdefault(rz, set()).add(_code(rz, rx, ry))
    for rz, codes in sorted(by_zoom.items()):
        terms.append(f"(z >= {rz} AND " + member(
            str(rz), f"shiftright(x, z - {rz})", f"shiftright(y, z - {rz})",
            codes) + ")")
    return " OR ".join(terms) or "false"
