"""Table-backed tile cache (reference S8: memcached get/set of encoded
tiles, application.kt:358-362, 469-470, TileTranscoder.kt) + the V1/V2
invalidation wiring.

Reference semantics preserved: cacheable zoom band z in [2, 15]
(application.conf:14-17), TTL (reference 10000 s), paired tile/heatmap
namespaces, invalidation by region-clustered quadtree cover after writes.

Storage: a parquet table partitioned by (kind, z) — a cache probe is a
partition-pruned lookup; invalidation deletes matching rows copy-on-write
(subtree roots become range predicates, so a world-sized invalidation is
one partition rewrite, not 4^13 tombstones).

Session handle: the cache table is read through the feature table's
handle rule (``table_ops.read_table``): one DataFrame per (session, cache
directory, data version), so a probe lists and schema-reads the table
once per write, not once per call. The version is ``cache.dir_version``
over ``kind=*/z=*``; ``put`` and ``invalidate_cover`` end with
``table_ops.refresh_table``, which drops the handle, and the directory
version catches writers this process does not see.

At 100 TB the same layout holds on any parquet store; the serving layer
would front this with an in-process LRU — this table is the shared,
durable layer the reference kept in memcached.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark.operators.invalidation import (
    ZOOM_END, ZOOM_START, BBox, FeatureBoundingManager, cluster_regions,
    quadtree_cover,
)
from tank_spark.operators.table_ops import read_table, refresh_table
from tank_spark.util import local_values_df

TTL_SECONDS = 10_000  # reference application.kt:470


class TileCache:
    def __init__(self, spark: SparkSession, cache_dir: str,
                 ttl_seconds: int = TTL_SECONDS):
        self.spark = spark
        self.cache_dir = cache_dir
        self.ttl = ttl_seconds

    def _table(self) -> DataFrame | None:
        """The cache table's handle at its current version; None while
        the cache is empty (no table yet)."""
        try:
            return read_table(self.spark, self.cache_dir, 2)
        except AnalysisException:
            return None

    @staticmethod
    def cacheable(z: int) -> bool:
        return ZOOM_START <= z <= ZOOM_END  # reference application.kt:358

    def get(self, kind: str, z: int, x: int, y: int) -> bytes | None:
        if not self.cacheable(z):
            return None
        t = self._table()
        if t is None:
            return None
        rows = (
            t.filter(
                (F.col("kind") == kind) & (F.col("z") == z)
                & (F.col("x") == x) & (F.col("y") == y)
                & (F.col("created_at") > time.time() - self.ttl)
            )
            .orderBy(F.col("created_at").desc())
            .limit(1)
            .collect()
        )
        return bytes(rows[0]["blob"]) if rows else None

    def put(self, kind: str, z: int, x: int, y: int, blob: bytes) -> None:
        if not self.cacheable(z):
            return
        df = self.spark.createDataFrame(
            [(kind, z, x, y, bytearray(blob), float(time.time()))],
            "kind string, z int, x int, y int, blob binary, created_at double",
        )
        df.write.mode("append").partitionBy("kind", "z").parquet(self.cache_dir)
        refresh_table(self.spark, self.cache_dir)

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
        region covers and V3 feature covers.

        Matching is via broadcast joins, never a literal OR-chain (a
        1000-term Column tree overflows the JVM stack at analysis time —
        observed).  Returns the number of distinct cache keys deleted.
        """
        t = self._table()
        if t is None:
            return 0
        tiles_df = local_values_df(self.spark, list(tiles),
                                   "tz int, tx int, ty int")
        roots_df = local_values_df(self.spark, list(roots),
                                   "rz int, rx int, ry int")
        hit_tiles = t.join(
            F.broadcast(tiles_df),
            (F.col("z") == F.col("tz")) & (F.col("x") == F.col("tx"))
            & (F.col("y") == F.col("ty")),
            "left_semi",
        )
        # descendants of any covered root: (x, y) >> (z - rz) == (rx, ry);
        # division by 2^(z-rz) is exact for tile coords < 2^16
        shift_div = F.expr("CAST(pow(2, z - rz) AS BIGINT)")
        hit_roots = t.join(
            F.broadcast(roots_df),
            (F.col("z") >= F.col("rz"))
            & ((F.col("x").cast("long") / shift_div).cast("long") == F.col("rx"))
            & ((F.col("y").cast("long") / shift_div).cast("long") == F.col("ry")),
            "left_semi",
        )
        # the cover is matched once: its keys stay on the executors as a
        # checkpoint, which both the count and the survivors' anti-join read
        hit = (hit_tiles.unionAll(hit_roots).select("kind", "z", "x", "y")
               .distinct().localCheckpoint(eager=True))
        try:
            n = hit.count()
            if n == 0:
                return 0
            survivors = t.join(
                hit, ["kind", "z", "x", "y"], "left_anti"
            ).localCheckpoint(eager=True)
            (
                survivors.write.mode("overwrite").partitionBy("kind", "z")
                .parquet(self.cache_dir)
            )
            refresh_table(self.spark, self.cache_dir)
            return n
        finally:
            hit.unpersist()
