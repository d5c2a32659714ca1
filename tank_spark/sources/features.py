"""The ``features`` table — tank's storage model as a derived DataFrame.

The reference stores one wide row per GeoJSON feature, partition-keyed by
the Morton code of the zoom-13 tile containing the feature centroid
(reference application.kt:677-681; Tyler.kt:127-131). The driver's testdata
has no features parquet, so this module *derives* a deterministic features
table from ``lineitem`` — with the derivation written twice, once as Spark
Column expressions and once as a DuckDB SQL CTE, so every feature-table
query has an exact oracle twin.

Exactness rules (what makes the two derivations hash-identical):

* tile coords, Morton hash, kind, cnt, uid are **pure integer/bitwise**
  arithmetic — identical in any engine.
* ``lon``/``score`` use only +,-,*,/ on doubles in the same order — IEEE
  double ops are exactly rounded, so engines agree bit-for-bit.
* ``lat`` is the true inverse-mercator of the tile row and therefore uses
  transcendentals; it is kept OUT of oracle-compared projections (libm
  last-ulp differences between the JVM and DuckDB are not guaranteed equal).

Layout: a 64x64 block of zoom-13 tiles, base (1280, 3136) — aligned so the
block is exactly one zoom-7 tile (20, 49), sixteen zoom-9 tiles, etc. This
gives the three planner regimes of the tile query (reference
application.kt:371-399) real data to prune against.

Scale posture: the derivation is a narrow projection + integer math on a
columnar scan — at 100 TB this is a map-only stage with no shuffle; the
``hash`` column is the partition/bucketing key (SURVEY.md §4), so real
deployments would write the table sorted by ``hash`` and get row-group
pruning from the BETWEEN predicates for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark import cache
from tank_spark.geom.morton import morton_col, morton_sql

HASH_LEVEL = 13           # reference application.conf:53 (data.hash_level)
BASE_X, BASE_Y = 1280, 3136   # 64x64 zoom-13 tile block == zoom-7 tile (20, 49)
BLOCK = 64

KINDS = ("road", "building", "poi", "water")  # plays tank's main_attr role


# one materialized feature table per (session, sf_dir, lineitem version) —
# mirrors the reference's physical design (a stored table clustered by
# `hash`, application.kt:677-681) instead of re-deriving per query. The
# cache is range-partitioned + sorted on `hash`, so cached-batch min/max
# stats give the same Z-ORDER-style data skipping a 100 TB parquet layout
# would: a Morton BETWEEN touches only the batches whose hash range
# overlaps. (Deriving inline also blows up the pushed-down filter into a
# giant non-codegen-able expression — measured 5x slower than the cached
# scan.) Rewriting lineitem.parquet in-session rebuilds it.
def features_df(spark: SparkSession, sf_dir: str, materialized: bool = True) -> DataFrame:
    """The features table for ``sf_dir`` (cached, hash-clustered)."""
    if not materialized:
        return _derive(spark, sf_dir)

    def build():
        n_part = max(spark.sparkContext.defaultParallelism // 2, 4)
        return (
            _derive(spark, sf_dir)
            .repartitionByRange(n_part, "hash")
            .sortWithinPartitions("hash")
            .persist()
        )

    return cache.cached("features", (spark.sparkContext.applicationId, sf_dir),
                        build, cache.fingerprint(f"{sf_dir}/lineitem.parquet"),
                        DataFrame.unpersist)


def _derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the features table from lineitem (Spark side)."""
    from tank_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    tx = (F.lit(BASE_X) + key.bitwiseAND(F.lit(63))).alias("tile_x")
    ty = (F.lit(BASE_Y) + F.shiftright(key, 6).bitwiseAND(F.lit(63))).alias("tile_y")
    df = li.select(
        key.alias("key"),
        F.concat(F.lit("feat-"), key.cast("string")).alias("uid"),
        tx, ty,
        F.col("l_shipdate").alias("ts"),
        (F.col("l_quantity")).alias("qty"),
    )
    df = df.withColumn("hash", morton_col("tile_x", "tile_y"))
    df = df.withColumn(
        "kind",
        F.element_at(F.array(*[F.lit(k) for k in KINDS]),
                     (F.col("key").bitwiseAND(F.lit(3)) + 1).cast("int")),
    )
    df = df.withColumn("score", (F.col("key") % 1000) / F.lit(10.0))
    df = df.withColumn("cnt", (F.col("key") % 20).cast("int"))
    df = df.withColumn("tag", F.concat(F.lit("tag"), (F.col("key") % 17).cast("string")))
    # exact fractional position inside the tile (oracle-safe arithmetic)
    fx = (F.col("key") % 97) / F.lit(97.0)
    fy = (F.col("key") % 89) / F.lit(89.0)
    df = df.withColumn("lon", ((F.col("tile_x") + fx) / F.lit(8192.0)) * F.lit(360.0) - F.lit(180.0))
    # true inverse mercator (transcendental -> never oracle-compared)
    ny = (F.col("tile_y") + fy) / F.lit(8192.0)
    import math
    df = df.withColumn(
        "lat",
        F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * ny)))),
    )
    # geometry mix ~ reference fixtures (FIXTURES.md §A): mostly points,
    # some 2-point linestrings and small polygons. Shapes are SYMMETRIC
    # around the anchor so centroid == anchor and the stored Morton hash
    # stays consistent with tile(centroid) (Tyler.kt:127-131 invariant).
    # geometry text is never oracle-compared (lat is transcendental).
    lon_s, lat_s = F.col("lon").cast("string"), F.col("lat").cast("string")
    d = F.lit(0.0008)
    lon_w = (F.col("lon") - d).cast("string")
    lon_e = (F.col("lon") + d).cast("string")
    lat_s_ = (F.col("lat") - d).cast("string")
    lat_n = (F.col("lat") + d).cast("string")
    point = F.concat(F.lit("POINT ("), lon_s, F.lit(" "), lat_s, F.lit(")"))
    line = F.concat(F.lit("LINESTRING ("), lon_w, F.lit(" "), lat_s,
                    F.lit(", "), lon_e, F.lit(" "), lat_s, F.lit(")"))
    poly = F.concat(
        F.lit("POLYGON (("),
        lon_w, F.lit(" "), lat_s_, F.lit(", "),
        lon_e, F.lit(" "), lat_s_, F.lit(", "),
        lon_e, F.lit(" "), lat_n, F.lit(", "),
        lon_w, F.lit(" "), lat_n, F.lit(", "),
        lon_w, F.lit(" "), lat_s_, F.lit("))"),
    )
    sel = F.col("key") % 20
    df = df.withColumn(
        "geometry",
        F.when(sel < 12, point).when(sel < 17, line).otherwise(poly),
    )
    return df


# DuckDB CTE computing the identical table (minus the transcendental lat /
# WKT text, which are never oracle-compared). Prefix oracle SQL with this.
FEATURES_CTE = f"""
WITH features AS (
  SELECT
    key,
    'feat-' || CAST(key AS VARCHAR)                 AS uid,
    tile_x,
    tile_y,
    ts,
    qty,
    {morton_sql('tile_x', 'tile_y')}                AS hash,
    CASE (key & 3) WHEN 0 THEN 'road' WHEN 1 THEN 'building'
                   WHEN 2 THEN 'poi'  ELSE 'water' END AS kind,
    (key % 1000) / 10.0                             AS score,
    CAST(key % 20 AS INTEGER)                       AS cnt,
    'tag' || CAST(key % 17 AS VARCHAR)              AS tag,
    ((tile_x + (key % 97) / 97.0) / 8192.0) * 360.0 - 180.0 AS lon
  FROM (
    SELECT
      l_orderkey * 8 + l_linenumber                 AS key,
      {BASE_X} + ((l_orderkey * 8 + l_linenumber) & 63)  AS tile_x,
      {BASE_Y} + (((l_orderkey * 8 + l_linenumber) >> 6) & 63) AS tile_y,
      l_shipdate                                    AS ts,
      l_quantity                                    AS qty
    FROM lineitem
  )
)
"""


def tile_cols() -> tuple[Column, Column]:
    """(tile_x, tile_y) columns recomputed from lon/lat with real tile math
    — used by ingest-parity checks (Spark-side only)."""
    from tank_spark.geom.tilemath import tile_x_col, tile_y_col

    return tile_x_col("lon", HASH_LEVEL), tile_y_col("lat", HASH_LEVEL)
