"""The tile query — tank's flagship read path (reference
application.kt:350-474; SURVEY.md §2.3).

Planning = tile coords -> one contiguous Morton-code range; execution = a
single pruned scan with predicate pushdown. The reference enumerates up to
4^(13-z) point lookups (application.kt:371-379) — here the aligned block
becomes one BETWEEN predicate, which Catalyst pushes into the parquet scan
(PushedFilters) so row-groups outside the range are skipped. At 100 TB with
the feature table written sorted/bucketed by ``hash``, this is an
index-range read, not a table scan, and it involves zero shuffles.

Three z-regimes (reference application.kt:371-399 semantics, replicated
exactly — including the odd z>hash_level rule that reads the whole parent
partition and relies on clipping):

* z < hash_level: parent covers an aligned 2^d x 2^d block -> [lo, hi]
* z = hash_level: single code
* z > hash_level: centroid's parent zoom-13 tile -> single code
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark.geom import morton
from tank_spark.plans.registry import register
from tank_spark.sources.features import FEATURES_CTE, HASH_LEVEL, features_df

# Per-tile feature budget for sampled tiles (mvt_tiles_for with
# overview_sampling, at any zoom). The sampling modulus is DERIVED per tile as ceil(n / budget),
# so the served payload stays constant-size no matter how big the table
# grows (a fixed `key % 20` sample scales the overview payload linearly
# with the table — measured at 100x in SCALE.md before this policy).
# 30k point features encode to ~1-2 MB of MVT.
OVERVIEW_FEATURE_BUDGET = 30_000

# The sample predicate hashes the key BEFORE the modulus: raw `key % mod`
# correlates with key structure (the derived feature key is
# l_orderkey*8 + l_linenumber with l_linenumber in 1..7, so key % 8 is
# NEVER 0 — a mod divisible by 8 selected zero rows; found by the 10x
# probe when the derived modulus hit 200). First 8 md5 hex chars of the
# salted key -> uniform 32-bit int, identical in both engines (the
# sample_stratified_sources idiom).
_OV_SALT = "ov:"


def overview_keep_col(mod) -> "F.Column":
    h8 = F.substring(
        F.md5(F.concat(F.lit(_OV_SALT), F.col("key").cast("string"))), 1, 8
    )
    return F.conv(h8, 16, 10).cast("bigint") % mod == 0


def overview_keep_sql(mod_expr: str) -> str:
    return (
        f"('0x' || substr(md5('{_OV_SALT}' || CAST(key AS VARCHAR)), 1, 8))"
        f"::UBIGINT % ({mod_expr}) = 0"
    )

SERVE_COLUMNS = ("uid", "hash", "kind", "score", "cnt", "tag", "lon", "qty")


def tile_hash_range(z: int, x: int, y: int, hash_level: int = HASH_LEVEL) -> tuple[int, int]:
    """[lo, hi] Morton range for tile (z, x, y) — the whole query plan."""
    if z < 0 or not (0 <= x < (1 << z)) or not (0 <= y < (1 << z)):
        raise ValueError(f"tile ({x}, {y}) out of domain for zoom {z}")
    if z < hash_level:
        return morton.morton_range(x, y, hash_level - z)
    if z == hash_level:
        code = morton.interleave(x, y)
        return code, code
    shift = z - hash_level
    code = morton.interleave(x >> shift, y >> shift)
    return code, code


def bind_attr_filter(decl_type: str, col, raw_value: str):
    """T1b: bind the tile's main-attr filter value by its DECLARED type —
    int, date (``YYYY-MM-DD`` parse), text (reference application.kt:
    405-416 switches on ``typeMap[mainAttr]`` the same way). Returns a
    boolean Column; the comparison constant is a typed literal so the
    predicate still pushes down."""
    import datetime

    c = F.col(col) if isinstance(col, str) else col
    if decl_type == "int":
        return c == int(raw_value)
    if decl_type == "date":
        y, m, d = raw_value.split("-")
        return c.cast("date") == F.lit(datetime.date(int(y), int(m), int(d)))
    if decl_type == "double":
        return c == float(raw_value)
    return c == raw_value


def tile_query(
    spark: SparkSession,
    sf_dir: str,
    z: int,
    x: int,
    y: int,
    kind: str | None = None,
    columns: tuple[str, ...] = SERVE_COLUMNS,
    attr_filter: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Pruned scan for one tile request: T1a (hash range) + T1b (typed
    main-attr equality) + T1c (projection).

    ``attr_filter``: (column, declared_type, raw_value) — the typed
    binding; ``kind`` is the stock text-attr shorthand."""
    lo, hi = tile_hash_range(z, x, y)
    df = features_df(spark, sf_dir).filter(F.col("hash").between(lo, hi))
    if kind is not None:
        df = df.filter(F.col("kind") == kind)
    if attr_filter is not None:
        name, decl_type, raw = attr_filter
        df = df.filter(bind_attr_filter(decl_type, name, raw))
    return df.select(*columns)


def _oracle(z: int, x: int, y: int, kind: str | None) -> str:
    lo, hi = tile_hash_range(z, x, y)
    pred = f"hash BETWEEN {lo} AND {hi}"
    if kind is not None:
        pred += f" AND kind = '{kind}'"
    cols = ", ".join(SERVE_COLUMNS)
    return f"{FEATURES_CTE} SELECT {cols} FROM features WHERE {pred}"


# --- registered queries: one per planner regime over the derived features
# block (base tile_x 1280..1343, tile_y 3136..3199; zoom-7 parent (20, 49))

@register("tile_z9_range", _oracle(9, 80, 196, "road"),
          doc="tile query, z<hash_level regime: 16x16 block BETWEEN + kind filter")
def tile_z9_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tile_query(spark, sf_dir, 9, 80, 196, kind="road")


@register("tile_z13_single", _oracle(13, 1281, 3137, None),
          doc="tile query, z=hash_level regime: single Morton bucket")
def tile_z13_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tile_query(spark, sf_dir, 13, 1281, 3137)


@register("tile_z15_parent", _oracle(15, 5126, 12550, "building"),
          doc="tile query, z>hash_level regime: centroid's zoom-13 parent bucket")
def tile_z15_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (5126 >> 2, 12550 >> 2) = (1281, 3137): same parent partition as z13.
    # kind='building' is the attr value present in this bucket at every SF
    # (the original 'water' matched zero rows — a vacuous driver check).
    return tile_query(spark, sf_dir, 15, 5126, 12550, kind="building")


@register(
    "tile_filter_int",
    f"{FEATURES_CTE} SELECT {', '.join(SERVE_COLUMNS)} FROM features "
    f"WHERE hash BETWEEN {tile_hash_range(9, 80, 196)[0]} AND "
    f"{tile_hash_range(9, 80, 196)[1]} AND cnt = 7",
    doc="T1b: tile query with an INT-typed main-attr filter — the raw "
        "request value '7' binds as an integer per the declared type "
        "(application.kt:406)",
)
def tile_filter_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tile_query(spark, sf_dir, 9, 80, 196, attr_filter=("cnt", "int", "7"))


@register(
    "tile_filter_date",
    f"{FEATURES_CTE} SELECT {', '.join(SERVE_COLUMNS)} FROM features "
    f"WHERE hash BETWEEN {tile_hash_range(9, 80, 196)[0]} AND "
    f"{tile_hash_range(9, 80, 196)[1]} AND CAST(ts AS DATE) = DATE '1996-12-06'",
    doc="T1b: tile query with a DATE-typed main-attr filter — the raw "
        "request value 'YYYY-MM-DD' parses to a date literal per the "
        "declared type (application.kt:408-411). The date is one with "
        "matching rows at EVERY SF ('1996-12-24' matched nothing at "
        "sf0.001, leaving that parity row vacuous).",
)
def tile_filter_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tile_query(spark, sf_dir, 9, 80, 196,
                      attr_filter=("ts", "date", "1996-12-06"))


def _overview_oracle() -> str:
    B = OVERVIEW_FEATURE_BUDGET
    lo, hi = tile_hash_range(7, 20, 49)
    cols = ", ".join(SERVE_COLUMNS + ("key",))
    mod = (
        f"GREATEST(1, ((SELECT COUNT(*) FROM features "
        f"WHERE hash BETWEEN {lo} AND {hi}) + {B - 1}) // {B})"
    )
    return (
        f"{FEATURES_CTE} SELECT {cols} FROM features "
        f"WHERE hash BETWEEN {lo} AND {hi} AND {overview_keep_sql(mod)}"
    )


@register(
    "tile_sample_overview",
    _overview_oracle(),
    doc="Budget-sampled overview tile: low-zoom tiles serve a "
        "deterministic sample whose modulus is DERIVED from the tile's "
        "feature count (mod = ceil(n / OVERVIEW_FEATURE_BUDGET)) so the "
        "payload is constant-size at any table size — the materialized-"
        "sampling-cube idea (Turbocharging Geospatial Visualization "
        "Dashboards, ICDE 2020) applied to tank's tile read path; at "
        "100 TB overview zooms would otherwise return the whole table. "
        "The modulus is computed lazily in-plan (1-row broadcast count, "
        "no driver-side count job).",
)
def tile_sample_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = OVERVIEW_FEATURE_BUDGET
    lo, hi = tile_hash_range(7, 20, 49)
    in_tile = features_df(spark, sf_dir).filter(F.col("hash").between(lo, hi))
    mod = in_tile.agg(
        F.expr(f"greatest(1L, (count(*) + {B - 1}) div {B})").alias("mod")
    )
    return (
        in_tile.join(F.broadcast(mod))
        .filter(overview_keep_col(F.col("mod")))
        .select(*SERVE_COLUMNS, "key")
    )
