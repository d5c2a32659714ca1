"""Streaming bulk ingest — the reference's spool-file pipeline (S2/S5/S6,
reference application.kt:245-277, FileWaitGroup.kt, Tyler.kt) re-expressed
as Structured Streaming.

Reference semantics preserved:
* drop a file of newline-delimited feature JSON into a directory; ingest
  proceeds asynchronously (HTTP 202 ~ non-blocking stream trigger);
* schema coercion with per-type defaults (Tyler.kt:77-116);
* un-coercible rows go to a rejects sink instead of failing the batch
  (the "Exhauster" dead-letter, Tyler.kt:152-169 — here ``<table>/_rejects``);
* every accepted row gets centroid -> zoom-13 tile -> Morton ``hash``
  (Tyler.kt:127-131) and a server-assigned ingest timestamp;
* the ``.lock``-file work-queue protocol (FileWaitGroup.kt:19-73) is
  replaced by checkpointing + exactly-once file-source semantics, and
  ``maxFilesPerTrigger`` plays the max-2-concurrent-runners role.

At scale: the same topology runs against a cloud bucket with thousands of
arriving files; foreachBatch runs ``api.Tank``'s store tail, which appends
bucket-partitioned parquet so the read path prunes on ``hash``.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark.sql import Column

from tank_spark.geom.morton import morton_col
from tank_spark.sources.features import HASH_LEVEL

if TYPE_CHECKING:
    from tank_spark.api import Tank

# ---------------------------------------------------- declared attr schema
#
# The reference declares its feature attributes in config as comma-separated
# "name type" pairs (application.conf:51 `attr_fields`) and generates the
# coercion per declared type at ingest (Tyler.kt:67-125): int / double /
# text / date, with per-type defaults 0 / 0.0 / '' / 1970-01-01 when the
# property is missing (Tyler.kt:106-116) and a dead-letter reject when a
# present value can't be coerced. Here the same declaration generates
# try_cast/coalesce Column expressions — codegen'd, nothing throws.

ATTR_TYPES = ("int", "double", "text", "date")

# declarable but server-assigned: the reference write-path skips these
# (Tyler.kt:71 `filter { it[1] != "uuid" && it[1] != "timestamp" }` shape —
# uid comes from uuid()-on-missing, ts is stamped at ingest). Accepted in a
# declaration for application.conf parity, never stored as user attrs.
SKIPPED_ATTR_TYPES = ("uuid", "timestamp")

# the repo's stock layer (plays application.conf:51's role)
DEFAULT_ATTR_FIELDS = "kind text, score double, cnt int, tag text"


def parse_attr_fields(spec: str) -> list[tuple[str, str]]:
    """``"kind text, score double"`` -> ``[("kind", "text"), ...]``
    (reference Tyler.kt:36 `attrFields.map { it.split(" ") }`).
    uuid/timestamp declarations parse but are DROPPED from the storable
    set — the reference's write path skips them as server-assigned
    (uid/ts here); only genuinely unknown types raise."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(" ")
        typ = typ.strip()
        if typ in SKIPPED_ATTR_TYPES:
            continue
        if typ not in ATTR_TYPES:
            raise ValueError(f"unsupported attr type {typ!r} for {name!r} "
                             f"(supported: {ATTR_TYPES + SKIPPED_ATTR_TYPES})")
        out.append((name, typ))
    return out


def attr_wire_schema(attr_fields: str = DEFAULT_ATTR_FIELDS) -> T.StructType:
    """Wire schema of one NDJSON feature for a declared attr set: id/lon/
    lat plus one UNTYPED (string) field per attribute — coercion is the
    engine's job, not the parser's (Tyler.kt semantics)."""
    fields = [
        T.StructField("id", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        # optional full geometry WKT (non-point GeoJSON ingest); absent ->
        # a POINT is synthesized from lon/lat
        T.StructField("geometry", T.StringType()),
    ]
    fields += [T.StructField(n, T.StringType()) for n, _ in parse_attr_fields(attr_fields)]
    return T.StructType(fields)


_DEFAULTS = {"int": F.lit(0), "double": F.lit(0.0), "text": F.lit("")}


def attr_coercion(attr_fields: str = DEFAULT_ATTR_FIELDS) -> tuple[dict[str, Column], Column]:
    """Generate the declared-type coercion: ``({name: typed value expr},
    rejected expr)``. A missing value takes the type default; a present but
    un-coercible value trips ``rejected`` (the dead-letter split)."""
    values: dict[str, Column] = {}
    rejected = F.lit(False)
    for name, typ in parse_attr_fields(attr_fields):
        raw = F.col(name)
        if typ == "text":
            values[name] = F.coalesce(raw.cast("string"), F.lit(""))
            continue
        cast = raw.try_cast({"int": "int", "double": "double", "date": "date"}[typ])
        default = (
            _DEFAULTS[typ] if typ in _DEFAULTS else F.lit("1970-01-01").cast("date")
        )
        values[name] = F.coalesce(cast, default)
        rejected = rejected | (raw.isNotNull() & cast.isNull())
    return values, rejected


# wire schema of the stock layer (GeoJSON-ish, flattened properties)
FEATURE_JSON_SCHEMA = attr_wire_schema(DEFAULT_ATTR_FIELDS)


def coerce_features(raw: DataFrame, attr_fields: str = DEFAULT_ATTR_FIELDS) -> DataFrame:
    """Schema application with declared-type coercion + defaults (I1) and a
    ``rejected`` flag for the dead-letter split (S6). Pure column exprs,
    generated from the ``attr_fields`` declaration (Tyler.kt:67-125).

    Emits the FULL serve-path column set (key, tile_x/tile_y, ts, qty,
    geometry) so appended rows are schema-compatible with the feature
    table the tile/MVT read path scans — the reference likewise stores the
    complete row (geometry WKT included) at ingest (Tyler.kt: the bound
    INSERT sets geometry alongside hash/uid/attrs)."""
    attr_values, attr_rejected = attr_coercion(attr_fields)
    ok_geo = F.col("lon").isNotNull() & F.col("lat").isNotNull()
    df = raw.select(
        F.coalesce(F.col("id"), F.expr("uuid()")).alias("uid"),
        "lon", "lat",
        F.col("geometry").alias("_wire_geometry"),
        *[expr.alias(name) for name, expr in attr_values.items()],
        (attr_rejected | ~ok_geo).alias("rejected"),
    )
    # centroid -> slippy tile -> Morton hash (points: centroid == point)
    n = 1 << HASH_LEVEL
    xt = F.least(
        F.greatest(F.floor((F.col("lon") + 180.0) / 360.0 * n), F.lit(0)), F.lit(n - 1)
    )
    yt = F.least(
        F.greatest(
            F.floor(
                (1.0 - F.asinh(F.tan(F.radians(F.col("lat")))) / math.pi) / 2.0 * n
            ),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    df = df.withColumns({
        "hash": F.when(F.col("rejected"), F.lit(None)).otherwise(morton_col(xt, yt)),
        "tile_x": F.when(F.col("rejected"), F.lit(None)).otherwise(xt.cast("long")),
        "tile_y": F.when(F.col("rejected"), F.lit(None)).otherwise(yt.cast("long")),
        # synthetic non-negative feature key (MVT ids are uint64); the
        # derived table's keys are < 2^40, so the 2^62 domain can't collide
        # with them in practice and stays sign-safe
        "key": F.pmod(F.xxhash64(F.col("uid")), F.lit(1 << 62)),
        # server-assigned ingest timestamp (Tyler.kt:39) — same role the
        # derived table's ts column plays, so appends stay schema-identical
        "ts": F.current_timestamp().cast("timestamp_ntz"),
        "qty": F.lit(0.0),
        # full WKT when the wire carried one (non-point GeoJSON ingest,
        # stored verbatim like the reference's bound geometry column);
        # else a POINT synthesized from lon/lat
        "geometry": F.coalesce(
            F.col("_wire_geometry"),
            F.when(
                ok_geo,
                F.concat(F.lit("POINT ("), F.col("lon").cast("string"), F.lit(" "),
                         F.col("lat").cast("string"), F.lit(")")),
            ),
        ),
    })
    # serve-path column order (sources/features.py schema) + ingest extras
    return df.select(
        "key", "uid", "tile_x", "tile_y", "ts", "qty", "hash",
        *[name for name, _ in parse_attr_fields(attr_fields)],
        "lon", "lat", "geometry", "rejected",
    )


def start_ingest_stream(
    spark: SparkSession,
    tank: Tank,
    drop_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    upsert: bool = False,
    wire_format: str = "json",
    sink_max_retries: int = 0,
    sink_backoff_s: float = 1.0,
):
    """Start the drop-dir ingest stream into the layer ``tank``. Returns
    the StreamingQuery.

    foreachBatch runs the layer's store tail (``Tank._ingest_raw``, the
    one every batch ingest runs) on each micro-batch: accepted rows are
    aligned to the table and appended to its buckets, rejects go to
    ``<table>/_rejects`` in the same epoch — the one-pass valid/dead-letter
    split the reference does per feature — and each epoch invalidates the
    layer's tile cache over the tiles it wrote. The layer's ``attr_fields``
    declaration drives wire parsing and coercion.
    ``wire_format``: "json" (NDJSON, the reference's wire) or "csv"
    (header CSV with the same wire columns — api.Tank.ingest_csv's
    format, streamed); both feed the identical coercion path.

    ``upsert``: CDC-style apply for a primary_keys="uid" layer
    (api.Tank.ingest_features docstring): each micro-batch first removes
    PREVIOUSLY-stored rows matching an incoming (hash, uid) — a
    bucket-pruned CoW anti-join — then appends. Same-key rows WITHIN one
    batch all land, in file order, like sequential Cassandra INSERTs in
    one epoch; the next epoch's matching key replaces them all. Default
    False = the versioned-append parity of the reference's default
    "uid, timestamp" clustering.

    ``sink_max_retries`` > 0 enables ADAPTIVE BACKPRESSURE (the
    reference's I6, Tyler.kt:145-176, at the micro-batch altitude —
    see streaming/backpressure.py): each commit phase of the tail
    retries through a shared delay that grows 2x + ``sink_backoff_s`` on
    storage failure and decays per success; a phase that has committed
    is never re-entered. The default 0 keeps the exact
    fail-fast-to-the-query behavior (Spark task retries still cover
    task-level failures inside the write jobs either way).
    """
    from tank_spark.streaming.backpressure import AdaptiveBackoff

    backoff = AdaptiveBackoff(step_s=sink_backoff_s,
                              max_retries=sink_max_retries)
    if wire_format not in ("json", "csv"):
        raise ValueError(f"unsupported wire_format: {wire_format!r}")
    reader = (
        spark.readStream.schema(attr_wire_schema(tank.attr_fields))
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if wire_format == "csv":
        raw = reader.option("header", True).csv(drop_dir)
    else:
        raw = reader.json(drop_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        tank._ingest_raw(batch, upsert, phase=backoff.call)

    return (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
