"""Engine façade mirroring the reference's HTTP surface (SURVEY.md §2:
the 9 Ktor routes, application.kt:216-650) — so a user of the reference
can switch and run every operation they run today, minus the HTTP
transport (any web layer can wrap this; the engine is the contract).

Route -> method map:

| reference route                      | here                         |
|--------------------------------------|------------------------------|
| POST /{layer} (single feature)       | ``ingest_features``          |
| POST /_bulk/{layer} (NDJSON spool)   | ``ingest_bulk`` (streaming)  |
| GET /{uuid}                          | ``get_feature``              |
| PUT /{uuid}                          | ``update_feature``           |
| DELETE /{uuid}                       | ``delete_feature``           |
| GET /tile/{z}/{x}/{y}                | ``tile``                     |
| DELETE /tile/{z}/{x}/{y}             | ``delete_tile``              |
| GET /heatmap/{z}/{x}/{y}             | ``heatmap``                  |
| GET / (map UI)                       | n/a (serving concern)        |

Every method returns DataFrames or plain values; nothing collects unless
the caller asks (``.mvt_bytes`` helpers collect exactly one row).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# ingest_features parses a batch of up to this many lines on the driver;
# past ~20k lines the JSON reader's parallel tasks are faster (parse and
# coercion on a 4-core host: 8k lines 0.7 s on the driver vs 1.1 s in the
# reader, 20k lines a tie, 56k lines 3.4 s vs 2.2 s).
DRIVER_PARSE_MAX_LINES = 10_000


def _run(fn, what: str):
    """The batch routes' commit-phase runner: run ``fn`` once."""
    return fn()


class Tank:
    """One feature layer backed by a bucket-partitioned parquet table."""

    def __init__(self, spark: SparkSession, table_dir: str,
                 main_attr: str = "kind", base_layer: str = "io.marauder.tank",
                 cache_dir: str | None = None,
                 attr_fields: str | None = None):
        from tank_spark.streaming.ingest import (
            DEFAULT_ATTR_FIELDS, parse_attr_fields,
        )

        self.spark = spark
        self.table_dir = table_dir
        self.main_attr = main_attr          # reference application.conf:39
        self.base_layer = base_layer        # reference application.conf:31
        # declared attribute schema (reference application.conf:51) drives
        # wire parsing, ingest coercion, and typed filter binding. The
        # declaration persists with the table (`_layer.json`) the way the
        # reference pins it in application.conf: pass attr_fields once at
        # layer creation; later Tank(spark, dir) constructions reload it.
        self.attr_fields = attr_fields or self._load_layer_config() or DEFAULT_ATTR_FIELDS
        self._attr_types = dict(parse_attr_fields(self.attr_fields))
        if attr_fields is not None:
            self._save_layer_config()
        self._cache = None
        if cache_dir is not None:
            from tank_spark.operators.tile_cache import TileCache

            self._cache = TileCache(cache_dir)

    def _layer_config_path(self) -> str:
        import os

        return os.path.join(self.table_dir, "_layer.json")

    def _load_layer_config(self) -> str | None:
        import json
        import os

        p = self._layer_config_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f).get("attr_fields")

    def _save_layer_config(self) -> None:
        import json
        import os

        os.makedirs(self.table_dir, exist_ok=True)
        with open(self._layer_config_path(), "w") as f:
            json.dump({
                "attr_fields": self.attr_fields,
                "main_attr": self.main_attr,
                "base_layer": self.base_layer,
            }, f)

    # ------------------------------------------------------------- reads

    def features(self) -> DataFrame:
        from tank_spark.operators.table_ops import read_feature_table

        return read_feature_table(self.spark, self.table_dir)

    def get_feature(self, uid: str) -> DataFrame:
        """GET /{uuid}: all rows for a feature id (uid is a clustering
        key; reference returns the decoded feature — see
        :meth:`get_feature_geojson`)."""
        return self.features().filter(F.col("uid") == uid)

    def get_feature_geojson(self, uid: str) -> dict | None:
        """GET /{uuid} response assembly: decode the stored row into a
        typed GeoJSON Feature — geometry parsed from WKT, properties
        typed per the declared attr schema (reference application.kt:
        279-300: int/double stay numeric, date/text/uuid stringify).
        Returns None when the uid has no rows (the reference 500s)."""
        from tank_spark.geom import wkt as wktmod

        rows = self.get_feature(uid).limit(1).collect()
        if not rows:
            return None
        row = rows[0]
        geometry = None
        if row["geometry"] is not None:
            gtype, coords = wktmod.loads(row["geometry"])
            geometry = {"type": gtype, "coordinates": coords}
        props: dict[str, object] = {}
        for name, typ in self._attr_types.items():
            v = row[name]
            if v is None:
                props[name] = None
            elif typ == "int":
                props[name] = int(v)
            elif typ == "double":
                props[name] = float(v)
            else:                     # text / date -> string (LocalDate.toString)
                props[name] = str(v)
        return {"type": "Feature", "id": uid,
                "geometry": geometry, "properties": props}

    def tile(self, z: int, x: int, y: int, filter_json: str | None = None) -> DataFrame:
        """GET /tile/{z}/{x}/{y}: pruned scan for the tile; optional
        ``{"<main_attr>": value}`` equality filter bound by the attr's
        DECLARED type — int / date / text (reference application.kt:
        364-368, 405-416)."""
        from tank_spark.operators.tiles import bind_attr_filter, tile_hash_range

        lo, hi = tile_hash_range(z, x, y)
        df = self.features().filter(F.col("hash").between(lo, hi))
        if filter_json:
            val = json.loads(filter_json).get(self.main_attr)
            if val is not None:
                decl_type = self._attr_types.get(self.main_attr, "text")
                df = df.filter(
                    bind_attr_filter(decl_type, self.main_attr, str(val))
                )
        return df

    def tile_mvt(self, z: int, x: int, y: int) -> bytes:
        """GET /tile/{z}/{x}/{y} with MVT encoding — one protobuf blob.
        Probes the tile cache first when configured (reference
        application.kt:358-362), fills it after encoding (:469-470)."""
        if self._cache is not None:
            hit = self._cache.get("tile", z, x, y)
            if hit is not None:
                return hit
        from tank_spark.operators.mvt_tiles import (
            TILE_OUT_SCHEMA, make_tile_kernel,
        )
        from tank_spark.util import ensure_workers_have_package

        ensure_workers_have_package(self.spark)

        tile = self.tile(z, x, y)
        src = tile.withColumns(
            {"z": F.lit(z), "x": F.lit(x), "y": F.lit(y)}
        ).select("z", "x", "y", "key", "geometry", *self._attr_cols(tile))
        # thread the configured layer name into the kernel so non-empty and
        # empty tiles serve under the same layer
        kernel = make_tile_kernel(self.base_layer)
        out = src.groupBy("z", "x", "y").applyInPandas(kernel, TILE_OUT_SCHEMA)
        rows = out.collect()
        if not rows:
            from tank_spark.geom import mvt as mvtmod
            blob = mvtmod.encode([], layer_name=self.base_layer)
        else:
            blob = bytes(rows[0]["mvt"])
        if self._cache is not None:
            self._cache.put("tile", z, x, y, blob)
        return blob

    def tile_mvt_batch(
        self, requests: list[tuple[int, int, int]],
        overview_sampling: bool = True,
    ) -> DataFrame:
        """Render a BATCH of tile requests through the two-stage
        distributed pipeline (Morton-prefix request join -> map-parallel
        geometry stage -> per-tile assembly), with this layer's DECLARED
        attribute schema as the MVT properties — the bulk/seed companion
        to the single-tile ``tile_mvt``. Returns one row per request
        (z, x, y, n_features, mvt_size, mvt_md5, mvt, sample_mod).

        SERVING POLICY (default): EVERY over-budget tile — at any zoom —
        serves a deterministic per-tile-budgeted sample (modulus =
        ceil(count / OVERVIEW_FEATURE_BUDGET) over a hashed key); tiles
        under budget serve bit-identical full fidelity. A fixed zoom
        boundary cannot bound the blob as the table grows (measured: the
        z9 tile is 3.7M features / 115 MB at 100x — SCALE.md), so the
        budget, not the zoom, is the policy. The applied modulus is
        emitted as the ``sample_mod`` column (1 = exact tile), so callers
        can detect sampled blobs. Pass ``overview_sampling=False`` for
        strict reference parity / full-fidelity rendering at every zoom."""
        from tank_spark.operators.mvt_tiles import mvt_tiles_for

        feats = self.features()
        return mvt_tiles_for(
            self.spark, feats, requests,
            prop_cols=self._attr_cols(feats), layer=self.base_layer,
            overview_sampling=overview_sampling,
        )

    def _attr_cols(self, df: DataFrame) -> tuple[str, ...]:
        """The declared attributes the stored table carries — the MVT
        properties (``df.columns`` once: each evaluation is a py4j call)."""
        cols = set(df.columns)
        return tuple(n for n in self._attr_types if n in cols)

    def heatmap(self, z: int, x: int, y: int) -> DataFrame:
        """GET /heatmap/{z}/{x}/{y}: grid cells with counts > 0
        (degree-space cell planning per application.kt:549-566)."""
        from tank_spark.operators.heatmap import heatmap_for

        return heatmap_for(self.spark, self.features(), z, x, y)

    # ------------------------------------------------------------ writes

    def ingest_features(self, ndjson_rows: list[str],
                        upsert: bool = False) -> dict:
        """POST /{layer}: parse + coerce + hash + append; returns counts
        (accepted/rejected — rejects appended to <table>/_rejects).

        Accepted rows carry the full serve-path column set (geometry WKT,
        key, tile coords — the reference stores the complete row at ingest,
        Tyler.kt's bound INSERT), projected onto the target table's actual
        schema so appended files never drift from what the tile read path
        scans.

        ``upsert``: reference parity is CONFIG-dependent (application.conf:
        47-50). The default clustering key "uid, timestamp" makes every
        Cassandra INSERT a new version — that is this method's default
        append behavior. A layer configured primary_keys="uid" gets
        INSERT-is-upsert instead: pass ``upsert=True`` to replace stored
        rows matching an incoming (hash, uid) before the append
        (bucket-pruned CoW; a feature re-ingested at a NEW position keeps
        its old row, exactly as a changed Cassandra partition key would).
        The returned dict then carries a ``replaced`` count.

        A batch of at most ``DRIVER_PARSE_MAX_LINES`` lines of JSON
        objects parses in the driver's JVM with ``from_json`` over an
        Arrow-built local relation: no Python worker, no task. A larger
        batch, or one with a line holding a JSON array, goes through
        Spark's JSON reader in parallel tasks (its array rule: an array of
        objects is one row per object). Both skip blank lines and turn any
        other line that is not one JSON object (a truncated object,
        ``null``, ``[1,2]``) into one all-null row, which dead-letters."""
        from tank_spark.streaming.ingest import attr_wire_schema

        wire = attr_wire_schema(self.attr_fields)
        lines = [r for r in ndjson_rows if r.strip(" \t\r\n")]
        if len(lines) > DRIVER_PARSE_MAX_LINES or any(
                r.lstrip(" \t\r\n").startswith("[") for r in lines):
            raw = self.spark.read.schema(wire).json(
                self.spark.sparkContext.parallelize(lines))
        else:
            import pyarrow as pa

            raw = (self.spark.createDataFrame(
                       pa.table({"value": pa.array(lines, pa.string())}),
                       "value string")
                   .select(F.from_json("value", wire).alias("r"))
                   .select("r.*"))
        return self._ingest_batch(raw, upsert)

    def ingest_csv(self, csv_path: str | None = None,
                   csv_rows: list[str] | None = None,
                   upsert: bool = False) -> dict:
        """CSV bulk ingest — the same wire columns as the NDJSON route
        (header: id,lon,lat,geometry,<attrs...>), REAL CSV semantics
        (quoted fields may carry commas, empty unquoted fields are
        missing values; records are line-delimited — pass files through
        spark.read.option("multiLine", True) upstream if quoted
        newlines are needed), then the identical coercion + dead-letter +
        hash + store tail, ``_ingest_raw``. The reference has no CSV
        route; this is the extension surface's 'another source format'
        (SURVEY §2.11 posture) — crawl/export tooling emits CSV as often
        as NDJSON. Scale shape: spark.read.csv is a splittable
        distributed scan (unlike the reference's single-threaded spool
        reader), so a 100 TB drop parallelizes by file/block."""
        from tank_spark.streaming.ingest import attr_wire_schema

        schema = attr_wire_schema(self.attr_fields)
        reader = self.spark.read.schema(schema).option("header", True)
        if csv_path is not None:
            raw = reader.csv(csv_path)
        else:
            raw = reader.csv(self.spark.sparkContext.parallelize(csv_rows or []))
        return self._ingest_batch(raw, upsert)

    def _ingest_batch(self, raw: DataFrame, upsert: bool) -> dict:
        """A batch route's ingest (NDJSON/GeoJSON/CSV): the store tail
        between the reference's I7 import start/finish lines
        (Tyler.kt:52-54) on the tank_spark.ingest logger. The finish line
        reuses the tail's counts, so progress costs no extra job (a
        drop-dir stream logs per epoch, streaming.progress)."""
        import logging

        log = logging.getLogger("tank_spark.ingest")
        log.info("features importing starts (layer=%s)", self.base_layer)
        res = self._ingest_raw(raw, upsert)
        log.info("#%d features importing finished "
                 "(accepted=%d rejected=%d replaced=%d layer=%s)",
                 res["accepted"] + res["rejected"], res["accepted"],
                 res["rejected"], res.get("replaced", 0), self.base_layer)
        return res

    def _ingest_raw(self, raw: DataFrame, upsert: bool = False,
                    phase=_run) -> dict:
        """The one store tail of every ingest, batch or drop-dir stream
        (one call per micro-batch): coerce + dead-letter split +
        schema-align + optional upsert CoW + bucketed append + rejects
        (``<table>/_rejects``) + cache invalidation of the dirty tiles.

        ``phase(fn, what)`` runs each commit phase (accepted-store,
        rejects-store): once for the batch routes, through
        ``AdaptiveBackoff.call`` for the stream. A phase that has
        committed is never re-entered because a later one failed, and a
        failed parquet write commits nothing, so a retried phase cannot
        duplicate rows."""
        from tank_spark.operators.table_ops import (
            delete_matching_keys, has_data, refresh_table, write_buckets,
        )
        from tank_spark.streaming.ingest import coerce_features

        # counts and dirty tiles are observed by the checkpoint's own job;
        # a tile is one long (its coordinates are below 2^HASH_LEVEL), so
        # a bulk batch's tile set reaches Python as plain ints, not Rows
        ok_row = ~F.col("rejected")
        seen = Observation("ingest")
        coerced = coerce_features(raw, self.attr_fields).observe(
            seen,
            F.count_if(ok_row).alias("ok"),
            F.count_if(F.col("rejected")).alias("bad"),
            F.collect_set(F.when(ok_row & F.col("tile_x").isNotNull(),
                                 F.col("tile_x") * (1 << 32) + F.col("tile_y"))
                          ).alias("tiles"),
        ).localCheckpoint(eager=True)
        ok = coerced.filter(ok_row).drop("rejected")
        bad = coerced.filter(F.col("rejected")).drop("rejected", "hash")
        stored = has_data(self.table_dir)
        if stored:  # align to the table (a brand-new one takes the full set)
            ok = ok.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in ok.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in self.features().schema.fields if f.name != "bucket"
            ])
        counts = seen.get
        n_ok, n_bad = counts["ok"], counts["bad"]
        dirty = [(t >> 32, t & 0xFFFFFFFF) for t in counts["tiles"]]
        n_replaced = 0

        def store_accepted() -> None:
            nonlocal n_replaced
            if upsert and stored:
                # a retry after a failed append finds nothing left to
                # replace: the delete is keyed on the incoming rows
                n_replaced += delete_matching_keys(
                    self.spark, self.table_dir, ok)
            write_buckets(ok, self.table_dir)

        if n_ok:
            phase(store_accepted, "accepted-store")
        if n_bad:
            phase(lambda: bad.write.mode("append").parquet(
                f"{self.table_dir}/_rejects"), "rejects-store")
        refresh_table(self.spark, self.table_dir)
        # reference parity: every import feeds the region manager and the
        # cache cover is invalidated (Tyler.kt:139, :183) — else a cached
        # tile would keep serving without the new features
        self._invalidate_tiles(13, sorted(dirty))
        res = {"accepted": n_ok, "rejected": n_bad}
        if upsert:
            res["replaced"] = n_replaced
        return res

    def ingest_geojson(self, feature_collection_json: str) -> dict:
        """POST /_bulk/{layer}?geojson=true: whole-body FeatureCollection
        (reference application.kt:257-262) — explode features[], flatten
        geometry/properties into the NDJSON wire shape, reuse the same
        coercion path. Point features use their coordinates directly;
        other geometries contribute their centroid (ingest computes the
        centroid anyway, Tyler.kt:127)."""
        import json as _json

        from tank_spark.geom import wkt as _wkt
        from tank_spark.streaming.ingest import parse_attr_fields

        fc = _json.loads(feature_collection_json)
        rows = []
        for f in fc.get("features", []):
            geom = f.get("geometry") or {}
            gtype = geom.get("type")
            coords = geom.get("coordinates")
            wkt_str = None
            if gtype == "Point" and coords:
                lon, lat = float(coords[0]), float(coords[1])
            elif gtype and coords:
                lon, lat = _wkt.centroid(gtype, coords)
                # store the FULL geometry (the reference binds the WKT at
                # ingest, Tyler.kt); the centroid only drives bucketing
                wkt_str = _wkt.dumps(gtype, coords)
            else:
                lon = lat = None
            props = f.get("properties") or {}
            row = {"id": f.get("id"), "lon": lon, "lat": lat,
                   "geometry": wkt_str}
            for name, _typ in parse_attr_fields(self.attr_fields):
                v = props.get(name)
                row[name] = None if v is None else str(v)
            rows.append(_json.dumps(row))
        return self.ingest_features(rows)

    def ingest_bulk(self, drop_dir: str, checkpoint_dir: str):
        """POST /_bulk/{layer}: asynchronous spool-dir ingest (202-style —
        returns the running StreamingQuery immediately)."""
        from tank_spark.streaming.ingest import start_ingest_stream

        return start_ingest_stream(self.spark, self, drop_dir, checkpoint_dir)

    def update_feature(self, uid: str, updates: dict) -> int:
        """PUT /{uuid} (+ cache invalidation of the feature's tile —
        the reference pairs every write with regionManager bookkeeping,
        Tyler.kt:139)."""
        from tank_spark.operators.table_ops import uid_rows, update_by_uid

        # one probe gives the buckets to rewrite and the tiles before the
        # update; an update that sets tile_x/tile_y moves the feature, and
        # invalidating only the pre-update tiles would leave the
        # destination tile's cached blob stale (ADVICE r5) — only then is
        # the table probed again
        rows = uid_rows(self.spark, self.table_dir, uid)
        n = update_by_uid(self.spark, self.table_dir, uid, updates, rows)
        if n and self._cache is not None:
            tiles = _tiles_of(rows)
            if {"tile_x", "tile_y"} & set(updates):
                tiles |= _tiles_of(uid_rows(self.spark, self.table_dir, uid))
            self._invalidate_tiles(13, sorted(tiles))
        return n

    def delete_feature(self, uid: str) -> int:
        """DELETE /{uuid} (+ cache invalidation of the feature's tile)."""
        from tank_spark.operators.table_ops import delete_by_uid, uid_rows

        rows = uid_rows(self.spark, self.table_dir, uid)
        n = delete_by_uid(self.spark, self.table_dir, uid, rows)
        if n:
            self._invalidate_tiles(13, sorted(_tiles_of(rows)))
        return n

    def _invalidate_tiles(self, z: int, tiles: list[tuple[int, int]]) -> None:
        """The write-path half of the reference's cache discipline
        (Tyler.kt:139 regionManager.add per feature + :183 flush): the
        bboxes of the dirty zoom-``z`` tiles -> V1 region clustering ->
        V2 quadtree cover -> paired tile/heatmap cache deletes."""
        if self._cache is None or not tiles:
            return
        from tank_spark.geom import tilemath
        from tank_spark.operators.invalidation import BBox

        self._cache.invalidate_bboxes([
            BBox(*tilemath.tile_bbox(z, x, y)) for x, y in tiles
        ])

    def delete_tile(self, z: int, x: int, y: int) -> int:
        """DELETE /tile/{z}/{x}/{y} (+ cache invalidation of the cover)."""
        from tank_spark.operators.table_ops import delete_tile

        n = delete_tile(self.spark, self.table_dir, z, x, y)
        self._invalidate_tiles(z, [(x, y)])
        return n


def _tiles_of(rows) -> set[tuple[int, int]]:
    """The z13 tiles of a ``table_ops.uid_rows`` probe."""
    return {(int(r["tile_x"]), int(r["tile_y"]))
            for r in rows if r["tile_x"] is not None}
