"""End-to-end façade test: the reference's route surface driven through
the Tank class on a real table."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def tank(spark, tmp_path):
    from tank_spark.api import Tank
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    return Tank(spark, d)


def test_full_route_surface(tank):
    # GET /tile with main-attr filter (reference application.kt:364-368)
    t_all = tank.tile(9, 80, 196).count()
    t_road = tank.tile(9, 80, 196, filter_json=json.dumps({"kind": "road"})).count()
    assert 0 < t_road < t_all

    # GET /tile as MVT
    blob = tank.tile_mvt(13, 1281, 3137)
    from tank_spark.geom import mvt as mvtmod
    layer = mvtmod.decode(blob)["io.marauder.tank"]
    assert len(layer["features"]) > 0

    # GET /heatmap
    hm = tank.heatmap(9, 80, 196)
    assert hm.count() > 0
    assert hm.filter(F.col("n_features") <= 0).count() == 0

    # GET /{uuid}
    assert tank.get_feature("feat-8001").count() == 1

    # POST /{layer}
    res = tank.ingest_features([
        json.dumps({"id": "new-1", "lon": -123.7, "lat": 38.7,
                    "kind": "poi", "score": "5", "cnt": "1", "tag": "t"}),
        json.dumps({"id": "new-bad", "lon": 1.0, "lat": 1.0, "score": "zzz"}),
    ])
    assert res == {"accepted": 1, "rejected": 1}
    assert tank.get_feature("new-1").count() == 1

    # the ingested feature must RENDER in its own tile (regression: ingest
    # used to write rows without geometry/key, which could never serve and
    # crashed the kernel once they landed in a requested tile)
    from tank_spark.geom import tilemath
    ix, iy = tilemath.tile_number(38.7, -123.7, 13)
    ing_layer = mvtmod.decode(tank.tile_mvt(13, ix, iy))["io.marauder.tank"]
    assert any(
        f["props"].get("kind") == "poi" for f in ing_layer["features"]
    ), "ingested feature missing from its own tile"

    # PUT /{uuid}
    assert tank.update_feature("new-1", {"score": 7.5}) == 1
    assert tank.get_feature("new-1").collect()[0]["score"] == 7.5

    # DELETE /{uuid}
    assert tank.delete_feature("new-1") == 1
    assert tank.get_feature("new-1").count() == 0

    # DELETE /tile
    before = tank.features().count()
    n = tank.delete_tile(13, 1281, 3137)
    assert n > 0
    assert tank.features().count() == before - n
    # deleted tile now serves an empty (valid) MVT
    layer2 = mvtmod.decode(tank.tile_mvt(13, 1281, 3137))["io.marauder.tank"]
    assert layer2["features"] == []


def test_ingest_upsert_replaces_matching_pk(tank):
    """Reference parity for a primary_keys="uid" layer (application.conf:
    47-50): INSERT-is-upsert — re-ingesting the same (hash, uid) replaces
    the stored row; a re-ingest at a NEW position (different hash =
    different Cassandra partition) keeps both rows; the default
    append mode keeps versions like the "uid, timestamp" clustering."""
    row = {"id": "ups-1", "lon": -123.7, "lat": 38.7,
           "kind": "poi", "score": "5", "cnt": "1", "tag": "t"}
    import json as j

    assert tank.ingest_features([j.dumps(row)]) == {"accepted": 1, "rejected": 0}
    # default append: same uid again -> two version rows
    assert tank.ingest_features([j.dumps(row)])["accepted"] == 1
    assert tank.get_feature("ups-1").count() == 2

    # upsert: replaces BOTH stored versions with the new row
    row2 = dict(row, score="9")
    res = tank.ingest_features([j.dumps(row2)], upsert=True)
    assert res == {"accepted": 1, "rejected": 0, "replaced": 2}
    got = tank.get_feature("ups-1").collect()
    assert len(got) == 1 and got[0]["score"] == 9.0

    # moved feature: new hash = new partition -> old row survives
    moved = dict(row2, lon=10.0, lat=10.0)
    res = tank.ingest_features([j.dumps(moved)], upsert=True)
    assert res["replaced"] == 0
    assert tank.get_feature("ups-1").count() == 2

    # upsert with no match on an untouched uid replaces nothing
    fresh = dict(row, id="ups-2")
    assert tank.ingest_features([j.dumps(fresh)], upsert=True)["replaced"] == 0


def test_get_feature_geojson(tank):
    """C1 response assembly: the stored row decodes into a typed GeoJSON
    Feature (application.kt:279-300) — WKT-parsed geometry, typed props."""
    f = tank.get_feature_geojson("feat-8001")
    assert f is not None and f["type"] == "Feature" and f["id"] == "feat-8001"
    geom = f["geometry"]
    assert geom["type"] in ("Point", "LineString", "Polygon")
    from tank_spark.geom import wkt as wktmod
    pts = list(wktmod.iter_points(geom["type"], geom["coordinates"]))
    assert all(-180 <= lon <= 180 and -90 <= lat <= 90 for lon, lat in pts)
    props = f["properties"]
    assert isinstance(props["kind"], str) and isinstance(props["score"], float)
    assert isinstance(props["cnt"], int) and isinstance(props["tag"], str)
    assert tank.get_feature_geojson("no-such-uid") is None


def test_typed_main_attr_filter(spark, tmp_path):
    """T1b: a Tank whose main attr is INT-typed binds the raw request
    value as an integer (reference application.kt:405-416)."""
    from tank_spark.api import Tank
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    t = Tank(spark, d, main_attr="cnt",
             attr_fields="kind text, score double, cnt int, tag text")
    total = t.tile(9, 80, 196).count()
    hit = t.tile(9, 80, 196, filter_json=json.dumps({"cnt": "7"}))
    n = hit.count()
    assert 0 < n < total
    assert all(r["cnt"] == 7 for r in hit.collect())


def test_custom_attr_layer_end_to_end(spark, tmp_path):
    """A layer declared with CUSTOM attributes (including a date) built
    purely from ingest: features land bucket-partitioned, serve through
    tile_mvt with the declared props, and filter by declared type."""
    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath

    t = Tank(spark, str(tmp_path / "custom"), main_attr="rank",
             attr_fields="label text, rank int, img_date date")
    res = t.ingest_features([
        json.dumps({"id": "c1", "lon": 7.1, "lat": 50.7, "label": "a",
                    "rank": "3", "img_date": "2021-06-09"}),
        json.dumps({"id": "c2", "lon": 7.1001, "lat": 50.7001, "label": "b",
                    "rank": "4"}),
    ])
    assert res == {"accepted": 2, "rejected": 0}

    ix, iy = tilemath.tile_number(50.7, 7.1, 13)
    layer = mvtmod.decode(t.tile_mvt(13, ix, iy))["io.marauder.tank"]
    props = {f["props"]["label"]: f["props"] for f in layer["features"]}
    assert set(props) == {"a", "b"}
    assert props["a"]["rank"] == 3 and props["a"]["img_date"] == "2021-06-09"
    assert props["b"]["rank"] == 4 and props["b"]["img_date"] == "1970-01-01"

    # typed filter on the int main attr
    assert t.tile(13, ix, iy, filter_json=json.dumps({"rank": "3"})).count() == 1
    # typed GeoJSON response carries the declared schema
    f = t.get_feature_geojson("c2")
    assert f["properties"] == {"label": "b", "rank": 4,
                               "img_date": "1970-01-01"}


def test_custom_attr_layer_batch_render(spark, tmp_path):
    """The two-stage distributed BATCH pipeline serves a layer with custom
    attr_fields (not the benchmark kind/score/cnt/tag columns): decoded
    feature sets match the single-tile kernel, and a no-match request
    still yields a valid empty tile (VERDICT r2 item 2)."""
    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath

    t = Tank(spark, str(tmp_path / "customb"), main_attr="rank",
             attr_fields="label text, rank int, img_date date")
    res = t.ingest_features([
        json.dumps({"id": "b1", "lon": 7.1, "lat": 50.7, "label": "a",
                    "rank": "3", "img_date": "2021-06-09"}),
        json.dumps({"id": "b2", "lon": 7.1001, "lat": 50.7001, "label": "b",
                    "rank": "4"}),
    ])
    assert res == {"accepted": 2, "rejected": 0}

    ix, iy = tilemath.tile_number(50.7, 7.1, 13)
    out = {(r["z"], r["x"], r["y"]): r
           for r in t.tile_mvt_batch([(13, ix, iy), (13, 0, 0)]).collect()}
    assert set(out) == {(13, ix, iy), (13, 0, 0)}

    row = out[(13, ix, iy)]
    assert row["n_features"] == 2
    layer = mvtmod.decode(bytes(row["mvt"]))["io.marauder.tank"]
    props = {f["props"]["label"]: f["props"] for f in layer["features"]}
    assert props["a"]["rank"] == 3 and props["a"]["img_date"] == "2021-06-09"
    assert props["b"]["rank"] == 4 and props["b"]["img_date"] == "1970-01-01"
    # decode parity with the single-tile scalar kernel on the same layer
    single = mvtmod.decode(t.tile_mvt(13, ix, iy))["io.marauder.tank"]
    sprops = {f["props"]["label"]: f["props"] for f in single["features"]}
    assert sprops == props

    empty = out[(13, 0, 0)]
    assert empty["n_features"] == 0
    assert "io.marauder.tank" in mvtmod.decode(bytes(empty["mvt"]))


def test_null_attribute_serves_the_same_props_on_both_routes(spark, tmp_path):
    """A stored null in a declared attribute gets no tag through
    tile_mvt, exactly as through tile_mvt_batch. (pandas turns a null
    double into NaN, which the single-tile route once encoded as a
    double NaN value.)"""
    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.operators.tiles import tile_hash_range
    from tank_spark.sources.features import features_df

    z, x, y = 9, 80, 196
    lo, hi = tile_hash_range(z, x, y)
    d = str(tmp_path / "nulls")
    feats = features_df(spark, SF_DIR).drop("ts").filter(
        F.col("hash").between(lo, hi))
    write_feature_table(feats.withColumn(
        "score", F.when(F.col("key") % 2 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("score"))), d)
    t = Tank(spark, d)

    def props(blob):
        feats = mvtmod.decode(blob)["io.marauder.tank"]["features"]
        return sorted((f["id"], sorted(f["props"].items())) for f in feats)

    single = props(t.tile_mvt(z, x, y))
    batch = props(bytes(t.tile_mvt_batch([(z, x, y)]).collect()[0]["mvt"]))
    assert single == batch
    assert {key % 2 for key, _ in single} == {0, 1}
    for key, kv in single:
        assert ("score" in dict(kv)) == (key % 2 == 1)


def test_sql_function_registration(spark):
    from tank_spark.functions.geo import register_sql_functions
    from tank_spark.geom import morton

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT tank_morton(3, 5) AS m, tank_morton_decode(tank_morton(3, 5)) AS d, "
        "tank_tile_number(37.7749, -122.4194, 13) AS t, "
        "tank_wkt_centroid('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS c, "
        "tank_geohash_encode(57.64911, 10.40744) AS g, "
        "tank_geohash_decode('u4pruydqqvj8') AS gd"
    ).collect()[0]
    assert row["m"] == morton.interleave(3, 5)
    assert row["d"] == [3, 5]
    assert row["t"] == [1310, 3166]
    assert row["c"] == [2.0, 2.0]
    assert row["g"] == "u4pruydqqvj8"
    assert abs(row["gd"][0] - 57.64911) < 1e-6


def test_tile_mvt_reads_the_table_handle_once(tank):
    """A tile_mvt miss on an unchanged table lists nothing: the handle
    built by the first call serves the second, once per call (not once
    per declared attribute)."""
    from tank_spark import cache

    tank.tile_mvt(13, 1281, 3137)
    before = cache.stats("table_ops.table")
    assert len(tank.tile_mvt(12, 641, 1569)) > 25
    after = cache.stats("table_ops.table")
    assert (after["misses"] - before["misses"],
            after["hits"] - before["hits"]) == (0, 1)


def test_tile_cache_roundtrip_and_invalidation(spark, tmp_path):
    from tank_spark.api import Tank
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    t = Tank(spark, d, cache_dir=str(tmp_path / "cache"))

    blob1 = t.tile_mvt(13, 1281, 3137)      # miss -> compute + fill
    blob2 = t.tile_mvt(13, 1281, 3137)      # hit -> identical bytes
    assert blob1 == blob2 and len(blob1) > 25

    # a mutation inside the tile invalidates the cached entry...
    n = t.delete_tile(13, 1281, 3137)
    assert n > 0
    blob3 = t.tile_mvt(13, 1281, 3137)      # recomputed: now empty
    from tank_spark.geom import mvt as mvtmod
    assert mvtmod.decode(blob3)["io.marauder.tank"]["features"] == []
    assert blob3 != blob1


def test_write_paths_invalidate_tile_cache(spark, tmp_path):
    """Reference cache discipline (Tyler.kt:139/:183): EVERY write —
    ingest, update, delete-by-uid — invalidates the cover of the
    touched feature's tile, so a cached blob never serves stale."""
    import json as _json

    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    t = Tank(spark, d, cache_dir=str(tmp_path / "cache"))

    lon, lat = -123.7, 38.7
    ix, iy = tilemath.tile_number(lat, lon, 13)
    blob_before = t.tile_mvt(13, ix, iy)            # fill the cache

    # INGEST into the cached tile -> cache dropped -> new feature serves
    t.ingest_features([_json.dumps(
        {"id": "cached-1", "lon": lon, "lat": lat, "kind": "poi",
         "score": "5", "cnt": "1", "tag": "t"})])
    blob_after = t.tile_mvt(13, ix, iy)
    feats = mvtmod.decode(blob_after)["io.marauder.tank"]["features"]
    assert any(f["props"].get("kind") == "poi" for f in feats)
    assert blob_after != blob_before

    # UPDATE the feature -> cached blob dropped again
    t.tile_mvt(13, ix, iy)                          # re-fill
    assert t.update_feature("cached-1", {"score": 9.0}) == 1
    feats2 = mvtmod.decode(t.tile_mvt(13, ix, iy))["io.marauder.tank"]["features"]
    assert any(f["props"].get("score") == 9.0 for f in feats2)

    # DELETE the feature -> it disappears from the served tile
    t.tile_mvt(13, ix, iy)                          # re-fill
    assert t.delete_feature("cached-1") == 1
    feats3 = mvtmod.decode(t.tile_mvt(13, ix, iy))["io.marauder.tank"]["features"]
    assert not any(f["props"].get("kind") == "poi" for f in feats3)


def test_layer_config_persists_with_table(spark, tmp_path):
    """attr_fields declared once at layer creation reload on later Tank
    constructions (the reference pins the declaration in application.conf;
    here it travels with the table as _layer.json, which Spark's file
    index ignores like _SUCCESS)."""
    import json as _json

    from tank_spark.api import Tank

    d = str(tmp_path / "layer")
    decl = "category text, rank int, seen date"
    t1 = Tank(spark, d, attr_fields=decl)
    t1.ingest_features([
        _json.dumps({"id": "p1", "lon": 10.0, "lat": 50.0,
                     "category": "poi", "rank": "3", "seen": "2024-05-01"}),
    ])

    t2 = Tank(spark, d)  # no declaration passed
    assert t2.attr_fields == decl
    feat = t2.get_feature_geojson("p1")
    assert feat["properties"]["rank"] == 3
    assert str(feat["properties"]["seen"]) == "2024-05-01"


def test_geojson_polygon_ingest_serves_full_geometry(tank):
    """A Polygon ingested via GeoJSON must store and RENDER the polygon
    (the reference binds the full WKT at ingest; the centroid only picks
    the bucket) — not collapse to its centroid point."""
    import json as _json

    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath

    ring = [[-123.72, 38.69], [-123.68, 38.69], [-123.68, 38.72],
            [-123.72, 38.72], [-123.72, 38.69]]
    fc = {"type": "FeatureCollection", "features": [{
        "type": "Feature", "id": "poly-1",
        "geometry": {"type": "Polygon", "coordinates": [ring]},
        "properties": {"kind": "zone", "score": "1", "cnt": "1", "tag": "g"},
    }]}
    res = tank.ingest_geojson(_json.dumps(fc))
    assert res == {"accepted": 1, "rejected": 0}

    row = tank.get_feature("poly-1").collect()[0]
    assert row["geometry"].startswith("POLYGON ((")

    # centroid picks the bucket tile; the polygon must decode as one
    cx = sum(p[0] for p in ring[:-1]) / 4
    cy = sum(p[1] for p in ring[:-1]) / 4
    xt, yt = tilemath.tile_number(cy, cx, 13)
    layer = mvtmod.decode(tank.tile_mvt(13, xt, yt))["io.marauder.tank"]
    polys = [f for f in layer["features"]
             if f["props"].get("kind") == "zone"]
    assert len(polys) == 1
    assert polys[0]["geom_type"] == "Polygon"


def test_update_move_invalidates_destination_tile(spark, tmp_path):
    """A position-changing update (tile_x/tile_y/hash/geometry are
    updatable columns) must invalidate the DESTINATION tile's cached blob
    too, not just the tiles the feature occupied before the update
    (ADVICE r5): caching the destination, then moving a feature into it,
    must not keep serving the pre-move blob."""
    import json as _json

    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.operators.tiles import tile_hash_range
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    t = Tank(spark, d, cache_dir=str(tmp_path / "cache"))

    lon_a, lat_a = -123.7, 38.7
    ax, ay = tilemath.tile_number(lat_a, lon_a, 13)
    bx, by = ax + 1, ay                      # adjacent destination tile
    # destination-tile center coordinates
    n = 2.0 ** 13
    lon_b = (bx + 0.5) / n * 360.0 - 180.0
    import math
    lat_b = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (by + 0.5) / n))))

    t.ingest_features([_json.dumps(
        {"id": "mv-1", "lon": lon_a, "lat": lat_a, "kind": "poi",
         "score": "5", "cnt": "1", "tag": "mv-tag"})])

    # cache BOTH tiles: source serves the feature, destination doesn't
    def has_marker(feats):
        return any(f["props"].get("tag") == "mv-tag" for f in feats)

    feats_a0 = mvtmod.decode(t.tile_mvt(13, ax, ay))["io.marauder.tank"]["features"]
    assert has_marker(feats_a0)
    feats_b0 = mvtmod.decode(t.tile_mvt(13, bx, by))["io.marauder.tank"]["features"]
    assert not has_marker(feats_b0)

    new_hash = tile_hash_range(13, bx, by)[0]
    assert t.update_feature("mv-1", {
        "hash": new_hash, "tile_x": bx, "tile_y": by,
        "lon": lon_b, "lat": lat_b,
        "geometry": f"POINT ({lon_b} {lat_b})",
    }) == 1

    # destination must serve the moved feature (stale cache would not)
    feats_b1 = mvtmod.decode(t.tile_mvt(13, bx, by))["io.marauder.tank"]["features"]
    assert has_marker(feats_b1)
    # source must no longer serve it
    feats_a1 = mvtmod.decode(t.tile_mvt(13, ax, ay))["io.marauder.tank"]["features"]
    assert not has_marker(feats_a1)


def test_ingest_csv_route(tank, tmp_path):
    """CSV bulk ingest: same wire columns and coercion as NDJSON, but
    through REAL CSV semantics — a quoted field carrying a comma, empty
    unquoted fields as missing values (defaults, NOT rejects), and an
    uncoercible attr tripping the dead-letter split. File-based and
    inline-rows forms must behave identically."""
    rows = [
        "id,lon,lat,geometry,kind,score,cnt,tag",
        'csv-1,-123.5,38.5,,"poi,main",7.5,3,alpha',   # quoted comma in kind
        "csv-2,-123.6,38.6,,road,,,",                   # missing attrs -> defaults
        "csv-bad,-123.7,38.7,,poi,not-a-number,1,x",    # score dead-letters
    ]
    res = tank.ingest_csv(csv_rows=rows)
    assert res == {"accepted": 2, "rejected": 1}
    got = tank.get_feature("csv-1").collect()[0]
    assert got["kind"] == "poi,main" and got["score"] == 7.5 and got["cnt"] == 3
    d2 = tank.get_feature("csv-2").collect()[0]
    assert d2["score"] == 0.0 and d2["cnt"] == 0 and d2["tag"] == ""

    # file-based form: write the same payload to disk, new ids
    p = tmp_path / "drop.csv"
    p.write_text(
        "id,lon,lat,geometry,kind,score,cnt,tag\n"
        'csv-f1,-122.5,37.5,,"a,b",1.5,2,t\n'
        "csv-f2,-122.6,37.6,,road,bad!,2,t\n"
    )
    res2 = tank.ingest_csv(csv_path=str(p))
    assert res2 == {"accepted": 1, "rejected": 1}
    assert tank.get_feature("csv-f1").count() == 1

    # the CSV-ingested feature renders in its own tile (serve-path parity
    # with the NDJSON route: full geometry/key column set stored)
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath
    ix, iy = tilemath.tile_number(38.5, -123.5, 13)
    layer = mvtmod.decode(tank.tile_mvt(13, ix, iy))["io.marauder.tank"]
    assert any(
        f.get("props", {}).get("kind") == "poi,main"
        for f in layer["features"]
    )
