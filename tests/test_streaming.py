"""Streaming surface tests: drop-dir ingest (coercion, rejects, morton
hash) and event-time windows (stream results == batch twins)."""

from __future__ import annotations

import json
import time

import pytest

from tests.conftest import SF_DIR


@pytest.fixture()
def tmp_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("drop", "table", "ckpt")}
    (tmp_path / "drop").mkdir()
    return d


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _stream(spark, tmp_dirs, attr_fields=None, **kw):
    """One drop-dir stream into the layer at ``tmp_dirs["table"]``."""
    from tank_spark.api import Tank
    from tank_spark.streaming.ingest import start_ingest_stream

    tank = Tank(spark, tmp_dirs["table"], attr_fields=attr_fields)
    return start_ingest_stream(spark, tank, tmp_dirs["drop"],
                               tmp_dirs["ckpt"], **kw)


def _rejects(spark, tmp_dirs):
    return spark.read.parquet(f"{tmp_dirs['table']}/_rejects")


def test_ingest_stream_end_to_end(spark, tmp_dirs):
    from tank_spark.geom import morton, tilemath

    good = [
        {"id": "a", "lon": -122.4194, "lat": 37.7749, "kind": "poi",
         "score": "1.5", "cnt": "7", "tag": "t1"},
        {"id": "b", "lon": 13.4, "lat": 52.5, "kind": "road",
         "score": "2", "cnt": "3", "tag": "t2"},
        # coercible-with-defaults: missing props -> defaults, not rejected
        {"id": "c", "lon": 0.0, "lat": 0.0},
    ]
    bad = [
        # un-coercible score -> dead letter (reference Tyler.kt:152-169)
        {"id": "x", "lon": 1.0, "lat": 1.0, "score": "abc"},
        # missing geometry -> rejected
        {"id": "y", "kind": "poi"},
    ]
    _write_ndjson(f"{tmp_dirs['drop']}/batch1.ndjson", good + bad)

    q = _stream(spark, tmp_dirs)
    q.awaitTermination(60)

    accepted = spark.read.parquet(tmp_dirs["table"])
    rejects = _rejects(spark, tmp_dirs)
    assert accepted.count() == 3
    assert rejects.count() == 2
    # bulk sink writes the bucket-partitioned layout (bucket=N/ subdirs) so
    # appends mix cleanly with ingest_features and the mutation paths
    assert "bucket" in accepted.columns
    import os
    assert any(e.startswith("bucket=") for e in os.listdir(tmp_dirs["table"]))
    # full serve-path column set present (geometry/key/tile coords)
    for c in ("key", "geometry", "tile_x", "tile_y", "qty", "ts"):
        assert c in accepted.columns, c
    rows = {r["uid"]: r for r in accepted.collect()}
    assert rows["a"]["geometry"].startswith("POINT (")
    # defaults applied (Tyler.kt:106-116 semantics)
    assert rows["c"]["score"] == 0.0 and rows["c"]["cnt"] == 0 and rows["c"]["kind"] == ""
    # morton hash matches the kernel's ingest math (Tyler.kt:127-131)
    xt, yt = tilemath.tile_number(37.7749, -122.4194, 13)
    assert rows["a"]["hash"] == morton.interleave(xt, yt)
    assert set(rejects.toPandas()["uid"]) == {"x", "y"}


def test_ingest_stream_declared_schema(spark, tmp_dirs):
    """I1 parity: a layer with config-declared attributes — including a
    DATE-typed one — ingests through the same generated coercion: defaults
    0/0.0/''/1970-01-01 for missing values, dead-letter for wrong-typed
    ones (Tyler.kt:67-125)."""
    import datetime

    attrs = "label text, rank int, img_date date"
    rows = [
        {"id": "a", "lon": 1.0, "lat": 2.0, "label": "ok", "rank": "3",
         "img_date": "2021-06-09"},
        # missing attrs -> per-type defaults, not rejected
        {"id": "b", "lon": 3.0, "lat": 4.0},
        # malformed date -> dead letter
        {"id": "x", "lon": 5.0, "lat": 6.0, "img_date": "June 9th"},
    ]
    _write_ndjson(f"{tmp_dirs['drop']}/d1.ndjson", rows)
    q = _stream(spark, tmp_dirs, attr_fields=attrs)
    q.awaitTermination(60)

    acc = {r["uid"]: r for r in spark.read.parquet(tmp_dirs["table"]).collect()}
    assert set(acc) == {"a", "b"}
    assert acc["a"]["label"] == "ok" and acc["a"]["rank"] == 3
    assert acc["a"]["img_date"] == datetime.date(2021, 6, 9)
    assert acc["b"]["label"] == "" and acc["b"]["rank"] == 0
    assert acc["b"]["img_date"] == datetime.date(1970, 1, 1)
    rej = _rejects(spark, tmp_dirs)
    assert [r["uid"] for r in rej.collect()] == ["x"]


def test_attr_declaration_uuid_timestamp_skipped(spark):
    """application.conf parity: `uuid`/`timestamp` attr declarations are
    accepted but server-assigned — the reference's write path filters them
    out of the stored attr set (Tyler.kt skips both types); here uid comes
    from uuid()-on-missing and ts is stamped at ingest. Unknown types
    still raise."""
    from tank_spark.streaming.ingest import coerce_features, parse_attr_fields

    decl = "sid uuid, created timestamp, label text, rank int"
    assert parse_attr_fields(decl) == [("label", "text"), ("rank", "int")]
    with pytest.raises(ValueError, match="unsupported attr type"):
        parse_attr_fields("label varchar")

    raw = spark.createDataFrame(
        [("a", 1.0, 2.0, None, "ok", "3")],
        "id string, lon double, lat double, geometry string, "
        "label string, rank string",
    )
    out = coerce_features(raw, decl).collect()[0]
    assert out["label"] == "ok" and out["rank"] == 3
    # server-assigned columns exist under their engine names, not the
    # declared ones — the declaration's uuid/timestamp names are dropped
    cols = coerce_features(raw, decl).columns
    assert "sid" not in cols and "created" not in cols
    assert out["uid"] == "a" and out["ts"] is not None


def test_ingest_stream_incremental_files(spark, tmp_dirs):
    """Second file dropped later is picked up; checkpoint prevents
    reprocessing (the reference's .lock protocol, done right)."""

    _write_ndjson(f"{tmp_dirs['drop']}/f1.ndjson",
                  [{"id": "a", "lon": 1.0, "lat": 1.0}])
    q = _stream(spark, tmp_dirs)
    q.awaitTermination(60)
    assert spark.read.parquet(tmp_dirs["table"]).count() == 1

    _write_ndjson(f"{tmp_dirs['drop']}/f2.ndjson",
                  [{"id": "b", "lon": 2.0, "lat": 2.0}])
    q2 = _stream(spark, tmp_dirs)
    q2.awaitTermination(60)
    df = spark.read.parquet(tmp_dirs["table"])
    assert df.count() == 2  # a not duplicated, b added
    assert set(r["uid"] for r in df.collect()) == {"a", "b"}


def test_streaming_windows_match_batch(spark):
    from tank_spark.streaming.windows import (
        run_stream_to_memory, streaming_events, windowed_counts_stream,
    )
    from tank_spark.plans.registry import load_all

    ev = streaming_events(spark, SF_DIR)
    q = run_stream_to_memory(windowed_counts_stream(ev), "win_out")
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
        batch = load_all()["tumbling_hourly_counts"].spark(spark, SF_DIR).collect()
        import datetime as dt
        # append mode only emits windows CLOSED by the final watermark
        # (max event time - 2h); unfinalized tail windows are correctly held
        # back — exclude them from the expectation
        max_us = max(r["bucket_us"] for r in batch) + 3_600_000_000
        cutoff_us = None
        from tank_spark.sources.tables import read_events
        from pyspark.sql import functions as F
        mx = read_events(spark, SF_DIR).agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        cutoff_us = mx - 2 * 3_600_000_000
        want = {}
        for r in batch:
            if r["bucket_us"] + 3_600_000_000 > cutoff_us:
                continue  # window not closed by watermark
            start = dt.datetime.fromtimestamp(r["bucket_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
            want[(start, r["event_type"])] = (r["n"], r["sum_value"])
        assert want.items() <= got.items()
        # and nothing extra beyond the full batch expectation
        full = {}
        for r in batch:
            start = dt.datetime.fromtimestamp(r["bucket_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
            full[(start, r["event_type"])] = (r["n"], r["sum_value"])
        assert got.items() <= full.items()
    finally:
        q.stop()


def test_streaming_sessions_match_batch(spark):
    from tank_spark.streaming.windows import (
        run_stream_to_memory, session_windows_stream, streaming_events,
    )
    from tank_spark.plans.registry import load_all

    ev = streaming_events(spark, SF_DIR)
    q = run_stream_to_memory(session_windows_stream(ev), "sess_out")
    try:
        got = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
        batch = load_all()["sessionize_events"].spark(spark, SF_DIR).collect()
        import datetime as dt
        from tank_spark.sources.tables import read_events
        from pyspark.sql import functions as F
        mx = read_events(spark, SF_DIR).agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        cutoff_us = mx - 2 * 3_600_000_000
        # sessions closed by the final watermark must match the batch twin;
        # tail sessions are correctly held back in append mode
        want = {}
        for r in batch:
            if r["end_us"] + 30 * 60 * 1_000_000 > cutoff_us:
                continue
            start = dt.datetime.fromtimestamp(r["start_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
            want[(r["user_id"], start)] = r["n_events"]
        assert want.items() <= got.items()
        full = {}
        for r in batch:
            start = dt.datetime.fromtimestamp(r["start_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
            full[(r["user_id"], start)] = r["n_events"]
        assert got.items() <= full.items()
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: the same event file replayed twice through a
    stream dedupes on event_id (the streaming form of dedup_exact)."""
    from pyspark.sql import functions as F

    from tank_spark.sources.tables import read_events
    from tank_spark.streaming.windows import dedup_events_stream

    ev = read_events(spark, SF_DIR).select("event_id", "user_id", "ts", "value")
    drop = tmp_path / "drop"
    ev.limit(200).coalesce(1).write.parquet(str(drop / "a"))
    ev.limit(200).coalesce(1).write.parquet(str(drop / "b"))  # exact replay

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(drop))
    )
    deduped = dedup_events_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids))  # no duplicates emitted
    assert len(ids) == 200            # every distinct event survived


def test_streaming_scrub_sample_matches_batch(spark, tmp_path):
    """The PII-mask and stratified-sample expressions are pure column
    functions, so the SAME code runs over a stream unchanged (batch/
    stream unification) — a streamed documents table must yield exactly
    the batch sample with identical masked fingerprints."""
    from pyspark.sql import functions as F

    from tank_spark.llm.mixing import _rate_col, _u_col
    from tank_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    drop = tmp_path / "docs"
    docs.coalesce(2).write.parquet(str(drop))

    def scrub_sample(df):
        masked = F.regexp_replace(
            df["text"], r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"
        )
        return df.filter(_u_col() < _rate_col()).select(
            "doc_id", "source", F.md5(masked).alias("masked_fp")
        )

    batch = {(r["doc_id"], r["masked_fp"]) for r in scrub_sample(docs).collect()}

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    q = (
        scrub_sample(stream)
        .writeStream.format("memory").queryName("scrub_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["doc_id"], r["masked_fp"])
           for r in spark.sql("SELECT doc_id, masked_fp FROM scrub_out").collect()}
    assert got == batch and len(got) > 0


def test_feature_lifecycle_ingest_compact_serve_delete(spark, tmp_dirs):
    """The whole engine as a system: seed table -> streaming bulk ingest
    (3 micro-batches) -> fragmented bucket -> compaction -> the ingested
    features RENDER in their tile's MVT -> delete -> they stop rendering.
    """
    import os

    from tank_spark.api import Tank
    from tank_spark.geom import mvt as mvtmod
    from tank_spark.geom import tilemath
    from tank_spark.operators.table_ops import compact_table, write_feature_table
    from tank_spark.sources.features import features_df

    table = tmp_dirs["table"]
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), table)
    tank = Tank(spark, table)

    lon, lat = -123.7, 38.7
    for i in range(3):  # one file per micro-batch -> fragmentation
        _write_ndjson(f"{tmp_dirs['drop']}/b{i}.ndjson", [
            {"id": f"bulk-{i}", "lon": lon, "lat": lat, "kind": "bulkpoi",
             "score": "1", "cnt": str(i), "tag": "lc"},
        ])
    q = tank.ingest_bulk(tmp_dirs["drop"], tmp_dirs["ckpt"])
    q.awaitTermination(120)
    spark.catalog.refreshByPath(table)

    from tank_spark.geom import morton
    xt, yt = tilemath.tile_number(lat, lon, 13)
    bucket = morton.interleave(xt, yt) % 64
    bdir = os.path.join(table, f"bucket={bucket}")
    n_files = len([f for f in os.listdir(bdir) if f.endswith(".parquet")])
    assert n_files >= 3  # fragmented by the appends
    # the stream's appends are aligned to the table schema: the seed has
    # no `ts`, so no stream-written file carries one
    import pyarrow.parquet as pq

    from tank_spark.operators.table_ops import read_feature_table

    cols = [c for c in read_feature_table(spark, table).columns if c != "bucket"]
    for root, _dirs, names in os.walk(table):
        for name in names:
            if name.endswith(".parquet"):
                assert pq.read_schema(os.path.join(root, name)).names == cols

    compacted = compact_table(spark, table)
    assert bucket in compacted
    assert len([f for f in os.listdir(bdir) if f.endswith(".parquet")]) == 1

    def bulk_feats():
        layer = mvtmod.decode(tank.tile_mvt(13, xt, yt))["io.marauder.tank"]
        return [f for f in layer["features"]
                if f["props"].get("kind") == "bulkpoi"]

    assert len(bulk_feats()) == 3  # ingested features serve after compaction

    assert tank.delete_feature("bulk-1") == 1
    assert len(bulk_feats()) == 2  # and stop serving once deleted


def test_normalize_event_ts_all_physical_types(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) across testdata generations; normalize_event_ts
    must surface the same microsecond TIMESTAMP for long-nanos,
    TIMESTAMP_NTZ, and TIMESTAMP inputs (the ns branch truncates like
    DuckDB's ns->us cast)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tank_spark.sources.tables import normalize_event_ts

    us = 1_700_000_000_123_456  # epoch micros with sub-ms precision
    for unit, vals in (("ns", [us * 1000 + 789]), ("us", [us])):
        d = tmp_path / f"ts_{unit}"
        d.mkdir()
        t = pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(vals, pa.timestamp(unit)),
        })
        pq.write_table(t, str(d / "events.parquet"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(
            spark.read.parquet(str(d / "events.parquet")))
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.select(F.unix_micros("ts").alias("us")).first()["us"]
        assert got == us  # ns truncates, us passes through


def test_ingest_stream_upsert_mode(spark, tmp_dirs):
    """CDC-style streaming upsert: a later epoch's (hash, uid) replaces
    the stored rows; unrelated uids and moved features are untouched
    (streaming twin of api.ingest_features(upsert=True))."""

    row = {"id": "a", "lon": -122.4194, "lat": 37.7749, "kind": "poi",
           "score": "1", "cnt": "7", "tag": "t1"}
    other = {"id": "b", "lon": 13.4, "lat": 52.5, "kind": "road",
             "score": "2", "cnt": "3", "tag": "t2"}
    _write_ndjson(f"{tmp_dirs['drop']}/batch1.ndjson", [row, other])
    q = _stream(spark, tmp_dirs, upsert=True)
    q.awaitTermination(60)

    # epoch 2: new version of `a` (same position = same hash) must
    # REPLACE; `b` untouched
    _write_ndjson(f"{tmp_dirs['drop']}/batch2.ndjson",
                  [dict(row, score="9")])
    q = _stream(spark, tmp_dirs, upsert=True)
    q.awaitTermination(60)

    rows = spark.read.parquet(tmp_dirs["table"]).collect()
    by_uid = {}
    for r in rows:
        by_uid.setdefault(r["uid"], []).append(r)
    assert len(by_uid["a"]) == 1 and by_uid["a"][0]["score"] == 9.0
    assert len(by_uid["b"]) == 1 and by_uid["b"][0]["score"] == 2.0


def test_ingest_stream_csv_wire(spark, tmp_dirs):
    """The drop-dir stream speaks CSV too (wire_format='csv'): header
    files, quoted commas, and the dead-letter split — identical coercion
    path to NDJSON; the checkpoint still prevents reprocessing across
    restarts."""

    with open(f"{tmp_dirs['drop']}/f1.csv", "w") as fh:
        fh.write(
            "id,lon,lat,geometry,kind,score,cnt,tag\n"
            'c1,1.0,1.0,,"poi,main",7.5,3,t\n'
            "c-bad,2.0,2.0,,road,zzz,1,t\n"
        )
    q = _stream(spark, tmp_dirs, wire_format="csv")
    q.awaitTermination(60)
    ok = spark.read.parquet(tmp_dirs["table"])
    assert ok.count() == 1
    row = ok.collect()[0]
    assert row["uid"] == "c1" and row["kind"] == "poi,main"
    assert _rejects(spark, tmp_dirs).count() == 1

    with open(f"{tmp_dirs['drop']}/f2.csv", "w") as fh:
        fh.write("id,lon,lat,geometry,kind,score,cnt,tag\n"
                 "c2,3.0,3.0,,road,1.0,1,t\n")
    q2 = _stream(spark, tmp_dirs, wire_format="csv")
    q2.awaitTermination(60)
    df = spark.read.parquet(tmp_dirs["table"])
    assert set(r["uid"] for r in df.collect()) == {"c1", "c2"}


def test_watermark_late_drop_matches_real_stream(spark, tmp_path):
    """The watermark_late_drop batch twin must agree with the REAL
    engine: replay the same synthesized-arrival micro-batches through
    windowed_counts_stream (one parquet file per micro-batch,
    maxFilesPerTrigger=1, 4h watermark) and check every window the
    stream emits carries exactly the twin's n_kept count — i.e. the
    twin's explicit drop rule (window end <= prior-batches-max-ts - 4h)
    is the engine's rule."""
    from pyspark.sql import functions as F

    from tank_spark.plans.registry import load_all
    from tank_spark.sources.tables import read_events
    from tank_spark.streaming.windows import (
        LATE_DEFER_IDS, LATE_RATE, LATE_SALT, REPLAY_BATCH, WM_DELAY,
        run_stream_to_memory, windowed_counts_stream,
    )

    ev = read_events(spark, SF_DIR)
    h8 = F.substring(
        F.md5(F.concat(F.lit(LATE_SALT), F.col("event_id").cast("string"))),
        1, 8)
    u = F.conv(h8, 16, 10).cast("bigint") / F.lit(4294967296.0)
    ak = F.col("event_id") + F.when(
        u < F.lit(LATE_RATE), F.lit(LATE_DEFER_IDS)).otherwise(F.lit(0))
    tagged = ev.withColumn("ak", ak).withColumn(
        "batch_id", F.expr(f"ak div {REPLAY_BATCH}")).drop("ak")
    drop = tmp_path / "arrivals"
    bids = sorted(
        r[0] for r in tagged.select("batch_id").distinct().collect())
    assert len(bids) >= 3  # a real multi-batch replay
    # Arrival order must be EXPLICIT: the file source orders by mtime and
    # falls back to (UUID-named) path order for ties, so two sequential
    # writes landing in the same mtime granule would scramble batch order
    # (ADVICE r9). Stamp every batch's files with strictly increasing
    # mtimes after writing.
    import os

    for i, k in enumerate(bids):
        bdir = drop / f"b{k:04d}"
        (tagged.filter(F.col("batch_id") == k).drop("batch_id")
         .coalesce(1).write.parquet(str(bdir)))
        t = 1_700_000_000 + 60 * i
        for p in bdir.rglob("*"):
            os.utime(p, (t, t))
        os.utime(bdir, (t, t))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(drop))
    )
    q = run_stream_to_memory(
        windowed_counts_stream(stream, window="1 hour", watermark=WM_DELAY),
        "wm_drop_out")
    try:
        got = {
            (r["window_start"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM wm_drop_out").collect()
        }
    finally:
        q.stop()

    twin = load_all()["watermark_late_drop"].spark(spark, SF_DIR).collect()
    assert sum(r["n_late_dropped"] for r in twin) > 0  # non-vacuous
    import datetime as dt
    hour_us = 3_600_000_000
    mx = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    final_wm = mx - 4 * hour_us
    want = {}
    for r in twin:
        if r["window_start_us"] + hour_us > final_wm:
            continue  # window not closed by the final watermark
        if r["n_kept"] == 0:
            continue  # fully-dropped window: nothing for append to emit
        start = dt.datetime.fromtimestamp(
            r["window_start_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
        want[(start, r["event_type"])] = r["n_kept"]
    # every closed window's emitted count equals the twin's kept count
    assert want.items() <= got.items()
    # and the stream emitted nothing beyond the twin's kept counts
    full = {}
    for r in twin:
        start = dt.datetime.fromtimestamp(
            r["window_start_us"] / 1e6, dt.timezone.utc).replace(tzinfo=None)
        full[(start, r["event_type"])] = r["n_kept"]
    assert got.items() <= full.items()
