"""Mutation tests: bucket-partitioned feature table write, delete by uid,
tile-range delete, update-in-place semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def table_dir(spark, tmp_path):
    from tank_spark.operators.table_ops import write_feature_table
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "features")
    write_feature_table(features_df(spark, SF_DIR).drop("ts"), d)
    return d


def test_write_and_read_roundtrip(spark, table_dir):
    from tank_spark.operators.table_ops import read_feature_table
    from tank_spark.sources.features import features_df

    df = read_feature_table(spark, table_dir)
    assert df.count() == features_df(spark, SF_DIR).count()
    # bucket column is the on-disk partition and matches hash % 64
    bad = df.filter(F.col("bucket") != F.pmod(F.col("hash"), F.lit(64))).count()
    assert bad == 0


def test_bucket_pruning_visible_in_plan(spark, table_dir):
    from tank_spark.operators.table_ops import read_feature_table

    df = read_feature_table(spark, table_dir).filter(F.col("bucket") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_delete_by_uid(spark, table_dir):
    from tank_spark.operators.table_ops import (
        delete_by_uid, read_feature_table, uid_rows,
    )

    def delete(uid):
        return delete_by_uid(spark, table_dir, uid,
                             uid_rows(spark, table_dir, uid))

    before = read_feature_table(spark, table_dir).count()
    n = delete("feat-8001")
    assert n == 1
    after = read_feature_table(spark, table_dir)
    assert after.count() == before - 1
    assert after.filter(F.col("uid") == "feat-8001").count() == 0
    # deleting a missing uid is a no-op
    assert delete("feat-nope") == 0
    assert read_feature_table(spark, table_dir).count() == before - 1


def test_delete_tile_range(spark, table_dir):
    from tank_spark.operators.table_ops import delete_tile, read_feature_table
    from tank_spark.operators.tiles import tile_hash_range

    lo, hi = tile_hash_range(11, 320, 784)
    df = read_feature_table(spark, table_dir)
    before = df.count()
    in_range = df.filter(F.col("hash").between(lo, hi)).count()
    assert in_range > 0
    n = delete_tile(spark, table_dir, 11, 320, 784)
    assert n == in_range
    # fresh read: the pre-delete DataFrame is a stale snapshot whose plan
    # pins the old file names
    after = read_feature_table(spark, table_dir)
    assert after.filter(F.col("hash").between(lo, hi)).count() == 0
    assert after.count() == before - in_range


def test_update_by_uid(spark, table_dir):
    from tank_spark.operators.table_ops import (
        read_feature_table, uid_rows, update_by_uid,
    )

    # uid is NOT unique (the reference's PK is ((hash), uid, timestamp) —
    # several rows may share a uid; the driver's lineitem has duplicate
    # (orderkey, linenumber) pairs, so derived uids repeat too): the update
    # touches every copy
    n = update_by_uid(spark, table_dir, "feat-4005",
                      {"score": 99.5, "tag": "tag-upd"},
                      uid_rows(spark, table_dir, "feat-4005"))
    assert n >= 1
    df = read_feature_table(spark, table_dir)
    rows = df.filter(F.col("uid") == "feat-4005").collect()
    assert len(rows) == n
    assert all(r["score"] == 99.5 and r["tag"] == "tag-upd" for r in rows)
    # untouched rows keep their values; row count unchanged
    other = df.filter(F.col("uid") == "feat-8001").collect()[0]
    assert other["tag"].startswith("tag") and other["tag"] != "tag-upd"


def test_compact_table_merges_ingest_fragments(spark, table_dir):
    """Micro-batch appends fragment buckets into many small files;
    compaction rewrites each fragmented bucket to one hash-sorted file
    with the row set unchanged."""
    import os

    from tank_spark.operators.table_ops import (
        compact_table, read_feature_table,
    )

    base = read_feature_table(spark, table_dir)
    # simulate three streaming micro-batch appends (one file per batch
    # per touched bucket, exactly like the foreachBatch sink)
    extra = base.limit(30).withColumn("uid", F.concat(F.lit("frag-"), F.col("uid")))
    for _ in range(3):
        (extra.repartition(1).write.mode("append")
         .partitionBy("bucket").parquet(table_dir))
    spark.catalog.refreshByPath(table_dir)

    def files_per_bucket():
        out = {}
        for e in os.listdir(table_dir):
            if e.startswith("bucket="):
                out[int(e.split("=")[1])] = len([
                    f for f in os.listdir(os.path.join(table_dir, e))
                    if f.endswith(".parquet")
                ])
        return out

    before_rows = sorted(
        (r["uid"], r["hash"]) for r in read_feature_table(spark, table_dir)
        .select("uid", "hash").collect()
    )
    before_files = files_per_bucket()
    assert any(n >= 2 for n in before_files.values())

    compacted = compact_table(spark, table_dir)
    assert set(compacted) == {b for b, n in before_files.items() if n >= 2}

    after_files = files_per_bucket()
    assert all(n == 1 for n in after_files.values())
    after_rows = sorted(
        (r["uid"], r["hash"]) for r in read_feature_table(spark, table_dir)
        .select("uid", "hash").collect()
    )
    assert after_rows == before_rows

    # idempotent: nothing left to compact
    assert compact_table(spark, table_dir) == {}


def test_update_by_uid_preserves_typed_column_schema(spark, tmp_path):
    """Updating a declared date/int attribute with a string value must not
    coerce the column to string in the rewritten bucket (schema drift
    across buckets breaks the next table read)."""
    import json as _json

    from tank_spark.api import Tank
    from tank_spark.operators.table_ops import read_feature_table

    d = str(tmp_path / "layer")
    t = Tank(spark, d, attr_fields="category text, rank int, seen date")
    t.ingest_features([
        _json.dumps({"id": "u1", "lon": 10.0, "lat": 50.0,
                     "category": "a", "rank": "1", "seen": "2024-01-01"}),
        _json.dumps({"id": "u2", "lon": 10.0, "lat": 50.0,
                     "category": "b", "rank": "2", "seen": "2024-02-02"}),
    ])
    before = dict(read_feature_table(spark, d).dtypes)
    assert t.update_feature("u1", {"rank": "7", "seen": "2025-03-04"}) == 1
    after = read_feature_table(spark, d)
    assert dict(after.dtypes) == before          # no type drift
    row = after.filter(after["uid"] == "u1").collect()[0]
    assert row["rank"] == 7
    assert str(row["seen"]) == "2025-03-04"
    # the untouched row is intact
    other = after.filter(after["uid"] == "u2").collect()[0]
    assert other["rank"] == 2 and str(other["seen"]) == "2024-02-02"


# ------------------------------------------------------- session handle

def _handle_stats():
    from tank_spark import cache

    return cache.stats("table_ops.table")


def test_unchanged_table_reads_list_once(spark, table_dir):
    """Two reads of an unchanged table: one build, then the handle."""
    from tank_spark.operators.table_ops import read_feature_table

    before = _handle_stats()
    first = read_feature_table(spark, table_dir)
    second = read_feature_table(spark, table_dir)
    after = _handle_stats()
    assert second is first
    assert (after["misses"] - before["misses"],
            after["hits"] - before["hits"]) == (1, 1)


def test_out_of_band_append_is_visible(spark, table_dir):
    """A writer this process does not track (no refresh_table, no
    refreshByPath) appends to the table: the directory version moves and
    the next read lists the new files."""
    from tank_spark.operators.table_ops import read_feature_table

    df = read_feature_table(spark, table_dir)
    before = df.count()
    extra = df.limit(5).withColumn("uid", F.concat(F.lit("oob-"), F.col("uid")))
    extra.write.mode("append").partitionBy("bucket").parquet(table_dir)
    again = read_feature_table(spark, table_dir)
    assert again.count() == before + 5
    assert again.filter(F.col("uid").startswith("oob-")).count() == 5


def test_file_uri_table_sees_out_of_band_append(spark, table_dir):
    """A table named by a 'file:' URI follows the same version rule as
    its plain path: an append the handle did not see is listed."""
    from tank_spark.operators.table_ops import read_feature_table

    uri = "file://" + table_dir
    df = read_feature_table(spark, uri)
    before = df.count()
    (df.limit(3).withColumn("uid", F.concat(F.lit("oob-"), F.col("uid")))
     .write.mode("append").partitionBy("bucket").parquet(table_dir))
    again = read_feature_table(spark, uri)
    assert again.count() == before + 3
    assert again.filter(F.col("uid").startswith("oob-")).count() == 3


def test_out_of_band_bucket_overwrite_is_visible(spark, table_dir, tmp_path):
    """Another writer swaps one bucket's files in place (the bucket
    directory stays, the table directory is untouched): the next read
    serves the new bucket content, not the old listing."""
    import os
    import shutil

    from tank_spark.operators.table_ops import read_feature_table

    df = read_feature_table(spark, table_dir)
    before = df.count()
    b = df.filter(F.col("uid") == "feat-8001").collect()[0]["bucket"]
    part = os.path.join(table_dir, f"bucket={b}")
    staged = str(tmp_path / "staged")
    (df.filter((F.col("bucket") == b) & (F.col("uid") != "feat-8001"))
     .drop("bucket").coalesce(1).write.parquet(staged))
    for name in os.listdir(part):
        os.remove(os.path.join(part, name))
    for name in os.listdir(staged):
        if name.endswith(".parquet"):
            shutil.move(os.path.join(staged, name), part)
    again = read_feature_table(spark, table_dir)
    assert again.count() == before - 1
    assert again.filter(F.col("uid") == "feat-8001").count() == 0


def test_table_ops_writers_drop_the_handle(spark, table_dir, monkeypatch):
    """Every writer here ends with refresh_table: with the directory
    version frozen, each write is still seen by the next read."""
    from tank_spark import cache
    from tank_spark.operators import table_ops as ops

    monkeypatch.setattr(cache, "dir_version", lambda *a, **k: ())

    def count():
        return ops.read_feature_table(spark, table_dir).count()

    def uid_count(uid):
        return (ops.read_feature_table(spark, table_dir)
                .filter(F.col("uid") == uid).count())

    n = count()
    assert ops.delete_by_uid(spark, table_dir, "feat-8001",
                             ops.uid_rows(spark, table_dir, "feat-8001")) == 1
    assert count() == n - 1
    assert ops.delete_where(spark, table_dir, F.col("uid") == "feat-8002") == 1
    assert count() == n - 2
    keys = (ops.read_feature_table(spark, table_dir)
            .filter(F.col("uid") == "feat-11").select("hash", "uid"))
    assert ops.delete_matching_keys(spark, table_dir, keys) == 1
    assert count() == n - 3
    assert ops.update_by_uid(spark, table_dir, "feat-4005",
                             {"tag": "tag-handle"},
                             ops.uid_rows(spark, table_dir, "feat-4005")) >= 1
    assert (ops.read_feature_table(spark, table_dir)
            .filter(F.col("tag") == "tag-handle").count()) == uid_count("feat-4005")
    n_tile = ops.delete_tile(spark, table_dir, 11, 320, 784)
    assert n_tile > 0 and count() == n - 3 - n_tile
    n = count()
    # a direct append is the one write no table_ops function makes: drop
    # the handle by hand so compaction starts from the appended listing
    (ops.read_feature_table(spark, table_dir).limit(4).repartition(1)
     .write.mode("append").partitionBy("bucket").parquet(table_dir))
    ops.refresh_table(spark, table_dir)
    assert count() == n + 4
    assert ops.compact_table(spark, table_dir)     # old files are gone
    assert count() == n + 4
    src = ops.read_feature_table(spark, table_dir).limit(10).drop("bucket") \
        .localCheckpoint(eager=True)
    ops.write_feature_table(src, table_dir)
    assert count() == 10


# ------------------------------------------------- zero-job handle builds

def _spark_jobs(spark, fn) -> int:
    """The Spark jobs ``fn`` starts from this thread, counted by job
    group once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _same_schema(spark, table_dir):
    from tank_spark.operators.table_ops import read_feature_table

    got = read_feature_table(spark, table_dir).schema
    assert got == spark.read.parquet(table_dir).schema, got.simpleString()


def test_handle_without_a_spark_footer_raises(spark, tmp_path):
    """A data file whose footer holds no Spark schema (or is not
    parquet) fails the handle build instead of falling back to Spark's
    job-starting schema inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tank_spark.operators import table_ops as ops

    d = tmp_path / "plain"
    (d / "bucket=0").mkdir(parents=True)
    pq.write_table(pa.table({"uid": ["a"]}), str(d / "bucket=0" / "part-0.parquet"))
    with pytest.raises(ValueError, match="no Spark schema"):
        ops.read_feature_table(spark, str(d))
    (d / "bucket=0" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        ops.read_feature_table(spark, str(d))


def test_handle_schema_is_the_parquet_readers(spark, tmp_path):
    """The handle's schema is exactly what ``spark.read.parquet`` infers
    (types, nullability, column order, partition columns) after every
    writer: ``ts`` stays ``timestamp_ntz``, which ingest casts its
    appends to."""
    import json as _json

    from tank_spark.api import Tank
    from tank_spark.operators import table_ops as ops
    from tank_spark.sources.features import features_df

    d = str(tmp_path / "layer")
    ops.write_feature_table(features_df(spark, SF_DIR), d)
    assert dict(ops.read_feature_table(spark, d).dtypes)["ts"] == "timestamp_ntz"
    _same_schema(spark, d)
    t = Tank(spark, d, cache_dir=str(tmp_path / "cache"))
    assert t.ingest_features([_json.dumps(
        {"id": "s-1", "lon": -123.7, "lat": 38.7, "kind": "poi",
         "score": "5", "cnt": "1", "tag": "t"})])["accepted"] == 1
    _same_schema(spark, d)
    assert t.update_feature("feat-4005", {"tag": "tag-s"}) >= 1
    _same_schema(spark, d)
    assert t.delete_feature("feat-8001") == 1
    _same_schema(spark, d)
    assert ops.compact_table(spark, d)
    _same_schema(spark, d)


def test_handle_builds_and_cache_hits_start_no_spark_job(spark, tmp_path):
    """A feature-handle rebuild after a write starts no Spark job; the
    listing threshold is back at its old value after every build,
    including one that raises."""
    from pyspark.errors import AnalysisException

    from tank_spark.operators import table_ops as ops
    from tank_spark.sources.features import features_df

    key = ops.LISTING_THRESHOLD
    old = spark.conf.get(key, None)
    assert _spark_jobs(spark, lambda: spark.range(3).collect()) >= 1

    d = str(tmp_path / "features")
    ops.write_feature_table(features_df(spark, SF_DIR), d)
    assert ops.delete_by_uid(spark, d, "feat-8001",
                             ops.uid_rows(spark, d, "feat-8001")) == 1
    assert _spark_jobs(spark, lambda: ops.read_feature_table(spark, d)) == 0
    assert spark.conf.get(key, None) == old

    # a threshold below any listing, so the failing build must raise it
    spark.conf.set(key, "0")
    try:
        with pytest.raises(AnalysisException):
            ops.read_feature_table(spark, str(tmp_path / "missing"))
        assert spark.conf.get(key) == "0"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_tile_cache_calls_start_no_spark_job(spark, tmp_path):
    """A get of an absent key, a put, a get hit and an invalidation that
    deletes a key each start 0 Spark jobs: the tile cache does not import
    pyspark."""
    import ast
    import inspect

    from tank_spark.operators import tile_cache
    from tank_spark.operators.tile_cache import TileCache

    tree = ast.parse(inspect.getsource(tile_cache))
    imported = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
                for a in n.names]
    imported += [n.module for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom)]
    assert not [m for m in imported if m.startswith("pyspark")]

    assert _spark_jobs(spark, lambda: spark.range(3).collect()) >= 1
    tc, got = TileCache(str(tmp_path / "cache")), []
    calls = [
        lambda: got.append(tc.get("tile", 9, 80, 196)),
        lambda: tc.put("tile", 9, 80, 196, b"blob-1"),
        lambda: got.append(tc.get("tile", 9, 80, 196)),
        lambda: got.append(tc.invalidate_cover([(9, 80, 196)], [])),
    ]
    assert [_spark_jobs(spark, call) for call in calls] == [0, 0, 0, 0]
    assert got == [None, b"blob-1", 1]


def test_ingest_features_job_count(spark, table_dir):
    """An uncached layer's ingest of a small batch (accepted rows and a
    reject) starts a fixed number of Spark jobs: the observed checkpoint,
    the bucketed append and the rejects append."""
    import json

    from tank_spark.api import Tank

    t = Tank(spark, table_dir)
    rows = [json.dumps({"id": f"jobs-{i}", "lon": 10.0 + i, "lat": 50.0,
                        "kind": "poi"}) for i in range(3)]
    rows.append(json.dumps({"id": "jobs-bad", "kind": "poi"}))  # no geometry
    assert _spark_jobs(spark, lambda: t.ingest_features(rows)) == 3


def test_rewrite_of_a_fragmented_bucket_is_one_hash_sorted_file(
        spark, table_dir):
    """A bucket held in several files with overlapping hash ranges is
    rewritten as ONE file whose ``hash`` column is non-decreasing, not
    as concatenated sorted runs."""
    import glob

    import pyarrow.parquet as pq

    from tank_spark.operators import table_ops as ops

    df = ops.read_feature_table(spark, table_dir)
    b = df.filter(F.col("uid") == "feat-8001").first()["bucket"]
    rows = df.filter(F.col("bucket") == b)
    n = rows.count()
    for i in range(2):   # two more files spanning the bucket's hash range
        (rows.withColumn("uid", F.concat(F.lit(f"frag{i}-"), F.col("uid")))
         .repartition(1).write.mode("append")
         .partitionBy("bucket").parquet(table_dir))
    ops.refresh_table(spark, table_dir)
    bdir = f"{table_dir}/bucket={b}"
    assert len(glob.glob(f"{bdir}/*.parquet")) == 3

    assert ops.update_by_uid(spark, table_dir, "feat-8001", {"tag": "t-upd"},
                             ops.uid_rows(spark, table_dir, "feat-8001")) == 1
    files = glob.glob(f"{bdir}/*.parquet")
    assert len(files) == 1
    h = pq.read_table(files[0], columns=["hash"]).column("hash").to_pylist()
    assert len(h) == 3 * n
    assert h == sorted(h)
