"""Writable feature-table management: the mutation side of CRUD
(reference SURVEY.md §2.2) as parquet rewrites.

The reference mutates Cassandra rows in place (DELETE/re-INSERT,
application.kt:302-348, 476-520). On an immutable columnar store the same
semantics are copy-on-write: rewrite only the partitions whose rows change
— exactly what Delta/Iceberg row-level operations do; this module is the
dependency-free parquet version, bucket-partitioned so a mutation touches
one ``bucket=`` directory, not the table.

Layout: ``<dir>/bucket=<pmod(hash, N_BUCKETS)>/*.parquet``, written only
here: ``write_buckets`` appends (or, for ``write_feature_table``,
overwrites) rows into their bucket, and ``_rewrite_buckets`` replaces
whole buckets. The read path filters on ``bucket`` (derived from
``hash``), so tile queries prune directories — the on-disk analogue of
the reference's partition key, and of what a 100 TB deployment gets from
hash-bucketed table layout.

Session handle: every read of the feature table goes through
``read_feature_table``, which serves one DataFrame per (session, table
directory, data version) from the session cache, like the reference's
one Cassandra table per process (application.kt:677-681). The version is
``cache.dir_version`` of the directory and its ``bucket=*``
subdirectories. Every writer (the functions here, and ``api.Tank``'s
ingest tail, which every batch and drop-dir stream ingest runs) ends
with ``refresh_table``, which drops the handle, so in-process writes are
seen exactly; the directory version catches writers this process does
not see (a direct append, another process). The tile cache is no table:
``tile_cache`` keeps one file per key and never reads through here.

A handle (re)build starts no Spark job: the data schema is the Spark
schema the writer stored in one data file's parquet footer, read on the
driver, and the partition directories are listed on the driver (Spark
lists more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
sibling directories with a job; the threshold is raised above the
table's directory count for the duration of the read). Spark still infers
the partition columns from the paths. Spark's writer stores that schema,
so a data file without it raises instead of falling back to a
job-starting inference.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tank_spark import cache

N_BUCKETS = 64

LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# the footer key under which Spark's parquet writer stores the schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# read_table raises the session-wide listing threshold around one read
_LISTING_LOCK = threading.Lock()


def _bucket_of(hash_col: Column) -> Column:
    return F.pmod(hash_col, F.lit(N_BUCKETS))


def write_buckets(df: DataFrame, table_dir: str, mode: str = "append") -> None:
    """Write ``df``'s rows into their ``bucket=`` partitions, sorted by
    hash within each file (row-group skipping). The caller refreshes."""
    (
        df.withColumn("bucket", _bucket_of(F.col("hash")))
        .sortWithinPartitions("bucket", "hash")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(table_dir)
    )


def write_feature_table(df: DataFrame, table_dir: str) -> None:
    """Materialize a feature DataFrame as a bucket-partitioned parquet
    table: one task, so one file, per bucket."""
    write_buckets(df.repartition(_bucket_of(F.col("hash"))), table_dir,
                  "overwrite")
    refresh_table(df.sparkSession, table_dir)


def _handle_key(spark: SparkSession, table_dir: str) -> tuple:
    return (spark.sparkContext.applicationId,
            os.path.abspath(cache.local_fs_path(table_dir)))


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (``_SUCCESS``, ``_rejects``,
    ``.crc`` files, dot-prefixed temp files); ``_x=1`` is a partition."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _scan(table_dir: str) -> tuple[int, str | None]:
    """Driver-side walk of what Spark would list: the number of
    directories below ``table_dir`` and the first data file in name
    order (None when there is none)."""
    n_dirs, first = 0, None
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        n_dirs += len(dirs)
        if first is None:
            names = sorted(f for f in files if not _hidden(f))
            if names:
                first = os.path.join(root, names[0])
    return n_dirs, first


def has_data(table_dir: str) -> bool:
    """Whether the table holds a data file Spark would read: a driver-side
    walk, no Spark call (a failed read logs an error in every session
    that has used an ``Observation``)."""
    return _scan(cache.local_fs_path(table_dir))[1] is not None


def _footer_schema(path: str) -> StructType:
    """The Spark schema a Spark (or Spark-compatible) writer stored in
    the parquet footer of ``path``. One footer read, no Spark job."""
    import pyarrow.parquet as pq

    raw = (pq.read_schema(path).metadata or {}).get(SPARK_SCHEMA_KEY)
    if raw is None:
        raise ValueError(f"{path}: no Spark schema in the parquet footer")
    return StructType.fromJson(json.loads(raw))


def _build_table(spark: SparkSession, table_dir: str) -> DataFrame:
    n_dirs, first = _scan(cache.local_fs_path(table_dir))
    reader = spark.read   # no data file: Spark raises its AnalysisException
    if first is not None:
        reader = reader.schema(_footer_schema(first))
    with _LISTING_LOCK:
        conf = spark.conf
        old = conf.get(LISTING_THRESHOLD, None)   # None: not set
        if int(conf.get(LISTING_THRESHOLD)) <= n_dirs:
            conf.set(LISTING_THRESHOLD, str(n_dirs + 1))
        try:
            return reader.parquet(table_dir)
        finally:
            if old is None:
                conf.unset(LISTING_THRESHOLD)
            else:
                conf.set(LISTING_THRESHOLD, old)


def read_feature_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The session handle of the feature table at ``table_dir`` at its
    current data version (the directory and its ``bucket=*``
    directories)."""
    return cache.cached(
        "table_ops.table", _handle_key(spark, table_dir),
        lambda: _build_table(spark, table_dir),
        fp=cache.dir_version(table_dir),
    )


def refresh_table(spark: SparkSession, table_dir: str) -> None:
    """After a write: drop the handle (the next read lists the new files)
    and refresh any persisted relation over the path."""
    key = _handle_key(spark, table_dir)
    cache.clear("table_ops.table", lambda k: k == key)
    spark.catalog.refreshByPath(table_dir)


def uid_rows(spark: SparkSession, table_dir: str, uid: str) -> list[Row]:
    """The one probe of a uid write: ``(bucket, tile_x, tile_y)`` per
    stored row carrying ``uid`` — the buckets to rewrite, the tiles to
    invalidate, and the row count."""
    return (read_feature_table(spark, table_dir)
            .filter(F.col("uid") == uid)
            .select("bucket", "tile_x", "tile_y").collect())


def _rewrite_buckets(spark: SparkSession, table_dir: str, content: DataFrame,
                     buckets: list[int]) -> None:
    """Copy-on-write tail of every mutation and of compaction:
    ``content`` holds the rows ``buckets`` keep; each bucket is
    overwritten as one hash-sorted file."""
    # localCheckpoint CUTS LINEAGE: a plain cache() can silently recompute
    # from source files we are about to overwrite (observed: FileNotFound
    # mid-rewrite). Eager checkpoint = durable copy of the new content.
    content = content.localCheckpoint(eager=True)
    for b in buckets:
        (
            content.filter(F.col("bucket") == b).drop("bucket")
            .coalesce(1)
            .sortWithinPartitions("hash")  # coalesce first: one sorted run
            .write.mode("overwrite")
            .parquet(f"{table_dir}/bucket={b}")
        )
    content.unpersist()
    refresh_table(spark, table_dir)


def _buckets_of(pred_buckets: list[int]) -> Column:
    return F.col("bucket").isin(pred_buckets)


def _delete_in(spark: SparkSession, table_dir: str, predicate: Column,
               buckets: list[int]) -> None:
    """Rewrite ``buckets`` without the rows matching ``predicate``."""
    df = read_feature_table(spark, table_dir)
    _rewrite_buckets(spark, table_dir,
                     df.filter(_buckets_of(buckets)).filter(~predicate),
                     buckets)


def delete_where(spark: SparkSession, table_dir: str, predicate: Column,
                 candidate_buckets: list[int] | None = None) -> int:
    """DELETE WHERE: rewrite only the buckets that can contain matches
    (copy-on-write, like Delta DELETE). Returns rows deleted.

    ``candidate_buckets``: bucket pruning hint (e.g. from a hash range);
    None = check all buckets for matches first, rewrite only dirty ones.
    """
    df = read_feature_table(spark, table_dir)
    hit = df.filter(predicate)
    if candidate_buckets is None:
        candidate_buckets = [
            r["bucket"] for r in hit.select("bucket").distinct().collect()
        ]
    if not candidate_buckets:
        return 0
    n_deleted = hit.count()
    if n_deleted == 0:
        return 0
    _delete_in(spark, table_dir, predicate, candidate_buckets)
    return n_deleted


def delete_by_uid(spark: SparkSession, table_dir: str, uid: str,
                  rows: list[Row]) -> int:
    """C2: read the row to find its partition, delete within it
    (reference application.kt:302-315 does the same read-then-delete).
    ``rows`` is ``uid_rows(spark, table_dir, uid)``: the read that finds
    the buckets, and whose count is returned."""
    if not rows:
        return 0
    _delete_in(spark, table_dir, F.col("uid") == uid,
               sorted({r["bucket"] for r in rows}))
    return len(rows)


def delete_tile(spark: SparkSession, table_dir: str, z: int, x: int, y: int) -> int:
    """C4: partition delete for a tile's Morton range
    (reference application.kt:476-520), bucket-pruned."""
    from tank_spark.operators.tiles import tile_hash_range

    lo, hi = tile_hash_range(z, x, y)
    cand = sorted({h % N_BUCKETS for h in range(lo, hi + 1)}) if hi - lo < 4096 else None
    return delete_where(
        spark, table_dir, F.col("hash").between(lo, hi), candidate_buckets=cand
    )


def delete_matching_keys(spark: SparkSession, table_dir: str,
                         keys: DataFrame) -> int:
    """Upsert support: delete every stored row whose (hash, uid) appears
    in ``keys`` — the Cassandra INSERT-is-upsert semantic for a layer
    configured WITHOUT timestamp in its clustering key (reference
    application.conf:47-50: partition_keys="hash",
    primary_keys="uid" variant; with the default "uid, timestamp"
    clustering every ingest is a new version and no delete happens —
    that default is the plain append path).

    Bucket-pruned CoW like delete_where, but matching via a broadcast
    LEFT SEMI/ANTI join on the (bounded, one-ingest-batch) key set
    instead of a literal predicate — thousands of keys would explode an
    isin expression tree. Returns rows deleted."""
    df = read_feature_table(spark, table_dir)
    k = keys.select("hash", "uid").distinct().localCheckpoint(eager=True)
    try:
        cand = sorted({
            r["b"]
            for r in k.select(_bucket_of(F.col("hash")).alias("b"))
            .distinct().collect()
            if r["b"] is not None
        })
        if not cand:
            return 0
        scoped = df.filter(_buckets_of(cand))
        hit = scoped.join(F.broadcast(k), ["hash", "uid"], "left_semi")
        dirty = sorted({r["bucket"] for r in hit.select("bucket").distinct().collect()})
        if not dirty:
            return 0
        n_deleted = hit.count()
        _rewrite_buckets(
            spark, table_dir,
            df.filter(_buckets_of(dirty))
            .join(F.broadcast(k), ["hash", "uid"], "left_anti"),
            dirty,
        )
        return n_deleted
    finally:
        k.unpersist()


def compact_table(spark: SparkSession, table_dir: str) -> dict[int, int]:
    """Compaction: rewrite every bucket fragmented into more than one
    parquet file as one hash-sorted file. Every ingest append adds one
    file per touched bucket (``write_buckets``; a drop-dir stream, one
    per micro-batch), so an ingest-heavy table degrades into many small
    row groups — the classic small-files problem; this is the
    OPTIMIZE/rewrite_data_files analogue (and the Cassandra-compaction
    parity point: the reference's store compacts SSTables in the
    background, application.conf's cluster side).

    Returns {bucket: n_files_before} for the buckets rewritten.

    At 100 TB: each bucket rewrite is an independent ``_rewrite_buckets``
    of one directory — schedulable bucket-by-bucket (here: a loop, on a
    cluster: parallel jobs), never a full-table shuffle. File listing
    uses the local filesystem; a cluster deployment swaps in the Hadoop
    FileSystem API, the rewrite is unchanged.
    """
    fragmented: dict[int, int] = {}
    for entry in sorted(os.listdir(table_dir)):
        if not entry.startswith("bucket="):
            continue
        files = [
            f for f in os.listdir(os.path.join(table_dir, entry))
            if f.endswith(".parquet")
        ]
        if len(files) > 1:
            fragmented[int(entry.split("=", 1)[1])] = len(files)
    if not fragmented:
        return fragmented
    # one handle for the loop: each rewrite replaces only its own bucket's
    # files, so the listing stays valid for the buckets still to come
    df = read_feature_table(spark, table_dir)
    for b in fragmented:
        _rewrite_buckets(spark, table_dir, df.filter(F.col("bucket") == b), [b])
    return fragmented


def update_by_uid(spark: SparkSession, table_dir: str, uid: str,
                  updates: dict[str, object], rows: list[Row]) -> int:
    """C3: update = delete + re-insert under the same uid (the reference's
    read-copy-reinsert, application.kt:317-348) — here a single-bucket
    copy-on-write rewrite with CASE-d columns. uid is a clustering key,
    not unique (reference PK ((hash), uid, timestamp)): every row carrying
    the uid is updated; the count of touched rows is returned. ``rows``
    is ``uid_rows(spark, table_dir, uid)``, as for ``delete_by_uid``."""
    if not rows:
        return 0
    buckets = sorted({r["bucket"] for r in rows})
    df = read_feature_table(spark, table_dir)
    hit = F.col("uid") == uid
    target = df.filter(_buckets_of(buckets))
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    for col, val in updates.items():
        # cast the literal to the COLUMN's type: when/otherwise would
        # otherwise coerce a typed column (int/date attr) up to string and
        # silently rewrite the bucket with a drifted schema
        lit = F.lit(val).cast(dtypes[col])
        target = target.withColumn(col, F.when(hit, lit).otherwise(F.col(col)))
    _rewrite_buckets(spark, table_dir, target, buckets)
    return len(rows)
