"""File-level data skipping over plain parquet: a manifest of per-file
column statistics (the Delta/Iceberg data-skipping idea, reduced to
its core) plus a scan planner that prunes files BEFORE Spark lists or
opens them.

Why this exists next to the repo's other pruning layers: the feature
table prunes by hash-bucket DIRECTORY (partition values — z-range
scans, tiles.py), and parquet row-group stats prune WITHIN a file that
is already being read. Neither helps a predicate on a non-partition
column across a large un-partitioned table: Spark still lists and
opens every file. A manifest — one tiny parquet relation of (file,
n_rows, min/max per indexed column) — lets the driver cut the file
list itself, which at 100 TB is the difference between touching
thousands of files and a handful (this is exactly what a table
format's add-file stats do; a real deployment maintains the manifest
transactionally in Delta/Iceberg, and this module is the engine-side
shape of that).

Skipping is only as good as the layout: stats prune when files are
value-clustered on the indexed column. ``write_clustered`` produces
that layout (range-repartition + sort-within-partitions — the same
idea as a Z-ORDER/OPTIMIZE rewrite at one dimension), and
``build_manifest`` derives the stats relation from ANY parquet
directory in one aggregate over ``input_file_name()`` (no file is read
twice, no driver-side row work).

Null semantics: ``F.min``/``F.max`` ignore nulls, so a file whose
indexed column is entirely null has null stats. Range predicates
(`BETWEEN lo AND hi`) never match null values, so such files are
safely prunable — ``prune_files`` drops them. Predicates that must
KEEP nulls (IS NULL) are out of scope for range skipping, as in every
stats-pruning implementation.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark import cache
from tank_spark.plans.registry import register

# hidden from Spark's parquet discovery (underscore prefix, like
# _SUCCESS), so the manifest can live INSIDE the table directory and
# travel with it
MANIFEST_DIR = "_manifest"


def write_clustered(df: DataFrame, path: str, cluster_by: str,
                    n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files value-clustered on
    ``cluster_by``: range repartition gives files DISJOINT value ranges
    (maximal skipping power), sort-within keeps parquet row-group stats
    tight too. The one-dimensional OPTIMIZE/Z-ORDER rewrite."""
    (df.repartitionByRange(n_files, F.col(cluster_by))
       .sortWithinPartitions(cluster_by)
       .write.mode("overwrite").parquet(path))


def write_clustered_zorder(df: DataFrame, path: str,
                           cols: tuple[str, str], n_files: int) -> None:
    """Two-dimensional clustering: write ``df`` as ``n_files`` files
    range-clustered on the MORTON INTERLEAVE of two numeric columns —
    Delta's OPTIMIZE ZORDER BY, built on the repo's own Z-curve kernel
    (geom/morton.py, the same 8-bitwise-op codegen'd ladder that
    buckets the feature table). Each column is min/max-scaled to the
    16-bit Morton domain in one tiny driver-side aggregate; the
    interleave then gives every file a compact rectangle in (a, b)
    space, so a manifest over BOTH columns prunes files for range
    predicates on EITHER column — the property 1-D clustering gives
    only its sort key. (Min/max scaling is the simple form; heavily
    skewed columns want rank-based scaling, which costs a global sort —
    the standard Z-ORDER tradeoff.)"""
    from tank_spark.geom.morton import morton_col

    a, b = cols
    st = df.agg(F.min(F.col(a).cast("double")),
                F.max(F.col(a).cast("double")),
                F.min(F.col(b).cast("double")),
                F.max(F.col(b).cast("double"))).first()
    if any(x is None for x in st):
        # empty input or an all-null cluster column: no meaningful Z
        # domain — write a plain layout instead of crashing (keeps the
        # writers interchangeable; review r11)
        df.repartition(n_files).write.mode("overwrite").parquet(path)
        return
    amn, amx, bmn, bmx = (float(x) for x in st)

    def scale(c: str, mn: float, mx: float):
        span = (mx - mn) or 1.0
        raw = F.floor((F.col(c).cast("double") - F.lit(mn))
                      / F.lit(span) * F.lit(65535.0)).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(65535), raw))

    z = morton_col(scale(a, amn, amx), scale(b, bmn, bmx))
    (df.withColumn("_z", z)
       .repartitionByRange(n_files, F.col("_z"))
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(path))


def build_manifest(spark: SparkSession, path: str,
                   stat_cols: list[str]) -> DataFrame:
    """One aggregate over the table scan: per input file, row count and
    min/max of every indexed column. Returns the manifest relation
    (file, n_rows, <c>_min, <c>_max, ...) and persists it under
    ``path/_manifest`` so later sessions plan from the tiny relation
    instead of the table. Map-side combine does the heavy lifting; the
    shuffle is one row per FILE, not per data row."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    man = (df.groupBy(F.input_file_name().alias("file")).agg(*aggs))
    man.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, MANIFEST_DIR))
    # return the PERSISTED relation: every later action on the result
    # reads the one-file manifest instead of re-running the full-table
    # aggregate (review r11)
    return read_manifest(spark, path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, MANIFEST_DIR))


def prune_files(spark: SparkSession, path: str, col: str,
                lo, hi) -> list[str]:
    """The planning step: files whose [min, max] interval can contain a
    value in [lo, hi]. All-null stats files are dropped (a range
    predicate never matches null).

    The manifest is file-cardinality-sized PLAN METADATA, so it is read
    DRIVER-SIDE with pyarrow when the table lives on a local filesystem
    — launching a Spark job per planning step would put ~0.5-1s of
    scheduler overhead on every pruned scan (the first probe measured
    the pruned path LOSING to the full scan at 64 local files for
    exactly that reason); table formats read their add-file stats on
    the driver for the same reason. Non-local paths (hdfs://, s3a://,
    ...) and bound types that need Spark's lit coercion (string bounds
    on date columns) fall back to the Spark read — correct everywhere,
    just paying the job overhead.

    NaN stats (a float file containing NaN makes F.max return NaN)
    KEEP the file: NaN bounds nothing, and Spark's own `>=` treats NaN
    as greater-than-everything — pruning there silently dropped
    in-range rows (review r11)."""
    import pyarrow.parquet as pq

    if "://" in path and not path.startswith("file:"):
        return _prune_files_via_spark(spark, path, col, lo, hi)
    parts = _local_manifest_parts(path)
    cols = ["file", f"{col}_min", f"{col}_max"]
    keep: list[str] = []
    try:
        for p in parts:
            t = pq.read_table(p, columns=cols)
            for f, mn, mx in zip(*(t.column(c).to_pylist()
                                   for c in cols)):
                if mn is None:
                    continue  # all-null column: range preds never match
                if mn != mn or mx != mx:  # NaN stats bound nothing
                    keep.append(f)
                elif mx >= lo and mn <= hi:
                    keep.append(f)
    except TypeError:
        # bounds need engine coercion (e.g. string lo/hi against a
        # date-typed stat) — let Spark's lit rules decide
        return _prune_files_via_spark(spark, path, col, lo, hi)
    return keep


def _local_manifest_parts(path: str) -> list[str]:
    """The driver-side manifest part files (local paths only) — ONE
    guard shared by every driver-side planner so 'manifest missing'
    fails loudly and identically everywhere (review r11: a second read
    loop silently returned empty bounds instead)."""
    import glob as _glob

    parts = sorted(_glob.glob(os.path.join(
        _glob.escape(cache.local_fs_path(path)), MANIFEST_DIR, "*.parquet")))
    if not parts:
        raise FileNotFoundError(
            f"no manifest under {path}/{MANIFEST_DIR} — run "
            "build_manifest first")
    return parts


def _prune_files_via_spark(spark: SparkSession, path: str, col: str,
                           lo, hi) -> list[str]:
    """The portable planning path: same predicate through a Spark read
    of the manifest, matching the driver-side rules exactly. Keep-on-NaN
    needs an explicit branch here: Spark's NaN ordering makes
    ``NaN >= lo`` true (max-stat NaN keeps for free) but ``NaN <= hi``
    FALSE, so an all-NaN column's min stat would silently prune where
    the driver-side planner keeps (ADVICE r11) — float/double stat
    columns get an ``isnan`` OR-branch."""
    man = read_manifest(spark, path)
    mn, mx = F.col(f"{col}_min"), F.col(f"{col}_max")
    in_range = (mx >= F.lit(lo)) & (mn <= F.lit(hi))
    dtype = dict(man.dtypes).get(f"{col}_min")
    if dtype in ("float", "double"):
        in_range = F.isnan(mn) | F.isnan(mx) | in_range
    keep = man.filter(mn.isNotNull() & in_range)
    return [r["file"] for r in keep.select("file").collect()]


def prune_files_multi(spark: SparkSession, path: str,
                      preds: dict) -> list[str]:
    """Conjunctive pruning: files surviving EVERY per-column range
    (``preds``: col -> (lo, hi)) — the manifest intersection a Z-order
    layout pays off on, since each file bounds a rectangle in the
    interleaved columns' space. The loop short-circuits once the
    intersection is empty; per-column manifest reads are ~ms driver-side
    pyarrow on local paths (on s3a/hdfs each column costs a Spark
    planning job — mind the column count there). An empty ``preds`` is
    a caller error, not 'keep nothing' (review r11: it silently read as
    all-pruned and then crashed downstream)."""
    if not preds:
        raise ValueError("prune_files_multi needs at least one "
                         "(col, (lo, hi)) predicate")
    keep: set[str] | None = None
    for c, (lo, hi) in preds.items():
        files = set(prune_files(spark, path, c, lo, hi))
        keep = files if keep is None else keep & files
        if not keep:
            return []
    return sorted(keep)


def skipping_scan_multi(spark: SparkSession, path: str,
                        preds: dict) -> DataFrame:
    """Range scan with conjunctive file skipping: AND of every
    per-column range, files cut via the manifest intersection, residual
    predicate applied on the pruned read. Empty ``preds`` raises (an
    unconstrained scan should be a plain read, not a degenerate
    skip)."""
    files = prune_files_multi(spark, path, preds)  # raises on empty
    pred = None
    for c, (lo, hi) in preds.items():
        p = F.col(c).between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else pred & p
    if not files:
        return spark.read.parquet(path).filter(pred).limit(0)
    return (spark.read.option("basePath", path).parquet(*files)
            .filter(pred))


def skipping_scan(spark: SparkSession, path: str, col: str,
                  lo, hi) -> DataFrame:
    """Range scan with file-level skipping: read ONLY the manifest-
    selected files, then apply the residual predicate (files straddle
    the range boundary; parquet row-group stats prune further inside).
    Returns an empty, correctly-typed relation when every file prunes.
    Result is row-identical to the full-scan filter — pinned by
    tests/test_skipping.py against the unpruned plan."""
    files = prune_files(spark, path, col, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not files:
        return spark.read.parquet(path).filter(pred).limit(0)
    # basePath keeps hive partition columns in the schema when the
    # table is directory-partitioned — without it a pruned read of leaf
    # files silently drops them (review r11)
    return (spark.read.option("basePath", path).parquet(*files)
            .filter(pred))


# ------------------------------- the registered, oracle-checked entry

SKIP_N_FILES = 16
# integer-percent bounds so both engines derive them with the same
# exact arithmetic (int * int exact; / 100 one IEEE double division;
# FLOOR identical)
SKIP_LO_PCT, SKIP_HI_PCT = 20, 35


def clustered_layout(spark: SparkSession, sf_dir: str, table: str,
                     stat_cols: tuple,
                     cluster_by: str | None = None,
                     zorder: tuple | None = None,
                     n_files: int = None,
                     reader=None,
                     reader_tag: str | None = None) -> tuple[str, dict]:
    """A session-cached value-clustered rewrite + manifest of one
    ``sf_dir`` table — the generic form any standing consumer routes a
    non-partition-column range scan through (VERDICT r11 #4). Written
    ONCE per (session, sf_dir, table, data fingerprint) into a
    session-scoped tmp dir; every later call (bench/census re-runs,
    registered queries) serves from the existing files. Clustering is
    ``zorder`` (2-D Morton) when given, else 1-D on ``cluster_by``.
    Returns (layout_path, per-column global bounds) — the bounds are
    folded driver-side once at build time so steady-state planning
    never re-reads the manifest for them. The entry lives in the
    session cache keyed by the table parquet's fingerprint (ONE cache
    convention across the repo); an evicted layout's directory is
    removed, mirroring tables' unpersist-on-evict.

    ``reader`` (optional, () -> DataFrame) overrides the raw parquet
    read when the source needs normalization before the rewrite —
    events.ts arrives as nanos-long in some testdata generations, and
    a layout built from the RAW bytes would carry a different ts type
    than every consumer reads through sources.read_events. A reader
    changes the layout's CONTENT, so it must participate in the cache
    key; function objects don't key stably (a fresh lambda per call
    would never hit), so a reader REQUIRES ``reader_tag`` — a short
    stable name for the source semantics (e.g. "read_events")."""
    import shutil

    if (reader is None) != (reader_tag is None):
        raise ValueError("reader and reader_tag come together: the tag "
                         "is the reader's stable cache-key identity")
    # the key is the FULL layout spec: stat_cols decide which columns
    # the manifest carries (a consumer pruning on ts must not be served
    # a manifest built without ts stats), n_files decides the file
    # grain, reader_tag the source semantics — omit any and two
    # same-table consumers collide on one directory that satisfies
    # only one of them (caught live: a raw-bytes events layout served
    # a consumer needing the normalized ns->us ts reader)
    key = (spark.sparkContext.applicationId, sf_dir, table,
           stat_cols, cluster_by, zorder, n_files, reader_tag)
    # a cached layout must also still EXIST on disk — external /tmp
    # cleanup mid-session otherwise turns a cache hit into a read
    # failure (ADVICE r11); a vanished layout just rebuilds
    hit = cache.lookup("skipping.layout", key)
    if hit is not None and not os.path.isdir(hit[0]):
        cache.clear("skipping.layout", lambda k: k == key)

    def build():
        path = tempfile.mkdtemp(prefix=f"tank_spark_skip_{table}_")
        try:
            src = (reader() if reader is not None else spark.read.parquet(
                os.path.join(sf_dir, f"{table}.parquet")))
            nf = n_files if n_files is not None else SKIP_N_FILES
            if zorder is not None:
                write_clustered_zorder(src, path, zorder, nf)
            else:
                write_clustered(src, path, cluster_by or stat_cols[0], nf)
            build_manifest(spark, path, list(stat_cols))
            return path, _manifest_bounds(path, list(stat_cols))
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise

    return cache.cached(
        "skipping.layout", key, build,
        cache.fingerprint(os.path.join(sf_dir, f"{table}.parquet")),
        lambda v: shutil.rmtree(v[0], ignore_errors=True))


def _skipping_layout(spark: SparkSession, sf_dir: str) -> str:
    """The registered entry's documents layout: Z-ordered on
    (doc_id, n_chars) through the generic session cache."""
    return clustered_layout(spark, sf_dir, "documents",
                            ("doc_id", "n_chars"),
                            zorder=("doc_id", "n_chars"))[0]


def _manifest_bounds(path: str, cols: list[str]) -> dict:
    """Global (min, max) per column, folded DRIVER-SIDE over the tiny
    manifest (review r11: the registered entry paid a full-table Spark
    aggregate per call for three numbers the manifest already holds).
    Per-file None stats (all-null files) AND NaN stats (they bound
    nothing — the prune_files rule) are skipped in the fold; a column
    with no usable stats comes back (None, None). Local layouts only
    (raises via the shared manifest-parts guard when missing)."""
    import pyarrow.parquet as pq

    out = {c: [None, None] for c in cols}
    names = [x for c in cols for x in (f"{c}_min", f"{c}_max")]
    for p in _local_manifest_parts(path):
        t = pq.read_table(p, columns=names)
        for c in cols:
            for mn in t.column(f"{c}_min").to_pylist():
                if mn is None or mn != mn:
                    continue
                if out[c][0] is None or mn < out[c][0]:
                    out[c][0] = mn
            for mx in t.column(f"{c}_max").to_pylist():
                if mx is None or mx != mx:
                    continue
                if out[c][1] is None or mx > out[c][1]:
                    out[c][1] = mx
    return {c: (v[0], v[1]) for c, v in out.items()}


def _skip_bounds(mx_doc: int, mn_c: int, mx_c: int) -> tuple:
    """The driver-side mirror of the oracle's bound arithmetic (exact:
    int*int, one double division, floor)."""
    a_lo = math.floor(mx_doc * SKIP_LO_PCT / 100)
    a_hi = math.floor(mx_doc * SKIP_HI_PCT / 100)
    span = mx_c - mn_c
    b_lo = mn_c + math.floor(span * SKIP_LO_PCT / 100)
    b_hi = mn_c + math.floor(span * SKIP_HI_PCT / 100)
    return a_lo, a_hi, b_lo, b_hi


MANIFEST_SKIPPING_SCAN_SQL = f"""
WITH s AS (
  SELECT MAX(doc_id) AS mx,
         MIN(n_chars) AS cmn, MAX(n_chars) AS cmx
  FROM documents
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d, s
WHERE d.doc_id BETWEEN CAST(FLOOR(s.mx * {SKIP_LO_PCT} / 100) AS BIGINT)
                   AND CAST(FLOOR(s.mx * {SKIP_HI_PCT} / 100) AS BIGINT)
  AND d.n_chars BETWEEN s.cmn + CAST(FLOOR((s.cmx - s.cmn)
                            * {SKIP_LO_PCT} / 100) AS BIGINT)
                    AND s.cmn + CAST(FLOOR((s.cmx - s.cmn)
                            * {SKIP_HI_PCT} / 100) AS BIGINT)
"""


@register(
    "manifest_skipping_scan",
    MANIFEST_SKIPPING_SCAN_SQL,
    doc=f"File-level data skipping served end-to-end: the documents "
        f"table rewritten ONCE per session as {SKIP_N_FILES} Z-ordered "
        f"files (Morton interleave of doc_id x n_chars — the repo's "
        "own Z-curve kernel as Delta-style OPTIMIZE ZORDER) plus the "
        "per-file stats manifest, then a conjunctive 2-D range scan "
        "planned DRIVER-SIDE off the manifest: only the files whose "
        "(doc_id, n_chars) rectangles intersect the query box are "
        "listed/opened; the residual predicate finishes inside them. "
        "The oracle is the plain SQL filter over the whole table — "
        "the equivalence IS the correctness claim (skipping must never "
        "change results, only the files touched; the layout/manifest "
        "are tested to prune in tests/test_skipping.py). Bounds are "
        f"{SKIP_LO_PCT}-{SKIP_HI_PCT}% of each column's range, derived "
        "with integer-exact arithmetic in both engines. Scale shape: "
        "planning reads one tiny manifest on the driver (plan "
        "metadata, as table formats do); the scan reads only "
        "intersecting files — at 10^4-10^5 files the cut is the "
        "difference between a listing storm and a handful of opens.",
)
def manifest_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounds were folded once at layout-build time and cached next to
    # the path — steady-state planning reads no manifest for them
    path, b = clustered_layout(spark, sf_dir, "documents",
                               ("doc_id", "n_chars"),
                               zorder=("doc_id", "n_chars"))
    cols = ["doc_id", "lang", "source", "n_chars"]
    if b["doc_id"][1] is None or b["n_chars"][0] is None:
        # degenerate corpus (empty / all-null): the oracle's BETWEEN
        # NULL returns zero rows — match it with an empty typed
        # relation instead of crashing on int(None) (review r11)
        return (spark.read.parquet(path).select(*cols)
                .filter(F.lit(False)))
    a_lo, a_hi, b_lo, b_hi = _skip_bounds(
        int(b["doc_id"][1]), int(b["n_chars"][0]), int(b["n_chars"][1]))
    out = skipping_scan_multi(
        spark, path, {"doc_id": (a_lo, a_hi), "n_chars": (b_lo, b_hi)})
    return out.select(*cols)
