"""File-level data skipping (operators/skipping.py): the manifest scan
must be row-identical to the full-scan filter while reading strictly
fewer files, across clustered/unclustered layouts, boundary-straddling
ranges, all-prune and no-prune edges, and null-stat files."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _full(spark, path, col, lo, hi):
    return (spark.read.parquet(path)
            .filter(F.col(col).between(F.lit(lo), F.lit(hi))))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _files_scanned(df) -> int:
    return len(df.inputFiles())


def test_skipping_scan_equals_full_scan_and_prunes(spark, tmp_path):
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
        write_clustered,
    )

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_clustered(docs, path, "doc_id", n_files=8)
    man = build_manifest(spark, path, ["doc_id", "n_chars"])
    assert man.count() == 8
    # manifest totals reconcile with the table
    assert (man.agg(F.sum("n_rows")).first()[0] == docs.count())

    n = docs.count()
    lo, hi = int(n * 0.25), int(n * 0.35)  # ~10% of a 0..n-1 id space
    full = _full(spark, path, "doc_id", lo, hi)
    pruned = skipping_scan(spark, path, "doc_id", lo, hi)
    assert _rows(pruned.select("doc_id", "source")) == \
        _rows(full.select("doc_id", "source"))
    # the scale point: strictly fewer files listed/opened
    assert 1 <= len(prune_files(spark, path, "doc_id", lo, hi)) <= 2
    assert _files_scanned(pruned) < _files_scanned(full)


def test_skipping_boundary_straddle_and_edges(spark, tmp_path):
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
        write_clustered,
    )

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_clustered(docs, path, "doc_id", n_files=4)
    build_manifest(spark, path, ["doc_id"])
    n = docs.count()

    # a range straddling a file boundary must read both sides
    man_rows = sorted(
        (r["doc_id_min"], r["doc_id_max"])
        for r in spark.read.parquet(f"{path}/_manifest").collect())
    edge = man_rows[0][1]  # first file's max
    full = _full(spark, path, "doc_id", edge, edge + 1)
    got = skipping_scan(spark, path, "doc_id", edge, edge + 1)
    assert _rows(got.select("doc_id")) == _rows(full.select("doc_id"))
    assert len(prune_files(spark, path, "doc_id", edge, edge + 1)) == 2

    # all-prune edge: empty result, correct schema, zero files kept
    out = skipping_scan(spark, path, "doc_id", n + 10, n + 20)
    assert out.count() == 0
    assert out.schema == docs.schema
    assert prune_files(spark, path, "doc_id", n + 10, n + 20) == []

    # no-prune edge: full range keeps every file and every row
    assert len(prune_files(spark, path, "doc_id", 0, n)) == 4
    assert skipping_scan(spark, path, "doc_id", 0, n).count() == n


def test_skipping_safe_on_unclustered_layout(spark, tmp_path):
    """On a layout with overlapping file ranges the manifest keeps more
    files (weak skipping) but the result must stay identical — layout
    affects COST only, never correctness."""
    from tank_spark.operators.skipping import build_manifest, skipping_scan

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # hash repartition: every file spans ~the whole id range
    docs.repartition(6, "source").write.mode("overwrite").parquet(path)
    build_manifest(spark, path, ["doc_id"])
    n = docs.count()
    lo, hi = int(n * 0.4), int(n * 0.5)
    assert _rows(skipping_scan(spark, path, "doc_id", lo, hi)
                 .select("doc_id")) == \
        _rows(_full(spark, path, "doc_id", lo, hi).select("doc_id"))


def test_all_null_stat_files_prune_safely(spark, tmp_path):
    """A file whose indexed column is entirely null has null stats and
    is prunable: range predicates never match null. Files with SOME
    nulls keep their non-null min/max and survive pruning."""
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
    )

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(i, "a") for i in range(10)],
                              "v long, tag string")
    b = spark.createDataFrame([(None, "b")] * 5, "v long, tag string")
    a.coalesce(1).write.mode("overwrite").parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    build_manifest(spark, path, ["v"])
    kept = prune_files(spark, path, "v", 3, 5)
    assert len(kept) == 1
    got = skipping_scan(spark, path, "v", 3, 5)
    assert _rows(got) == _rows(_full(spark, path, "v", 3, 5))
    assert got.count() == 3


def test_skipping_on_hive_partitioned_table(spark, tmp_path):
    """A directory-partitioned table must keep its partition columns in
    the pruned read (review r11: without basePath, reading leaf files
    directly silently dropped them) — and pruning on a non-partition
    column must still cut the file list."""
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
    )

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # partition by source; sort within so doc_id ranges stay tight
    (docs.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
         .write.mode("overwrite").partitionBy("source").parquet(path))
    build_manifest(spark, path, ["doc_id"])
    n = docs.count()
    lo, hi = int(n * 0.1), int(n * 0.2)
    full = _full(spark, path, "doc_id", lo, hi)
    got = skipping_scan(spark, path, "doc_id", lo, hi)
    assert set(got.columns) == set(docs.columns)  # source survives
    assert _rows(got.select("doc_id", "source")) == \
        _rows(full.select("doc_id", "source"))
    total = len(spark.read.parquet(path).inputFiles())
    assert len(prune_files(spark, path, "doc_id", lo, hi)) < total


def test_nan_stat_files_are_kept(spark, tmp_path):
    """A float file CONTAINING NaN has max=NaN (Spark's max treats NaN
    as greater than everything); NaN bounds nothing, so the file must
    be KEPT — the first driver-side rewrite pruned it via Python's
    NaN-comparisons-are-false and silently dropped in-range rows
    (review r11, second pass)."""
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
    )

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(5.0, "a"), (float("nan"), "a")],
                              "v double, tag string")
    b = spark.createDataFrame([(100.0, "b")], "v double, tag string")
    a.coalesce(1).write.mode("overwrite").parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    build_manifest(spark, path, ["v"])
    kept = prune_files(spark, path, "v", 4.0, 6.0)
    assert len(kept) == 1  # the NaN-stat file stays, the 100.0 file prunes
    got = skipping_scan(spark, path, "v", 4.0, 6.0)
    assert _rows(got) == _rows(_full(spark, path, "v", 4.0, 6.0))
    assert got.count() == 1  # the 5.0 row survives


def test_manifest_is_invisible_to_table_readers(spark, tmp_path):
    """The manifest lives INSIDE the table directory under an
    underscore-prefixed dir, so plain readers of the table never see
    manifest rows."""
    from tank_spark.operators.skipping import build_manifest, write_clustered

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_clustered(docs, path, "doc_id", n_files=3)
    build_manifest(spark, path, ["doc_id"])
    again = spark.read.parquet(path)
    assert again.count() == docs.count()
    assert again.schema == docs.schema


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering (the repo's own Morton kernel reused as
    Delta-style OPTIMIZE ZORDER): with a manifest over BOTH interleaved
    columns, a range predicate on EITHER column prunes files — the
    property 1-D clustering gives only its sort key — and the
    conjunctive 2-D scan intersects the per-column prunes. Results stay
    identical to the full-scan filter in every case."""
    from pyspark.sql import functions as F2

    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        prune_files_multi,
        skipping_scan,
        skipping_scan_multi,
        write_clustered_zorder,
    )

    path = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_clustered_zorder(docs, path, ("doc_id", "n_chars"), 16)
    build_manifest(spark, path, ["doc_id", "n_chars"])
    n = docs.count()
    c_lo, c_hi = (docs.agg(F2.min("n_chars"), F2.max("n_chars"))
                  .first())

    # a ~15% range on EACH dimension prunes on its own
    a = (int(n * 0.2), int(n * 0.35))
    b = (int(c_lo + (c_hi - c_lo) * 0.2),
         int(c_lo + (c_hi - c_lo) * 0.35))
    kept_a = prune_files(spark, path, "doc_id", *a)
    kept_b = prune_files(spark, path, "n_chars", *b)
    assert 1 <= len(kept_a) < 16
    assert 1 <= len(kept_b) < 16
    for col, (lo, hi) in (("doc_id", a), ("n_chars", b)):
        got = skipping_scan(spark, path, col, lo, hi)
        assert _rows(got.select("doc_id", "n_chars")) == \
            _rows(_full(spark, path, col, lo, hi)
                  .select("doc_id", "n_chars"))

    # the conjunctive scan intersects the per-column prunes
    preds = {"doc_id": a, "n_chars": b}
    kept_ab = prune_files_multi(spark, path, preds)
    assert set(kept_ab) == set(kept_a) & set(kept_b)
    assert len(kept_ab) <= min(len(kept_a), len(kept_b))
    got = skipping_scan_multi(spark, path, preds)
    want = (spark.read.parquet(path)
            .filter(F2.col("doc_id").between(*a)
                    & F2.col("n_chars").between(*b)))
    assert _rows(got.select("doc_id", "n_chars")) == \
        _rows(want.select("doc_id", "n_chars"))


def test_manifest_skipping_scan_staged_parity(spark):
    """The registered entry: full oracle parity at the driver SF AND
    the pytest SF (compare() is the driver-shaped check), plus the
    layer's point — the served scan actually pruned files."""
    from tests.oracle_util import compare

    from tank_spark.operators.skipping import (
        SKIP_N_FILES,
        _skip_bounds,
        _skipping_layout,
        prune_files_multi,
    )

    DRIVER_SF = "/root/testdata/sf0.01"
    for sf_dir in (SF_DIR, DRIVER_SF):
        compare(spark, sf_dir, "manifest_skipping_scan")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        st = docs.agg(F.max("doc_id"), F.min("n_chars"),
                      F.max("n_chars")).first()
        a_lo, a_hi, b_lo, b_hi = _skip_bounds(int(st[0]), int(st[1]),
                                              int(st[2]))
        kept = prune_files_multi(
            spark, _skipping_layout(spark, sf_dir),
            {"doc_id": (a_lo, a_hi), "n_chars": (b_lo, b_hi)})
        assert 1 <= len(kept) < SKIP_N_FILES


def test_skipping_layout_memoized_per_session(spark):
    """The session layout is written once per (session, sf_dir, data
    fingerprint) — repeated registered-query calls serve from the same
    files (the tables.load cache convention)."""
    from tank_spark.operators.skipping import _skipping_layout

    p1 = _skipping_layout(spark, SF_DIR)
    p2 = _skipping_layout(spark, SF_DIR)
    assert p1 == p2


def test_manifest_skipping_scan_degenerate_corpus(spark, tmp_path):
    """An empty documents table must yield an empty typed relation —
    matching the oracle's BETWEEN-NULL zero rows — not a crash in the
    bounds arithmetic (review r11, fourth pass)."""
    from tank_spark.operators.skipping import manifest_skipping_scan

    sf_dir = str(tmp_path)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.limit(0).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = manifest_skipping_scan(spark, sf_dir)
    assert out.count() == 0
    assert out.columns == ["doc_id", "lang", "source", "n_chars"]


def test_file_scheme_paths_plan_driver_side(spark, tmp_path):
    """A 'file:' URI is a LOCAL path and must take the driver-side
    pyarrow planner — before the scheme was stripped, the raw-string
    glob found no manifest parts and raised manifest-missing even
    though the manifest existed (ADVICE r11)."""
    from tank_spark.operators.skipping import (
        build_manifest,
        prune_files,
        skipping_scan,
        write_clustered,
    )

    path = str(tmp_path / "t")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write_clustered(docs, path, "doc_id", n_files=4)
    build_manifest(spark, path, ["doc_id"])
    plain = prune_files(spark, path, "doc_id", 10, 60)
    via_uri = prune_files(spark, "file://" + path, "doc_id", 10, 60)
    assert via_uri == plain and 1 <= len(plain) < 4
    got = skipping_scan(spark, "file://" + path, "doc_id", 10, 60)
    assert _rows(got) == _rows(_full(spark, path, "doc_id", 10, 60))


def test_spark_planner_keeps_all_nan_min_stats(spark, tmp_path):
    """The portable (Spark-read) planner must honor the same keep-on-NaN
    rule as the driver-side one: an all-NaN column's MIN stat is NaN,
    and Spark's NaN ordering makes `NaN <= hi` FALSE, so without the
    isnan OR-branch the file silently pruned where pyarrow kept it
    (ADVICE r11). Both planners over the same manifest must agree."""
    from tank_spark.operators.skipping import (
        _prune_files_via_spark,
        build_manifest,
        prune_files,
    )

    path = str(tmp_path / "t")
    nan = float("nan")
    a = spark.createDataFrame([(nan, "a"), (nan, "a")],
                              "v double, tag string")
    b = spark.createDataFrame([(100.0, "b")], "v double, tag string")
    a.coalesce(1).write.mode("overwrite").parquet(path)
    b.coalesce(1).write.mode("append").parquet(path)
    build_manifest(spark, path, ["v"])
    driver_side = sorted(prune_files(spark, path, "v", 4.0, 6.0))
    spark_side = sorted(_prune_files_via_spark(spark, path, "v", 4.0, 6.0))
    assert spark_side == driver_side
    assert len(driver_side) == 1  # all-NaN file kept, 100.0 file pruned


def test_layout_cache_rebuilds_after_external_tmp_cleanup(spark):
    """A fingerprint-valid cache hit whose directory an external /tmp
    sweeper removed must REBUILD, not serve the dead pointer
    (ADVICE r11)."""
    import os
    import shutil

    from tank_spark import cache
    from tank_spark.operators.skipping import _skipping_layout
    from tank_spark.plans.registry import load_all

    reg = load_all()
    q = reg["manifest_skipping_scan"]
    n0 = q.spark(spark, SF_DIR).count()
    # cache key is the FULL layout spec — (stat_cols, cluster_by,
    # zorder, n_files, reader_tag) — so two consumers wanting different
    # layouts, manifest columns, file grains, or source readers of one
    # table never collide
    key = (spark.sparkContext.applicationId, SF_DIR, "documents",
           ("doc_id", "n_chars"), None, ("doc_id", "n_chars"), None, None)
    first = cache.lookup("skipping.layout", key)[0]
    assert _skipping_layout(spark, SF_DIR) == first  # a hit serves it
    shutil.rmtree(first)
    before = cache.stats("skipping.layout")
    path2 = _skipping_layout(spark, SF_DIR)
    assert os.path.isdir(path2)  # fresh dir built
    assert cache.lookup("skipping.layout", key)[0] == path2
    assert cache.stats("skipping.layout")["misses"] == before["misses"] + 1
    assert q.spark(spark, SF_DIR).count() == n0


def test_layout_cache_keeps_same_table_specs_apart(spark):
    """Two consumers of ONE table asking for different layout specs
    must get DISTINCT layout directories — a shared directory
    satisfies only one of them: different stat_cols (the second's
    prune would read a manifest missing its columns), and different
    readers (caught live: a raw-bytes events layout served a consumer
    needing the normalized ns->us ts reader)."""
    import pytest

    from tank_spark import cache
    from tank_spark.operators.skipping import clustered_layout, prune_files
    from tank_spark.sources.tables import read_events

    p1, b1 = clustered_layout(spark, SF_DIR, "events",
                              ("event_type", "ts"),
                              cluster_by="event_type",
                              reader=lambda: read_events(spark, SF_DIR),
                              reader_tag="read_events")
    p2, b2 = clustered_layout(spark, SF_DIR, "events",
                              ("event_type",),
                              cluster_by="event_type",
                              reader=lambda: read_events(spark, SF_DIR),
                              reader_tag="read_events")
    p3, _ = clustered_layout(spark, SF_DIR, "events",
                             ("event_type", "ts"),
                             cluster_by="event_type")  # raw bytes
    assert len({p1, p2, p3}) == 3
    assert set(b1) == {"event_type", "ts"}
    assert set(b2) == {"event_type"}
    # each manifest answers prunes on exactly its own stat columns
    assert prune_files(spark, p1, "event_type", "signup", "signup")
    assert prune_files(spark, p2, "event_type", "signup", "signup")
    # a repeated identical request still serves the cached layout
    hits = cache.stats("skipping.layout")["hits"]
    assert clustered_layout(spark, SF_DIR, "events",
                            ("event_type", "ts"),
                            cluster_by="event_type",
                            reader=lambda: read_events(spark, SF_DIR),
                            reader_tag="read_events")[0] == p1
    assert cache.stats("skipping.layout")["hits"] == hits + 1
    # a reader without its stable tag (or vice versa) is a hard error
    with pytest.raises(ValueError):
        clustered_layout(spark, SF_DIR, "events", ("event_type",),
                         cluster_by="event_type",
                         reader=lambda: read_events(spark, SF_DIR))
    with pytest.raises(ValueError):
        clustered_layout(spark, SF_DIR, "events", ("event_type",),
                         cluster_by="event_type", reader_tag="orphan")


def test_q6_serves_through_the_skipping_layer(spark):
    """q6_forecast_revenue is the skipping layer's standing consumer
    (VERDICT r11 #4): its scan must read a PRUNED file list (< the
    full layout), produce exactly the unpruned filter's aggregate, and
    still push the residual predicates down to the pruned parquet
    scan. Pruning bounds are an inclusive superset of the half-open
    shipdate predicate — only the residual decides rows."""
    from tank_spark.operators.relational import q6_forecast_revenue
    from tank_spark.operators.skipping import SKIP_N_FILES

    df = q6_forecast_revenue(spark, SF_DIR)
    n_in = len(df.inputFiles())
    assert 1 <= n_in < SKIP_N_FILES  # the file cut actually happened
    # result identical to the plain full-table filter
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    want = (li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.sum((F.col("l_extendedprice").cast("decimal(18,4)")
                    * F.col("l_discount").cast("decimal(18,4)")))
             .cast("double"), F.count(F.lit(1))).first())
    got = df.first()
    assert got[0] == want[0] and got[1] == want[1]
    # residuals still reach the pruned scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "l_discount" in plan and "l_quantity" in plan


def test_funnel_serves_through_the_skipping_layer(spark):
    """user_funnel_signup_purchase is the skipping layer's SECOND
    standing consumer (VERDICT r12 #6), on the events firehose: each
    tower plans its file list driver-side from its own event_type
    equality (range pruning with lo = hi), so the whole entry reads
    strictly fewer files than the layout holds; the result must equal
    the plain cached-reader plan exactly (the oracle is unchanged —
    pruning may only widen, the residual decides), and the residual
    event_type equality still reaches the pruned parquet scan."""
    from tank_spark.llm.events import user_funnel_signup_purchase
    from tank_spark.operators.skipping import (SKIP_N_FILES,
                                               clustered_layout,
                                               prune_files)
    from tank_spark.sources.tables import read_events

    df = user_funnel_signup_purchase(spark, SF_DIR)
    n_in = len(set(df.inputFiles()))
    assert 1 <= n_in < SKIP_N_FILES  # the file cut actually happened
    # each tower's plan is a strict subset of the layout's files
    path, _ = clustered_layout(
        spark, SF_DIR, "events", ("event_type", "ts"),
        cluster_by="event_type",
        reader=lambda: read_events(spark, SF_DIR),
        reader_tag="read_events")
    for tp in ("signup", "purchase"):
        kept = prune_files(spark, path, "event_type", tp, tp)
        assert 1 <= len(kept) < SKIP_N_FILES
    # result identical to the plain unpruned plan
    e = read_events(spark, SF_DIR).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t"))
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("t").alias("first_signup")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"), F.col("t").alias("p_t")))
    want = sorted(
        s.join(p, (F.col("p_user") == F.col("user_id"))
               & (F.col("p_t") > F.col("first_signup")), "left")
        .groupBy("user_id", "first_signup")
        .agg(F.count("p_t").alias("purchases_after_signup")).collect())
    assert sorted(df.collect()) == want
    # the residual equality still reaches the pruned scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "event_type" in plan
