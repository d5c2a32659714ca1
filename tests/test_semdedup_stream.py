"""Streaming incremental SEMANTIC dedup (streaming/epoch_index.py
driven with semdedup_inc.semantic_index): the foreachBatch production
loop —
disposition each embedding micro-batch against the persisted semantic
index, append survivors so later epochs AND later runs dedup against
them. The batch twin semdedup_stream_replay carries the full DuckDB
oracle; this drives the real streaming machinery end-to-end on crafted
vectors, with the package's own quantizer deciding the routing
preconditions instead of hardcoding them."""

from __future__ import annotations

from pyspark.sql import functions as F

DIM = 64


def _vec(*hot) -> list[float]:
    """A DIM-float vector with (index, value) pairs set."""
    v = [0.0] * DIM
    for i, x in hot:
        v[i] = float(x)
    return v


VEC_A = _vec((0, 1.0), (3, 0.5))
VEC_B = _vec((1, 1.0), (7, -0.5))
NEAR_A = _vec((0, 1.0), (3, 0.5), (9, 0.1))   # cosine vs A ~ 0.996
FRESH_X = _vec((2, 1.0), (11, 0.25))


def _write_batch(spark, drop_dir: str, rows) -> None:
    df = spark.createDataFrame(rows, "vid long, embedding array<float>")
    df.coalesce(1).write.mode("append").parquet(drop_dir)


def _routing_precondition(spark) -> None:
    """The quantizer itself decides the near expectation (no
    hardcoding): NEAR_A's routed lists must include VEC_A's top-1 list,
    and FRESH_X must not be cosine-similar to anything planted."""
    from tank_spark.llm.semdedup_inc import (
        SEM_INC_TAU,
        routed_relation,
        scored_relation,
    )

    rel = spark.createDataFrame(
        [(1, VEC_A), (101, NEAR_A)], "vid long, embedding array<float>")
    top1 = {r.vid: r.list_id
            for r in scored_relation(spark, rel).collect()}
    routes = {r.vid for r in routed_relation(spark, rel).collect()
              if r.list_id == top1[1]}
    assert 101 in routes, "NEAR_A does not route to VEC_A's list"

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = lambda v: sum(x * x for x in v) ** 0.5  # noqa: E731
        return d / (n(a) * n(b))

    assert cos(VEC_A, NEAR_A) >= SEM_INC_TAU
    for other in (VEC_A, VEC_B, NEAR_A):
        assert cos(FRESH_X, other) < SEM_INC_TAU


def test_incremental_semdedup_stream_e2e(spark, tmp_path):
    """Two runs over one checkpoint: run 1 dispositions a batch (a
    near-dup of an index vector + a fresh vector) against the
    bootstrapped index and appends the fresh survivor; run 2's batch
    re-crawls that survivor and must match it as semantic_dup_of_index
    — the cross-run index-growth property of the daily crawl loop,
    semantic edition."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import (
        file_stream,
        read_index,
        start_stream,
        write_epoch,
    )

    spec = semantic_index()
    _routing_precondition(spark)
    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")  # outside the watched drop dir

    corpus = spark.createDataFrame(
        [(1, VEC_A), (2, VEC_B)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)
    (idx0,) = read_index(spark, spec, index_dir)
    assert idx0.count() == 2
    assert [f.name for f in idx0.schema.fields] == [
        "ivid", "list_id", "embedding", "inv"]

    def run_once() -> None:
        stream = file_stream(spark, spec, drop_dir,
                             max_files_per_trigger=10)
        assert stream.isStreaming
        q = start_stream(spark, spec, stream, index_dir, out_dir, ckpt)
        q.awaitTermination(120)
        q.stop()

    # run 1: near-dup of index vector 1 + a fresh vector
    _write_batch(spark, drop_dir, [(101, NEAR_A), (102, FRESH_X)])
    run_once()
    out1 = {r["vec_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out1[101]["disposition"] == "semantic_dup_of_index"
    assert out1[101]["match_vid"] == 1
    assert out1[101]["n_index_hits"] >= 1
    assert out1[101]["best_index_cos"] >= 0.9
    assert out1[102]["disposition"] == "new_unique"
    # index grew by exactly the survivor
    (idx1,) = read_index(spark, spec, index_dir)
    assert idx1.count() == 3
    assert idx1.filter(F.col("ivid") == 102).count() == 1

    # run 2 (same checkpoint): a re-crawl of run 1's survivor must now
    # be a dup OF THE INDEX — yesterday's novelty, today's duplicate
    _write_batch(spark, drop_dir, [(201, FRESH_X)])
    run_once()
    out2 = {r["vec_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out2[201]["disposition"] == "semantic_dup_of_index"
    assert out2[201]["match_vid"] == 102
    # nothing new appended (201 was a dup)
    assert read_index(spark, spec, index_dir)[0].count() == 3


def test_semdedup_epoch_write_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch rewrites its own index directory
    instead of duplicating rows — the ADVICE r10 posture all three
    incremental families share (here duplicate index rows would double
    n_index_hits and skew every report's n_matched_distinct)."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import read_index, write_epoch

    spec = semantic_index()
    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        [(1, VEC_A)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)
    epoch = spark.createDataFrame(
        [(101, FRESH_X)], "vid long, embedding array<float>")
    write_epoch(spec, epoch, index_dir, 0)
    write_epoch(spec, epoch, index_dir, 0)  # the replay
    assert read_index(spark, spec, index_dir)[0].count() == 2


def test_semdedup_compaction_collapses_and_preserves_probe(spark, tmp_path):
    """compact folds per-epoch dirs into one
    list_id-co-located base generation: epoch count drops to 1, row
    count unchanged, probe dispositions identical, and the loop keeps
    appending against the compacted generation."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import (
        compact,
        epoch_count,
        file_stream,
        read_index,
        start_stream,
        write_epoch,
    )

    spec = semantic_index()
    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(1, VEC_A), (2, VEC_B)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)
    # 3 crawl increments -> 3 appended epochs (fresh orthogonal-ish
    # vectors so every batch appends survivors), one file per batch
    for i in range(3):
        _write_batch(spark, drop_dir,
                     [(100 + i, _vec((20 + i, 1.0), (40 + i, 0.5)))])
    stream = file_stream(spark, spec, drop_dir, max_files_per_trigger=1)
    q = start_stream(spark, spec, stream, index_dir, out_dir, ckpt)
    q.awaitTermination(120)
    q.stop()
    assert epoch_count(spec, index_dir) == 4  # base + 3 epochs
    n0 = read_index(spark, spec, index_dir)[0].count()
    probe = spark.createDataFrame(
        [(900, _vec((21, 1.0), (41, 0.5))),   # exact dup of epoch row 101
         (901, NEAR_A),                        # near dup of base row 1
         (902, FRESH_X)],                      # fresh
        "vid long, embedding array<float>")

    def disp() -> dict:
        index = read_index(spark, spec, index_dir)
        return {r["vec_id"]: (r["disposition"], r["match_vid"])
                for r in spec.probe(probe, index).collect()}

    before = disp()
    compact(spark, spec, index_dir, n_buckets=4)
    assert epoch_count(spec, index_dir) == 1
    assert read_index(spark, spec, index_dir)[0].count() == n0
    assert disp() == before
    assert before[900] == ("semantic_dup_of_index", 101)
    assert before[901] == ("semantic_dup_of_index", 1)
    assert before[902][0] == "new_unique"
    # the loop keeps working against the compacted generation, with
    # compaction running after each epoch
    _write_batch(spark, drop_dir, [(903, FRESH_X)])
    _write_batch(spark, drop_dir, [(904, FRESH_X)])
    stream = file_stream(spark, spec, drop_dir, max_files_per_trigger=1)
    q = start_stream(spark, spec, stream, index_dir, out_dir, ckpt,
                     compact_every=1)
    q.awaitTermination(120)
    q.stop()
    assert epoch_count(spec, index_dir) == 1
    out = {r["vec_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out[903]["disposition"] == "new_unique"
    assert out[904]["disposition"] == "semantic_dup_of_index"
    assert out[904]["match_vid"] == 903


def test_semdedup_stream_report_from_persisted_output(spark, tmp_path):
    """stream_report (the production report path) aggregates
    the persisted disposition output through the shared
    curation_report_over core — per (epoch_id, label, disposition)
    with in-group ppm shares."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import (
        file_stream,
        start_stream,
        stream_report,
        write_epoch,
    )

    spec = semantic_index()
    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    corpus = spark.createDataFrame(
        [(1, VEC_A), (2, VEC_B)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)
    # provenance ids ARE the doc ids here (small ints), so pass an
    # explicit identity provenance instead of the % INC_OFFSET default
    _write_batch(spark, drop_dir, [(1, VEC_A), (2, VEC_B), (3, FRESH_X)])
    stream = file_stream(spark, spec, drop_dir, max_files_per_trigger=10)
    q = start_stream(spark, spec, stream, index_dir, out_dir,
                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    docs = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 8)], "orig long, label int")
    rep = {(r["epoch_id"], r["label"], r["disposition"]):
           (r["n_docs"], r["share_ppm"])
           for r in stream_report(
               spark, spec, out_dir, docs,
               provenance=F.col("vec_id")).collect()}
    assert rep[(0, 7, "semantic_dup_of_index")] == (2, 1000000)
    assert rep[(0, 8, "new_unique")] == (1, 1000000)


def test_stream_report_collapses_replayed_epochs(spark, tmp_path):
    """At-least-once replays must not double-count in the production
    report: a replayed epoch's second append — including the
    contradictory case where the replay ran AFTER its survivors were
    folded into the index, flipping new_unique to a dup-of-index
    self-match — collapses to ONE row per (epoch_id, vec_id), keeping
    the most duplicate-aware copy (review r11: the 'readers drop
    replayed epochs' posture was documented but unimplemented)."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import stream_report

    out_dir = str(tmp_path / "out")
    cols = ("vec_id long, list_id long, disposition string, "
            "match_vid long, n_index_hits long, best_index_cos double, "
            "epoch_id long")
    first = spark.createDataFrame(
        [(3, 0, "new_unique", None, 0, None, 0)], cols)
    replay = spark.createDataFrame(
        [(3, 0, "semantic_dup_of_index", 3, 1, 1.0, 0)], cols)
    first.write.mode("append").parquet(out_dir)
    replay.write.mode("append").parquet(out_dir)
    docs = spark.createDataFrame([(3, 8)], "orig long, label int")
    rows = stream_report(
        spark, semantic_index(), out_dir, docs,
        provenance=F.col("vec_id")).collect()
    assert len(rows) == 1
    r = rows[0]
    # counted once, as the duplicate-aware copy
    assert (r["disposition"], r["n_docs"], r["share_ppm"]) == \
        ("semantic_dup_of_index", 1, 1000000)


def test_stream_loop_with_twolevel_quantizer(spark, tmp_path):
    """The at-scale quantizer threads through the REAL loop: index
    bootstrapped, probed, and grown in the k=64 two-level list space.
    Exact re-crawl detection is unconditional there too (the route set
    prepends the vector's own assigned list), and survivors append
    with two-level assignments."""
    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import (
        file_stream,
        read_index,
        start_stream,
        write_epoch,
    )

    spec = semantic_index(quantizer="twolevel")
    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    corpus = spark.createDataFrame(
        [(1, VEC_A), (2, VEC_B)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)
    (idx0,) = read_index(spark, spec, index_dir)
    assert idx0.count() == 2  # the bootstrap produced real assignments
    _write_batch(spark, drop_dir, [(101, VEC_A),      # exact re-crawl
                                   (102, FRESH_X)])   # fresh survivor
    stream = file_stream(spark, spec, drop_dir, max_files_per_trigger=10)
    q = start_stream(spark, spec, stream, index_dir, out_dir,
                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    out = {r["vec_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out[101]["disposition"] == "semantic_dup_of_index"
    assert out[101]["match_vid"] == 1
    assert out[102]["disposition"] == "new_unique"
    idx1 = {r.ivid: r.list_id
            for r in read_index(spark, spec, index_dir)[0].collect()}
    assert set(idx1) == {1, 2, 102}
    # the survivor's assignment is consistent with the index's space:
    # probing the same vector again must match it (cross-run growth)
    _write_batch(spark, drop_dir, [(201, FRESH_X)])
    stream = file_stream(spark, spec, drop_dir, max_files_per_trigger=10)
    q = start_stream(spark, spec, stream, index_dir, out_dir,
                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    out2 = {r["vec_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out2[201]["disposition"] == "semantic_dup_of_index"
    assert out2[201]["match_vid"] == 102


def test_interrupted_compaction_swap_autorecovers(spark, tmp_path):
    """A compaction crash between rename(live, old) and rename(tmp,
    live) leaves no assign/ but a complete assign.old — readers and the
    next compaction must auto-restore instead of failing until a human
    renames it back (ADVICE r11)."""
    import os

    from tank_spark.llm.semdedup_inc import semantic_index
    from tank_spark.streaming.epoch_index import (
        compact,
        epoch_count,
        read_index,
        write_epoch,
    )

    spec = semantic_index()
    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        [(1, VEC_A), (2, VEC_B)], "vid long, embedding array<float>")
    write_epoch(spec, corpus, index_dir)

    def vids() -> list:
        return sorted(r["ivid"] for r in
                      read_index(spark, spec, index_dir)[0].collect())

    rows0 = vids()
    live = os.path.join(index_dir, "assign")
    os.rename(live, live + ".old")  # the exact crash window
    got = vids()
    assert got == rows0  # restored, not FileNotFound
    # and a compaction started in the same state also recovers
    os.rename(live, live + ".old")
    compact(spark, spec, index_dir, n_buckets=2)
    assert epoch_count(spec, index_dir) == 1
    assert vids() == rows0
