"""Streaming incremental MEDIA dedup (streaming/epoch_index.py driven
with media_inc.MEDIA_INDEX): the foreachBatch production loop — disposition each media micro-batch
against the persisted phash/fp index, append survivors so later epochs
AND later runs dedup against them. The batch twin
media_dedup_stream_replay carries the full DuckDB oracle; this drives
the real streaming machinery end-to-end on crafted payloads, with the
package's own image kernel deciding the near-dup expectation instead of
hardcoding it."""

from __future__ import annotations

import hashlib


def _payload(seed: str) -> bytes:
    """32 deterministic bytes (the media_df derivation shape)."""
    return (hashlib.md5(seed.encode()).digest()
            + hashlib.md5((seed + ":1").encode()).digest())


def _tweak_img(p: bytes) -> bytes:
    """Byte 7 bumped by 8 mod 256 — the image planted-variant tweak."""
    b = bytearray(p)
    b[7] = (b[7] + 8) % 256
    return bytes(b)


def _phash(p: bytes) -> int:
    from tank_spark.llm.multimodal import dhash64, get_plane_decoder

    return dhash64(get_plane_decoder()(p))


def _write_batch(spark, drop_dir: str, rows) -> None:
    df = spark.createDataFrame(rows, "cid long, modality string, payload binary")
    df.coalesce(1).write.mode("append").parquet(drop_dir)


def test_incremental_media_dedup_stream_e2e(spark, tmp_path):
    """Two runs over one checkpoint: run 1 dispositions a batch (a
    near-dup copy of an index image + a fresh image) against the
    bootstrapped index and appends the fresh survivor; run 2's batch
    re-crawls that survivor and must match it as exact_dup_of_index —
    the cross-run index-growth property of the daily media-crawl loop."""
    from pyspark.sql import functions as F

    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import (
        file_stream,
        read_index,
        start_stream,
        write_epoch,
    )

    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")  # outside the watched drop dir

    pay_a, pay_b = _payload("img-a"), _payload("img-b")
    near_a = _tweak_img(pay_a)
    fresh_x = _payload("img-x")
    # the kernel itself decides the near expectation (no hardcoding):
    # the +8 single-byte bump must land within the banded Hamming ball
    ham = bin(_phash(pay_a) ^ _phash(near_a)).count("1")
    assert ham <= 3, f"precondition: tweak drifted to hamming {ham}"
    assert bin(_phash(pay_a) ^ _phash(fresh_x)).count("1") > 3

    corpus = spark.createDataFrame(
        [(1, "image", pay_a), (2, "image", pay_b)],
        "cid long, modality string, payload binary")
    write_epoch(MEDIA_INDEX, corpus, index_dir)
    ifp0, ib0 = read_index(spark, MEDIA_INDEX, index_dir)
    assert ifp0.count() == 2
    assert ib0.count() == 8  # 4 bands x 2 rows

    def run_once() -> None:
        stream = file_stream(spark, MEDIA_INDEX, drop_dir,
                             max_files_per_trigger=10)
        assert stream.isStreaming
        q = start_stream(spark, MEDIA_INDEX, stream, index_dir, out_dir,
                         ckpt)
        q.awaitTermination(120)
        q.stop()

    # run 1: near-dup of index image 1 + a fresh image
    _write_batch(spark, drop_dir, [(101, "image", near_a),
                                   (102, "image", fresh_x)])
    run_once()
    out1 = {r["doc_id"]: r for r in
            spark.read.parquet(out_dir).collect()}
    assert out1[101]["disposition"] == "near_dup_of_index"
    assert out1[101]["match_cid"] == 1
    assert out1[101]["n_bands_hit"] >= 1
    assert out1[102]["disposition"] == "new_unique"
    # index grew by exactly the survivor
    ifp1, ib1 = read_index(spark, MEDIA_INDEX, index_dir)
    assert ifp1.count() == 3
    assert ifp1.filter(F.col("icid") == 102).count() == 1
    assert ib1.count() == 12

    # run 2 (same checkpoint): a re-crawl of run 1's survivor must now
    # be an exact dup OF THE INDEX — yesterday's novelty, today's dup
    _write_batch(spark, drop_dir, [(201, "image", fresh_x)])
    run_once()
    out2 = {r["doc_id"]: r for r in
            spark.read.parquet(out_dir).collect()}
    assert out2[201]["disposition"] == "exact_dup_of_index"
    assert out2[201]["match_cid"] == 102
    # nothing new appended (201 was a dup)
    ifp2, _ = read_index(spark, MEDIA_INDEX, index_dir)
    assert ifp2.count() == 3


def test_index_epoch_write_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch rewrites its own index directory
    instead of duplicating rows (ADVICE r10: plain appends inflated
    band-bucket counts toward PHASH_BUCKET_CAP on replay, silently
    disabling near-dup matching in those buckets)."""
    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import read_index, write_epoch

    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        [(1, "image", _payload("img-a"))],
        "cid long, modality string, payload binary")
    write_epoch(MEDIA_INDEX, corpus, index_dir)
    epoch = spark.createDataFrame(
        [(101, "image", _payload("img-x"))],
        "cid long, modality string, payload binary")
    write_epoch(MEDIA_INDEX, epoch, index_dir, 0)
    write_epoch(MEDIA_INDEX, epoch, index_dir, 0)  # the replay
    ifp, ib = read_index(spark, MEDIA_INDEX, index_dir)
    assert ifp.count() == 2  # base + ONE copy of the epoch
    assert ib.count() == 8  # 4 bands x 2 rows, not 12


def test_compaction_collapses_epochs_and_preserves_probe(spark, tmp_path):
    """compact folds per-epoch dirs into one co-partitioned
    base generation: epoch count drops to 1, row counts are unchanged,
    and a probe against the compacted index dispositions identically."""
    from pyspark.sql import functions as F

    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import (
        compact,
        epoch_count,
        file_stream,
        read_index,
        start_stream,
        write_epoch,
    )

    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(1, "image", _payload("img-a")), (2, "image", _payload("img-b"))],
        "cid long, modality string, payload binary")
    write_epoch(MEDIA_INDEX, corpus, index_dir)
    # 3 crawl increments -> 3 appended epochs (fresh payloads so every
    # batch appends survivors), one file per micro-batch
    for i in range(3):
        _write_batch(spark, drop_dir,
                     [(100 + i, "image", _payload(f"img-{i}"))])
    stream = file_stream(spark, MEDIA_INDEX, drop_dir,
                         max_files_per_trigger=1)
    q = start_stream(spark, MEDIA_INDEX, stream, index_dir, out_dir, ckpt)
    q.awaitTermination(120)
    q.stop()
    assert epoch_count(MEDIA_INDEX, index_dir) == 4  # base + 3 epochs
    ifp0, ib0 = read_index(spark, MEDIA_INDEX, index_dir)
    n_fp, n_b = ifp0.count(), ib0.count()
    probe = spark.createDataFrame(
        [(900, "image", _payload("img-1")),  # exact dup of epoch-1 row
         (901, "image", _tweak_img(_payload("img-a"))),  # near dup of base
         (902, "image", _payload("img-fresh"))],
        "cid long, modality string, payload binary")

    def disp() -> dict:
        index = read_index(spark, MEDIA_INDEX, index_dir)
        return {r["doc_id"]: (r["disposition"], r["match_cid"])
                for r in MEDIA_INDEX.probe(probe, index).collect()}

    before = disp()
    compact(spark, MEDIA_INDEX, index_dir, n_buckets=4)
    assert epoch_count(MEDIA_INDEX, index_dir) == 1
    ifp1, ib1 = read_index(spark, MEDIA_INDEX, index_dir)
    assert (ifp1.count(), ib1.count()) == (n_fp, n_b)
    assert disp() == before
    assert before[900] == ("exact_dup_of_index", 101)
    assert before[901][0] == "near_dup_of_index"
    assert before[902][0] == "new_unique"
    # the loop keeps working against the compacted generation: one more
    # increment re-crawling 902's payload must match the NEW epoch row
    _write_batch(spark, drop_dir, [(903, "image", _payload("img-fresh"))])
    _write_batch(spark, drop_dir, [(904, "image", _payload("img-fresh"))])
    stream = file_stream(spark, MEDIA_INDEX, drop_dir,
                         max_files_per_trigger=1)
    # compact_every=1: compaction runs after each of the two epochs
    q = start_stream(spark, MEDIA_INDEX, stream, index_dir, out_dir, ckpt,
                     compact_every=1)
    q.awaitTermination(120)
    q.stop()
    assert epoch_count(MEDIA_INDEX, index_dir) == 1
    out = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert out[903]["disposition"] == "new_unique"
    assert out[904]["disposition"] == "exact_dup_of_index"
    assert out[904]["match_cid"] == 903


def test_stream_probe_matches_batch_twin_rule(spark, tmp_path):
    """The stream's probe function applied to the replay fixture's
    batch-A slice must reproduce media_dedup_stream_replay's batch-1
    dispositions exactly — the stream and the oracle-checked twin share
    one rule set (probe logic is literally the same function; this pins
    the index/batch WIRING too)."""
    from pyspark.sql import functions as F

    from tank_spark.llm.media_inc import (
        INC_OFFSET,
        MEDIA_INDEX,
        _inc_media_corpus,
        media_dedup_stream_replay,
    )
    from tank_spark.streaming.epoch_index import read_index, write_epoch
    from tests.conftest import SF_DIR

    corpus = _inc_media_corpus(spark, SF_DIR)
    index_dir = str(tmp_path / "idx")
    write_epoch(MEDIA_INDEX, corpus.filter(F.col("cid") < INC_OFFSET),
                index_dir)
    bat_a = corpus.filter(
        (F.col("cid") >= INC_OFFSET) & (F.col("cid") < 2 * INC_OFFSET))
    index = read_index(spark, MEDIA_INDEX, index_dir)
    got = {
        r["doc_id"]: (r["modality"], r["disposition"], r["match_cid"],
                      r["n_bands_hit"])
        for r in MEDIA_INDEX.probe(bat_a, index).collect()
    }
    want = {
        r["doc_id"]: (r["modality"], r["disposition"], r["match_cid"],
                      r["n_bands_hit"])
        for r in media_dedup_stream_replay(spark, SF_DIR)
        .filter(F.col("batch_id") == 1).drop("batch_id").collect()
    }
    assert got == want


def test_media_stream_report_from_persisted_output(spark, tmp_path):
    """stream_report (the production report path) aggregates the
    loop's PERSISTED out_dir directly — no replay re-derivation: exact
    per-(epoch_id, modality, source) counts, day-normalized ppm shares
    that sum to ~1e6 within each group, and distinct-match counts, via
    the same curation_report_over core as the registered reports."""
    from pyspark.sql import functions as F

    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import stream_report

    out_dir = str(tmp_path / "out")
    # two epochs of disposition output, as the foreachBatch sink writes
    spark.createDataFrame(
        [(101, "image", "near_dup_of_index", 1, 2, 0),
         (102, "image", "new_unique", None, 0, 0),
         (103, "audio", "new_unique", None, 0, 0),
         (201, "image", "exact_dup_of_index", 102, 0, 1),
         (202, "image", "exact_dup_of_index", 102, 0, 1)],
        "doc_id long, modality string, disposition string, "
        "match_cid long, n_bands_hit int, epoch_id long",
    ).write.mode("append").parquet(out_dir)
    docs = spark.createDataFrame(
        [(101, "crawlA"), (102, "crawlA"), (103, "crawlB"),
         (201, "crawlA"), (202, "crawlA")],
        "orig long, source string")
    got = {
        (r["epoch_id"], r["modality"], r["source"], r["disposition"]):
            (r["n_docs"], r["share_ppm"], r["n_matched_distinct"])
        for r in stream_report(
            spark, MEDIA_INDEX, out_dir, docs,
            provenance=F.col("doc_id")).collect()
    }
    assert got == {
        (0, "image", "crawlA", "near_dup_of_index"): (1, 500000, 1),
        (0, "image", "crawlA", "new_unique"): (1, 500000, 0),
        (0, "audio", "crawlB", "new_unique"): (1, 1000000, 0),
        # epoch 1: both re-crawls matched the SAME survivor -> distinct 1
        (1, "image", "crawlA", "exact_dup_of_index"): (2, 1000000, 1),
    }


def test_media_stream_report_collapses_replayed_epochs(spark, tmp_path):
    """An at-least-once replay of an epoch's disposition append must
    not double-count in the production report — including the
    contradictory case where the replay ran after its survivors were
    folded into the index (new_unique flips to an exact-dup
    self-match); the duplicate-aware copy wins (review r11)."""
    from pyspark.sql import functions as F

    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import stream_report

    out_dir = str(tmp_path / "out")
    cols = ("doc_id long, modality string, disposition string, "
            "match_cid long, n_bands_hit int, epoch_id long")
    spark.createDataFrame(
        [(101, "image", "new_unique", None, 0, 0)], cols
    ).write.mode("append").parquet(out_dir)
    spark.createDataFrame(  # the replay, post-fold
        [(101, "image", "exact_dup_of_index", 101, 0, 0)], cols
    ).write.mode("append").parquet(out_dir)
    docs = spark.createDataFrame([(101, "crawlA")],
                                 "orig long, source string")
    rows = stream_report(
        spark, MEDIA_INDEX, out_dir, docs,
        provenance=F.col("doc_id")).collect()
    assert len(rows) == 1
    assert (rows[0]["disposition"], rows[0]["n_docs"],
            rows[0]["share_ppm"]) == ("exact_dup_of_index", 1, 1000000)


def test_interrupted_compaction_swap_autorecovers(spark, tmp_path):
    """Crash window between the compaction swap's two renames must
    auto-restore from .old on the next read (ADVICE r11; shared
    recovery helper across the families)."""
    import os

    from tank_spark.llm.media_inc import MEDIA_INDEX
    from tank_spark.streaming.epoch_index import read_index, write_epoch

    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        [(1, "image", _payload("img-a")), (2, "image", _payload("img-b"))],
        "cid long, modality string, payload binary")
    write_epoch(MEDIA_INDEX, corpus, index_dir)
    for rel in ("fp", "bands"):
        live = os.path.join(index_dir, rel)
        os.rename(live, live + ".old")
    ifp, ib = read_index(spark, MEDIA_INDEX, index_dir)
    assert ifp.count() == 2 and ib.count() == 8
