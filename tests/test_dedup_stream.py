"""Streaming incremental dedup (streaming/epoch_index.py driven with
dedup.TEXT_INDEX): the foreachBatch production loop — disposition each micro-batch against the
persisted index, append survivors so later epochs AND later runs dedup
against them. The batch twin dedup_incremental_stream_replay carries
the full DuckDB oracle; these tests drive the real streaming machinery
end-to-end on crafted corpora."""

from __future__ import annotations

import hashlib
import re


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _bands_twin(text: str) -> set[tuple[int, str]]:
    """Pure-Python band digests for the checked config (K=12, 6x2) —
    decides near-dup expectations instead of hardcoding them."""
    words = re.findall(r"[a-z0-9]+", text.lower())
    shingles = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
    if not shingles:
        return set()
    mins = [min(_md5(f"{s}:{i}") for s in shingles) for i in range(12)]
    return {(b, _md5(mins[2 * b] + mins[2 * b + 1])) for b in range(6)}


_IDX_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog near the riverbank "
       "today while herons wade through shallow water",
    2: "data pipelines shuffle partitions across executors while catalyst "
       "optimizes the logical plan into efficient physical stages",
}
_NEW_X = "completely different content about cooking pasta with fresh " \
         "basil and ripe tomatoes from the garden"
_NEW_Z = "another unrelated passage describing mountain weather patterns " \
         "and seasonal snowfall accumulation rates"


def _write_batch(spark, drop_dir: str, name: str, rows) -> None:
    # one parquet FILE per crawl increment: coalesce(1) then drop into
    # the watched dir via a single write (the file source picks it up
    # whole, so the increment is one micro-batch)
    df = spark.createDataFrame(rows, "cid long, text string")
    df.coalesce(1).write.mode("append").parquet(drop_dir)


def test_incremental_dedup_stream_e2e(spark, tmp_path):
    """Two runs over one checkpoint: run 1 dispositions a batch against
    the bootstrapped index and appends its new_unique survivor; run 2's
    batch then matches that survivor as exact_dup_of_index — the
    cross-run index-growth property the daily-crawl loop depends on."""
    from tank_spark.llm.dedup import TEXT_INDEX
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

    corpus = spark.createDataFrame(
        sorted(_IDX_TEXTS.items()), "cid long, text string")
    write_epoch(TEXT_INDEX, corpus, index_dir)
    ifp0, ib0 = read_index(spark, TEXT_INDEX, index_dir)
    assert ifp0.count() == 2
    assert ib0.count() == 12  # 6 bands x 2 docs

    def run_once() -> None:
        stream = file_stream(spark, TEXT_INDEX, drop_dir,
                             max_files_per_trigger=10)
        assert stream.isStreaming
        q = start_stream(spark, TEXT_INDEX, stream, index_dir, out_dir, ckpt)
        q.awaitTermination(120)
        q.stop()

    # ---- run 1: verbatim re-crawl + a new doc emitted twice
    _write_batch(spark, drop_dir, "b1", [
        (101, _IDX_TEXTS[1]), (102, _NEW_X), (103, _NEW_X)])
    run_once()
    out = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(out) == {101, 102, 103}
    assert out[101]["disposition"] == "exact_dup_of_index"
    assert out[101]["match_cid"] == 1
    assert out[102]["disposition"] == "new_unique"
    assert out[102]["match_cid"] is None
    assert out[103]["disposition"] == "dup_in_batch"
    assert out[103]["match_cid"] == 102

    # only the new_unique survivor joined the index
    ifp1, ib1 = read_index(spark, TEXT_INDEX, index_dir)
    assert {r["icid"] for r in ifp1.collect()} == {1, 2, 102}
    assert ib1.filter("icid = 102").count() == 6

    # ---- run 2 (same checkpoint): only the new file is processed; the
    # run-1 survivor is now index, so its re-crawl is an exact dup OF
    # THE INDEX, not new
    ext2 = _IDX_TEXTS[2] + " freshly crawled update note"
    _write_batch(spark, drop_dir, "b2", [
        (201, _NEW_X), (202, ext2), (203, _NEW_Z)])
    run_once()
    out = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(out) == {101, 102, 103, 201, 202, 203}
    assert out[201]["disposition"] == "exact_dup_of_index"
    assert out[201]["match_cid"] == 102
    # twin decides near vs new for the suffix-extended doc
    idx_bands = set()
    for t in (*_IDX_TEXTS.values(), _NEW_X):
        idx_bands |= _bands_twin(t)
    hit = _bands_twin(ext2) & idx_bands
    if hit:
        assert out[202]["disposition"] == "near_dup_of_index"
        assert out[202]["match_cid"] == 2
        assert out[202]["n_bands_hit"] == len({b for b, _ in hit})
    else:
        assert out[202]["disposition"] == "new_unique"
    assert out[203]["disposition"] == "new_unique"

    # epochs are recorded and distinct across the two runs
    epochs = {r["doc_id"]: r["epoch_id"]
              for r in spark.read.parquet(out_dir).collect()}
    assert epochs[101] != epochs[201]

    ifp2, _ = read_index(spark, TEXT_INDEX, index_dir)
    expect = {1, 2, 102, 203} | ({202} if not hit else set())
    assert {r["icid"] for r in ifp2.collect()} == expect


def test_disposition_batch_matches_batch_twin(spark, tmp_path):
    """TEXT_INDEX.probe (the streaming probe) must agree with
    dedup_incremental_batch's registered plan on the same derived
    corpus — same helper underneath, pinned here at the module
    boundary so a streaming-side refactor cannot drift."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tank_spark.llm.dedup import (
        INC_BATCH_OFFSET,
        TEXT_INDEX,
        _inc_corpus_df,
        dedup_incremental_batch,
    )

    texts = dict(_IDX_TEXTS)
    texts[15 + 3] = "verbatim recrawl target document with enough words " \
                    "for several shingles in play"
    ids = sorted(texts)
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array(["s"] * len(ids)),
        "lang": pa.array(["en"] * len(ids)),
        "text": pa.array([texts[i] for i in ids]),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    want = sorted(
        tuple(r) for r in dedup_incremental_batch(
            spark, str(tmp_path)).collect())
    c = _inc_corpus_df(spark, str(tmp_path))
    got = sorted(
        tuple(r) for r in TEXT_INDEX.probe(
            c.filter(F.col("cid") >= INC_BATCH_OFFSET),
            TEXT_INDEX.derive(c.filter(F.col("cid") < INC_BATCH_OFFSET)),
        ).collect())
    assert got == want


def test_disposition_handles_duplicate_batch_cids(spark):
    """A stream drop file does not guarantee unique cids: a duplicated
    batch cid must produce one disposition row per INPUT row (the old
    groupBy semantics), never a fanout through the in-batch probe
    (review r10: the first group-min rewrite emitted one inb row per
    qualifying bfp row, multiplying 2x2=4 rows for a duplicated cid).
    The media family runs the same probe."""
    from tank_spark.llm.dedup import disposition_against_index

    bfp = spark.createDataFrame(
        [(9, "fpA"), (9, "fpA"), (5, "fpA")], "bcid long, fp string")
    ifp = spark.createDataFrame([], "icid long, fp string")
    bb = spark.createDataFrame(
        [], "bcid long, band_idx int, band_val string")
    ib = spark.createDataFrame(
        [], "icid long, band_idx int, band_val string")
    rows = disposition_against_index(bfp, ifp, bb, ib).collect()
    assert len(rows) == 3  # one per input row, no multiplication
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(
            (r["disposition"], r["match_cid"]))
    assert by_id[9] == [("dup_in_batch", 5)] * 2
    assert by_id[5] == [("new_unique", None)]


def test_text_index_epoch_write_idempotent_and_compacts(spark, tmp_path):
    """The text streaming index shares the media twin's r11 layout: a
    replayed epoch rewrites its own directory instead of duplicating
    rows (duplicates inflated band-bucket counts toward LSH_BUCKET_CAP,
    silently disabling near-dup matching there), and compaction folds
    epoch dirs into one base generation with identical relations."""
    import os

    from tank_spark.llm.dedup import TEXT_INDEX
    from tank_spark.streaming.epoch_index import (
        compact,
        read_index,
        write_epoch,
    )

    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        sorted(_IDX_TEXTS.items()), "cid long, text string")
    write_epoch(TEXT_INDEX, corpus, index_dir)
    epoch = spark.createDataFrame([(101, _NEW_X)], "cid long, text string")
    write_epoch(TEXT_INDEX, epoch, index_dir, 0)
    write_epoch(TEXT_INDEX, epoch, index_dir, 0)  # the replay
    ifp, ib = read_index(spark, TEXT_INDEX, index_dir)
    assert ifp.count() == 3  # base 2 + ONE copy of the epoch
    assert ib.count() == 18  # 6 bands x 3 docs, not 24
    before_fp = sorted(tuple(r) for r in ifp.collect())
    before_b = sorted(tuple(r) for r in ib.collect())
    compact(spark, TEXT_INDEX, index_dir, n_buckets=4)
    dirs = [d for d in os.listdir(os.path.join(index_dir, "bands"))
            if d.startswith("epoch_id=")]
    assert dirs == ["epoch_id=-1"]
    ifp2, ib2 = read_index(spark, TEXT_INDEX, index_dir)
    assert sorted(tuple(r) for r in ifp2.collect()) == before_fp
    assert sorted(tuple(r) for r in ib2.collect()) == before_b


def test_text_stream_report_from_persisted_output(spark, tmp_path):
    """stream_report (the production report path) aggregates the
    loop's PERSISTED out_dir directly, keyed per (epoch_id, source) —
    same curation_report_over core as the registered reports."""
    from pyspark.sql import functions as F

    from tank_spark.llm.dedup import TEXT_INDEX
    from tank_spark.streaming.epoch_index import stream_report

    out_dir = str(tmp_path / "out")
    spark.createDataFrame(
        [(11, "new_unique", None, 0, 0),
         (12, "exact_dup_of_index", 1, 0, 0),
         (21, "exact_dup_of_index", 11, 0, 1),
         (22, "near_dup_of_index", 11, 3, 1)],
        "doc_id long, disposition string, match_cid long, "
        "n_bands_hit int, epoch_id long",
    ).write.mode("append").parquet(out_dir)
    docs = spark.createDataFrame(
        [(11, "web"), (12, "web"), (21, "web"), (22, "books")],
        "orig long, source string")
    got = {
        (r["epoch_id"], r["source"], r["disposition"]):
            (r["n_docs"], r["share_ppm"], r["n_matched_distinct"])
        for r in stream_report(
            spark, TEXT_INDEX, out_dir, docs,
            provenance=F.col("doc_id")).collect()
    }
    assert got == {
        (0, "web", "new_unique"): (1, 500000, 0),
        (0, "web", "exact_dup_of_index"): (1, 500000, 1),
        (1, "web", "exact_dup_of_index"): (1, 1000000, 1),
        (1, "books", "near_dup_of_index"): (1, 1000000, 1),
    }


def test_text_stream_report_collapses_replayed_epochs(spark, tmp_path):
    """The text production report shares the replay-collapse posture:
    one row per (epoch_id, doc_id), duplicate-aware copy wins
    (review r11)."""
    from pyspark.sql import functions as F

    from tank_spark.llm.dedup import TEXT_INDEX
    from tank_spark.streaming.epoch_index import stream_report

    out_dir = str(tmp_path / "out")
    cols = ("doc_id long, disposition string, match_cid long, "
            "n_bands_hit int, epoch_id long")
    spark.createDataFrame(
        [(7, "new_unique", None, 0, 3)], cols
    ).write.mode("append").parquet(out_dir)
    spark.createDataFrame(  # the replay, post-fold
        [(7, "exact_dup_of_index", 7, 0, 3)], cols
    ).write.mode("append").parquet(out_dir)
    docs = spark.createDataFrame([(7, "web")], "orig long, source string")
    rows = stream_report(
        spark, TEXT_INDEX, out_dir, docs,
        provenance=F.col("doc_id")).collect()
    assert len(rows) == 1
    assert (rows[0]["disposition"], rows[0]["n_docs"],
            rows[0]["share_ppm"]) == ("exact_dup_of_index", 1, 1000000)


def test_interrupted_compaction_swap_autorecovers(spark, tmp_path):
    """Crash window between the compaction swap's two renames: fp/ (or
    bands/) missing with a surviving .old must auto-restore on the next
    read (ADVICE r11; shared recovery helper across the families)."""
    import os

    from tank_spark.llm.dedup import TEXT_INDEX
    from tank_spark.streaming.epoch_index import read_index, write_epoch

    index_dir = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        sorted(_IDX_TEXTS.items()), "cid long, text string")
    write_epoch(TEXT_INDEX, corpus, index_dir)
    for rel in ("fp", "bands"):
        live = os.path.join(index_dir, rel)
        os.rename(live, live + ".old")
    ifp, ib = read_index(spark, TEXT_INDEX, index_dir)
    assert ifp.count() == 2 and ib.count() > 0
