"""The shared incremental-dedup index (streaming/epoch_index.py): the
layout rules every family inherits from the one primitive, checked for
each spec — text (dedup.TEXT_INDEX), media (media_inc.MEDIA_INDEX) and
semantic (semdedup_inc.semantic_index). The per-family stream tests
(test_dedup_stream.py, test_media_dedup_stream.py,
test_semdedup_stream.py) drive the loop end to end."""

from __future__ import annotations

import os

import pytest

from tests.test_dedup_stream import _IDX_TEXTS, _NEW_X
from tests.test_media_dedup_stream import _payload
from tests.test_semdedup_stream import FRESH_X, VEC_A

FAMILIES = ("text", "media", "semantic")


def _family(spark, name: str):
    """(spec, corpus, fresh epoch, all-dup batch, index row counts per
    relation after corpus + fresh epoch) for one family."""
    if name == "text":
        from tank_spark.llm.dedup import TEXT_INDEX

        schema = "cid long, text string"
        rows = (TEXT_INDEX, [(1, _IDX_TEXTS[1])], [(101, _NEW_X)],
                [(101, _IDX_TEXTS[1])], (2, 12))  # 6 bands x 2 docs
    elif name == "media":
        from tank_spark.llm.media_inc import MEDIA_INDEX

        schema = "cid long, modality string, payload binary"
        pay = _payload("img-a")
        rows = (MEDIA_INDEX, [(1, "image", pay)],
                [(101, "image", _payload("img-x"))],
                [(101, "image", pay)], (2, 8))  # 4 bands x 2 rows
    else:
        from tank_spark.llm.semdedup_inc import semantic_index

        schema = "vid long, embedding array<float>"
        rows = (semantic_index(), [(1, VEC_A)], [(101, FRESH_X)],
                [(101, VEC_A)], (2,))
    spec, corpus, fresh, dup, counts = rows
    return (spec, *(spark.createDataFrame(r, schema)
                    for r in (corpus, fresh, dup)), counts)


@pytest.mark.parametrize("family", FAMILIES)
def test_flat_layout_migrates(spark, tmp_path, family):
    """An index bootstrapped by the pre-r11 FLAT layout (part files
    directly under each relation root) must keep working when the
    stream resumes: the first epoch write / read migrates the flat
    files into the base generation instead of tripping Spark's
    'Conflicting directory structures' partition-discovery error
    (review r11)."""
    from tank_spark.streaming.epoch_index import read_index, write_epoch

    spec, corpus, fresh, _, counts = _family(spark, family)
    index_dir = str(tmp_path / "index")
    # the OLD layout: flat writes to the relation roots
    for rel, df in zip(spec.relations, spec.derive(corpus)):
        df.write.parquet(os.path.join(index_dir, rel.name))
    write_epoch(spec, fresh, index_dir, 0)  # migrates, then writes
    got = tuple(df.count() for df in read_index(spark, spec, index_dir))
    assert got == counts
    for rel in spec.relations:
        assert not any(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(index_dir, rel.name)))


@pytest.mark.parametrize("family", FAMILIES)
def test_all_dup_batch_writes_no_epoch_dir(spark, tmp_path, family):
    """A batch with zero new_unique survivors must not write an index
    epoch at all (review r11): besides avoiding empty directories, the
    skip is load-bearing for crash safety — a replay landing after a
    partially-swapped compaction re-dispositions as all-dup, and an
    unconditional overwrite would replace the epoch's only surviving
    rows with an empty dir."""
    from tank_spark.streaming.epoch_index import (
        epoch_count,
        file_stream,
        start_stream,
        write_epoch,
    )

    spec, corpus, _, dup, _ = _family(spark, family)
    index_dir = str(tmp_path / "index")
    drop_dir = str(tmp_path / "drop")
    write_epoch(spec, corpus, index_dir)
    dup.coalesce(1).write.parquet(drop_dir)  # an exact re-crawl
    q = start_stream(spark, spec, file_stream(spark, spec, drop_dir),
                     index_dir, str(tmp_path / "out"),
                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [r["disposition"] for r in out] == [spec.precedence[0]]
    assert epoch_count(spec, index_dir) == 1  # base only, no epoch dir
