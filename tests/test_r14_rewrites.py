"""Equivalence pins for the r14 optimization rewrites: every rewrite
this round replaced a relational shape with a cheaper one that must
produce the IDENTICAL row multiset (candidate pairs, corpora, enriched
kernels). These tests pin each rewrite against its original form built
inline, so a future edit cannot silently fork the semantics."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- media

def test_media_fp_kernel_matches_hash_kernel_plus_fp(spark):
    """_media_hash_fp_kernel == _media_hash_kernel joined with the
    JVM-side lower(hex(payload)) fp, with fp kept for EVERY input row
    (phash NULL on kernel drops)."""
    from tank_spark.llm.media_inc import (_hashed_media, _hashed_media_fp,
                                          _inc_media_corpus)

    corpus = _inc_media_corpus(spark, SF_DIR)
    enriched = _hashed_media_fp(spark, corpus)
    hashed = _hashed_media(spark, corpus)
    fps = corpus.select("cid", "modality",
                        F.lower(F.hex("payload")).alias("fp"))
    expected = fps.join(hashed.select("cid", "phash"), "cid", "left") \
        .select("cid", "modality", "phash", "fp")
    assert _sorted_rows(enriched) == _sorted_rows(expected)
    # fp must cover every corpus row
    assert enriched.count() == corpus.count()


def test_media_fp_kernel_null_phash_on_dropped_rows(monkeypatch):
    """Rows the hash kernels drop (too-short payload) keep their fp
    with a NULL phash — the fp-only consumers must still see them — and
    a full-width 64-bit hash beside a dropped row survives exactly: the
    left merge must not route phash through float64 (which rounds
    -6917529027641081855 to -6917529027641081856)."""
    from tank_spark.llm import media_inc

    pdf = pd.DataFrame({
        "doc_id": pd.Series([1, 2], dtype="int64"),
        "modality": ["image", "image"],
        # row 1: full 32-byte stub; row 2: too short -> dropped
        "payload": [bytes(range(32)), b"\x01\x02"],
    })
    out = pd.concat(list(media_inc._media_hash_fp_kernel(iter([pdf]))))
    assert list(out["doc_id"]) == [1, 2]
    assert out["fp"].iloc[0] == bytes(range(32)).hex()
    assert out["fp"].iloc[1] == b"\x01\x02".hex()
    assert not pd.isna(out["phash"].iloc[0])
    assert pd.isna(out["phash"].iloc[1])

    high = -6917529027641081855
    real = media_inc._hash_pdf

    def hash_pdf(pdf, dispatch):
        out = real(pdf, dispatch)
        out["phash"] = pd.Series([high] * len(out), dtype="int64")
        return out

    monkeypatch.setattr(media_inc, "_hash_pdf", hash_pdf)
    out = pd.concat(list(media_inc._media_hash_fp_kernel(iter([pdf]))))
    assert int(out["phash"].iloc[0]) == high
    assert pd.isna(out["phash"].iloc[1])


# ----------------------------------------------------------------- text

def test_fp_banded_matches_two_pass_form(spark):
    """_fp_banded's exploded bands == _bands_df(_sigs_map_only(c)) and
    its fp column covers every corpus row (including docs with no
    3-word shingle, which must have an EMPTY bands array)."""
    from tank_spark.llm.dedup import (K, _bands_df, _fp_banded,
                                      _inc_corpus_df, _sigs_map_only)

    c = _inc_corpus_df(spark, SF_DIR)
    enriched = _fp_banded(c)
    got_bands = enriched.select(
        "cid", F.posexplode("bands").alias("band_idx", "band_val"))
    want_bands = _bands_df(_sigs_map_only(c, K, 1))
    assert _sorted_rows(got_bands) == _sorted_rows(want_bands)
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    want_fps = c.select("cid", fp.alias("fp"))
    assert _sorted_rows(enriched.select("cid", "fp")) == \
        _sorted_rows(want_fps)


# ------------------------------------------------- inline-array corpora

def test_inc_corpus_inline_matches_union_form(spark):
    """dedup._inc_corpus_df (inline array) == the original 5-leg union."""
    from tank_spark.llm.dedup import INC_BATCH_OFFSET, _inc_corpus_df
    from tank_spark.sources.tables import load

    d = load(spark, SF_DIR, "documents")
    base = d.select(F.col("doc_id").alias("cid"), "text")
    recrawl = d.filter(F.col("doc_id") % 15 == 3).select(
        (F.col("doc_id") + INC_BATCH_OFFSET).alias("cid"), "text")
    extended = d.filter(F.col("doc_id") % 15 == 8).select(
        (F.col("doc_id") + INC_BATCH_OFFSET).alias("cid"),
        F.concat(F.col("text"), F.lit(" freshly crawled update note"))
        .alias("text"))
    new_text = F.concat_ws(
        " ", F.md5("text"),
        *[F.md5(F.concat(F.col("text"), F.lit(f"n{i}"))) for i in range(2, 6)])
    fresh = d.filter(F.col("doc_id") % 15 == 13)
    legs = base.unionByName(recrawl).unionByName(extended).unionByName(
        fresh.select((F.col("doc_id") + INC_BATCH_OFFSET).alias("cid"),
                     new_text.alias("text"))).unionByName(
        fresh.select((F.col("doc_id") + 2 * INC_BATCH_OFFSET).alias("cid"),
                     new_text.alias("text")))
    assert _sorted_rows(_inc_corpus_df(spark, SF_DIR)) == _sorted_rows(legs)


def test_sem_corpus_inline_matches_union_form(spark):
    """semdedup_inc._sem_corpus (inline array) == the original 5-leg
    union, bit-exact embeddings included."""
    from tank_spark.llm.semdedup_inc import (DIM, INC_OFFSET, SEM_BUMP,
                                             _sem_corpus)
    from tank_spark.sources.tables import load

    e = load(spark, SF_DIR, "embeddings")
    base = e.select(F.col("vec_id").alias("vid"), "embedding")
    recrawl = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + INC_OFFSET).alias("vid"), "embedding")
    bumped = F.expr(
        f"transform(embedding, (x, i) -> "
        f"IF(i = CAST(vec_id % {DIM} AS INT), "
        f"CAST(CAST(x AS DOUBLE) + CAST({SEM_BUMP!r} AS DOUBLE) AS FLOAT), "
        f"x))")
    near = e.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + INC_OFFSET).alias("vid"),
        bumped.alias("embedding"))
    h = F.concat(*[
        F.md5(F.concat(F.lit("sem:"), F.col("vec_id").cast("string"),
                       F.lit(f":{i}")))
        for i in range(4)])
    fresh_vec = F.expr(
        f"transform(sequence(1, {DIM}), j -> "
        f"CAST((CAST(conv(substring(h, 2*j-1, 2), 16, 10) AS INT) - 128) "
        f"/ CAST(256.0 AS DOUBLE) AS FLOAT))")
    fr = (e.filter(F.col("vec_id") % 5 == 2).withColumn("h", h)
          .select("vec_id", fresh_vec.alias("embedding")))
    legs = base.unionByName(recrawl).unionByName(near).unionByName(
        fr.select((F.col("vec_id") + INC_OFFSET).alias("vid"), "embedding")
    ).unionByName(
        fr.select((F.col("vec_id") + 2 * INC_OFFSET).alias("vid"),
                  "embedding"))
    got = [(r[0], tuple(r[1])) for r in _sem_corpus(spark, SF_DIR).collect()]
    want = [(r[0], tuple(r[1])) for r in legs.collect()]
    assert sorted(got) == sorted(want)


@pytest.mark.parametrize("builder,sel_mod,byte_idx,delta", [
    ("phash_media", 0, 7, 8), ("fingerprint_media", 1, 15, 4),
    ("signature_media", 2, 11, 8)])
def test_media_variants_inline_matches_union_form(spark, builder,
                                                  sel_mod, byte_idx, delta):
    """_with_variants (inline array) == base + every-5th tweaked union
    for all three perceptual-hash slices."""
    import tank_spark.llm.audio as A
    import tank_spark.llm.multimodal as M
    import tank_spark.llm.video as V
    from tank_spark.llm.multimodal import VARIANT_OFFSET, media_df

    mods = {"phash_media": (M.phash_media, "image/png"),
            "fingerprint_media": (A.fingerprint_media, "audio/wav"),
            "signature_media": (V.signature_media, "video/mp4")}
    fn, mt = mods[builder]
    m = (media_df(spark, SF_DIR)
         .filter(F.col("meta.media_type") == mt)
         .select("doc_id", "payload"))
    b = F.conv(F.hex(F.substring("payload", byte_idx + 1, 1)),
               16, 10).cast("int")
    tweaked = F.concat(
        F.substring("payload", 1, byte_idx),
        F.unhex(F.lpad(F.hex((b + delta) % 256), 2, "0")),
        F.substring("payload", byte_idx + 2, 32 - byte_idx - 1))
    legs = m.unionByName(
        m.filter(F.col("doc_id") % 15 == sel_mod)
        .select((F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
                tweaked.alias("payload")))
    assert _sorted_rows(fn(spark, SF_DIR)) == _sorted_rows(legs)


# -------------------------------------------------- bucket pair expansion

def test_bucket_grouped_pairs_matches_self_join(spark):
    """_bucket_grouped_pairs == the same-bucket self-join on a synthetic
    banded frame with shared, singleton and multi-member buckets."""
    from tank_spark.llm.dedup import _bucket_grouped_pairs

    rows = [  # (cid, band_idx, band_val)
        (1, 0, "a"), (2, 0, "a"), (3, 0, "a"),       # triangle bucket
        (1, 1, "b"), (4, 1, "b"),                     # pair bucket
        (5, 2, "c"),                                  # singleton
        (2, 3, "d"), (4, 3, "d"),                     # second pair
        (1, 4, "e"), (2, 4, "e"),                     # duplicate pair (1,2)
    ]
    bands = spark.createDataFrame(rows, "cid long, band_idx int, band_val string")
    got = _sorted_rows(_bucket_grouped_pairs(bands, "cid", "cid_a", "cid_b",
                                             cap=3))
    a, b = bands.alias("a"), bands.alias("b")
    want = _sorted_rows(
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.cid") < F.col("b.cid")))
        .select(F.col("a.cid").alias("cid_a"), F.col("b.cid").alias("cid_b"))
        .distinct())
    assert got == want
    assert (1, 2) in got and (2, 4) in got and len(got) == len(set(got))


def test_bucket_grouped_pairs_drops_buckets_over_cap(spark):
    """The skew cap is enforced where the quadratic happens: a bucket of
    cap + 1 ids emits NO pairs (never collected into one in-row array),
    while a 2-id bucket still yields its pair."""
    from tank_spark.llm.dedup import _bucket_grouped_pairs

    cap = 4
    rows = [(i, 0, "hot") for i in range(10, 10 + cap + 1)]  # cap + 1 ids
    rows += [(1, 1, "ok"), (2, 1, "ok")]
    bands = spark.createDataFrame(rows, "cid long, band_idx int, band_val string")
    got = _sorted_rows(_bucket_grouped_pairs(bands, "cid", "cid_a", "cid_b",
                                             cap=cap))
    assert got == [(1, 2)]
