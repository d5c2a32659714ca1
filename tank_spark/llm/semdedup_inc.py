"""Incremental (delta) SEMANTIC dedup — SemDeDup at crawl cadence.

The third incremental pillar: the text family dispositions each crawl
increment against a MinHash index (dedup.dedup_incremental_batch), the
media family against a perceptual-hash index (media_inc), and this
module against a SEMANTIC index — the corpus' embeddings bucketed by
the frozen trained IVF quantizer (llm/ivf_frozen.py, the committed
output of tools/freeze_ivf_centroids.py). A new batch of embeddings is
dispositioned WITHOUT pairwise work on the corpus:

  semantic_dup_of_index — cosine >= SEM_INC_TAU against some index
                          vector found in the batch row's SEM_NPROBE
                          routed lists (IVF probe, not a scan)
  dup_in_batch          — an EARLIER batch row (lower vid) in the same
                          top-1 list is cosine-similar at the threshold
  new_unique            — none of the above

Production pattern: the index side is the persisted artifact of
semdedup_index_build — every corpus vector's frozen-quantizer list
assignment plus its hoisted inverse norm (the SemDeDup arithmetic's
per-vector half, computed once at index time, not per probe). Each
crawl increment routes its vectors to their SEM_NPROBE nearest lists
(map-only literal quantizer — the ivf_trained_probe_search serving
path), joins ONLY those lists' index rows with the batch side
BROADCAST, and verifies with the exact sequential-fold cosine. The
probe never shuffles the corpus; candidate count per batch row is
bounded by its routed lists' sizes. At 100 TB nlist scales with the
corpus (the flat literal quantizer holds to ~10^3 lists and the frozen
two-level quantizer extends the same map-only posture to ~10^5 —
SCALE.md "Round-11: the nlist-ceiling escape hatch"), so list sizes — and therefore
per-row probe cost — stay bounded as the corpus grows.

Why this family carries FULL DuckDB oracles while SemDeDup's training
cousins are rows-only: given FROZEN centroids, routing and cosine are
exact double arithmetic on both engines (the classifier.FROZEN_LR /
ivf_trained_probe_search argument), and the derived batch below is
exact by construction.

The derived batch (the text/media families' convention) exercises every
disposition deterministically: verbatim re-crawls (every 5th corpus
vector, orig % 5 == 0), near-dup copies (orig % 5 == 1, ONE element
bumped by +0.0625 — a power of two, so the float arithmetic is
bit-portable; measured cosine vs the original ~0.9987 against a natural
corpus max pair cosine of ~0.51), and fresh synthetic vectors
(orig % 5 == 2, derived from md5 bytes — exact integers over 256 — and
emitted TWICE so the second lands dup_in_batch).

The entries are pinned by oracle parity at both the driver SF (sf0.01,
tests/test_semdedup_inc.py) and the pytest SF (sf0.001,
tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark.llm import media_sql
from tank_spark.llm.similarity import (
    DIM,
    _dot_cols,
    _dot_sql,
    _frozen_cent_cte,
    _frozen_score_structs,
)
from tank_spark.plans.registry import register
from tank_spark.sources.tables import load
from tank_spark.streaming.epoch_index import IndexSpec, Relation

# one id-offset convention for every incremental surface
INC_OFFSET = media_sql.INC_OFFSET

SEM_INC_TAU = 0.90   # dup threshold: planted near-dups ~0.9987, natural
                     # corpus max pair cosine ~0.51 — wide margins both ways
SEM_NPROBE = 2       # routed lists per batch vector (the N_PROBE default)
SEM_BUMP = 0.0625    # planted near-dup delta (2^-4: bit-portable floats)

_HEX = "0123456789abcdef"


# ------------------------------------------------------- derived corpus

def _fresh_h_sql(idcol: str) -> str:
    """128-char hex keystream for the fresh synthetic vector of
    ``idcol`` — four salted md5s, identical text in both engines."""
    return " || ".join(
        f"md5('sem:' || CAST({idcol} AS VARCHAR) || ':{i}')"
        for i in range(4))


def _fresh_vec_sql(h: str) -> str:
    """byte_j of the keystream mapped to (b-128)/256 as FLOAT — exact
    small rationals with a power-of-two denominator, so the cast is
    lossless and the value engine-identical."""
    return (
        f"list_transform(generate_series(1, {DIM}), j -> "
        f"CAST(CAST((strpos('{_HEX}', substr({h}, 2*j-1, 1)) - 1) * 16 "
        f"+ strpos('{_HEX}', substr({h}, 2*j, 1)) - 1 - 128 AS DOUBLE) "
        f"/ CAST(256.0 AS DOUBLE) AS FLOAT))"
    )


_SEM_CORPUS_CTE = f"""semcorp AS (
  SELECT vec_id AS vid, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {INC_OFFSET} AS vid, embedding
  FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + {INC_OFFSET} AS vid,
         list_transform(generate_series(1, {DIM}), j ->
           CASE WHEN j = vec_id % {DIM} + 1
                THEN CAST(embedding[j]::DOUBLE
                          + CAST({SEM_BUMP!r} AS DOUBLE) AS FLOAT)
                ELSE embedding[j] END) AS embedding
  FROM embeddings WHERE vec_id % 5 = 1
  UNION ALL
  SELECT vec_id + {INC_OFFSET} AS vid, embedding FROM (
    SELECT vec_id, {_fresh_vec_sql(_fresh_h_sql('vec_id'))} AS embedding
    FROM embeddings WHERE vec_id % 5 = 2)
  UNION ALL
  SELECT vec_id + {2 * INC_OFFSET} AS vid, embedding FROM (
    SELECT vec_id, {_fresh_vec_sql(_fresh_h_sql('vec_id'))} AS embedding
    FROM embeddings WHERE vec_id % 5 = 2)
)"""


def _fresh_vec_col():
    """Spark mirror of _fresh_vec_sql over a string column ``h`` —
    conv() instead of strpos, same exact integers."""
    return F.expr(
        f"transform(sequence(1, {DIM}), j -> "
        f"CAST((CAST(conv(substring(h, 2*j-1, 2), 16, 10) AS INT) - 128) "
        f"/ CAST(256.0 AS DOUBLE) AS FLOAT))")


def _sem_corpus_rows():
    """The semantic crawl emission as ONE memoized
    inline(filter(array(structs))) Column over a (vec_id, embedding,
    _h) projection (r14, the media_inc._inc_corpus_rows shape):
    replaces the 5-leg unionByName, which fanned the scan to 5x the
    table's partition count and cost ~0.3 s of py4j DataFrame assembly
    per serve. ``_h`` is the fresh-vector hex keystream, materialized
    in the projection step (NULL off the %5==2 slice) so the 4-md5
    concat is never recomputed inside the 64-element transform. Values
    are identical leg by leg; only row order differs (every consumer
    joins/aggregates)."""
    from tank_spark.util import memo_col

    def build():
        vid = F.col("vec_id")
        emb = F.col("embedding")
        bumped = F.expr(
            f"transform(embedding, (x, i) -> "
            f"IF(i = CAST(vec_id % {DIM} AS INT), "
            f"CAST(CAST(x AS DOUBLE) + CAST({SEM_BUMP!r} AS DOUBLE) "
            f"AS FLOAT), x))")
        fresh = F.expr(
            f"transform(sequence(1, {DIM}), j -> "
            f"CAST((CAST(conv(substring(_h, 2*j-1, 2), 16, 10) AS INT) "
            f"- 128) / CAST(256.0 AS DOUBLE) AS FLOAT))")
        m5 = vid % 5

        def row(v, e_):
            return F.struct(v.alias("vid"), e_.alias("embedding"))

        elems = F.array(
            row(vid, emb),
            F.when(m5 == 0, row(vid + INC_OFFSET, emb)),
            F.when(m5 == 1, row(vid + INC_OFFSET, bumped)),
            F.when(m5 == 2, row(vid + INC_OFFSET, fresh)),
            F.when(m5 == 2, row(vid + 2 * INC_OFFSET, fresh)),
        )
        return F.inline(F.filter(elems, lambda s: s.isNotNull()))

    return memo_col(("sem_corpus_rows", INC_OFFSET, DIM, SEM_BUMP), build)


def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vid, embedding): base corpus (vid = vec_id) plus the derived
    crawl increment (vid >= INC_OFFSET) — the Spark mirror of
    _SEM_CORPUS_CTE, column expressions only (no Python in the path)."""
    e = load(spark, sf_dir, "embeddings")
    h = F.concat(*[
        F.md5(F.concat(F.lit("sem:"), F.col("vec_id").cast("string"),
                       F.lit(f":{i}")))
        for i in range(4)])
    step1 = e.select(
        "vec_id", "embedding",
        F.when(F.col("vec_id") % 5 == 2, h).alias("_h"))
    return step1.select(_sem_corpus_rows())


# --------------------------------------------- index/route projections

def _quantizer_cols(spark: SparkSession, quantizer: str):
    """(top1_col, routes_fn): the assignment Column and a
    routes(nprobe) -> Column factory for the chosen quantizer.

    - "frozen":   the flat k=8 trained literal (llm/ivf_frozen.py) —
      the registered entries' quantizer, full-oracle-exact.
    - "twolevel": the routed k=64 two-level literal
      (llm/ivf_frozen2.py) — the at-scale shape (per-row cost
      O((n_coarse + |group|)*DIM) instead of O(k*DIM), list sizes 8x
      smaller at this freeze). Same map-only posture; the incremental
      probe's candidate count per batch row shrinks with list size,
      which is THE knob that keeps crawl-cadence semantic dedup linear
      as the corpus grows (measured in SCALE.md "r11 (late, second
      pass): the nlist dial measured INSIDE the incremental family").
    """
    if quantizer == "frozen":
        arr = _frozen_score_structs(spark)

        def routes(nprobe: int):
            return F.transform(F.slice(F.array_sort(arr), 1, nprobe),
                               lambda s: s["centroid_id"])

        return F.array_min(arr)["centroid_id"], routes
    if quantizer == "twolevel":
        from tank_spark.llm.similarity import (
            W_COARSE,
            _frozen2_assign_col,
            _frozen2_exprs,
            _literal_score,
        )

        coarse, fine = _frozen2_exprs(spark)
        top1 = _frozen2_assign_col(spark)

        def routes(nprobe: int):
            # the two-level ASSIGNMENT picks within the top-1 coarse
            # group only, while the flatten-and-sort route ranking spans
            # W_COARSE groups — so a vector's own assigned list can rank
            # below nprobe in its own route set (measured: 17% of
            # IDENTICAL re-crawls missed their original at this freeze).
            # Prepending the assignment restores the flat-quantizer
            # invariant that a vector always probes its own list, which
            # is what makes exact re-crawl detection unconditional.
            top = F.slice(
                F.array_sort(F.transform(coarse, _literal_score)),
                1, W_COARSE)
            fine_concat = F.flatten(F.transform(
                top,
                lambda s: F.element_at(
                    fine, (s["centroid_id"] + 1).cast("int"))))
            rank_arr = F.transform(fine_concat, _literal_score)
            cand = F.transform(F.slice(F.array_sort(rank_arr), 1, nprobe),
                               lambda p: p["centroid_id"])
            return F.slice(
                F.array_distinct(F.concat(F.array(top1), cand)),
                1, nprobe)

        return top1, routes
    raise ValueError(f"unknown quantizer: {quantizer!r}")


def _inv_norm_col():
    """Memoized hoisted-inverse-norm Column (r14 planning cost: one
    _dot_cols is ~70 ms of py4j lambda assembly, re-paid per serve)."""
    from tank_spark.util import memo_col

    return memo_col(("sem_inv_norm",), lambda: 1.0 / F.sqrt(
        _dot_cols(F.col("embedding"), F.col("embedding"))))


def scored_relation(spark: SparkSession, rel: DataFrame,
                    quantizer: str = "frozen") -> DataFrame:
    """(vid, list_id, embedding, inv): ONE map-only projection computes
    the quantizer's top-1 assignment AND the hoisted inverse norm —
    no join between assignment and norm relations, so the corpus never
    shuffles to build its index shape. This is the persisted-artifact
    schema the streaming loop writes (semantic_index)."""
    top1, _ = _quantizer_cols(spark, quantizer)
    inv = _inv_norm_col()
    return rel.select(
        "vid", top1.alias("list_id"), "embedding", inv.alias("inv"))


def routed_relation(spark: SparkSession, rel: DataFrame,
                    nprobe: int = SEM_NPROBE,
                    quantizer: str = "frozen") -> DataFrame:
    """(vid, list_id, embedding, inv) with ``nprobe`` rows per vector —
    the batch side's routing, exploded so the probe is one equi-join on
    list_id. Same map-only literal quantizer; array_sort over
    (score, centroid_id) structs == the oracle's ROW_NUMBER ordering.

    The twolevel quantizer takes the STRUCTURE-SHARED path below (same
    routes, measured 1.4x faster); the frozen flat quantizer's routes()
    is already a single scored pass, nothing to share."""
    if quantizer == "twolevel":
        return _routed_twolevel(spark, rel, nprobe)
    from tank_spark.util import memo_col

    route_col = memo_col(
        ("sem_routes", spark.sparkContext.applicationId, quantizer,
         nprobe),
        lambda: F.explode(_quantizer_cols(spark, quantizer)[1](nprobe)))
    return rel.select(
        "vid", route_col.alias("list_id"), "embedding",
        _inv_norm_col().alias("inv"))


def _routed_twolevel(spark: SparkSession, rel: DataFrame,
                     nprobe: int) -> DataFrame:
    """The two-level routing with its arithmetic structurally SHARED:
    coarse scores computed once, each routed group's fine list scored
    once, and the top-1 assignment read from group 1's scored prefix
    (group 1 of the sorted coarse ranking IS the assignment's coarse
    argmin, and array_min over (score, centroid_id) structs == the
    sort's first element, ties included) instead of re-deriving the
    whole assignment expression tree inside the route set. The
    two-step select keeps the non-cheap scored-groups array out of
    CollapseProject's inlining, so it is evaluated once per row where
    the routes()-factory form evaluates the coarse scores and group-1
    fine scores twice (~2*n_coarse + (W_COARSE+1)*k_fine literal-dot
    folds per row down to n_coarse + W_COARSE*k_fine).

    ROUTES ARE IDENTICAL to _quantizer_cols("twolevel")'s routes() —
    pinned by test_twolevel_routed_paths_identical and verified on the
    sf0.1 derived corpus at registration of this path (3200/3200
    (vid, list_id) pairs equal; interleaved A/B medians 0.86s vs 1.20s
    for the projection). The oracle (_sem2_ctes) is untouched: same
    routes -> same probe -> same rows."""
    from tank_spark.llm.similarity import (W_COARSE, _frozen2_exprs,
                                           _literal_score)

    from tank_spark.util import memo_col

    def build_sg():
        coarse, fine = _frozen2_exprs(spark)
        top = F.slice(F.array_sort(F.transform(coarse, _literal_score)),
                      1, W_COARSE)
        return F.transform(
            top, lambda s: F.transform(
                F.element_at(fine, (s["centroid_id"] + 1).cast("int")),
                _literal_score))

    def build_routes():
        top1 = F.array_min(F.element_at(F.col("_sg"), 1))["centroid_id"]
        rank_arr = F.flatten(F.col("_sg"))
        cand = F.transform(F.slice(F.array_sort(rank_arr), 1, nprobe),
                           lambda p: p["centroid_id"])
        return F.explode(F.slice(
            F.array_distinct(F.concat(F.array(top1), cand)), 1, nprobe))

    # both Columns memoized (r14): the scored-groups / route lambdas
    # cost ~0.3 s of py4j assembly per serve; keyed like _frozen2_exprs
    app = spark.sparkContext.applicationId
    sg = memo_col(("sem2_sg", app), build_sg)
    routes = memo_col(("sem2_routes", app, nprobe), build_routes)
    step1 = rel.select("vid", "embedding",
                       sg.alias("_sg"), _inv_norm_col().alias("inv"))
    return step1.select("vid", routes.alias("list_id"),
                        "embedding", "inv")


def semdedup_disposition_against_index(
    batch_scored: DataFrame, batch_routed: DataFrame, index: DataFrame,
    tau: float = SEM_INC_TAU,
) -> DataFrame:
    """The semantic incremental probe. Inputs: ``batch_scored``
    (vid, list_id, embedding, inv) top-1 rows, ``batch_routed`` the
    same vectors exploded to their routed lists, ``index``
    (vid, list_id, embedding, inv) — the semdedup_index_build artifact
    shape. Output: (vec_id, list_id, disposition, match_vid,
    n_index_hits, best_index_cos).

    Scale shape: the index is scanned ONCE through one equi-join on
    list_id with the batch side BROADCAST; the in-batch probe is a
    broadcast self-join of the batch-bounded top-1 relation; the two
    disposition aggregates are batch-bounded and broadcast into the
    LeftOuter assembly — zero SortMergeJoin, and the corpus never
    shuffles on a probe key."""
    from tank_spark.util import memo_col

    br = batch_routed.select(
        F.col("vid").alias("bvid"), "list_id",
        F.col("embedding").alias("b_emb"), F.col("inv").alias("b_inv"))
    idx = index.select(
        F.col("vid").alias("ivid"), "list_id",
        F.col("embedding").alias("i_emb"), F.col("inv").alias("i_inv"))
    icos = memo_col(("sem_icos",), lambda: (
        _dot_cols(F.col("b_emb"), F.col("i_emb"))
        * F.col("b_inv") * F.col("i_inv")))
    ihit = (
        idx.join(F.broadcast(br), "list_id")
        .filter(icos >= tau)
        .groupBy("bvid")
        .agg(F.min("ivid").alias("idx_match"),
             F.count(F.lit(1)).alias("n_index_hits"),
             F.max(icos).alias("best_index_cos"))
    )
    a = batch_scored.select(
        F.col("vid").alias("avid"), "list_id",
        F.col("embedding").alias("a_emb"), F.col("inv").alias("a_inv"))
    b = batch_scored.select(
        F.col("vid").alias("bvid"), "list_id",
        F.col("embedding").alias("b_emb"), F.col("inv").alias("b_inv"))
    bcos = memo_col(("sem_bcos",), lambda: (
        _dot_cols(F.col("a_emb"), F.col("b_emb"))
        * F.col("a_inv") * F.col("b_inv")))
    bhit = (
        F.broadcast(a).join(b, "list_id")
        .filter(F.col("avid") < F.col("bvid"))
        .filter(bcos >= tau)
        .groupBy("bvid")
        .agg(F.min("avid").alias("batch_match"))
    )
    out = (
        batch_scored.select(F.col("vid").alias("bvid"), "list_id")
        .join(F.broadcast(ihit), "bvid", "left")
        .join(F.broadcast(bhit), "bvid", "left")
    )
    is_idx = F.col("idx_match").isNotNull()
    is_bat = F.col("batch_match").isNotNull()
    return out.select(
        F.col("bvid").alias("vec_id"), "list_id",
        F.when(is_idx, "semantic_dup_of_index")
         .when(is_bat, "dup_in_batch")
         .otherwise("new_unique").alias("disposition"),
        F.when(is_idx, F.col("idx_match"))
         .when(is_bat, F.col("batch_match")).alias("match_vid"),
        F.coalesce(F.col("n_index_hits"), F.lit(0)).cast("long")
         .alias("n_index_hits"),
        "best_index_cos",
    )


def semantic_index(quantizer: str = "frozen") -> IndexSpec:
    """The persisted semantic index of the streaming loop
    (streaming/epoch_index): ONE relation, ``assign/`` — (ivid,
    list_id, embedding, inv), the map-only scored projection of every
    indexed vector (the semdedup_index_build artifact shape),
    compacted by list_id, the probe join key. The family needs no
    separate exact-fingerprint side: an exact re-crawl IS a cosine-1
    vector, caught by the same probe. ``quantizer`` picks the list
    space ("frozen" k=8 or "twolevel" k=64 — at 100 TB the two-level
    form with nlist scaled to the corpus); every writer and prober of
    one index MUST use the same value."""

    def derive(vectors: DataFrame) -> tuple[DataFrame]:
        return (scored_relation(vectors.sparkSession, vectors, quantizer)
                .select(F.col("vid").alias("ivid"), "list_id",
                        "embedding", "inv"),)

    def probe(batch: DataFrame, index: tuple) -> DataFrame:
        spark = batch.sparkSession
        (assign,) = index
        return semdedup_disposition_against_index(
            scored_relation(spark, batch, quantizer),
            routed_relation(spark, batch, quantizer=quantizer),
            assign.withColumnRenamed("ivid", "vid"))

    return IndexSpec(
        relations=(Relation(
            "assign",
            "ivid long, list_id long, embedding array<float>, inv double",
            ("list_id",), ("list_id", "ivid")),),
        derive=derive,
        probe=probe,
        batch_schema="vid long, embedding array<float>",
        batch_id="vid",
        out_id="vec_id",
        match_col="match_vid",
        precedence=("semantic_dup_of_index", "dup_in_batch", "new_unique"),
    )


# ------------------------------------------------------- oracle SQL

_SC = ("-2 * list_reduce(list_transform(generate_series(1, " + str(DIM)
       + "), j -> v.embedding[j]::DOUBLE * c.emb[j]), (x, y) -> x + y)"
       " + c.n")

_SEM_SIDX_CTE = f"""sidx AS (
  SELECT vid, list_id, embedding,
         CAST(1.0 AS DOUBLE)
           / sqrt({_dot_sql('embedding', 'embedding')}) AS inv
  FROM (
    SELECT v.vid, CAST(c.cid AS BIGINT) AS list_id, v.embedding,
           ROW_NUMBER() OVER (PARTITION BY v.vid
                              ORDER BY {_SC}, c.cid) AS arn
    FROM semcorp v CROSS JOIN cent c
  ) WHERE arn = 1
)"""

_SEM_ROUTE_CTE = f"""sroute AS (
  SELECT vid, list_id FROM (
    SELECT v.vid, CAST(c.cid AS BIGINT) AS list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vid
                              ORDER BY {_SC}, c.cid) AS prn
    FROM semcorp v CROSS JOIN cent c
    WHERE v.vid >= {INC_OFFSET}
  ) WHERE prn <= {SEM_NPROBE}
)"""


def _sem_disposition_ctes(p: str, batch_pred: str, idx: str) -> str:
    """CTE chain dispositioning batch rows (``batch_pred`` over sidx
    vids) against index relation ``idx`` (vid, list_id, embedding,
    inv) — prefix ``p`` so the stream replay can instantiate it twice.
    Arithmetic order mirrors the Spark core exactly: dot * batch_inv *
    index_inv for the index probe, dot * earlier_inv * later_inv for
    the in-batch probe."""
    dot_bi = _dot_sql("b.embedding", "i.embedding")
    dot_ab = _dot_sql("a.embedding", "b.embedding")
    return f"""{p}_b1 AS (
  SELECT vid, list_id, embedding, inv FROM sidx WHERE {batch_pred}
),
{p}_br AS (
  SELECT r.vid, r.list_id, b.embedding, b.inv
  FROM sroute r JOIN {p}_b1 b ON b.vid = r.vid
),
{p}_ihit AS (
  SELECT bvid, MIN(ivid) AS idx_match,
         CAST(COUNT(*) AS BIGINT) AS n_index_hits,
         MAX(cos) AS best_index_cos
  FROM (
    SELECT b.vid AS bvid, i.vid AS ivid,
           {dot_bi} * b.inv * i.inv AS cos
    FROM {p}_br b JOIN {idx} i ON i.list_id = b.list_id
  ) WHERE cos >= {SEM_INC_TAU} GROUP BY bvid
),
{p}_bhit AS (
  SELECT bvid, MIN(avid) AS batch_match
  FROM (
    SELECT a.vid AS avid, b.vid AS bvid,
           {dot_ab} * a.inv * b.inv AS cos
    FROM {p}_b1 a JOIN {p}_b1 b
      ON a.list_id = b.list_id AND a.vid < b.vid
  ) WHERE cos >= {SEM_INC_TAU} GROUP BY bvid
),
{p}_out AS (
  SELECT b.vid AS vec_id, b.list_id,
         CASE WHEN ih.bvid IS NOT NULL THEN 'semantic_dup_of_index'
              WHEN bh.bvid IS NOT NULL THEN 'dup_in_batch'
              ELSE 'new_unique' END AS disposition,
         CASE WHEN ih.bvid IS NOT NULL THEN ih.idx_match
              WHEN bh.bvid IS NOT NULL THEN bh.batch_match END
           AS match_vid,
         COALESCE(ih.n_index_hits, 0) AS n_index_hits,
         ih.best_index_cos AS best_index_cos
  FROM {p}_b1 b
    LEFT JOIN {p}_ihit ih ON ih.bvid = b.vid
    LEFT JOIN {p}_bhit bh ON bh.bvid = b.vid
)"""


SEMDEDUP_INDEX_BUILD_SQL = f"""
WITH {_frozen_cent_cte()},
semcorp AS (SELECT vec_id AS vid, embedding FROM embeddings),
{_SEM_SIDX_CTE}
SELECT vid AS vec_id, list_id, inv FROM sidx
"""

SEMDEDUP_INC_SQL = f"""
WITH {_frozen_cent_cte()},
{_SEM_CORPUS_CTE},
{_SEM_SIDX_CTE},
{_SEM_ROUTE_CTE},
idx0 AS (SELECT * FROM sidx WHERE vid < {INC_OFFSET}),
{_sem_disposition_ctes('d', f'vid >= {INC_OFFSET}', 'idx0')}
SELECT vec_id, list_id, disposition, match_vid, n_index_hits,
       best_index_cos
FROM d_out
"""

SEMDEDUP_INC_REPORT_SQL = f"""
WITH {_frozen_cent_cte()},
{_SEM_CORPUS_CTE},
{_SEM_SIDX_CTE},
{_SEM_ROUTE_CTE},
idx0 AS (SELECT * FROM sidx WHERE vid < {INC_OFFSET}),
{_sem_disposition_ctes('d', f'vid >= {INC_OFFSET}', 'idx0')},
src AS (
  SELECT e.label, o.disposition, o.match_vid
  FROM d_out o
  JOIN embeddings e ON e.vec_id = o.vec_id % {INC_OFFSET}
),
agg AS (
  SELECT label, disposition,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT match_vid) AS BIGINT) AS n_matched_distinct
  FROM src GROUP BY label, disposition
),
tot AS (SELECT label, CAST(SUM(n_docs) AS BIGINT) AS n_src
        FROM agg GROUP BY label)
SELECT a.label, a.disposition, a.n_docs,
       CAST(ROUND(a.n_docs * 1000000.0 / t.n_src, 0) AS BIGINT)
         AS share_ppm,
       a.n_matched_distinct
FROM agg a JOIN tot t ON a.label = t.label
"""

SEMDEDUP_STREAM_REPLAY_SQL = f"""
WITH {_frozen_cent_cte()},
{_SEM_CORPUS_CTE},
{_SEM_SIDX_CTE},
{_SEM_ROUTE_CTE},
idx0 AS (SELECT * FROM sidx WHERE vid < {INC_OFFSET}),
{_sem_disposition_ctes(
    'a', f'vid >= {INC_OFFSET} AND vid < {2 * INC_OFFSET}', 'idx0')},
new_a AS (SELECT vec_id FROM a_out WHERE disposition = 'new_unique'),
idx1 AS (
  SELECT * FROM idx0
  UNION ALL
  SELECT s.* FROM sidx s JOIN new_a n ON s.vid = n.vec_id
),
{_sem_disposition_ctes('b', f'vid >= {2 * INC_OFFSET}', 'idx1')}
SELECT vec_id, 1 AS batch_id, list_id, disposition, match_vid,
       n_index_hits, best_index_cos
FROM a_out
UNION ALL
SELECT vec_id, 2 AS batch_id, list_id, disposition, match_vid,
       n_index_hits, best_index_cos
FROM b_out
"""

SEMDEDUP_STREAM_REPORT_SQL = f"""
WITH {_frozen_cent_cte()},
{_SEM_CORPUS_CTE},
{_SEM_SIDX_CTE},
{_SEM_ROUTE_CTE},
idx0 AS (SELECT * FROM sidx WHERE vid < {INC_OFFSET}),
{_sem_disposition_ctes(
    'a', f'vid >= {INC_OFFSET} AND vid < {2 * INC_OFFSET}', 'idx0')},
new_a AS (SELECT vec_id FROM a_out WHERE disposition = 'new_unique'),
idx1 AS (
  SELECT * FROM idx0
  UNION ALL
  SELECT s.* FROM sidx s JOIN new_a n ON s.vid = n.vec_id
),
{_sem_disposition_ctes('b', f'vid >= {2 * INC_OFFSET}', 'idx1')},
rep AS (
  SELECT vec_id, 1 AS batch_id, disposition, match_vid FROM a_out
  UNION ALL
  SELECT vec_id, 2 AS batch_id, disposition, match_vid FROM b_out
),
src AS (
  SELECT r.batch_id, e.label, r.disposition, r.match_vid
  FROM rep r
  JOIN embeddings e ON e.vec_id = r.vec_id % {INC_OFFSET}
),
agg AS (
  SELECT batch_id, label, disposition,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT match_vid) AS BIGINT) AS n_matched_distinct
  FROM src GROUP BY batch_id, label, disposition
),
tot AS (SELECT batch_id, label, CAST(SUM(n_docs) AS BIGINT) AS n_src
        FROM agg GROUP BY batch_id, label)
SELECT a.batch_id, a.label, a.disposition, a.n_docs,
       CAST(ROUND(a.n_docs * 1000000.0 / t.n_src, 0) AS BIGINT)
         AS share_ppm,
       a.n_matched_distinct
FROM agg a JOIN tot t ON a.batch_id = t.batch_id AND a.label = t.label
"""


# ------------------------------------------------------ registrations

@register(
    "semdedup_index_build",
    SEMDEDUP_INDEX_BUILD_SQL,
    doc="Builds THE persisted semantic-dedup index artifact incremental "
        "SemDeDup probes against (the semantic twin of dedup_index_build "
        "/ media_index_build): every corpus vector's frozen "
        "trained-quantizer list assignment plus its hoisted inverse L2 "
        "norm — the per-vector half of the SemDeDup cosine, computed "
        "once at index time so probes pay one fold per candidate pair. "
        "ONE map-only projection (literal quantizer, no join, no "
        "shuffle). The registered comparison carries the scalar columns "
        "(the driver's canonicalizer can't hash list cells — the "
        "array_agg_statuses precedent); the streaming writer persists "
        "the embedding alongside (scored_relation is the artifact "
        "schema), and tests pin that shape end-to-end.",
)
def semdedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    rel = e.select(F.col("vec_id").alias("vid"), "embedding")
    return scored_relation(spark, rel).select(
        F.col("vid").alias("vec_id"), "list_id", "inv")


@register(
    "semdedup_incremental",
    SEMDEDUP_INC_SQL,
    doc=f"Incremental (delta) SEMANTIC dedup — SemDeDup at crawl "
        f"cadence, the semantic sibling of dedup_incremental_batch and "
        f"media_dedup_incremental: disposition every new-batch "
        f"embedding against the standing index WITHOUT pairwise corpus "
        f"work — semantic_dup_of_index (cosine >= {SEM_INC_TAU} against "
        f"an index vector in the row's {SEM_NPROBE} routed lists), "
        f"dup_in_batch (an earlier batch row in the same top-1 list at "
        f"the threshold), else new_unique; match_vid names the matched "
        f"row (min id, precedence order), n_index_hits counts verified "
        f"index hits, best_index_cos the strongest one. Routing is the "
        f"map-only frozen trained quantizer (ivf_trained_probe_search's "
        f"serving path); the index is scanned once with the batch "
        f"BROADCAST into every probe join. Cosines are sequential-fold "
        f"exact double arithmetic mirrored by the oracle.",
)
def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _incremental_core(spark, sf_dir, "frozen")


def _incremental_core(spark: SparkSession, sf_dir: str,
                      quantizer: str) -> DataFrame:
    """The incremental probe over the derived corpus, parameterized by
    quantizer — ONE body for the registered frozen-k=8 entry and the
    at-scale two-level form (both measured in SCALE.md "the nlist dial
    measured INSIDE the incremental family"; test_twolevel_quantizer_probe
    pins the routed semantics)."""
    corpus = _sem_corpus(spark, sf_dir)
    is_batch = F.col("vid") >= INC_OFFSET
    # materialize the SCORED relation once (r13 optimization): the old
    # shape pinned only the batch side, so the five-branch corpus union
    # was derived twice per run (once under the batch checkpoint, once
    # inside the index-probe broadcast job) and the quantizer literal
    # was re-scored per consumer. One eager checkpoint of the full
    # scored relation is exactly the semdedup_index_build ARTIFACT
    # posture (at 100 TB the index side is read from that persisted
    # artifact, not re-derived per probe); every probe/assembly subtree
    # now reads the materialized rows. Interleaved in-session A/B at
    # sf0.1 (6 alternating runs each): twolevel 3.36s -> 2.11s median
    # (x0.63), frozen mins 3.28 -> 2.88 (x0.88).
    scored = scored_relation(spark, corpus, quantizer) \
        .localCheckpoint(eager=True)
    index = scored.filter(~is_batch)
    batch = scored.filter(is_batch)
    routed = routed_relation(spark, batch.select("vid", "embedding"),
                             quantizer=quantizer)
    return semdedup_disposition_against_index(batch, routed, index)


@register(
    "semdedup_stream_replay",
    SEMDEDUP_STREAM_REPLAY_SQL,
    doc="The INDEX-GROWTH semantic of streaming semantic dedup as a "
        "full oracle (the semantic twin of dedup_incremental_stream_"
        "replay / media_dedup_stream_replay): batch A (re-crawls + "
        "near-dup copies + the first fresh emission) probes the corpus "
        "index; A's new_unique survivors APPEND to the index; batch B "
        "(the second fresh emission) probes the GROWN index — so B's "
        "rows come back semantic_dup_of_index against their batch-A "
        "twins instead of the batch op's dup_in_batch. Yesterday's "
        "novelty is today's duplicate — the property that makes a "
        "crawl-cadence semantic dedup loop idempotent across days. "
        "Same broadcast-probe plan per batch; the survivor append is "
        "one batch-bounded broadcast join.",
)
def semdedup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sem_corpus(spark, sf_dir)
    # one eager checkpoint of the full scored relation (r13, same move
    # as _incremental_core): the replay consumes scored rows through
    # SIX subtrees (idx0 twice, batch_a x3, batch_b x2) — materializing
    # it once replaces the per-batch checkpoints AND stops the corpus
    # union re-deriving inside every probe's broadcast job
    scored = scored_relation(spark, corpus).localCheckpoint(eager=True)
    is_i = F.col("vid") < INC_OFFSET
    is_a = (F.col("vid") >= INC_OFFSET) & (F.col("vid") < 2 * INC_OFFSET)
    is_b = F.col("vid") >= 2 * INC_OFFSET
    idx0 = scored.filter(is_i)
    batch_a = scored.filter(is_a)
    routed_a = routed_relation(spark, batch_a.select("vid", "embedding"))
    disp_a = semdedup_disposition_against_index(batch_a, routed_a, idx0) \
        .localCheckpoint(eager=True)  # consumed twice: output + survivors
    new_a = disp_a.filter(F.col("disposition") == "new_unique") \
        .select(F.col("vec_id").alias("vid"))
    idx1 = idx0.unionByName(batch_a.join(F.broadcast(new_a), "vid"))
    batch_b = scored.filter(is_b)
    routed_b = routed_relation(spark, batch_b.select("vid", "embedding"))
    disp_b = semdedup_disposition_against_index(batch_b, routed_b, idx1)
    return (
        disp_a.withColumn("batch_id", F.lit(1).cast("int"))
        .unionByName(disp_b.withColumn("batch_id", F.lit(2).cast("int")))
        .select("vec_id", "batch_id", "list_id", "disposition",
                "match_vid", "n_index_hits", "best_index_cos")
    )


@register(
    "semdedup_incremental_report",
    SEMDEDUP_INC_REPORT_SQL,
    doc="The curation REPORT over incremental semantic dedup — the "
        "semantic mirror of dedup_incremental_report / "
        "media_dedup_incremental_report, keyed by the embeddings "
        "table's LABEL (the topic/cluster axis a curation operator "
        "balances a training mix over): per (label, disposition), how "
        "many batch vectors landed there, the share of that label's "
        "batch (ppm, integer-exact), and how many DISTINCT existing "
        "vectors they matched (re-crawl concentration). Provenance "
        "via the high-bit id convention (orig vec_id = vec_id % "
        "INC_OFFSET). Scale shape: the batch disposition output is "
        "batch-bounded, so it BROADCASTS into the embeddings join; "
        "the per-label totals are a tiny aggregate that broadcasts "
        "back — no SortMergeJoin anywhere in the chain.",
)
def semdedup_incremental_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    # the report core consumes the disposition relation twice (the
    # per-group totals branch and the join branch) — pin the
    # batch-bounded output so the probe chain runs once (measured 4.0s
    # -> ~2.3s at sf0.1, the same double-run the media family pins away
    # with its kernel checkpoints)
    from tank_spark.sources.tables import session_memo

    # the memo's eager persist pins the double-consumed disposition
    # (the localCheckpoint's old job) and re-runs pay only the
    # aggregate (the stream reports' r12 posture)
    disp = session_memo(
        spark, sf_dir, "semdedup_inc_disp", ("embeddings",),
        lambda: semdedup_incremental(spark, sf_dir).select(
            (F.col("vec_id") % INC_OFFSET).alias("orig"),
            "disposition", F.col("match_vid").alias("match_cid")))
    return _label_report(spark, sf_dir, disp, ["label"])


# -------------------- the two-level quantizer, oracle-certified (r12)

def _sem2_ctes() -> str:
    """``sidx`` + ``sroute`` in the TWO-LEVEL (k=64) list space — drop-in
    replacements for the flat CTEs, so _sem_disposition_ctes reuses
    verbatim (it references both by name). The routing mirrors
    _quantizer_cols("twolevel") exactly — and therefore also the
    structure-shared _routed_twolevel serving path, whose routes are
    pinned identical to the factory's — including the PREPEND-OWN-
    ASSIGNMENT rule (a vector always probes its own list, which makes
    exact re-crawl detection unconditional — the r11 routing-flaw fix):
    rank 0 = the assignment, ranks 1..n = the flatten-and-sort
    candidates across the W_COARSE routed groups; MIN(rank) per
    (vid, list) dedups keeping first occurrence, ROW_NUMBER over rank
    reproduces Spark's array_distinct(concat([top1], cand)) order."""
    from tank_spark.llm.similarity import W_COARSE, _frozen2_dot

    dot = _frozen2_dot
    return f"""r2 AS (
  SELECT vid, gid FROM (
    SELECT v.vid, c.gid,
           ROW_NUMBER() OVER (PARTITION BY v.vid
                              ORDER BY -2 * {dot("v", "c.emb")} + c.n,
                                       c.gid) AS crn
    FROM semcorp v CROSS JOIN ccent c
  ) WHERE crn = 1
),
sidx AS (
  SELECT vid, list_id, embedding,
         CAST(1.0 AS DOUBLE)
           / sqrt({_dot_sql('embedding', 'embedding')}) AS inv
  FROM (
    SELECT r.vid, CAST(f.cid AS BIGINT) AS list_id, v.embedding,
           ROW_NUMBER() OVER (PARTITION BY r.vid
                              ORDER BY -2 * {dot("v", "f.emb")} + f.n,
                                       f.cid) AS rn
    FROM r2 r JOIN semcorp v ON v.vid = r.vid
              JOIN fcent f ON f.gid = r.gid
  ) WHERE rn = 1
),
qr2 AS (
  SELECT vid, gid FROM (
    SELECT v.vid, c.gid,
           ROW_NUMBER() OVER (PARTITION BY v.vid
                              ORDER BY -2 * {dot("v", "c.emb")} + c.n,
                                       c.gid) AS crn
    FROM semcorp v CROSS JOIN ccent c
    WHERE v.vid >= {INC_OFFSET}
  ) WHERE crn <= {W_COARSE}
),
cand2 AS (
  SELECT vid, list_id, prn FROM (
    SELECT r.vid, CAST(f.cid AS BIGINT) AS list_id,
           ROW_NUMBER() OVER (PARTITION BY r.vid
                              ORDER BY -2 * {dot("v", "f.emb")} + f.n,
                                       f.cid) AS prn
    FROM qr2 r JOIN semcorp v ON v.vid = r.vid
               JOIN fcent f ON f.gid = r.gid
  ) WHERE prn <= {SEM_NPROBE}
),
sroute AS (
  SELECT vid, list_id FROM (
    SELECT vid, list_id,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY rk) AS fr
    FROM (
      SELECT vid, list_id, MIN(rk) AS rk FROM (
        SELECT vid, list_id, 0 AS rk FROM sidx
        WHERE vid >= {INC_OFFSET}
        UNION ALL
        SELECT vid, list_id, prn AS rk FROM cand2
      ) GROUP BY vid, list_id
    )
  ) WHERE fr <= {SEM_NPROBE}
)"""


def _sem2_inc_sql() -> str:
    from tank_spark.llm.similarity import _frozen2_cents_cte

    return f"""
WITH {_frozen2_cents_cte()},
{_SEM_CORPUS_CTE},
{_sem2_ctes()},
idx0 AS (SELECT * FROM sidx WHERE vid < {INC_OFFSET}),
{_sem_disposition_ctes('d', f'vid >= {INC_OFFSET}', 'idx0')}
SELECT vec_id, list_id, disposition, match_vid, n_index_hits,
       best_index_cos
FROM d_out
"""


@register(
    "semdedup_incremental_twolevel",
    _sem2_inc_sql(),
    doc="Incremental semantic dedup served by the TWO-LEVEL (k=64) "
        "quantizer — the AT-SCALE configuration of semdedup_incremental "
        "as a full-oracle registered entry (previously only e2e-tested "
        "in the streaming loop): same derived corpus, same probe core, "
        "same tau, but routing/assignment through the frozen "
        "coarse-then-fine literal (llm/ivf_frozen2.py) with the "
        "prepend-own-assignment rule, so exact re-crawls are caught "
        "unconditionally while candidate lists are ~8x smaller. This "
        "is the nlist dial that keeps crawl-cadence semantic dedup "
        "linear as the corpus grows (measured: flat k=8 went 20.0x at "
        "10x corpus, two-level k=64 held 4.4x — SCALE.md); the oracle "
        "implements the identical two-level routing over shared "
        "ccent/fcent VALUES CTEs, every cosine exact on both engines.",
)
def semdedup_incremental_twolevel(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    return _incremental_core(spark, sf_dir, "twolevel")


@register(
    "semdedup_stream_report",
    SEMDEDUP_STREAM_REPORT_SQL,
    doc="The stream-replay curation report, semantic edition: the per "
        "(label, disposition) summary computed per CRAWL DAY "
        "(batch_id) over the index-growth replay — day 2's fresh "
        "emission reports semantic_dup_of_index against day 1's "
        "survivors instead of day 1's new_unique; day-over-day "
        "new_unique share drift is the crawl-saturation signal, per "
        "topic label. share_ppm normalizes within (batch_id, label). "
        "Same shared aggregation core (curation_report_over) and "
        "broadcast-only posture as every other curation report.",
)
def semdedup_stream_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tank_spark.sources.tables import session_memo

    # the eager persist in the memo pins the double-consumed disposition
    # (the localCheckpoint's old job) AND makes re-runs pay only the
    # aggregate — the replay chain is derived once per session
    # (VERDICT r11 #5)
    r = session_memo(
        spark, sf_dir, "semdedup_stream_disp", ("embeddings",),
        lambda: semdedup_stream_replay(spark, sf_dir).select(
            (F.col("vec_id") % INC_OFFSET).alias("orig"),
            "batch_id", "disposition",
            F.col("match_vid").alias("match_cid")))
    return _label_report(spark, sf_dir, r, ["batch_id", "label"])


def _label_report(spark: SparkSession, sf_dir: str, disp: DataFrame,
                  keys: list[str]) -> DataFrame:
    """The shared curation-report core over label provenance — the
    embeddings-table analog of media_inc._curation_report (same
    curation_report_over builder, so aggregation semantics can't fork
    across the three incremental families)."""
    from tank_spark.llm.media_inc import curation_report_over

    docs = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("orig"), "label")
    return curation_report_over(docs, disp, keys)
