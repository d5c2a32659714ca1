"""Random-hyperplane (SimHash-for-cosine) LSH over embeddings — the
at-scale candidate generator for embedding-cosine near-dup detection.

neardup_cosine_pairs blocks on the LABEL column and documents that
"production swaps label for an IVF/LSH bucket key"; this module IS
that production key. similarity.ann_lsh_buckets (r3) already shows the
signature-bucket OCCUPANCY view; this module completes the operator:
banding, capped candidate generation, exact verification, and a
per-planted-class recall instrument — the embedding-space sibling of
the text family's MinHash banding (llm/dedup.py): sign(v . h_k) over K frozen random
hyperplanes gives each vector a K-bit signature whose per-bit match
probability is 1 - theta/pi (Charikar 2002, public SimHash/ANN
literature); banding the signature turns "high cosine" into "band
equality", so candidate pairs come from equi-joins on band values —
never an all-pairs product — and an exact cosine verify keeps only
true near-dups.

Why a FULL oracle is possible (the frozen-quantizer argument again):
the hyperplanes are DERIVED, not sampled — plane k, component j is
(md5_byte("hp:k:j") - 128) / 256, an exact small rational computed
once at import and embedded as the SAME literals in the Spark
expressions and the DuckDB VALUES CTE — so signatures, band values,
and the sequential-fold cosine are exact double arithmetic on both
engines. No freeze tool needed: the derivation is data-independent.

Corpus: the semdedup derived corpus (llm/semdedup_inc._sem_corpus) —
the base embeddings plus planted re-crawls (cos 1.0), one-element
bumps (cos ~0.9987), and twice-emitted fresh vectors (cos 1.0). The
natural corpus' max pair cosine is ~0.51, far under HP_TAU = 0.9, so
the planted pairs are exactly the ground truth — which is what makes
`neardup_hyperplane_recall_eval` an honest recall instrument rather
than a vacuous sweep (the round-2 lesson: bands that are all zero
check nothing).

Scale shape (the 100 TB posture, shared with the MinHash family):
signatures and band values are ONE map-only projection; candidates
come from B equi-self-joins on (band_idx, band_val) with hot buckets
dropped at HP_BUCKET_CAP (the skew cap that bounds the quadratic pair
output of any bucket — the capped-default discipline of
dedup_minhash_lsh_pairs); the exact verify touches only candidate
pairs. At cos >= 0.9 the per-bit match probability is >= 0.856, so an
8-bit band matches with p >= 0.29 and two bands miss together with
p <= 0.51 — the recall eval MEASURES the real number on the planted
classes instead of asserting the formula.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark import cache
from tank_spark.llm.semdedup_inc import (INC_OFFSET, _SEM_CORPUS_CTE,
                                         _sem_corpus)
from tank_spark.llm.similarity import DIM, _dot_cols, _dot_sql
from tank_spark.plans.registry import register
from tank_spark.util import memo_col

HP_PLANES = 16       # signature bits (the module-default width)
HP_BANDS = 2         # bands of HP_BITS bits each
HP_BITS = HP_PLANES // HP_BANDS
HP_TAU = 0.9         # exact-verify cosine threshold (the semantic-dup regime)
HP_BUCKET_CAP = 64   # drop band buckets larger than this (skew cap)

# The width-scaled production sizing (VERDICT r12 #4): the 10x scale
# probe (SCALE.md, "Round-12: the hyperplane WIDTH dial") measured
# the default 2x8 width silently collapsing planted recall to 5% via
# capped buckets at 10x corpus while 2x12 restored 4000/4000 at 1.6x
# wall — width ~ log2(corpus / target bucket size). The _w12 entries
# below register that configuration as a driver-checkable oracle, the
# way the MinHash family carries k128 alongside the test-sized default.
HP_PLANES_W12 = 24   # 2 bands x 12 bits


def _hp_planes(n_planes: int = HP_PLANES) -> list[list[float]]:
    """The frozen hyperplane table: plane k, component j is
    (md5_byte - 128)/256 — exact rationals with a power-of-two
    denominator, identical constants for the Spark literals and the
    SQL VALUES rows. Derived once per process; widths share a prefix
    (plane k's derivation depends only on k), so widening the
    signature EXTENDS the plane table rather than resampling it."""
    planes = []
    for k in range(n_planes):
        row = []
        j = 0
        while len(row) < DIM:
            h = hashlib.md5(f"hp:{k}:{j}".encode()).digest()
            row.extend((b - 128) / 256.0 for b in h)
            j += 1
        planes.append(row[:DIM])
    return planes


def _planes_for(n_planes: int) -> list[list[float]]:
    return cache.cached("hyperplane.planes", n_planes,
                        lambda: _hp_planes(n_planes))


_PLANES = _planes_for(HP_PLANES)


def _band_cols(n_planes: int = HP_PLANES, n_bands: int = HP_BANDS):
    """(band_0, ..., band_{B-1}) integer Columns over an ``embedding``
    column: bit k = sign(v . h_k) packed little-endian within each
    band. Map-only — the whole signature is literal arithmetic.
    Computed as ONE transform over an array-of-planes literal (a
    codegen loop) instead of n_planes unrolled 64-term folds: the
    unrolled form compiled ~seconds of janino per fresh plan (the
    standing wide-column lesson). Per-bit arithmetic is the identical
    sequential zip_with fold, so the sign — and therefore every band
    value — is unchanged.

    The planes literal builds as ONE F.expr string, not n_planes*DIM
    nested F.lit calls (r14, guide §7.3 planning cost / VERDICT r13
    #6): the per-element form cost 1024-1536 py4j round-trips of
    driver-side Column assembly per plan BUILD — the same tax
    _score_structs_from_rows already removed for the quantizer
    literals. Values are identical: each plane component is
    (md5_byte - 128)/256, an exact small rational with a power-of-two
    denominator whose repr() is a finite decimal that parses back to
    the same double on the JVM side. The finished band Columns are
    memoized per (n_planes, n_bands) — an unresolved Column is
    plan-independent (util.memo_col)."""
    return memo_col(("hp_band_cols", n_planes, n_bands),
                    lambda: _build_band_cols(n_planes, n_bands))


def _build_band_cols(n_planes: int, n_bands: int) -> list:
    bits_per_band = n_planes // n_bands
    planes_lit = F.expr("array(" + ", ".join(
        "array(" + ", ".join(
            f"CAST('{v!r}' AS DOUBLE)" for v in p) + ")"
        for p in _planes_for(n_planes)) + ")")
    bits = F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("embedding"), p,
                           lambda x, w: x.cast("double") * w),
                F.lit(0.0), lambda acc, x: acc + x) >= 0,
            F.lit(1)).otherwise(F.lit(0)))
    weights = F.array(*[F.lit(1 << i) for i in range(bits_per_band)])
    bands = []
    for b in range(n_bands):
        band_bits = F.slice(bits, b * bits_per_band + 1, bits_per_band)
        val = F.aggregate(
            F.zip_with(band_bits, weights, lambda x, w: x * w),
            F.lit(0), lambda acc, x: acc + x)
        bands.append(val.cast("long").alias(f"band_{b}"))
    return bands


def _bands_relation(corpus: DataFrame, n_planes: int = HP_PLANES,
                    n_bands: int = HP_BANDS) -> DataFrame:
    """(vid, band_idx, band_val): the exploded banded signature of the
    derived corpus — one map-only projection + posexplode. Embeddings
    deliberately DROPPED here: candidates shuffle as bare id pairs and
    the verify joins the vectors back (64-float arrays riding through
    the banded self-join + distinct made the shuffle rows ~30x
    heavier)."""
    sig = corpus.select("vid", "embedding",
                        *_band_cols(n_planes, n_bands))
    pairs = F.array(*[F.col(f"band_{b}") for b in range(n_bands)])
    return sig.select("vid",
                      F.posexplode(pairs).alias("band_idx", "band_val"))


def _hp_lit_sql(k: int, n_planes: int = HP_PLANES) -> str:
    # parenthesized so _dot_sql's [j] indexing parses: ([...]::DOUBLE[])[j]
    return ("([" + ", ".join(repr(v) for v in _planes_for(n_planes)[k])
            + "]::DOUBLE[])")


def _hp_bands_cte(n_planes: int = HP_PLANES,
                  n_bands: int = HP_BANDS) -> str:
    """``hpbands(vid, band_idx, band_val)`` over semcorp — the SQL
    mirror: same literal planes, same fold order, same little-endian
    packing, same posexplode shape (UNION ALL of the B band values).
    Embeddings deliberately not carried (the Spark relation drops them
    for shuffle weight; the verify joins semcorp directly)."""
    bits_per_band = n_planes // n_bands
    bit = [
        f"(CASE WHEN {_dot_sql('v.embedding', _hp_lit_sql(k, n_planes))}"
        f" >= 0 THEN 1 ELSE 0 END)"
        for k in range(n_planes)
    ]
    band_exprs = []
    for b in range(n_bands):
        terms = " + ".join(
            f"{bit[b * bits_per_band + i]} * {1 << i}"
            for i in range(bits_per_band))
        band_exprs.append(f"CAST({terms} AS BIGINT)")
    selects = " UNION ALL ".join(
        f"SELECT vid, {b} AS band_idx, {band_exprs[b]} AS band_val "
        f"FROM (SELECT vid, embedding FROM semcorp) v"
        for b in range(n_bands))
    return f"hpbands AS ({selects})"


def _pair_ctes(n_planes: int = HP_PLANES,
               n_bands: int = HP_BANDS) -> str:
    return f"""{_hp_bands_cte(n_planes, n_bands)},
keepb AS (
  SELECT band_idx, band_val FROM hpbands
  GROUP BY band_idx, band_val HAVING COUNT(*) <= {HP_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.vid AS vec_a, b.vid AS vec_b
  FROM hpbands a
    JOIN keepb k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
    JOIN hpbands b ON b.band_idx = a.band_idx AND b.band_val = a.band_val
   AND a.vid < b.vid
),
verified AS (
  SELECT c.vec_a, c.vec_b,
         {_dot_sql('ea.embedding', 'eb.embedding')}
           / (sqrt({_dot_sql('ea.embedding', 'ea.embedding')})
              * sqrt({_dot_sql('eb.embedding', 'eb.embedding')})) AS cosine
  FROM cand c
    JOIN semcorp ea ON ea.vid = c.vec_a
    JOIN semcorp eb ON eb.vid = c.vec_b
)"""


_PAIR_CTES = _pair_ctes()

HP_PAIRS_SQL = f"""
WITH {_SEM_CORPUS_CTE},
{_PAIR_CTES}
SELECT vec_a, vec_b, cosine FROM verified WHERE cosine >= {HP_TAU}
"""


@register(
    "neardup_hyperplane_lsh_pairs",
    HP_PAIRS_SQL,
    doc=f"Embedding-cosine near-dup pairs via random-hyperplane "
        f"(SimHash-for-cosine) LSH — the production bucket key "
        f"neardup_cosine_pairs' label-blocking stands in for: "
        f"{HP_PLANES} frozen md5-derived hyperplanes give every vector "
        f"a {HP_PLANES}-bit signature ({HP_BANDS} bands x {HP_BITS} "
        f"bits), candidates come from band equi-joins with hot buckets "
        f"dropped at {HP_BUCKET_CAP} (the MinHash family's capped "
        f"default posture), and an exact sequential-fold cosine keeps "
        f"pairs >= {HP_TAU}. Over the semdedup derived corpus, whose "
        "planted re-crawls/bumps/twin-emissions are the only pairs in "
        "the tau regime (natural max pair cos ~0.51). Full oracle: "
        "derived planes are exact rationals embedded as identical "
        "literals in both engines. Scale shape: map-only signatures, "
        "banded self-join (never all-pairs), verify touches only "
        "candidates — the embedding-space dedup_minhash_lsh_pairs.",
)
def neardup_hyperplane_lsh_pairs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    return _pairs_df(spark, sf_dir)


def _pairs_df(spark: SparkSession, sf_dir: str,
              n_planes: int = HP_PLANES,
              n_bands: int = HP_BANDS) -> DataFrame:
    # the corpus feeds the signature projection AND the verify's two
    # embedding joins — pin it (small: base + derived batch rows)
    corpus = _sem_corpus(spark, sf_dir).localCheckpoint(eager=True)
    # pin the banded signature too (r13): it feeds the cap census AND
    # the bucket grouping, so the n_planes interpreted-fold projection
    # ran once per consumer; one eager checkpoint of the 3-column
    # relation (vid, band_idx, band_val — embeddings already dropped)
    # computes it once. Interleaved in-session A/B at sf0.1: 2.83s ->
    # 2.69s median.
    bands = _bands_relation(corpus, n_planes, n_bands) \
        .localCheckpoint(eager=True)
    # candidate pairs via ONE groupBy + in-row expansion over the
    # cap-bounded buckets (r14): hot buckets above HP_BUCKET_CAP are
    # dropped inside _bucket_grouped_pairs, where the quadratic happens
    from tank_spark.llm.dedup import _bucket_grouped_pairs
    cand = _bucket_grouped_pairs(bands, "vid", "vec_a", "vec_b",
                                 HP_BUCKET_CAP)
    # the distinct's output is a few hundred KB of bare id pairs, so AQE
    # coalesces it to ONE partition — and the exact fold-cosine verify
    # (3 interpreted 64-dim folds per pair) then runs serially in that
    # task (measured 1.4 s single-task CPU at sf0.1). An explicit
    # repartition pins the verify's parallelism; the extra exchange
    # moves only 16-byte pairs (guide §2: CPU-bound stages must not
    # inherit byte-based coalescing)
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    ea = corpus.select(F.col("vid").alias("vec_a"),
                       F.col("embedding").alias("ea"))
    eb = corpus.select(F.col("vid").alias("vec_b"),
                       F.col("embedding").alias("eb"))
    from tank_spark.llm.similarity import _cos_named
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .select("vec_a", "vec_b",
                    _cos_named("ea", "eb").alias("cosine"))
            .filter(F.col("cosine") >= HP_TAU))


HP_PAIRS_W12_SQL = f"""
WITH {_SEM_CORPUS_CTE},
{_pair_ctes(HP_PLANES_W12, HP_BANDS)}
SELECT vec_a, vec_b, cosine FROM verified WHERE cosine >= {HP_TAU}
"""


@register(
    "neardup_hyperplane_lsh_pairs_w12",
    HP_PAIRS_W12_SQL,
    doc=f"The WIDTH-SCALED production sizing of the hyperplane-LSH "
        f"pair generator: {HP_PLANES_W12} frozen planes in {HP_BANDS} "
        f"bands x {HP_PLANES_W12 // HP_BANDS} bits (vs the default "
        f"2x{HP_BITS}), same cap {HP_BUCKET_CAP}, same exact verify at "
        f"{HP_TAU}. Why it exists as a REGISTERED entry and not only a "
        "probe: the 10x probe (SCALE.md, 'the hyperplane WIDTH dial') "
        "measured the 2x8 width silently collapsing planted recall to "
        "5% at 10x corpus "
        "(capped hot buckets swallow the planted pairs while wall time "
        "stays flat) and 2x12 restoring 4000/4000 at 1.6x wall — "
        "signature width must scale ~ log2(corpus / target bucket "
        "size), and the at-scale configuration deserves the same "
        "driver-checkable oracle as the MinHash family's k128 sizing. "
        "Plane table is a PREFIX-EXTENSION of the default's (plane k "
        "depends only on k), so the two widths share their first 16 "
        "planes' arithmetic; recall per planted class at this width is "
        "pinned in pytest via the parameterized recall instrument.",
)
def neardup_hyperplane_lsh_pairs_w12(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    return _pairs_df(spark, sf_dir, HP_PLANES_W12, HP_BANDS)


# --------------------------------------------------------- recall eval

_TRUTH_CTE = f"""truth AS (
  SELECT vec_a, vec_b, pair_class FROM (
    SELECT e.vec_id AS vec_a, e.vec_id + {INC_OFFSET} AS vec_b,
           'recrawl' AS pair_class
    FROM embeddings e WHERE e.vec_id % 5 = 0
    UNION ALL
    SELECT e.vec_id, e.vec_id + {INC_OFFSET}, 'near_bump'
    FROM embeddings e WHERE e.vec_id % 5 = 1
    UNION ALL
    SELECT e.vec_id + {INC_OFFSET}, e.vec_id + {2 * INC_OFFSET},
           'fresh_twin'
    FROM embeddings e WHERE e.vec_id % 5 = 2
  )
),
vtruth AS (
  SELECT t.vec_a, t.vec_b, t.pair_class
  FROM truth t
    JOIN semcorp ea ON ea.vid = t.vec_a
    JOIN semcorp eb ON eb.vid = t.vec_b
  WHERE {_dot_sql('ea.embedding', 'eb.embedding')}
          / (sqrt({_dot_sql('ea.embedding', 'ea.embedding')})
             * sqrt({_dot_sql('eb.embedding', 'eb.embedding')}))
        >= {HP_TAU}
)"""

def _recall_sql(n_planes: int = HP_PLANES,
                n_bands: int = HP_BANDS) -> str:
    return f"""
WITH {_SEM_CORPUS_CTE},
{_pair_ctes(n_planes, n_bands)},
found AS (SELECT vec_a, vec_b FROM verified WHERE cosine >= {HP_TAU}),
{_TRUTH_CTE}
SELECT t.pair_class,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN f.vec_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN f.vec_a IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM vtruth t
  LEFT JOIN found f ON f.vec_a = t.vec_a AND f.vec_b = t.vec_b
GROUP BY t.pair_class
"""


HP_RECALL_SQL = _recall_sql()


@register(
    "neardup_hyperplane_recall_eval",
    HP_RECALL_SQL,
    doc="Recall of the hyperplane-LSH pair generator per planted class "
        "(recrawl cos 1.0, near_bump cos ~0.9987, fresh_twin cos 1.0): "
        "truth is the STRUCTURAL planted-pair set re-verified at the "
        "exact cosine threshold in-engine (never assumed), so the eval "
        "measures exactly the banding's misses — at cos ~1 every bit "
        "matches and recall is ~1; the theoretical two-8-bit-band miss "
        "floor for lower cosines is the documented dial (more/narrower "
        "bands buy recall with candidate volume, the standing LSH "
        "tradeoff). The instrument that keeps the pairs entry honest, "
        "as ivf_*_recall_eval does for the probe searches.",
)
def neardup_hyperplane_recall_eval(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    return _recall_df(spark, sf_dir)


def _recall_df(spark: SparkSession, sf_dir: str,
               n_planes: int = HP_PLANES,
               n_bands: int = HP_BANDS) -> DataFrame:
    from tank_spark.sources.tables import load

    found = _pairs_df(spark, sf_dir, n_planes, n_bands) \
        .select("vec_a", "vec_b")
    e = load(spark, sf_dir, "embeddings")
    t = []
    for mod, cls, off_a, off_b in ((0, "recrawl", 0, INC_OFFSET),
                                   (1, "near_bump", 0, INC_OFFSET),
                                   (2, "fresh_twin", INC_OFFSET,
                                    2 * INC_OFFSET)):
        t.append(e.filter(F.col("vec_id") % 5 == mod).select(
            (F.col("vec_id") + off_a).alias("vec_a"),
            (F.col("vec_id") + off_b).alias("vec_b"),
            F.lit(cls).alias("pair_class")))
    truth = t[0].unionByName(t[1]).unionByName(t[2])
    corpus = _sem_corpus(spark, sf_dir)
    ea = corpus.select(F.col("vid").alias("vec_a"),
                       F.col("embedding").alias("ea"))
    eb = corpus.select(F.col("vid").alias("vec_b"),
                       F.col("embedding").alias("eb"))
    from tank_spark.llm.similarity import _cos_named
    vtruth = (truth.join(ea, "vec_a").join(eb, "vec_b")
              .filter(_cos_named("ea", "eb") >= HP_TAU)
              .select("vec_a", "vec_b", "pair_class"))
    f2 = found.withColumn("hit", F.lit(1))
    return (
        vtruth.join(F.broadcast(f2), ["vec_a", "vec_b"], "left")
        .groupBy("pair_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_truth"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
             .alias("n_hit"))
        .select("pair_class", "n_truth", "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_truth"))
                .alias("recall"))
    )


# ----------------------------------------------------- occupancy gauge

HP_CENSUS_SQL = f"""
WITH {_SEM_CORPUS_CTE},
{_hp_bands_cte()},
occ AS (
  SELECT band_idx, band_val, CAST(COUNT(*) AS BIGINT) AS n
  FROM hpbands GROUP BY band_idx, band_val
)
SELECT band_idx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN n > {HP_BUCKET_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped,
       MAX(n) AS max_occupancy,
       CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs_ub
FROM occ GROUP BY band_idx
"""


@register(
    "hyperplane_band_census",
    HP_CENSUS_SQL,
    doc=f"The hyperplane index's OPERATIONAL GAUGE: per band, bucket "
        f"count, how many buckets exceed HP_BUCKET_CAP={HP_BUCKET_CAP} "
        "(each capped bucket is silently excluded from candidate "
        "generation — the 10x probe in SCALE.md measured planted "
        "recall collapsing to 5% at 10x corpus under the registered "
        "width while wall time stayed flat), max occupancy, and the "
        "candidate-pair upper bound sum(n*(n-1)/2). n_capped > 0 is "
        "the signal to WIDEN the signature (width ~ log2(corpus / "
        "target bucket size), the same scale-with-corpus law as IVF "
        "nlist). One map-only signature pass + a two-level aggregate; "
        "integer-exact on both engines.",
)
def hyperplane_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sem_corpus(spark, sf_dir)
    occ = (_bands_relation(corpus)
           .groupBy("band_idx", "band_val")
           .agg(F.count(F.lit(1)).alias("n")))
    return (occ.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("n") > HP_BUCKET_CAP, 1).otherwise(0))
        .cast("long").alias("n_capped"),
        F.max("n").alias("max_occupancy"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long")
        .alias("candidate_pairs_ub")))


# ------------------------------------------------- cluster formation

HP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SEM_CORPUS_CTE},
{_PAIR_CTES},
pairs AS (SELECT vec_a, vec_b FROM verified WHERE cosine >= {HP_TAU}),
und AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(vid, r) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.vid
)
SELECT vid AS vec_id, MIN(r) AS component,
       CAST(CASE WHEN MIN(r) = vid THEN 1 ELSE 0 END AS INTEGER)
         AS is_canonical
FROM reach GROUP BY vid
"""


@register(
    "neardup_hyperplane_clusters",
    HP_CLUSTERS_SQL,
    doc="Cluster formation over the hyperplane-LSH pair graph — "
        "completing the pairs -> clusters arc the text family has "
        "(dedup_lsh_clusters) on the banded embedding side: connected "
        "components via the shared distributed pointer-jumping core "
        "(dedup.lsh_components — min-label propagation, driver "
        "union-find only under its size gate), component = min vec_id, "
        "is_canonical marks survivors. Near-dup cosine is not "
        "transitive, so a re-crawl chain (orig ~ bump ~ re-crawl) must "
        "collapse to ONE canonical vector — this is the step between "
        "pair generation and survivor selection a dedup pipeline "
        "actually deletes with. Full oracle: the pair set is "
        "engine-exact, so the components are too (the "
        "neardup_embedding_clusters argument, now over the AT-SCALE "
        "banded pair generator instead of label blocking).",
)
def neardup_hyperplane_clusters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from tank_spark.llm.dedup import lsh_components

    pairs = neardup_hyperplane_lsh_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("cid_a"), F.col("vec_b").alias("cid_b"))
    return lsh_components(pairs).select(
        F.col("cid").alias("vec_id"), "component", "is_canonical")
