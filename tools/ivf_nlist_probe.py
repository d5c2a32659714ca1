#!/usr/bin/env python
"""VERDICT r9 #5: is the map-only literal-centroid IVF quantizer honest
at a PRODUCTION nlist, or an artifact of N_CENTROIDS=8?

Builds a K-times embeddings corpus (vec_id-shifted copies of the sf
embeddings table, written to /tmp so similarity.load() sees a normal sf
dir), then times coarse assignment THREE ways at each nlist:

  literal  — the registered posture: _centroid_score_structs(nlist) as
             one transform lambda over an F.expr literal array;
             array_min argmin is a map-only projection.
  join     — the alternative a naive port would use: broadcast-join the
             nlist centroid rows against every vector, min_by argmin
             (one nlist-fold row blowup + a corpus-wide aggregate).
  twolevel — the nlist-ceiling ESCAPE HATCH (VERDICT r10 #5): a
             coarse-then-fine literal quantizer, still 100% map-only.
             The nlist fine centroids are grouped into ~sqrt(nlist)
             coarse groups (coarse centroid = group mean, computed
             driver-side); assignment scores the n_coarse coarse
             literals, picks the group, then element_at() selects that
             group's fine-literal array and scores only ITS members —
             per-row compute drops from O(nlist*DIM) to
             O((n_coarse + nlist/n_coarse)*DIM) while the whole fine
             quantizer still ships as ONE array literal (data, not
             code) and the expression tree stays constant-size. This
             is the standard IVF accuracy trade (a vector whose true
             nearest fine centroid lives in a non-nearest coarse group
             mis-assigns); the probe reports the agreement fraction
             vs the flat argmin alongside the cost.
  build    — driver-side Column+plan construction cost of the literal
             form alone (fresh expr, no execution), the per-build
             overhead a long-lived server pays once per data version.

Prints one line per (nlist, form): median of N timed noop writes.

Usage: python tools/ivf_nlist_probe.py [K] [SF_DIR] [NLISTS...]
Env IVF_PROBE_FORMS=literal,join,twolevel (comma list) restricts which
timed forms run — e.g. FORMS=twolevel at nlist 4096, where the flat
forms are minutes each and already measured.
"""
from __future__ import annotations

import sys
import time


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    nlists = [int(a) for a in sys.argv[3:]] or [8, 64, 256]
    out_dir = f"/tmp/ivf_nlist_emb{k}x"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("ivf_nlist_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    e = spark.read.parquet(f"{src}/embeddings.parquet")
    n = e.count()
    scaled = None
    for i in range(k):
        c = e.select((F.col("vec_id") + i * n).alias("vec_id"),
                     "embedding", "label")
        scaled = c if scaled is None else scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    big = spark.read.parquet(f"{out_dir}/embeddings.parquet")
    print(f"corpus: {big.count()} vectors ({k}x {src})")

    from tank_spark import cache
    from tank_spark.llm import similarity as sim

    def timed(tag, nlist, mk, runs=3):
        mk().write.format("noop").mode("overwrite").save()  # warm
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        print(f"RESULT nlist={nlist} form={tag} "
              f"runs={[round(t, 3) for t in ts]} median={ts[len(ts)//2]:.3f}")

    for nlist in nlists:
        # GENUINE fresh-build cost (review r10: the first cut timed the
        # already-memoized Column): drop every cache entry for this key,
        # then time collect + expr assembly + one analyze end-to-end —
        # the once-per-data-version cost a long-lived server pays
        cache.clear("similarity.centroids",
                    lambda k: k[-2:] == (out_dir, nlist))
        t0 = time.perf_counter()
        arr = sim._centroid_score_structs(spark, out_dir, nlist)
        spark.createDataFrame([], "embedding array<float>") \
            .select(F.array_min(arr)["centroid_id"]).schema  # force analyze
        build_s = time.perf_counter() - t0
        print(f"RESULT nlist={nlist} form=build "
              f"collect+expr+analyze={build_s:.3f}s")

        import os as _os

        forms = set(_os.environ.get(
            "IVF_PROBE_FORMS", "literal,join,twolevel").split(","))

        if "literal" in forms:
            timed("literal", nlist, lambda: big.select(
                "vec_id",
                F.array_min(arr)["centroid_id"].alias("centroid_id")))

        if "join" in forms:
            cents = big.filter(F.col("vec_id") < nlist).select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("c_emb"))
            dot = sim._dot_cols(F.col("embedding"), F.col("c_emb"))
            n_c = sim._dot_cols(F.col("c_emb"), F.col("c_emb"))
            score = -2 * dot + n_c
            timed("join", nlist, lambda: (
                big.join(F.broadcast(cents))
                .select("vec_id", "centroid_id", score.alias("score"))
                .groupBy("vec_id")
                .agg(F.min_by("centroid_id",
                              F.struct("score", "centroid_id"))
                     .alias("centroid_id"))))

        # plan audit of the literal form: must stay exchange-free
        plan = (big.select(
            "vec_id", F.array_min(arr)["centroid_id"].alias("centroid_id"))
            ._jdf.queryExecution().executedPlan().toString())
        has_ex = "Exchange" in plan
        print(f"RESULT nlist={nlist} literal_plan_exchange_free={not has_ex}")

        if "twolevel" not in forms:
            continue

        # ---- two-level coarse-then-fine literal quantizer ----
        # Coarse groups come from a driver-side numpy k-means OVER THE
        # FINE CENTROIDS (nlist x DIM floats — trivial on the driver,
        # and exactly how a hierarchical IVF trains its top level):
        # coherent groups are what make coarse routing accurate.
        import math

        import numpy as np

        n_coarse = max(2, int(math.isqrt(nlist)))
        rows = sim._centroid_rows(spark, out_dir, nlist)

        def d(v: float) -> str:
            return f"CAST('{v!r}' AS DOUBLE)"

        def struct_lit(cid: int, c) -> str:
            n_c = 0.0
            for v in c:
                n_c = n_c + float(v) * float(v)
            return (f"named_struct('c', array("
                    + ", ".join(d(float(v)) for v in c)
                    + f"), 'n', {d(n_c)}, 'id', CAST({cid} AS BIGINT))")

        t0 = time.perf_counter()
        X = np.array([c for _, c in rows], dtype=np.float64)
        C = X[:n_coarse].copy()
        for _ in range(10):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for g in range(n_coarse):
                if (a == g).any():
                    C[g] = X[a == g].mean(axis=0)
        groups = [[(rows[i][0], rows[i][1]) for i in np.where(a == g)[0]]
                  for g in range(n_coarse)]
        # drop empty groups AND their coarse entries (keeps the
        # grouping a partition — duplicating a member would let one
        # centroid be reachable through two routes and skew agreement)
        kept = [g for g in range(n_coarse) if groups[g]]
        groups = [groups[g] for g in kept]
        coarse_arr = F.expr("array(" + ", ".join(
            struct_lit(new_g, C[old_g])
            for new_g, old_g in enumerate(kept)) + ")")
        fine_lit = F.expr("array(" + ", ".join(
            "array(" + ", ".join(struct_lit(cid, c) for cid, c in grp) + ")"
            for grp in groups) + ")")

        def score(s):
            dot = F.aggregate(
                F.zip_with(F.col("embedding"), s["c"],
                           lambda x, w: x.cast("double") * w),
                F.lit(0.0), lambda acc, x: acc + x)
            return F.struct((-2 * dot + s["n"]).alias("score"),
                            s["id"].alias("centroid_id"))

        def two_level(w: int):
            """argmin over the fine members of the ``w`` best coarse
            groups (w = the coarse-probe width, the accuracy dial)."""
            top = F.slice(F.array_sort(F.transform(coarse_arr, score)),
                          1, w)
            fine = F.flatten(F.transform(
                top, lambda s: F.element_at(
                    fine_lit, (s["centroid_id"] + 1).cast("int"))))
            return F.array_min(F.transform(fine, score))["centroid_id"]

        build2_s = time.perf_counter() - t0
        print(f"RESULT nlist={nlist} form=twolevel n_coarse={n_coarse} "
              f"build={build2_s:.3f}s (incl. driver kmeans over "
              f"{nlist} centroids)")

        flat = F.array_min(arr)["centroid_id"]
        for w in (1, 2):
            fine_best = two_level(w)
            timed(f"twolevel_w{w}", nlist,
                  lambda: big.select("vec_id",
                                     fine_best.alias("centroid_id")))
            plan2 = (big.select("vec_id", fine_best.alias("centroid_id"))
                     ._jdf.queryExecution().executedPlan().toString())
            agree = big.select(
                (flat == fine_best).cast("int").alias("ok")
            ).agg(F.avg("ok").alias("agree")).collect()[0]["agree"]
            print(f"RESULT nlist={nlist} form=twolevel_w{w} "
                  f"plan_exchange_free={'Exchange' not in plan2} "
                  f"agreement={agree:.4f}")


if __name__ == "__main__":
    sys.path.insert(0, "/root/repo")
    main()
