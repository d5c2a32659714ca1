#!/usr/bin/env python
"""Generate a K-times scaled copy of an sf directory by unioning K
key-shifted copies of every fact table (dimensions stay single-copy).

Shifts keep referential integrity: o_orderkey and l_orderkey shift
together, o_custkey with c_custkey — so joins produce K-times the rows,
never a K^2 fanout. Document text is salted per copy (every word gets a
copy suffix) so the dedup operators see K independent sub-corpora —
runtime then measures input-size scaling, not an artificial explosion of
duplicate pairs.

With HOT_PCT > 0, that percent of the scaled documents become BOILERPLATE:
half exact copies of one fixed text (a hot dedup_exact fingerprint), half
the same boilerplate plus a short unique tail (hot MinHash band buckets —
the minima are dominated by the shared shingles, so the docs land in the
same LSH buckets without being exact copies). This is the skew corpus for
tools/skew_probe.py: constant-density salting elsewhere keeps the rest of
the corpus duplicate-free, so any blowup is attributable to the hot slice.

Usage: python tools/make_scale10.py [K] [OUT_DIR] [SRC_DIR] [HOT_PCT]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale10"
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    hot_pct = int(sys.argv[4]) if len(sys.argv) > 4 else 0

    from pyspark.sql import functions as F

    from perfbench.session import make_session

    spark = make_session(ROOT)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def rd(name):
        return spark.read.parquet(f"{src}/{name}.parquet")

    def wr(df, name, parts=8):
        df.repartition(parts).write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    # dimensions: verbatim
    for name in ("region", "nation", "supplier", "part"):
        wr(rd(name), name, parts=1)

    def span(df, col):  # shift unit per copy
        return df.agg(F.max(col)).first()[0] + 1

    cust, orders, li = rd("customer"), rd("orders"), rd("lineitem")
    docs, emb, ev = rd("documents"), rd("embeddings"), rd("events")
    s_cust, s_ord = span(cust, "c_custkey"), span(orders, "o_orderkey")
    s_doc, s_vec = span(docs, "doc_id"), span(emb, "vec_id")
    s_eid, s_uid = span(ev, "event_id"), span(ev, "user_id")

    def copies(df, exprs):
        parts = []
        for i in range(k):
            c = df
            for col, fn in exprs.items():
                c = c.withColumn(col, fn(i))
            parts.append(c)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    wr(copies(cust, {"c_custkey": lambda i: F.col("c_custkey") + i * s_cust}),
       "customer")
    wr(copies(orders, {
        "o_orderkey": lambda i: F.col("o_orderkey") + i * s_ord,
        "o_custkey": lambda i: F.col("o_custkey") + i * s_cust,
    }), "orders")
    wr(copies(li, {"l_orderkey": lambda i: F.col("l_orderkey") + i * s_ord}),
       "lineitem", parts=16)
    docs_scaled = copies(docs, {
        "doc_id": lambda i: F.col("doc_id") + i * s_doc,
        # salt every word with the copy index: sub-corpora share no
        # shingles, so dedup scales with input size, not dup density
        "text": lambda i: F.regexp_replace("text", r"(\S+)", f"$1c{i}"),
    })
    if hot_pct:
        boiler = " ".join(
            f"boiler{w} lorem{w} ipsum{w} dolor{w}" for w in range(15)
        )  # 60 shared words -> shared shingle minima -> hot LSH bands
        tail = F.concat_ws(" ", *[
            F.concat(F.lit(f"tl{j}u"), F.col("doc_id").cast("string"))
            for j in range(4)
        ])
        docs_scaled = docs_scaled.withColumn(
            "text",
            # half the hot slice: EXACT copies (hot dedup_exact group)
            F.when(F.col("doc_id") % 200 < hot_pct, F.lit(boiler))
            # other half: boilerplate + unique tail (hot LSH buckets only)
            .when(F.col("doc_id") % 100 < hot_pct,
                  F.concat_ws(" ", F.lit(boiler), tail))
            .otherwise(F.col("text")),
        )
    wr(docs_scaled, "documents")
    wr(copies(emb, {"vec_id": lambda i: F.col("vec_id") + i * s_vec}),
       "embeddings")
    wr(copies(ev, {
        "event_id": lambda i: F.col("event_id") + i * s_eid,
        "user_id": lambda i: F.col("user_id") + i * s_uid,
    }), "events")
    print(f"scale{k} written to {out}")
    spark.stop()


if __name__ == "__main__":
    main()
