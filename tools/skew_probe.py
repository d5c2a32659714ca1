#!/usr/bin/env python
"""Measure the dedup family under BOILERPLATE SKEW — the one 100 TB risk
a uniform scale probe can't see: a hot exact-dup fingerprint and hot LSH
band buckets (tools/make_scale10.py with HOT_PCT > 0).

For each probe query, run on the unskewed 10x dir and on skewed variants,
median-of-3 warm, AQE (incl. skew-join) ON; also record result row counts
— for the uncapped pairs query the OUTPUT is quadratic in the hot bucket,
which no execution strategy can hide, and that is exactly what the
bucket cap (dedup_lsh_pairs_capped) bounds.

Usage: python tools/skew_probe.py BASE_DIR SKEW_DIR [SKEW_DIR2 ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROBES = [
    "dedup_exact",
    "dedup_lsh_pairs_uncapped",   # the measured hazard (pre-r5 default)
    "dedup_minhash_lsh_pairs",    # r5 default = capped
    "dedup_lsh_clusters_uncapped",
    "dedup_lsh_clusters",         # r5 default = capped
    # r10: the MEDIA family under the same skew — identical boilerplate
    # TEXT means identical derived PAYLOADS, so a HOT_PCT dir is also a
    # hot-phash-band / hot-payload-fingerprint corpus; the phash bucket
    # cap and the group-min in-batch probe are what these two exercise
    "media_dedup_survivors",
    "media_dedup_incremental",
]


def measure(spark, reg, sf_dir):
    out = {}
    for name in PROBES:
        q = reg[name]
        rows = q.spark(spark, sf_dir).count()  # warm + output size
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            q.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        out[name] = (runs[1], rows)
    return out


def main() -> None:
    dirs = sys.argv[1:]
    if len(dirs) < 2:
        sys.exit("usage: skew_probe.py BASE_DIR SKEW_DIR [SKEW_DIR2 ...]")

    from perfbench.session import make_session
    from tank_spark.plans.registry import load_all

    spark = make_session(ROOT)
    reg = load_all()
    results = {d: measure(spark, reg, d) for d in dirs}
    base = results[dirs[0]]
    hdr = f"{'query':28s}" + "".join(
        f" {d.split('/')[-1]:>22s}" for d in dirs
    )
    print(hdr)
    print(f"{'':28s}" + f" {'sec    rows  ratio':>22s}" * len(dirs))
    for n in PROBES:
        line = f"{n:28s}"
        for d in dirs:
            t, rows = results[d][n]
            r = t / base[n][0]
            line += f" {t:7.2f} {rows:>8d} {r:5.1f}"
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
