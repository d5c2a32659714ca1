#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) in one ``perfbench.session`` session
(host-derived task slots and driver memory) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes end-to-end into the noop sink (full computation, no
driver collect bottleneck): one untimed run, then the median of 3 timed
runs on a warm session. Per-query spreads go to stderr. Compare two
commits by alternating their runs on the same host.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    # tank-parity surface
    "tile_z9_range", "tile_z13_single", "heatmap_z9", "heatmap_z11",
    "ingest_bucket_stats",
    # relational
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_volume",
    "q6_forecast_revenue", "topk_orders_per_priority",
    # llm pipeline
    "dedup_exact", "dedup_minhash_lsh_pairs", "dedup_minhash_lsh_pairs_k128",
    "dedup_lsh_pairs_capped",  # skew guard: ~free on an unskewed corpus
    "dedup_lsh_clusters",
    "knn_brute_cosine",
    "sessionize_events", "tumbling_hourly_counts", "text_stats",
    "text_repetition_signals", "sample_stratified_sources",
    "pack_token_budget",
    # custom operators / scale paths
    "asof_purchase_last_click", "ivf_probe_search", "token_count_bpe",
    # r5 additions: search scoring + winnowing fingerprint
    "bm25_rank_topk", "doc_winnow_fingerprints",
    # r5 late additions: LM quality scoring + compressed-domain ANN +
    # engine-exact sketches (all probed at sf0.1 in-session: 1.3s/0.8s)
    "lm_surprisal_score", "pq_encode_codes", "pq_adc_topk",
    "bloom_decontaminate", "cms_heavy_hitters",
    # r7 additions: DSIR with the scale-safe selection cut (the eager
    # threshold jobs are part of its honest cost), pHash image near-dup,
    # maximal duplicated-substring spans
    "dsir_importance_weights", "image_phash_neardup",
    "dedup_substring_spans", "audio_fingerprint_neardup",
    "video_phash_neardup",
    # r8 addition: delta dedup against the corpus index (broadcast
    # probes; the honest cost is the one index scan + band join)
    "dedup_incremental_batch",
    # late-r8 additions: quality-aware canonical pick (rides the capped
    # pair + CC plan), map-only curriculum staging, token spectrum,
    # and the shard-export accounting plan
    "dedup_quality_survivors", "curriculum_quality_stages",
    "token_freq_spectrum", "export_shard_plan",
    # r9 additions: the watermark late-drop replay twin (map-only batch
    # assignment + one tiny running-max window) and the frozen-weight
    # classifier gate (map-only literal scoring, one aggregate)
    "watermark_late_drop", "quality_lr_eval",
    # late-r9 additions: SemDeDup after the scale-killer fix (map-only
    # literal-centroid assignment + hoisted inverse norms: 6.2s -> 1.6s
    # fresh-session, SCALE.md) and its bounded-representative at-scale
    # twin (n*CAP pairs at any cluster size)
    "semdedup_prune", "semdedup_prune_capped",
    "tile_mvt_batch",
    # r10 addition: incremental MEDIA dedup — the media twin of
    # dedup_incremental_batch (index hashed once through the map-only
    # kernels, batch broadcast into every probe join)
    "media_dedup_incremental",
    # r11 additions: the trained frozen quantizer serving path (same
    # map-only literal plan as ivf_probe_search, so the pair also acts
    # as an A/B on quantizer content vs plan cost) and the two-level
    # routed probe at k=64 (the at-scale quantizer shape; scans ~2/64
    # lists per query where the flat k=8 probes scan ~2/8)
    "ivf_trained_probe_search", "ivf_twolevel_probe_search",
    # late-r11 addition: incremental SEMANTIC dedup — the third
    # incremental pillar next to dedup_incremental_batch and
    # media_dedup_incremental (routed IVF probe, batch broadcast into
    # every join; iso median 2.15s at sf0.1)
    "semdedup_incremental",
    # r12 additions: the semantic incremental probe at the AT-SCALE
    # k=64 quantizer (same broadcast plan, 8x smaller lists — the
    # in-bench A/B against semdedup_incremental isolates quantizer
    # content at fixed plan) and the random-hyperplane cosine LSH
    # pair generator (banded equi-join, never all-pairs — the
    # embedding-space dedup_minhash_lsh_pairs)
    "semdedup_incremental_twolevel", "neardup_hyperplane_lsh_pairs",
    # r12 late addition: two-tower retrieval (BM25 + cosine fused by
    # reciprocal rank — both towers top-K-bounded before the fusion)
    "hybrid_search_rrf",
    # r13 additions: two in-bench A/Bs against their r12 siblings —
    # the width-scaled hyperplane signature (2x12 vs 2x8: wider keys,
    # same banded plan) and the IVF-tower hybrid (trained probe vs
    # brute-force semantic tower at the same fusion tail)
    "neardup_hyperplane_lsh_pairs_w12", "hybrid_search_rrf_ivf",
    # BENCH-ONLY entry: full-fidelity z7 overview encode. NOT a serving
    # path (serving samples every over-budget tile — the full blob hits
    # the MVT format ceiling at 100x, see SCALE.md); benchmarked as the
    # largest tile the batch encode renders.
    "tile_mvt_z7_full",
]


def _run(spark, q, sf_dir: str) -> float:
    t0 = time.perf_counter()
    q.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from perfbench.session import make_session
    from tank_spark.plans.registry import load_all

    spark = make_session(ROOT)
    registry = load_all()
    # session warm-up: touch the biggest input once so JVM/codegen/file
    # listing costs don't land on the first measured query
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    times: dict[str, float] = {}
    for name in HEADLINE:
        q = registry[name]
        _run(spark, q, sf_dir)  # untimed: codegen, listing, worker spin-up
        runs = sorted(_run(spark, q, sf_dir) for _ in range(3))
        times[name] = round(runs[1], 3)
        print(f"# {name}: {runs[1]:.3f}s (spread {runs[0]:.3f}-{runs[-1]:.3f})",
              file=sys.stderr)

    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
