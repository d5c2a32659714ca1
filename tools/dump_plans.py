#!/usr/bin/env python
"""Regenerate PLANS.md: executed physical plans for representative
queries, with the scale-relevant lines annotated. Run from the repo root:
``python tools/dump_plans.py``."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOW = [
    ("tile_z9_range", "Pruned no-shuffle cache scan (Morton BETWEEN reaches "
                      "the InMemoryTableScan as pushed batch-pruning filters)"),
    ("heatmap_z9", "One partial-aggregated groupBy + broadcast cell grid "
                   "(the reference issued 576 sequential counts)"),
    ("q5_nation_volume", "Star join: every dimension side is a "
                         "BroadcastHashJoin; no SortMergeJoin"),
    ("q1_pricing_summary", "Two-phase hash aggregation (map-side combine) "
                           "over fixed-point integer sums"),
    ("knn_brute_cosine", "Broadcast query side; corpus never shuffles"),
    ("tile_mvt_batch", "Two-stage encode: map-parallel MapInPandas "
                       "geometry stage + per-tile FlatMapGroupsInPandas "
                       "assembly; requests equi-join on the Morton-prefix "
                       "block id (BroadcastHashJoin per zoom band, no "
                       "BNLJ)"),
    ("tile_mvt_z7_full", "Full-fidelity overview tile (no sampling): the "
                         "whole table renders through the same two-stage "
                         "distributed encode"),
    ("asof_purchase_last_click", "As-of join as union + window: no nested "
                                 "loop, shuffles bounded by the key"),
    ("sample_stratified_sources", "Deterministic mix sampling: map-only "
                                  "filter over the scan — zero exchanges, "
                                  "zero Python"),
    ("pack_token_budget", "Sequence packing: exactly one hash exchange on "
                          "the window key feeding one running-sum Window; "
                          "everything after is projection arithmetic"),
    ("training_mix_pipeline", "Quality filter -> dedup survivors -> sample "
                              "-> pack fused into one plan: filters/sample "
                              "ride the scan, dedup is a partial-agg + "
                              "equi-join, one packing window at the end"),
    ("dedup_incremental_batch", "Delta dedup vs the corpus index: the "
                                 "small batch side broadcasts into BOTH "
                                 "probe joins (exact fp + capped band "
                                 "buckets); the index never shuffles on "
                                 "the probe key"),
    ("decontaminate_train_eval", "Eval shingle set broadcasts (tiny held-out "
                                 "split); the train-side scan stays map-side "
                                 "into a partial-aggregated count"),
    ("global_sequence_ids", "Dense global ordinal with NO single-partition "
                            "window: per-source row_number + broadcast "
                            "offsets"),
    ("dedup_minhash_lsh_pairs_k128", "Production-K LSH: array signature "
                                     "column keeps generated code "
                                     "constant-size; banded self-join on "
                                     "(band_idx, digest), never all-pairs"),
    ("passage_dedup", "Window-array transform inside one projection (no "
                      "per-word explode); digest groupBy with map-side "
                      "combine + hash join back"),
    ("event_value_outliers", "Per-type exact-integer stats table broadcasts "
                             "back into a map-only 3-sigma filter — the "
                             "firehose never re-shuffles"),
    ("embedding_sq_quantize", "Per-dim min/max aggregate (64 cells, "
                              "map-side combined) broadcast into a "
                              "map-only code/error pass"),
    ("doc_winnow_fingerprints", "Winnowing fingerprint: pure nested array "
                                "expressions in one shuffle-free JVM "
                                "projection over the pruned (doc_id, "
                                "text) scan"),
    ("bm25_rank_topk", "Search scoring: postings filtered to the query "
                       "vocabulary before any shuffle; qterms/df/corpus "
                       "stats all broadcast; one final per-query window "
                       "over <= vocabulary-postings rows"),
    ("dedup_containment_pairs", "ONE cap-filtered shingle self-join with "
                                "immediate partial aggregation; hot "
                                "completion joins run only over "
                                "prefilter survivors"),
    ("ivf_assignments", "Coarse-quantizer assignment as a PROJECTION "
                        "(literal centroids, array_min argmin — r9): no "
                        "join, no per-vector shuffle; the only exchange "
                        "feeds the 8-row inventory groupBy"),
    ("ivf_recall_eval", "Truth (broadcast-query brute force) and "
                        "prediction (nprobe-bounded probe) computed "
                        "in-plan; corpus scans, never corpus shuffles"),
    ("semdedup_prune_capped", "Bounded-representative SemDeDup (r9): "
                              "map-only assignment + hoisted inverse "
                              "norms; the <=128-row rep side BROADCASTS "
                              "into the pair join — n*CAP candidates at "
                              "any cluster size, corpus never shuffles"),
    ("lm_surprisal_score", "In-engine bigram LM: model tables are two "
                           "map-side-combined aggregates on the bigram "
                           "key (vocabulary-bounded); scoring joins the "
                           "pre-shrunk per-doc distinct-bigram table "
                           "against the model — the corpus token stream "
                           "is never shuffled raw"),
    ("pq_encode_codes", "ZERO-shuffle PQ encode: the codebook folds into "
                        "an m-keyed broadcast array; the per-subspace "
                        "argmin runs inside one projection — scan -> "
                        "explode -> BroadcastHashJoin -> project"),
    ("ivf_pq_search", "Composed production ANN: coarse-quantizer argmin "
                      "is a map-side-combined aggregate, probes/LUT "
                      "broadcast, candidates rank by integer ADC sums — "
                      "the only shuffle keys on centroid_id"),
    ("bloom_decontaminate", "Sketch probe shape: the bounded Bloom "
                            "position set broadcasts into the train-"
                            "shingle stream; the corpus-sized side is "
                            "never shuffled, flags partial-aggregate "
                            "per doc"),
    ("dsir_importance_weights", "Scale-safe top-quantile cut (r7): the "
                                "selection flag is a map-only filter on "
                                "two literal thresholds — NO Window "
                                "operator anywhere in the executed plan "
                                "(the exact boundary refinement ran "
                                "eagerly over an approx-quantile band "
                                "at build time)"),
    ("image_phash_neardup", "Banded Hamming blocking (r7): hash stage "
                            "is map-only mapInPandas; the candidate "
                            "self-join keys on (band_idx, band_val) — "
                            "no cartesian/nested-loop join; hot "
                            "buckets capped before the join"),
    ("dedup_substring_spans", "Maximal duplicated spans (r7): hot-list "
                              "membership join on window text; interval "
                              "merge is two PER-DOC windows "
                              "(partitionBy doc_id — no global sort); "
                              "char offsets are map-side array folds"),
    ("curriculum_quality_stages", "Curriculum staging (r8): the returned "
                                  "plan is a MAP-ONLY projection against "
                                  "six literal thresholds — no Window, no "
                                  "Sort, no Exchange (the batched "
                                  "rank-cut recipe pinned the quartile "
                                  "pairs eagerly at build time)"),
    ("dedup_quality_survivors", "Quality-aware canonical pick (r8): one "
                                "equi-join of the memoized cluster "
                                "artifact with per-doc quality + a "
                                "partial-aggregated struct-max groupBy "
                                "on component — no window, no sort, no "
                                "cartesian"),
    ("export_shard_plan", "Shard export accounting (r8): the running-sum "
                          "window runs on a SKINNY (doc_id, source, "
                          "n_tokens) relation (payloads join in later), "
                          "shard fan-out is a 1-2 row explode per doc, "
                          "and the (source, shard_id) aggregate is "
                          "map-side combined"),
    ("dedup_incremental_report", "Per-source curation report (r8): the "
                                 "batch-bounded disposition relation "
                                 "broadcasts into the documents join; "
                                 "per-source totals are a source-"
                                 "cardinality aggregate — no "
                                 "SortMergeJoin in the chain"),
]

KEEP = re.compile(
    r"InMemoryTableScan|PushedFilters|BroadcastHashJoin|SortMergeJoin|"
    r"HashAggregate|Exchange|FlatMapGroupsInPandas|MapInPandas|Window|"
    r"TakeOrdered|BroadcastNestedLoopJoin|ReadSchema|Scan parquet|\*\(\d+\)"
)


def main() -> None:
    from perfbench.session import make_session
    from tank_spark.plans.registry import load_all

    spark = make_session(ROOT)
    registry = load_all()
    sf = "/root/testdata/sf0.01"

    out = [
        "# PLANS — executed physical plans of representative queries",
        "",
        "Auto-generated by `tools/dump_plans.py` (sf0.01, `perfbench.session`, AQE on).",
        "Only scale-relevant plan lines are shown; `tests/test_plan_shapes.py`",
        "asserts these properties on every run.",
        "",
    ]
    for name, why in SHOW:
        q = registry[name]
        df = q.spark(spark, sf)
        df.count()  # materialize shared caches so the query plan is the steady-state one
        plan = q.spark(spark, sf)._jdf.queryExecution().executedPlan().toString()
        # drop the cached-relation build plan; keep the query part
        plan = plan.split("InMemoryRelation")[0]
        lines = [
            line.rstrip()[:160] for line in plan.splitlines() if KEEP.search(line)
        ]
        out.append(f"## {name}")
        out.append("")
        out.append(f"{why}.")
        out.append("")
        out.append("```")
        out.extend(lines[:18])
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOW)} plans)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
