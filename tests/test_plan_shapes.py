"""Physical-plan regression tests: the plans we designed for are the
plans that run. Guards the scale properties that correctness tests can't
see — pruning, pushdown, broadcast choices, map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tile_query_reads_cache_without_shuffle(spark):
    from tank_spark.operators.tiles import tile_z9_range

    tile_z9_range(spark, SF_DIR).count()  # build the materialized cache
    plan = _plan(tile_z9_range(spark, SF_DIR))
    assert "InMemoryTableScan" in plan          # hash-clustered cache scan
    # no shuffle in the query itself (the string below the cache scan is
    # the cached relation's one-time build plan, which legitimately has
    # its clustering Exchange)
    query_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in query_part
    # the hash range predicate reaches the cache scan (batch pruning)
    scan_line = [l for l in query_part.splitlines() if "InMemoryTableScan" in l][0]
    assert "hash" in scan_line


def test_q6_filters_push_to_parquet_scan(spark):
    from tank_spark.sources.tables import load

    li = load(spark, SF_DIR, "lineitem", materialized=False)
    df = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
        ).select("l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan and "l_discount" in plan
    # column pruning: scan schema carries only the 3 needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_q5_star_join_broadcasts_dimensions(spark):
    from tank_spark.operators.relational import q5_nation_volume

    plan = _plan(q5_nation_volume(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region


def test_q1_has_partial_aggregation(spark):
    from tank_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    # two-phase hash aggregation: partial (map-side combine) + final
    assert plan.count("HashAggregate") >= 2


def test_knn_broadcasts_query_side(spark):
    from tank_spark.llm.similarity import knn_brute_cosine

    plan = _plan(knn_brute_cosine(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_heatmap_is_single_aggregation(spark):
    from tank_spark.operators.heatmap import heatmap_z9

    plan = _plan(heatmap_z9(spark, SF_DIR))
    # ONE aggregation pair over features (the reference issued n^2 counts)
    assert plan.count("HashAggregate") <= 4      # partial+final (+AQE dup)
    assert "BroadcastHashJoin" in plan           # cell grid broadcasts


def test_ivf_assignment_is_map_only(spark):
    """The IVF coarse-quantizer argmin is a PROJECTION over literal
    centroid scores (array_min of _centroid_score_structs) — no window,
    no join, no per-vector shuffle; the only exchange left feeds the
    8-row inventory groupBy (partial-aggregated)."""
    from tank_spark.llm.similarity import ivf_assignments

    plan = _plan(ivf_assignments(spark, SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan                   # assignment never joins
    # the only query-side exchange feeds the 8-row inventory groupBy (the
    # string below the cache scan is the cached embeddings relation's
    # one-time build plan, which legitimately repartitions)
    query_part = plan.split("InMemoryRelation")[0]
    assert query_part.count("Exchange") <= 1
    assert plan.count("HashAggregate") >= 2     # partial + final


def test_asof_join_single_key_shuffle(spark):
    from tank_spark.operators.asof import asof_purchase_last_click

    plan = _plan(asof_purchase_last_click(spark, SF_DIR))
    # union-window asof: shuffles bounded (no join explosion); a window
    # sort appears instead of any nested-loop join
    assert "NestedLoop" not in plan
    assert "Window" in plan


def test_mvt_pipeline_stays_arrow(spark):
    from tank_spark.operators.mvt_tiles import mvt_tiles

    plan = _plan(mvt_tiles(spark, SF_DIR))
    # the geometry stage runs as Arrow-batched MapInPandas across input
    # partitions; assembly as FlatMapGroupsInPandas per tile — never
    # row-at-a-time python UDFs
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_mvt_request_join_is_equi_not_nested_loop(spark):
    """The request batch joins on the Morton-prefix block id (equi
    BroadcastHashJoin per zoom band) — a BETWEEN-range BNLJ would be
    O(features x requests) on a 10k-tile render batch."""
    from tank_spark.operators.mvt_tiles import mvt_tiles

    plan = _plan(mvt_tiles(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_map_only(spark):
    """Mix sampling is a pure filter+project over the scan — any Exchange
    means the deterministic-hash design got broken."""
    from tank_spark.llm.mixing import sample_stratified_sources
    from tank_spark.sources.tables import load

    load(spark, SF_DIR, "documents").count()  # build the session cache
    plan = _plan(sample_stratified_sources(spark, SF_DIR))
    query_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in query_part
    assert "BatchEvalPython" not in plan     # hash is engine-side md5


def test_pack_token_budget_single_window_shuffle(spark):
    """Packing = one hash exchange on the window key + one sort + one
    Window; everything after the running sum is projection arithmetic."""
    from tank_spark.llm.mixing import pack_token_budget
    from tank_spark.sources.tables import load

    load(spark, SF_DIR, "documents").count()
    plan = _plan(pack_token_budget(spark, SF_DIR))
    query_part = plan.split("InMemoryRelation")[0]
    assert query_part.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_mvt_two_stage_matches_single_task_kernel(spark):
    """The distributed two-stage encode (mapInPandas geometry stage +
    vectorized assembly) decodes identically to the single-task scalar
    kernel on the same tile: an sf tile, and a synthetic tile with a
    NaN in a 70,000-distinct double prop."""
    import pandas as pd

    from tank_spark.geom import mvt as mvtmod
    from tank_spark.operators.mvt_tiles import (
        LAYER, _tile_kernel, mvt_tiles,
    )
    from tank_spark.operators.tiles import tile_hash_range
    from tank_spark.sources.features import features_df

    z, x, y = 11, 320, 784
    rows = {(r["z"], r["x"], r["y"]): r for r in mvt_tiles(
        spark, SF_DIR, requests=[(z, x, y)]).collect()}
    got = mvtmod.decode(bytes(rows[(z, x, y)]["mvt"]))[LAYER]

    lo, hi = tile_hash_range(z, x, y)
    src = (features_df(spark, SF_DIR)
           .filter(F.col("hash").between(lo, hi))
           .select("key", "geometry", "kind", "score", "cnt", "tag")
           .toPandas())
    src["z"], src["x"], src["y"] = z, x, y
    ref = mvtmod.decode(bytes(_tile_kernel(src)["mvt"].iloc[0]))[LAYER]

    assert len(got["features"]) == len(ref["features"]) > 0
    for a, b in zip(ref["features"], got["features"]):
        assert a["id"] == b["id"]
        assert a["geom_type"] == b["geom_type"]
        assert a["coords"] == b["coords"]
        assert a["props"] == b["props"]

    # a double prop holding a NaN, with more distinct values than a
    # 16-bit value index (65,536): both paths serve every feature, and
    # the NaN row carries no tag on either
    from tank_spark.geom import morton
    from tank_spark.geom.tilemath import tile_bbox
    from tank_spark.operators.mvt_tiles import mvt_tiles_for

    z, x, y = 13, 1281, 3137
    lon0, lat0, lon1, lat1 = tile_bbox(z, x, y)
    n, side = 70_000, 263
    feats = spark.range(n).select(
        F.lit(morton.interleave(x, y)).cast("long").alias("hash"),
        F.col("id").alias("key"),
        F.format_string(
            "POINT (%.9f %.9f)",
            F.lit(lon0) + F.lit(lon1 - lon0) * (F.col("id") % side + 0.5) / side,
            F.lit(lat0) + F.lit(lat1 - lat0)
            * (F.floor(F.col("id") / side) % side + 0.5) / side,
        ).alias("geometry"),
        F.when(F.col("id") == 7, F.lit(float("nan")))
        .otherwise(F.col("id") * 0.25 + 0.125).alias("score"),
    )
    row = mvt_tiles_for(spark, feats, [(z, x, y)], prop_cols=("score",)).collect()[0]
    got = mvtmod.decode(bytes(row["mvt"]))[LAYER]["features"]
    src = feats.select("key", "geometry", "score").toPandas()
    src["z"], src["x"], src["y"] = z, x, y
    ref = mvtmod.decode(bytes(_tile_kernel(src)["mvt"].iloc[0]))[LAYER]["features"]
    assert len(got) == len(ref) == n
    assert [f["id"] for f in got] == [f["id"] for f in ref] == list(range(n))
    assert [f["coords"] for f in got] == [f["coords"] for f in ref]
    assert [f["props"] for f in got] == [f["props"] for f in ref]
    assert got[7]["props"] == {} and got[8]["props"] == {"score": 2.125}


def test_decontamination_broadcasts_eval_side(spark):
    """The held-out shingle set must broadcast — a shuffled join here
    means the whole corpus reshuffles per decontamination run."""
    from tank_spark.llm.mixing import decontaminate_train_eval
    from tank_spark.sources.tables import load

    load(spark, SF_DIR, "documents").count()
    plan = _plan(decontaminate_train_eval(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_global_sequence_ids_no_global_window(spark):
    """The export ordinal must come from per-source windows, never a
    single-partition global sort."""
    from tank_spark.llm.mixing import global_sequence_ids
    from tank_spark.sources.tables import load

    load(spark, SF_DIR, "documents").count()
    plan = _plan(global_sequence_ids(spark, SF_DIR))
    assert "Window" in plan
    # a global window shows as an Exchange SinglePartition feeding a sort
    assert "SinglePartition" not in plan


def test_event_outliers_broadcasts_stats_table(spark):
    """The firehose-side pass is a broadcast join against the tiny
    per-type stats table — the events relation is never re-shuffled for
    the filter, so the pattern stays a scan + map at 100 TB."""
    from tank_spark.llm.events import event_value_outliers

    plan = _plan(event_value_outliers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sq_quantize_broadcasts_dim_stats(spark):
    """Code assignment joins the 64-row per-dimension stats table by
    broadcast; partial aggregation compresses the stats shuffle to
    dims-many cells per task."""
    from tank_spark.llm.similarity import embedding_sq_quantize

    plan = _plan(embedding_sq_quantize(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan or "partial" in plan.lower()


def test_passage_dedup_no_word_explode(spark):
    """Windows are built by an array transform inside one projection —
    every Generate in the plan explodes the (n/W)-sized window array,
    never the raw word array (a W-fold row blowup at scale). The windowed
    relation legitimately appears twice (frequency agg + join back)."""
    from tank_spark.llm.dedup import passage_dedup

    plan = _plan(passage_dedup(spark, SF_DIR))
    gen_lines = [l for l in plan.splitlines() if "Generate" in l]
    assert gen_lines
    for l in gen_lines:
        assert "transform(sequence" in l  # window array, not words


def test_winnow_is_map_only(spark):
    """Winnowing is pure nested array expressions — the physical plan
    must be a single map-only stage over the parquet scan: no Exchange,
    no Python/Arrow eval, only text + doc_id read."""
    from tank_spark.llm.text import doc_winnow_fingerprints

    plan = _plan(doc_winnow_fingerprints(spark, SF_DIR))
    # the part below InMemoryRelation is the cached table's one-time
    # build plan (its clustering Exchange is legitimate); the query
    # itself must be shuffle-free and JVM-only
    query_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in query_part
    assert "ArrowEvalPython" not in query_part and "BatchEvalPython" not in query_part
    # column pruning into the cache scan: only doc_id + text read
    scan_line = [l for l in query_part.splitlines() if "InMemoryTableScan" in l][0]
    assert "text" in scan_line and "lang" not in scan_line


def test_bm25_broadcasts_everything_but_postings(spark):
    """The only shuffles BM25 may do are the tf/df/dl aggregations; the
    query terms, df table, and 1-row corpus stats must arrive broadcast
    (at 100 TB the corpus never re-shuffles for the scoring join)."""
    from tank_spark.llm.search import bm25_rank_topk

    plan = _plan(bm25_rank_topk(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2       # qterms + df
    assert "BroadcastNestedLoopJoin" in plan          # 1-row stats crossJoin
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    # vocabulary filter reaches below the tf aggregation: the word IN
    # predicate must appear in the filter above the token explode, so
    # non-query tokens never enter a shuffle
    assert "word#" in plan


def test_containment_blocking_filters_hot_shingles(spark):
    """The candidate self-join runs over cap-filtered shingles (kd),
    and the plan contains no cartesian/nested-loop join."""
    from tank_spark.llm.dedup import dedup_containment_pairs

    plan = _plan(dedup_containment_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_distinctive_terms_broadcasts_df(spark):
    from tank_spark.llm.search import top_distinctive_terms

    plan = _plan(top_distinctive_terms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan                # vocabulary-sized df
    assert "BroadcastNestedLoopJoin" in plan          # 1-row n_docs


def test_pq_encode_is_zero_shuffle(spark):
    """The PQ encode must be ONE map-only Arrow pass over the corpus
    scan (r13: the interpreted transform/array_min fold over a broadcast
    codebook array became a mapInArrow kernel closing over the bounded
    collected codebook): no join, no shuffle — nothing corpus-sized ever
    moves."""
    from tank_spark.llm.pq import pq_encode_codes

    pq_encode_codes(spark, SF_DIR).count()  # build the materialized cache
    # the cached relation's one-time build plan (below InMemoryRelation)
    # legitimately repartitions; the QUERY part must not shuffle the corpus
    plan = _plan(pq_encode_codes(spark, SF_DIR)).split("InMemoryRelation")[0]
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the encode itself is map-only: zero shuffle exchanges of any kind
    shuffle_lines = [l for l in plan.splitlines()
                     if "Exchange hashpartitioning" in l]
    assert not shuffle_lines, shuffle_lines


def test_ivf_pq_shuffles_only_on_list_and_rank_keys(spark):
    """Composed index: probes/LUT/codes join broadcast; the shuffles are
    the inverted-list key (centroid assignment) and the final per-query
    rank — never a raw-vector corpus shuffle."""
    from tank_spark.llm.pq import ivf_pq_search

    plan = _plan(ivf_pq_search(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3       # probes, codes, LUT
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # ADC sum is partial-aggregated (map-side combine before the rank)
    assert "partial_sum(d_fx" in plan


def test_lm_model_joins_are_partial_aggregated(spark):
    """The LM's model tables build through map-side-combined partial
    aggregates, and the only nested-loop join is the 1-row vocabulary
    scalar crossJoin."""
    from tank_spark.llm.lm import lm_surprisal_score

    plan = _plan(lm_surprisal_score(spark, SF_DIR))
    assert "partial_count" in plan                     # doc_bg map combine
    assert "partial_sum" in plan                       # c12/c1 map combine
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row vocab only
    assert "CartesianProduct" not in plan


def test_lr_features_are_map_only(spark):
    """The classifier's feature relation must be a pure projection over
    the documents scan — no shuffle, no Python."""
    from tank_spark.llm.classifier import _features_df

    _features_df(spark, SF_DIR).count()  # build the materialized cache
    plan = _plan(_features_df(spark, SF_DIR)).split("InMemoryRelation")[0]
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocklist_filter_is_map_only(spark):
    """blocklist_filter_docs must fuse into the (cached) scan: no
    Exchange in the query part — the one legitimate Exchange is the
    cached relation's one-time clustering build."""
    from tank_spark.llm.text import blocklist_filter_docs

    blocklist_filter_docs(spark, SF_DIR).count()  # build the table cache
    plan = _plan(blocklist_filter_docs(spark, SF_DIR))
    query_part = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in query_part
    assert "Join" not in query_part


def test_boilerplate_hot_list_join_broadcasts(spark):
    """The hot-segment membership joins must resolve to broadcast joins
    at the checked SF (the build side holds only REPEATED segments), and
    every aggregate must have a map-side partial."""
    from tank_spark.llm.text import boilerplate_segment_removal

    df = boilerplate_segment_removal(spark, SF_DIR)
    df.count()  # let AQE finalize strategies
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dsir_selection_cut_has_no_global_window(spark):
    """The DSIR selection cut must be the scale-safe form (VERDICT r6
    #2): the RETURNED plan carries the top-quantile flag as a map-only
    filter against literal thresholds — no Window operator (the exact
    refinement runs eagerly over a quantile-bracketed band at build
    time, never over the full relation)."""
    from tank_spark.llm.lm import dsir_importance_weights

    df = dsir_importance_weights(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    # and the flag really is selective both ways at this SF
    agg = df.agg(F.sum("selected").alias("s"), F.count(F.lit(1)).alias("n")).first()
    assert 0 < agg["s"] < agg["n"]


def test_substring_ops_never_go_nested_loop(spark):
    """spans: the hot-list membership join must broadcast (the build
    side holds only cross-doc-repeated windows); removal: the per-doc
    range anti-join must key on doc_id (SortMergeJoin/BHJ with the range
    as a join filter) — NEVER a nested-loop/cartesian, which a non-equi
    anti-join silently degrades to if the equi key is lost."""
    from tank_spark.llm.text import dedup_substring_removal, dedup_substring_spans

    df = dedup_substring_spans(spark, SF_DIR)
    df.count()  # let AQE finalize
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    df2 = dedup_substring_removal(spark, SF_DIR)
    df2.count()
    plan2 = _plan(df2)
    assert "BroadcastNestedLoopJoin" not in plan2
    assert "CartesianProduct" not in plan2


def test_grouped_quantile_cut_has_no_window(spark):
    """quality_top_quantile_per_source is the scale-safe per-source cut:
    the returned plan applies a broadcast threshold join + filter — no
    Window (the band window ran eagerly at build, over the quantile
    bracket only)."""
    from tank_spark.llm.text import quality_top_quantile_per_source

    df = quality_top_quantile_per_source(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan  # threshold table broadcasts


def test_incremental_dedup_broadcasts_batch_side(spark):
    """dedup_incremental_batch must broadcast the SMALL batch side into
    both probe joins (exact fp probe + band probe) — the index never
    shuffles on the probe key — and must never go pairwise."""
    from tank_spark.llm.dedup import dedup_incremental_batch

    plan = _plan(dedup_incremental_batch(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 2 probe joins + 3 batch-bounded assembly joins, all broadcast —
    # the assembly must not fall back to a SortMergeJoin chain on bcid
    assert plan.count("BroadcastHashJoin") >= 5, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_stream_replay_batches_broadcast_into_probes(spark):
    """dedup_incremental_stream_replay applies the incremental probe
    twice (batch A vs index-0, batch B vs grown index): both
    applications must keep the batch side broadcast and never go
    pairwise or fall back to a sort-merge chain."""
    from tank_spark.llm.dedup import dedup_incremental_stream_replay

    plan = _plan(dedup_incremental_stream_replay(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # two full probe chains (5 broadcast joins each, as the batch op)
    # plus the two survivor-append broadcast joins
    assert plan.count("BroadcastHashJoin") >= 10, plan[:2000]


def test_media_dedup_apply_report_plans_stay_clean(spark):
    """The provenance join back to documents is a plain equi-join on the
    base doc key — never a cartesian/nested-loop, and the report's
    aggregation must keep a partial (map-side) stage."""
    from tank_spark.llm.multimodal import media_dedup_apply, media_dedup_report

    for fn in (media_dedup_apply, media_dedup_report):
        plan = _plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
    rep = _plan(media_dedup_report(spark, SF_DIR))
    assert "partial" in rep.lower(), rep[:2000]


def test_curriculum_stages_plan_is_map_only(spark):
    """Curriculum staging must return a MAP-ONLY plan (VERDICT r6 #2
    posture, multi-cut form): the quartile thresholds are pinned eagerly
    by the batched bracket recipe, so the returned plan carries no
    Window, no Sort, and no Exchange — at 100 TB it is a pure projection
    over the corpus scan."""
    from tank_spark.llm.lm import curriculum_quality_stages

    df = curriculum_quality_stages(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "Sort" not in plan
    assert "Exchange" not in plan


def test_quality_survivors_no_cartesian(spark):
    """The quality-survivor pick stays inside the banded-join posture:
    no cartesian/nested-loop join anywhere in the end-to-end plan, and
    the component aggregation is partially aggregated (map-side combine)
    before its shuffle."""
    from tank_spark.llm.dedup import dedup_quality_survivors

    plan = _plan(dedup_quality_survivors(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan  # map-side partial agg feeds the groupBy


def test_incremental_report_stays_broadcast(spark):
    """The per-source curation report adds one documents join + two
    tiny aggregates on top of the batch disposition output — all of it
    must stay broadcast (the disposition relation and the per-source
    totals are batch/source-bounded): no SortMergeJoin, no cartesian."""
    from tank_spark.llm.dedup import dedup_incremental_report

    plan = _plan(dedup_incremental_report(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_media_incremental_broadcasts_batch_side(spark):
    """media_dedup_incremental (the media twin of the text incremental
    probe) must broadcast the SMALL batch side into every probe join —
    exact fp probe, in-batch probe, band probe — and the three
    batch-bounded disposition aggregates into the final assembly; the
    index never shuffles on a probe key and nothing goes pairwise."""
    from tank_spark.llm.media_inc import media_dedup_incremental

    plan = _plan(media_dedup_incremental(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # 3 probe joins + hot-bucket anti-join + 3 assembly joins
    assert plan.count("BroadcastHashJoin") >= 7, plan[:2000]


def test_media_incremental_report_stays_broadcast(spark):
    """The media curation report (the modality-keyed twin of
    dedup_incremental_report) adds one documents join + two tiny
    aggregates on top of the batch disposition output — the disposition
    relation broadcasts into the documents join and the
    per-(modality, source) totals broadcast back: no SortMergeJoin, no
    cartesian anywhere in the chain."""
    from tank_spark.llm.media_inc import media_dedup_incremental_report

    plan = _plan(media_dedup_incremental_report(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_text_stream_report_stays_broadcast(spark):
    """dedup_incremental_stream_report (the text twin of the media
    stream report) composes the text stream replay with the shared
    _curation_report builder — the report layer must add only broadcast
    joins on top of the replay plan, never a SortMergeJoin or
    cartesian."""
    from tank_spark.llm.dedup import dedup_incremental_stream_report

    plan = _plan(dedup_incremental_stream_report(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_media_stream_report_stays_broadcast(spark):
    """The per-crawl-day report composes the stream replay with the
    shared _curation_report builder — the replay's disposition union is
    batch-bounded, so the report layer must add ONLY broadcast joins on
    top of the replay plan (documents join + per-day totals), never a
    SortMergeJoin or cartesian."""
    from tank_spark.llm.media_inc import media_dedup_stream_report

    plan = _plan(media_dedup_stream_report(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_media_stream_replay_batches_broadcast_into_probes(spark):
    """media_dedup_stream_replay applies the media incremental probe
    twice (batch A vs index-0, batch B vs the GROWN index): both
    applications must keep the batch side broadcast and never go
    pairwise or fall back to a sort-merge chain; the survivor append is
    two batch-bounded broadcast joins."""
    from tank_spark.llm.media_inc import media_dedup_stream_replay

    plan = _plan(media_dedup_stream_replay(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # batch A's probe chain is materialized behind its eager checkpoint
    # (its 7 broadcast joins are pinned by the batch-op test); the live
    # plan must still show batch B's full probe chain (7 broadcast
    # joins) plus the two survivor-append broadcast joins
    assert plan.count("BroadcastHashJoin") >= 9, plan[:2000]


def test_media_incremental_disposition_coverage(spark):
    """Every (modality, disposition) class must be non-vacuous at the
    test SF — a selector/tweak regression that silently empties a class
    (e.g. a mod-15 arithmetic slip) must fail here, not leave the
    driver row vacuously green."""
    from tank_spark.llm.media_inc import media_dedup_incremental

    rows = (media_dedup_incremental(spark, SF_DIR)
            .groupBy("modality", "disposition").count().collect())
    got = {(r["modality"], r["disposition"]) for r in rows}
    want = {(m, d) for m in ("image", "audio", "video")
            for d in ("exact_dup_of_index", "dup_in_batch",
                      "near_dup_of_index", "new_unique")}
    assert want <= got


def test_watermark_late_drop_broadcasts_watermarks(spark):
    """The replay twin's scale contract: batch assignment is map-only
    (no global sort / row_number over the event relation), the per-batch
    watermark table joins back as a broadcast, and the single
    SinglePartition exchange in the plan feeds only the one-row-per-
    micro-batch running-max window, never event rows."""
    from tank_spark.streaming.windows import watermark_late_drop

    plan = _plan(watermark_late_drop(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the tiny window is allowed its single partition; the event-side
    # aggregation must still be a partial (map-side combined) hash agg
    assert plan.count("SinglePartition") <= 2  # window + its broadcast
    assert "partial_count" in plan or "HashAggregate" in plan
