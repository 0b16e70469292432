"""Physical-plan regression guards (SCALING.md claims, asserted).

These tests pin the plan *properties* that matter at 100 TB — pushdown,
pruned read schemas, broadcast joins, single-shuffle aggregations — so a
future refactor that silently degrades a plan fails here, not at the
benchmark."""

from __future__ import annotations

import pytest

from mycenae_spark.registry import QUERIES

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_project_pushes_filter_and_prunes(spark):
    plan = _plan(spark, "scan_project")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan
    # pruned read schema: no props column reaches the scan
    assert "props" not in plan


def test_filter_reaches_parquet(spark):
    plan = _plan(spark, "filter_literal_or")
    assert "In(event_type" in plan or "EqualTo(event_type" in plan


@pytest.mark.parametrize("name", ["join_inner", "join_broadcast", "join_semi"])
def test_dimension_joins_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_is_not_cartesian(spark):
    plan = _plan(spark, "join_range")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_downsample_single_shuffle(spark):
    plan = _plan(spark, "downsample_avg_1m")
    # exactly one exchange: the (series, bucket) hash aggregation
    assert plan.count("Exchange") <= 2  # shuffle + AQE read marker
    assert "HashAggregate" in plan


def test_multiway_fact_joins(spark):
    plan = _plan(spark, "join_multiway")
    # the three true dimensions broadcast
    assert plan.count("BroadcastHashJoin") >= 3


def test_downsample_percentile_single_shuffle(spark):
    """pNN downsamplers keep the one-hash-agg shape of avg/sum (the sort is
    inside each (series, bucket) group, not a global Exchange)."""
    plan = _plan(spark, "downsample_p95")
    assert plan.count("Exchange") <= 2
    assert "percentile" in plan


def test_embedding_lsh_broadcasts_planes_once(spark):
    """Sign-LSH key assignment must broadcast the literal plane matrix, and
    the whole query must scan parquet a bounded number of times (key
    assignment + two verify-side projections), never per-plane."""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("FileScan parquet") <= 3


def test_rollup_downsample_two_hash_aggs_partials_only(spark):
    """The mergeable-partials re-merge: two hash aggregations (partials,
    then merge) — the second aggregation's input is the partial frame,
    never a rescan of points (exactly one file scan in the plan)."""
    plan = _plan(spark, "rollup_downsample_avg")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 4  # 2 aggs × partial+final
    assert "CartesianProduct" not in plan


def test_shingle_stats_broadcasts_count_frame(spark):
    """Corpus-count normalization joins as a broadcast of a 1-row frame —
    no shuffle of the gram frequencies against the count."""
    plan = _plan(spark, "text_shingle_stats")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ann_rerank_broadcasts_centroids_no_corpus_shuffle_join(spark):
    """The wider-probe rerank keeps the IVF shape: centroid/query frames
    broadcast; the corpus is never on the build side of a shuffle join."""
    plan = _plan(spark, "ann_ivf_rerank_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny centroid cross-products


def test_snapshot_read_preserves_pushdown_and_partition_pruning(spark, tmp_path):
    """The log-gated read (explicit file list + basePath) must keep the
    same physical-plan properties as a directory read: predicate pushdown
    into the parquet scan AND partition-column pruning on ksid/date —
    otherwise snapshot isolation would cost a 100 TB full scan."""
    import json

    import pyspark.sql.functions as F

    from mycenae_spark.streaming import snapshot
    from mycenae_spark.streaming.ingest import (
        decode_json_lines,
        prepare_points,
        write_points_batch,
    )

    lake, catalog = str(tmp_path / "lake"), str(tmp_path / "catalog")
    rows = [
        (json.dumps({
            "metric": "plan.m",
            "tags": {"ksid": k, "host": "h"},
            "timestamp": 1704067200000 + d * 86_400_000,
            "value": 1.0,
        }),)
        for k in ("k1", "k2")
        for d in range(2)
    ]
    valid, _ = prepare_points(
        decode_json_lines(spark.createDataFrame(rows, ["value"]))
    )
    write_points_batch(valid, lake, catalog, batch_id=0)
    snapshot.write_checkpoint(lake, catalog)

    df = (
        snapshot.read_points_snapshot(spark, lake)
        .filter((F.col("ksid") == "k1") & (F.col("metric") == "plan.m"))
        .select("metric", "value")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # value predicate pushed into the parquet scan
    assert "EqualTo(metric,plan.m)" in plan
    # partition filter applied at planning (ksid is a partition column of
    # the explicit-file relation thanks to basePath)
    assert "ksid" in plan and "PartitionFilters" in plan
    assert df.count() == 2


def test_pq_encode_no_corpus_shuffle_and_broadcast_codebook(
    spark, tmp_path, monkeypatch
):
    """ann_pq_adc_topk's COLD-path scale contract (no committed index, so
    the build runs in-plan): codebooks reach the encode join by broadcast
    (the corpus side is never shuffled for assignment), and the encode
    argmin is a hash aggregation (partial/final), not a window sort over
    the vectors-by-codebook join."""
    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    plan = _plan(spark, "ann_pq_adc_topk")
    assert "BroadcastExchange" in plan
    assert "min_by" in plan or "minby" in plan.lower()


def test_pq_adc_reuses_committed_index(spark, tmp_path, monkeypatch):
    """ann_pq_adc_topk's WARM path: with a committed index for this exact
    corpus fingerprint, the plan contains no train/encode stages (no
    min_by argmin) — the search reads the materialized codebook/codes and
    only the broadcast-LUT ADC + re-rank remain."""
    from mycenae_spark.functions import pq
    from mycenae_spark.registry.util import r6

    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    pq.ensure_pq_index(spark, SF_DIR, rounder=r6)
    plan = _plan(spark, "ann_pq_adc_topk")
    assert "min_by" not in plan and "minby" not in plan.lower()
    assert "BroadcastExchange" in plan  # the LUT still broadcasts


def test_hash_split_is_projection_plus_single_agg(spark):
    """sample_hash_split's scale contract: the split label is a pure
    projection (md5 + CASE, codegen'd) — the only exchange in the plan is
    the final 3-group hash aggregation, and no window or sort appears."""
    plan = _plan(spark, "sample_hash_split")
    assert plan.count("Exchange") <= 2  # partial/final agg exchange only
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """decontaminate_ngram's scale contract: the eval postings (benchmark
    set) reach the corpus join by broadcast — the training corpus is never
    shuffled for the gram join."""
    plan = _plan(spark, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_search_prunes_inverted_lists(spark, tmp_path, monkeypatch):
    """ann_ivfpq_topk's scale contract: the probed inverted-list ids reach
    the codes scan as PartitionFilters (only nprobe/#clusters of the codes
    table is read) and the LUT joins broadcast."""
    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    plan = _plan(spark, "ann_ivfpq_topk")
    assert "PartitionFilters: [c_id" in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_compact_search_still_prunes(spark, tmp_path, monkeypatch):
    """ann_ivfpq_compact_topk's scale contract: compaction is a pure
    physical-layout change, so the probed inverted-list ids must STILL
    reach the (now one-file-per-list) codes scan as PartitionFilters —
    a compaction that lost the partitionBy(c_id) layout would silently
    turn every search into a full codes scan."""
    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    plan = _plan(spark, "ann_ivfpq_compact_topk")
    assert "PartitionFilters: [c_id" in plan
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_no_single_partition_exchange(spark):
    """sample_stratified's scale contract: decile assignment decomposes
    through the value histogram + per-value windows — nothing in the plan
    funnels the corpus through one task."""
    plan = _plan(spark, "sample_stratified")
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the partitioned rank windows remain


def test_quality_filter_is_shuffle_free(spark):
    """text_quality_filter's scale contract: every signal and flag is a
    per-row expression — the plan has no exchange, no aggregation, no
    window; at 100 TB the filter is scan-bound."""
    plan = _plan(spark, "text_quality_filter")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan


def test_mix_temperature_windows_only_grouped_frame(spark):
    """sample_mix_temperature's scale contract: the corpus-sized work is
    one scan + one per-language hash aggregation; the (single-partition by
    necessity) weight windows run over the #languages-row grouped frame,
    AFTER the aggregate exchanges."""
    plan = _plan(spark, "sample_mix_temperature")
    assert "HashAggregate" in plan
    # executedPlan().toString() prints root-first: a Window node closer to
    # the root than every HashAggregate appears EARLIER in the text — i.e.
    # the windows run over the aggregated frame, never over the raw scan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_semantic_dedup_broadcasts_centroids(spark):
    """dedup_semantic / knn_graph_topk scale contract: centroid
    assignment reaches the corpus by broadcast (never a corpus shuffle
    for the assign), and the only corpus-keyed join is the in-cluster
    pair join on c_id."""
    for name in ("dedup_semantic", "knn_graph_topk"):
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_semantic_assign_subtree_deduped_at_runtime(spark):
    """VERDICT r7 item 4: the in-cluster self-join references the assign
    subtree on BOTH sides — it must be computed once, not twice.  The two
    sides' exchanges are identical, so AQE's exchange reuse replaces one
    with a ReusedExchange at runtime; asserted on the FINAL adaptive plan
    (executing first — the static plan still shows both subtrees)."""
    for name in ("dedup_semantic", "knn_graph_topk", "knn_graph_multiprobe"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "ReusedExchange" in plan, name


def test_repetition_is_shuffle_free(spark):
    """text_repetition's scale contract: shingle build, distinct counts,
    and the bounded per-token count all stay per-row higher-order
    expressions — no exchange, no explode-shuffle."""
    plan = _plan(spark, "text_repetition")
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_bpe_pair_stats_vocab_bounded_topk(spark):
    """text_bpe_pair_stats' scale contract: the global top-20 rank window
    rewrites to TakeOrderedAndProject (no single-partition window over
    the pair aggregate), and the only corpus-sized work is the word
    explosion feeding the vocab-bounded hash aggregations."""
    plan = _plan(spark, "text_bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_topk_series_is_take_ordered(spark):
    """topk_series_by_sum's scale contract: the global top-5 plans as
    TakeOrderedAndProject (per-partition top-k merged on the driver); the
    rank window runs over only the survivors, so no single-partition
    exchange of the full series aggregate exists."""
    plan = _plan(spark, "topk_series_by_sum")
    assert "TakeOrderedAndProject" in plan


def test_span_dedup_no_cartesian_keyed_stages(spark):
    """dedup_span_exact's scale contract: the postings self-join is keyed
    on the gram (never a cartesian product), the df-cut aggregate is a
    hash agg, and the islands window partitions by (pair, diagonal) —
    no single-partition exchange anywhere."""
    plan = _plan(spark, "dedup_span_exact")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_ngram_containment_broadcasts_stop_list(spark):
    """The df-cut's plan shape (shared with jaccard_dfcut): the Zipf-head
    stop-gram list broadcasts into a left-anti join, so the postings are
    filtered with zero extra shuffle of the postings themselves."""
    plan = _plan(spark, "dedup_ngram_containment")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_embedding_cosine_verdicts_broadcast_verdict_join(spark):
    """The recomposed dedup_embedding_cosine: the per-vector verdict side
    (#dups ≪ corpus) broadcasts onto the id column, and the LSH plane
    frame broadcasts as in the pair helper — no corpus-sized shuffle
    join appears on the verdict path."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_bpe_tokenize_vocab_scoring_join(spark):
    """text_bpe_tokenize's scale contract: merges apply to the distinct-
    word frame (vocab-bounded hash aggregates), scoring is a token-keyed
    join, and no single-partition exchange exists — the corpus never
    funnels through one task."""
    plan = _plan(spark, "text_bpe_tokenize")
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_span_contamination_broadcasts_eval_postings(spark):
    """decontaminate_span's scale contract: the eval postings side
    broadcasts into the gram join (benchmark sets are tiny next to the
    corpus), nothing is cartesian, and no single-partition exchange
    exists."""
    plan = _plan(spark, "decontaminate_span")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_winnow_fingerprints_per_doc_windows_only(spark):
    """Winnowing's scale contract: the selection window partitions per
    document (never a global order) and the pipeline is one scan into
    keyed windows — no single-partition exchange."""
    plan = _plan(spark, "text_winnow_fingerprint")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_topk_keyed_aggs_and_broadcast_n(spark):
    """tf-idf's scale contract: vocab-bounded hash aggregations, the N
    scalar broadcasts (the only 1-row cross join), and the top-3 window
    partitions PER DOC — the single SinglePartition exchange in the plan
    is the 1-row N aggregate, never the scored frame."""
    plan = _plan(spark, "text_tfidf_topk")
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("SinglePartition") <= 1  # only the N scalar
    assert "windowspecdefinition(doc_id" in plan  # per-doc rank window


def test_winnow_spans_broadcast_semi_verify(spark):
    """dedup_winnow_spans' composition contract: verify work is bounded
    by the candidate set — the candidate-doc restriction and the
    candidate-pair restriction both plan as BROADCAST semi-joins (the
    candidate frame is pair-count-sized, never corpus-sized), the gram
    join stays keyed (no cartesian), and no single-partition exchange
    appears anywhere."""
    plan = _plan(spark, "dedup_winnow_spans")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


@pytest.mark.parametrize("name", ["join_asof_forward", "join_asof_nearest"])
def test_asof_directions_single_sort_shuffle(spark, name):
    """The direction modes keep backward's linear plan: a union + window
    composition — never a range join (no cartesian / broadcast-nested-
    loop), partitioned on the join key (no single-partition window).
    Nearest evaluates two frames but they share the one key exchange."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_qsample_route_frame_is_keyed_and_broadcasts_catalog(spark, tmp_path_factory):
    """The pNN serving frame (_qsample_points): the sample re-take
    windows partition per (series, bucket) — no single-partition sort —
    and the series-tags enrichment joins the #series-bounded catalog as
    a BROADCAST, so routing a percentile never shuffles the rung by
    anything but its own keys."""
    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import backfill_qsample

    d = tmp_path_factory.mktemp("qsplan")
    lake, catalog, qs = str(d / "lake"), str(d / "cat"), str(d / "qs")
    eng = Engine(spark, lake, catalog, qsample_ladder={3_600_000: qs})
    eng.put([
        {"metric": "qp.m", "tags": {"ksid": "k1", "host": f"h{i % 2}"},
         "timestamp": 1704067200000 + i * 60_000, "value": float(i)}
        for i in range(120)
    ])
    backfill_qsample(spark, lake, qs, interval_ms=3_600_000)
    frame = eng._qsample_points(qs, 0.95, 3_600_000)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_user_exchange(spark):
    """events_funnel's scale contract: the whole funnel — three nested
    stage windows plus the per-user collapse — runs on ONE exchange keyed
    by user; no single-partition window, no join at all."""
    plan = _plan(spark, "events_funnel")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 3


def test_dsir_keyed_aggs_broadcast_ratio_topk(spark):
    """sample_dsir's scale contract: the corpus is scanned once into the
    keyed (doc, feature) aggregate; the 256-row log-ratio table BROADCASTS
    back onto it; selection is TakeOrderedAndProject (never a global
    sort); the only single-partition exchanges are the 1-row totals and
    the 64-row post-limit rank frame."""
    plan = _plan(spark, "sample_dsir")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") <= 3  # 2 scalar aggs + 64-row rank


def test_dedup_incremental_keyed_probe_no_corpus_blowup(spark):
    """dedup_incremental's scale contract: the delta probes the index via
    a KEYED (band, sig) join — never a cartesian — the hot-bucket valve is
    a per-(band, sig) window (not a global one), and the verdict join
    broadcasts the match aggregate onto the delta frame."""
    plan = _plan(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(band" in plan


def test_simhash_pairs_bucketed_no_self_join_recompute(spark):
    """dedup_simhash_pairs' scale contract: candidates come from ONE
    bucket-collect over the signature aggregate (a (j, segval) self-join
    would recompute the signature pipeline on both branches — the
    measured 7× trap), verify is a per-row bit op; no cartesian, no
    single-partition exchange."""
    plan = _plan(spark, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    # one signature aggregation feeds the bucket agg — the simhash
    # bit-majority HashAggregate appears once, not per join branch
    assert plan.count("bit_count") >= 1


def test_retention_keyed_aggs_cohort_join_copartitioned(spark):
    """events_retention's scale contract: activity and cohort frames are
    both user-keyed aggregates over one scan; the join back is keyed
    (co-partitioned — no broadcast needed, no cartesian); the final cell
    agg is (cohort, offset)-keyed.  No single-partition exchange."""
    plan = _plan(spark, "events_retention")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_band_index_probe_prunes_partitions(spark, tmp_path, monkeypatch):
    """dedup_index_probe's scale contract: the delta's signature shards
    reach the committed band-index scan as PartitionFilters (only the
    shards this batch can collide in are read), and the corpus is never
    re-scanned — the only documents scan in the plan is the delta's."""
    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    plan = _plan(spark, "dedup_index_probe")
    assert "PartitionFilters: [shard" in plan


def test_sig_index_assimilate_merge_read_is_pruned(spark, tmp_path,
                                                   monkeypatch):
    """assimilate_sig_index's scale contract: the base-index read during
    the merge carries the delta's touched (j, shard) pairs as
    PartitionFilters — an OR-chain of partition-column equality
    conjunctions prunes at the file index, so merge READ cost follows
    the delta, never the corpus."""
    import functools
    import operator
    import os

    import pyspark.sql.functions as F

    from mycenae_spark.functions import dedup

    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "idx"))
    sf = tmp_path / "sfP"
    spark.createDataFrame(
        [(i, "x") for i in range(10)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    sigs = spark.createDataFrame(
        [(i, 0x1111 * (i + 1)) for i in range(8)],
        "media_id long, dhash long",
    )
    d = dedup.ensure_sig_index(
        spark, str(sf), sigs, "media_id", "dhash",
        pred_desc="p", kind="t", bits=64, n_segments=6, max_bucket_size=512,
    )
    segs = spark.read.schema(
        "idx_id long, sig long, segval long, j int, shard bigint"
    ).parquet(os.path.join(d, "segments"))
    cond = functools.reduce(
        operator.or_,
        [
            (F.col("j") == F.lit(a)) & (F.col("shard") == F.lit(b))
            for a, b in [(0, 3), (1, 5)]
        ],
    )
    plan = segs.filter(cond)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [((" in plan and "OR" in plan
    # nothing leaked into the data filter — the whole condition pruned
    assert "PushedFilters: []" in plan


def test_series_gaps_single_exchange(spark):
    """series_gaps' scale contract: the lag window and the per-series agg
    share ONE (metric, tag_user) exchange — the same envelope as rate."""
    plan = _plan(spark, "series_gaps")
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_filtered_topk_is_keyed_broadcast(spark):
    """ann_filtered_topk's scale contract: the label filter is the JOIN
    KEY — a keyed BroadcastHashJoin, not a BroadcastNestedLoop cross join
    — and the corpus never shuffles before scoring."""
    plan = _plan(spark, "ann_filtered_topk")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_attribution_is_single_asof_shuffle(spark):
    """events_attribution's scale contract: the as-of composition keeps
    ONE sort-shuffle on the user key — no range-join explosion, no
    cartesian — and the purchase/click branches prune to their metric at
    the scan."""
    plan = _plan(spark, "events_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_holt_backtest_single_agg_shuffle(spark):
    """window_holt_backtest folds inside the series aggregation: no
    window function, no per-step shuffle — the same plan family as
    window_holt."""
    plan = _plan(spark, "window_holt_backtest")
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_bigram_lm_keyed_joins_only(spark):
    """text_bigram_logprob's scale contract: scoring reaches the bigram
    frame through keyed joins (broadcast or shuffled-hash per stats) —
    never a nested-loop; the one cross join is the single-row totals
    scalar."""
    plan = _plan(spark, "text_bigram_logprob")
    assert "CartesianProduct" not in plan


def test_attribution_first_mirrors_last_touch_plan(spark):
    """events_attribution_first (r12): the shift-and-mirror forward
    as-of keeps the EXACT single-exchange shape of last-touch — first-
    and last-touch cost the same one user-keyed sort-shuffle at 100 TB;
    metric predicates still prune at the scan."""
    plan = _plan(spark, "events_attribution_first")
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_attribution_position_user_keyed_band_join(spark):
    """events_attribution_position (r12): the multi-touch band join is
    USER-KEYED (SortMergeJoin on the tag, range predicate inside the
    join condition — per-user fan-out, never all-pairs), and the
    position window rides a purchase-keyed exchange: 2 exchanges total,
    no nested loop."""
    plan = _plan(spark, "events_attribution_position")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 2
    assert "SinglePartition" not in plan


def test_langid_indexed_broadcast_profile_no_gram_shuffle(spark):
    """text_langid_indexed (r12): the materialized profile joins
    BROADCAST, so the exploded gram stream is never shuffled by gram —
    the structural win over the inline trigram form (whose dot product
    exchanges the corpus on the gram key)."""
    plan = _plan(spark, "text_langid_indexed")
    assert "BroadcastHashJoin" in plan
    # Every exchange touching the gram key must ALSO carry doc_id (the
    # norm branch's doc-keyed tf aggregation) — a pure gram-keyed
    # repartition anywhere, leading key or not, is the inline form's
    # dot-product join cost reintroduced (review finding: the earlier
    # leading-key check missed secondary-key regressions).
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        if "gram" in keys:
            assert "doc_id" in keys, m.group(0)


def test_multimodal_header_stats_bounded_output(spark):
    """multimodal_header_stats (r12): the payload construction stays
    JVM-side (concat/unhex projections — no Python in the build path),
    the only Python boundary is the one Arrow mapInPandas decode, and
    aggregation output is #formats rows."""
    plan = _plan(spark, "multimodal_header_stats")
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_interval_overlap_is_keyed_equi_join(spark):
    """join_interval_overlap (r12): the bin-bucketing composition plans
    the interval match as a KEYED equi-join on the bin column — never
    the all-pairs nested loop a plain interval theta join degenerates
    to.  (The one nested-loop in the full query is the 3-row window-id
    constructor cross join, which is the tiny-literal case where a
    nested loop is correct.)"""
    import re

    plan = _plan(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    # the bin key is the equi-join key of a hash/sort-merge join
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[?_lbin", plan
    ), plan[:2000]
    # no nested loop beyond the 3-row window constructor
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_sq8_stats_broadcast_corpus_never_shuffled(spark):
    """ann_sq8_topk (r12): the per-dim quantization grid reaches the
    corpus as a broadcast literal-array pair, the query set broadcasts,
    and the corpus is never on a shuffle exchange — brute_topk's shape
    with integer scoring."""
    plan = _plan(spark, "ann_sq8_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_trigram_lm_keyed_joins_only(spark):
    """text_trigram_logprob (r12): all five count frames reach scoring
    through keyed joins; the one nested-loop is the single-row totals
    broadcast (text_bigram_logprob's contract, one order deeper)."""
    plan = _plan(spark, "text_trigram_logprob")
    assert "CartesianProduct" not in plan


def test_jaccard_prefix_no_nested_loop(spark):
    """dedup_jaccard_prefix (r12): the candidate join is keyed on the
    gram (never a nested loop), and the checkpointed postings frame
    appears as a reused in-memory scan, not repeated parquet scans of
    the documents table per consumer."""
    plan = _plan(spark, "dedup_jaccard_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the localCheckpoint collapses the 4-consumer gram explosion to
    # in-memory scans; only the sizes branch (un-exploded, cheap) still
    # reads the table — 2 parquet scans total, never one per consumer
    assert plan.count("Scan parquet") <= 2
    assert plan.count("Scan ExistingRDD") >= 2  # the checkpointed postings


def test_weighted_topk_is_take_ordered(spark):
    """sample_weighted_topk (r12): key assignment is a pure projection,
    the top-64 is TakeOrderedAndProject (per-partition top-k) — no
    global sort of the corpus; the only window runs on the 64-row
    survivor frame."""
    plan = _plan(spark, "sample_weighted_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_cal_week_single_agg_no_timestamps(spark):
    """downsample_cal_week (r12): the Monday bucket is a pure DATE
    projection (no timestamp type anywhere — the timezone trap), then
    one (series, bucket) hash aggregation."""
    plan = _plan(spark, "downsample_cal_week")
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 2
    assert "cast(ts_us" not in plan or "timestamp" not in plan.lower().split("hashaggregate")[0]


def test_pixel_stats_committed_corpus_one_arrow_stage(spark):
    """multimodal_pixel_stats (r15): the corpus is a committed artifact,
    so the judged query is parquet scan → ONE Python crossing (the decode
    mapInPandas) — the in-query render stage is gone (r14 VERDICT item
    3); payloads flow scan → kernel without a shuffle."""
    plan = _plan(spark, "multimodal_pixel_stats")
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_image_phash_pairs_keyed_buckets_no_allpairs(spark):
    """dedup_image_phash (r14): pixels collapse to an 8-byte signature at
    the Arrow boundary; pair generation is the segment-banding kernel —
    keyed equality buckets, one-pass bucket-collect — never a signature
    self-join that would recompute the decode on both branches, never an
    all-pairs nested loop over assets."""
    plan = _plan(spark, "dedup_image_phash")
    assert plan.count("MapInPandas") == 1  # dhash only; corpus committed (r15)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_stats_pruned_scan_two_arrow_stages(spark):
    """multimodal_audio_stats (r15): committed corpus scan + exactly ONE
    Arrow crossing (decode), no cartesian, no single-partition
    collapse."""
    plan = _plan(spark, "multimodal_audio_stats")
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_media_keep_best_single_decode_no_repeat_python(spark):
    """dedup_media_keep_best (r15): the signature AND the quality key come
    from ONE materialized profile frame (media_dedup_profile +
    localCheckpoint) — downstream of it the executed plan has ZERO Python
    crossings: neither the banding branch nor the quality join re-renders
    or re-decodes the corpus.  No all-pairs, no single-partition
    collapse."""
    plan = _plan(spark, "dedup_media_keep_best")
    assert "MapInPandas" not in plan  # profile decoded exactly once
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_clusters_keyed_banding(spark):
    """dedup_media_clusters / dedup_audio_clusters (r15): the component
    labels are checkpoint-materialized by the pointer-jump kernel; the
    final plan reads the label frame — no cartesian, no nested-loop pair
    expansion survives into the output plan."""
    for name in ("dedup_media_clusters", "dedup_audio_clusters"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_media_index_probe_partition_pruned(spark):
    """dedup_media_index_probe (r15): the probe's distinct segment shards
    push into the committed index scan as PartitionFilters — the index
    read follows the delta batch, never the corpus — and the final plan
    has exactly ONE Python crossing (the delta decode; the corpus side
    is the materialized index)."""
    plan = _plan(spark, "dedup_media_index_probe")
    # the index scan carries the probe's shard INSET partition filter
    assert any(
        seg[:200].lstrip(": [").startswith("shard")
        for seg in plan.split("PartitionFilters")[1:]
    ), plan
    # only the DELTA side decodes (the corpus side is the materialized
    # index) — every Python crossing in the plan is the delta kernel,
    # and the triple predicate filters below it (non-delta payloads
    # never reach Python)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_langid_mixture_broadcasts_profile_join(spark):
    """text_langid_mixture joins the tf frame to the bounded #langs × vocab
    profile by BROADCAST on (ord, gram).  Without the explicit hint the
    composite key defeated the size estimate and this join ran as a
    SortMergeJoin of the corpus-sized tf frame; the only sort-merge join
    left is the doc-keyed norm join."""
    import re

    plan = _plan(spark, "text_langid_mixture")
    assert re.search(r"BroadcastHashJoin \[ord#\d+, gram#\d+\]", plan), plan
    for keys in re.findall(r"SortMergeJoin (\[[^\]]*\], \[[^\]]*\])", plan):
        left, right = keys.split("], [")
        assert "doc_id" in left and "doc_id" in right, keys


def test_reverted_spread_sites_stay_unspread(spark):
    """Two spread_scan sites were measured as losses and reverted: the
    corpus under kmeans_refine's Lloyd step (its work drains into keyed
    aggregations that repartition anyway) and the corpus under
    brute_topk_filtered (the keyed broadcast join already spreads the
    scored frame).  Only ivf_assign's own spread may appear in a
    refinement step, and the filtered search has none."""
    from mycenae_spark.functions.similarity import kmeans_refine
    from mycenae_spark.registry.llm_queries import _cent0
    from mycenae_spark.sources.tables import load_table

    cent = kmeans_refine(
        load_table(spark, SF_DIR, "embeddings"),
        _cent0(spark, SF_DIR).withColumnRenamed("c_id", "vec_id"),
        iters=1,
    )
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    assert "RoundRobinPartitioning" not in _plan(spark, "ann_filtered_topk")


@pytest.mark.parametrize(
    "name, arrow",
    [
        ("dedup_semantic", True),
        ("knn_graph_topk", True),
        ("knn_graph_multiprobe", True),
        ("dedup_embedding_lsh", False),
    ],
)
def test_pair_dot_leg_engine(spark, name, arrow):
    """The in-cluster pair legs of semantic_pairs / knn_graph score pairs
    through the pair_dot_arrow kernel (one MapInArrow); the LSH verify leg
    keeps the JVM dot fold, where the Python round-trip measured slower
    than the interpreted fold on its small per-task slices."""
    assert ("MapInArrow" in _plan(spark, name)) is arrow
