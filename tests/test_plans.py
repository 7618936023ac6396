"""Physical-plan audit — the 100 TB scale gate (SURVEY.md §4).

Correctness says a query returns the right rows at sf0.01; these tests
pin the *plan shape* that makes the same query viable at 100 TB:

- filters reach the parquet scan (``PushedFilters``) and projection
  prunes the read schema (``ReadSchema``) — a scan that reads all
  columns to serve a 2-column projection is wrong at any scale;
- dimension joins broadcast (``BroadcastHashJoin``) instead of
  shuffling the fact table;
- aggregates are two-phase (``partial_*`` then final) so the shuffle
  carries one row per group, not one row per input;
- top-k per group prunes at the window operator
  (``WindowGroupLimit``) before the shuffle;
- nothing in the oracle-checked surface degenerates to a
  ``CartesianProduct`` or a row-at-a-time Python eval
  (``BatchEvalPython``) except the queries that exist to test exactly
  that surface.

All assertions are plan-only (no job runs): building the plan costs
milliseconds, so this is cheap enough to sweep the whole registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from karna_spark.queries.registry import REGISTRY

SF = "/root/testdata/sf0.001"


# Builders retired from the driver registry in r8 (rows-only; their
# hash-certified twins carry correctness) but still plan-audited here —
# the scale contract outlives the registry entry.
from karna_spark.queries.vectors import similarity_topk_lsh as _topk_lsh


def _builder(name: str):
    if name == "similarity_topk_lsh":
        return _topk_lsh
    if name == "dedup_semantic_assign":
        # retired from the driver registry in r12 (certified implicitly
        # through dedup_semantic_keep); the plan contract stays audited
        from karna_spark.queries.dedup import dedup_semantic_assign

        return dedup_semantic_assign
    return REGISTRY[name].builder


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = _builder(name)(spark, SF)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_q6_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # Range predicates on shipdate/discount/quantity all reach the scan.
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThanOrEqual(l_discount" in plan
    # Column pruning: exactly the 4 needed lineitem columns are read.
    read = next(l for l in plan.splitlines() if l.startswith("ReadSchema"))
    fields = read.split("struct<", 1)[1].rsplit(">", 1)[0]
    names = {f.split(":", 1)[0].strip() for f in fields.split(",") if ":" in f}
    assert names == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, read
    # Map-side combine before the single-partition exchange.
    assert "partial_sum" in plan


def test_q1_two_phase_aggregate(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "partial_sum" in plan and "partial_count" in plan
    assert plan.count("HashAggregate") >= 2


def test_dim_joins_broadcast(spark):
    # Star joins: every dimension side must broadcast — the fact table
    # never shuffles for a join in these plans.
    for name in ("q3_shipping_priority", "q5_local_supplier_volume",
                 "q10_returned_items", "q2_min_cost_supplier"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_topk_uses_window_group_limit(spark):
    plan = plan_of(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_top_n_plans_take_ordered(spark):
    # ORDER BY + LIMIT fuses to TakeOrderedAndProject: no global sort.
    # (frontend_nl_topn was retired in the r10 consolidation; the NL
    # top-k intent now plans through frontend_nl_bm25_topk, and q3 is
    # the classic ORDER+LIMIT shape.)
    for name in ("frontend_nl_bm25_topk", "q3_shipping_priority"):
        plan = plan_of(spark, name, mode="simple")
        assert "TakeOrderedAndProject" in plan, name


def test_partition_pruning(spark):
    # Hive-partitioned layout scan keeps a PartitionFilters clause.
    plan = plan_of(spark, "source_partitioned_layout")
    assert "PartitionFilters" in plan


def test_lsh_join_is_equi_not_cross(spark):
    # The whole point of LSH banding: the candidate join is an
    # equi-join on the band key, never an all-pairs product.
    for name in (
        "dedup_minhash_lsh",
        "similarity_topk_lsh",
        "dedup_incremental_minhash",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_graphql_nested_list_single_parent_shuffle(spark):
    """One-to-many GraphQL nesting moves data once: a single hash
    shuffle on the parent key for the two-phase collect_list, then the
    aggregated (one-row-per-parent, hence small) side BROADCASTS back
    to the parent table. A second hashpartitioning Exchange would mean
    the translator regressed to shuffling both join sides — at 100 TB
    that doubles the movement for identical semantics. The trailing
    rangepartitioning Exchange is the query's ORDER BY, not a join
    shuffle."""
    plan = plan_of(spark, "frontend_graphql_nested_list")
    assert plan.count("hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # Two-phase collect: partial buffers before the shuffle.
    assert plan.count("ObjectHashAggregate") >= 2


def test_asof_join_no_cartesian(spark):
    plan = plan_of(spark, "asof_join_events")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_contamination_broadcasts_bench_side(spark):
    """The benchmark n-gram set (tiny next to a corpus) must broadcast:
    the membership test is then map-side over the exploded training
    n-grams — the corpus never shuffles for the join."""
    plan = plan_of(spark, "text_contamination_ngram", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_sort_single_shuffle(spark):
    """direction='nearest' must not cost more than directional as-of:
    both candidate carries (backward last / forward first) are frames
    over one window ordering, so the plan has exactly one shuffle, one
    sort, one Window operator — and, critically, no join or cross
    product (the oracle's per-key cross-join+rank shape is the plan
    this operator exists to avoid)."""
    plan = plan_of(spark, "asof_join_nearest", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort") == 1, plan
    assert plan.count("+- Window") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


# Queries whose *purpose* is the excluded construct.
_PYTHON_OK = {
    "udf_scalar_python",      # U1: deliberate row-at-a-time UDF coverage
    "udtf_tokenize_lateral",  # U4: python UDTF
}
_SLOW_BUILDERS = {
    # These run jobs at plan-build time (write a fixture copy, train a
    # quantizer, sample a dimension) — audited individually above or
    # excluded to keep the sweep plan-only.
    "source_csv_roundtrip", "source_tsv_roundtrip",
    "source_multifile_glob", "source_partitioned_layout",
    "source_bucketed_join",
    "sink_result_page",
    "streaming_stateful_user_stats", "streaming_tumbling_watermark",
    "streaming_stream_stream_join", "streaming_dedup_exact",
    "streaming_left_outer_join",
    "dedup_clusters",  # iterative fixpoint: runs count() jobs to converge
    "sink_partition_upsert",  # seeds + upserts a store at build time
    "source_schema_evolution", "sink_compaction",  # write files at build
    "streaming_session_window",
    # recall gates: centroid/codebook seed rows collect at build time
    "similarity_ivf_recall", "similarity_pq_recall",
    "source_time_travel",  # commits two snapshots at build time
    "snapshot_changelog_read",  # commits v1 + CDC v2 at build time
    "streaming_snapshot_rollup",  # runs the micro-batch stream at build
    "source_cdc_apply",  # commits base + change-feed snapshots at build
    "dedup_cluster_keep_best",  # iterative CC fixpoint at build
    # posting-gram cache barrier (one count) pins the shared explosion
    "dedup_shared_ngrams", "dedup_containment",
    "text_bpe_merges_exact",  # learns 8 merges (1 collect) at build
    "snapshot_schema_evolution",  # commits + DDL-evolves a store at build
    # r11: store-lifecycle builders (commit + delete/upsert/merge at
    # build) and the GD trainer (6 iterations, 1 collect each)
    "snapshot_equality_delete_read", "snapshot_stats_agg_pushdown",
    "snapshot_merge_into", "text_quality_classifier",
    # r12: store-lifecycle builders (commit + respec/branch/rollback/
    # history ops at build) and the Avro sink (encodes containers at
    # build before the source plan exists)
    "snapshot_multifield_spec", "snapshot_branch_wap",
    "snapshot_rollback_read", "snapshot_history_audit",
    "source_avro_roundtrip",
}


@pytest.mark.parametrize(
    "name", sorted(n for n in REGISTRY if n not in _SLOW_BUILDERS)
)
def test_no_rowwise_python_in_hot_path(spark, name):
    plan = plan_of(spark, name, mode="simple")
    if name not in _PYTHON_OK:
        assert "BatchEvalPython" not in plan, name
    # join_cross (the one true-Cartesian query) was retired in r10:
    # NO registered query may plan a CartesianProduct.
    assert "CartesianProduct" not in plan, name


def test_lsh_plan_build_runs_no_jobs(spark):
    """Building the LSH query plans must trigger ZERO Spark jobs: the
    vector dimensionality comes from an explicit parameter, not a
    driver-side .first() probe (which would pay a job per plan build)."""
    sc = spark.sparkContext
    # Warm the fixture schema cache (the very first parquet read may run
    # a footer-inference job — that cost is per-table, not per-build).
    _topk_lsh(spark, SF)
    sc.setJobGroup("lsh-plan-build", "plan construction must be action-free")
    try:
        _topk_lsh(spark, SF)  # build only — no action
        jobs = sc.statusTracker().getJobIdsForGroup("lsh-plan-build")
    finally:
        sc.setJobGroup("", "")
    assert jobs == [], f"plan build ran Spark jobs: {jobs}"


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed by the join key into the same bucket count
    join WITHOUT any shuffle: the SortMergeJoin's children are bare
    bucketed scans (no Exchange, no per-query Sort — buckets are
    written sorted)."""
    from karna_spark.io.bucketing import read_bucketed, write_bucketed
    from karna_spark.queries.registry import table

    write_bucketed(
        table(spark, SF, "lineitem").select("l_orderkey", "l_quantity"),
        "li_bkt_plan", ["l_orderkey"], 4,
    )
    write_bucketed(
        table(spark, SF, "orders").select("o_orderkey", "o_totalprice"),
        "od_bkt_plan", ["o_orderkey"], 4,
    )
    li, od = read_bucketed(spark, "li_bkt_plan"), read_bucketed(spark, "od_bkt_plan")
    joined = li.join(od, li.l_orderkey == od.o_orderkey)
    # At fixture scale the orders side is broadcast-small, which would
    # mask the co-location; disable broadcast to see the bucketed SMJ
    # both large tables would get at 100 TB.
    original = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(od, li.l_orderkey == od.o_orderkey)
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        plan = joined._jdf.queryExecution().explainString(jmode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and results equal the plain (shuffled) join
        plain = table(spark, SF, "lineitem").join(
            table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", original)


def test_bloom_decontaminate_map_only(spark):
    """The Bloom probe is the operator's whole point: the PROBE plan
    (what runs over the 100 TB corpus) must be a pure map — no
    Exchange, no Generate (the n-grams fold inside the projection),
    no Python — and the train-side source filter must reach the scan.
    The benchmark-side build job (bounded collect) runs at builder
    time and is not part of this plan."""
    plan = plan_of(spark, "dedup_bloom_decontaminate")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Not(EqualTo(source,src0))" in plan or "IsNotNull(source)" in plan, plan
    # the probe must be evaluated ONCE per row: thresholding on the
    # projected count in the same plan makes Catalyst substitute the
    # alias into a Filter and run the whole HOF twice (measured 2×) —
    # exactly 2 lambdas (n-gram transform + probe filter), no more
    df = _builder("dedup_bloom_decontaminate")(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("lambdafunction") == 2, opt


def test_repetition_filter_single_shuffle(spark):
    """The Gopher repetition features are pure column folds — the ONLY
    Exchange in the plan is the final 5-key language aggregate (no
    explode-driven per-doc shuffle anywhere)."""
    plan = plan_of(spark, "text_repetition_filter", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Generate" not in plan  # no explode in this path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    """The vocabulary (distinct words) broadcasts onto the occurrence
    stream; the corpus is never shuffled by word for the scoring join."""
    plan = plan_of(spark, "text_unigram_logprob", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_semdedup_assign_broadcast_argmax(spark):
    """Centroid scoring is a broadcast nested loop over K rows plus a
    map-side-combinable argmax — no sort-merge join, no per-row
    Python."""
    plan = plan_of(spark, "dedup_semantic_assign", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "partial_max" in plan or "partial_" in plan  # two-phase argmax
    assert "BatchEvalPython" not in plan


def test_fuzzy_entity_join_blocked(spark):
    """The fuzzy join must run inside the blocking key's equi-join —
    never as a cartesian product with a distance filter."""
    plan = plan_of(spark, "join_fuzzy_entity", mode="simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_temperature_sampling_broadcasts_quotas(spark):
    """Per-language quotas (5 rows) broadcast back onto the corpus;
    the only wide operations are the rank window and final aggregate."""
    plan = plan_of(spark, "sample_temperature_by_lang", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join(spark):
    """Scale gate for skewed keys: with the engine's pinned AQE posture
    (adaptive + skewJoin enabled in session.py), a shuffle join whose
    probe side has one hot key is split at RUNTIME — the executed plan
    carries a ``skew=true`` SortMergeJoin instead of a straggler task.
    Thresholds are scaled to fixture bytes (same ratios as the 256 MB
    cluster defaults). Two planning subtleties this test pins on
    purpose (also documented in scripts/skew_demo.py): broadcast must
    be disabled (broadcasting IS the first defense and would hide the
    path), and both join children must be FRESH shuffles — checkpoints
    here, materialized tables in the demo — because OptimizeSkewedJoin
    cannot split a join whose child is an inline aggregate, and a
    single-file source gives the splitter no mapper ranges to cut."""
    sf = "/root/testdata/sf0.01"
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        from karna_spark.queries.registry import table

        # table() -> tune_session re-pins the engine's broadcast
        # threshold, so the probe confs must be set AFTER it.
        ev = table(spark, sf, "events")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8192"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        skewed = (
            ev.repartition(32)  # many map tasks -> splittable ranges
            .withColumn(
                "user_id",
                F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(
                    F.col("user_id")
                ),
            )
            .select("user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
        stats = (
            skewed.groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
        joined = skewed.join(stats, "user_id").groupBy("event_type").agg(
            F.sum("n").alias("s")
        )
        joined.collect()  # executes through THIS QueryExecution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_overlap_is_equi_not_nested_loop(spark):
    # J14's whole point: the day-bucketed rewrite gives Catalyst an
    # equi-key, so the overlap join must NOT degenerate to a nested
    # loop / cartesian — that is the O(n·m) plan it replaces.
    plan = plan_of(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_window_exchange(spark):
    # lag (change compression) and lead (validity close) share one
    # (user_id)/(ts,event_id) window spec -> exactly one shuffle.
    plan = plan_of(spark, "scd2_dimension_build", "simple")
    assert plan.count("Exchange") == 1, plan


def test_twap_window_shares_aggregate_key(spark):
    # One Exchange for the event_type window; the groupBy(event_type)
    # reuses that partitioning (no second wide shuffle of the data —
    # only the 5-group partial-agg exchange may remain).
    simple = plan_of(spark, "timeseries_twap", "simple")
    assert simple.count("Exchange") <= 2, simple
    assert "partial_sum" in plan_of(spark, "timeseries_twap")


def test_equidepth_window_over_compressed_domain(spark):
    # The global (single-partition) window must sit ABOVE the groupBy
    # compression: HashAggregate before the SinglePartition exchange,
    # so the sort/window costs |distinct values|, never |rows|.
    plan = plan_of(spark, "agg_equidepth_histogram")
    seg = plan.split("SinglePartition", 1)[0]
    assert "HashAggregate" in seg, plan


def test_zorder_pure_map_no_python(spark):
    # Bit interleaving is integer column arithmetic: zero UDFs, one
    # aggregate exchange, nothing else.
    plan = plan_of(spark, "zorder_layout_stats")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan_of(spark, "zorder_layout_stats", "simple").count("Exchange") == 1


def test_containment_posting_join_is_equi(spark):
    plan = plan_of(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transition_matrix_normalizes_tiny_frame(spark):
    # The row-normalization window must run ABOVE the (cur, nxt) count
    # aggregate — |types|^2 rows — not over the raw events.
    plan = plan_of(spark, "events_transition_matrix", "simple")
    # one window shuffle (user_id), one agg exchange, one norm window
    assert plan.count("Exchange") <= 3, plan


def test_pipeline_contamination_side_broadcasts(spark):
    plan = plan_of(spark, "pipeline_training_corpus")
    assert "BroadcastHashJoin" in plan  # bench n-gram membership
    assert "BatchEvalPython" not in plan


def test_ohlc_window_and_agg_share_key(spark):
    # Both row_number windows and the final aggregate group on
    # (event_type, bucket): one data-scale Exchange for the windows;
    # the agg reuses that partitioning.
    plan = plan_of(spark, "timeseries_ohlc", "simple")
    assert plan.count("Exchange") <= 2, plan


def test_rfm_windows_rank_user_frame_not_events(spark):
    # The ntile windows must sit above the per-user aggregate: the
    # single-partition sort ranks |users| rows, never the event log.
    plan = plan_of(spark, "events_rfm_segmentation")
    seg = plan.split("SinglePartition", 1)[0]
    assert "HashAggregate" in seg, plan


def test_basket_affinity_marginals_broadcast(spark):
    plan = plan_of(spark, "basket_affinity_lift")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_longest_streak_single_data_shuffle(spark):
    # lag flag + cumulative run-id share one (user_id)/(ts,event_id)
    # window spec: exactly one Exchange before the run aggregates.
    plan = plan_of(spark, "events_longest_streak", "simple")
    first_agg = plan.find("HashAggregate")
    assert plan[:first_agg].count("Exchange") == 0 or plan.count("Exchange") <= 3, plan


def test_profile_single_scan_with_expand(spark):
    # One scan + one Expand (the multi-countDistinct plan) + stack
    # projection: no join, no second scan of the table.
    plan = plan_of(spark, "profile_table_stats", "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_attribution_single_data_shuffle_no_self_join(spark):
    # The LOCF carry costs one (user_id) window shuffle; there is no
    # purchases-to-touches join anywhere in the plan.
    plan = plan_of(spark, "events_attribution_last_touch", "simple")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_path_mining_topk_take_ordered(spark):
    plan = plan_of(spark, "events_path_mining", "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pareto_window_over_brand_frame(spark):
    # The cumulative window must rank the |brands| aggregate, not the
    # fact table: HashAggregate before the SinglePartition sort.
    plan = plan_of(spark, "agg_abc_pareto")
    seg = plan.split("SinglePartition", 1)[0]
    assert "HashAggregate" in seg, plan
    assert "BroadcastHashJoin" in plan


def test_backlog_delta_encoding_no_interval_join(spark):
    # Delta encoding means NO join at all — just union, aggregate, and
    # a window over the |months| frame.
    plan = plan_of(spark, "orders_backlog_timeline", "simple")
    assert "Join" not in plan, plan


def test_dau_wau_bounded_explode_no_range_join(spark):
    # The sliding-distinct rewrite: no day-by-activity range join —
    # just dedup, a x7 contribution explode (Generate), and aggregates.
    plan = plan_of(spark, "events_dau_wau", "simple")
    assert "Generate" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_r7_aggregates_are_two_phase(spark):
    # The r7 sketch/DQ aggregates must combine map-side: the shuffle
    # carries one partial state per group, not one row per input —
    # including the sketch aggregates themselves (partial_hll/theta
    # states merge, which is the whole point of mergeable sketches).
    assert "partial_count" in plan_of(spark, "dq_k_anonymity", "simple")
    assert "partial_hll_sketch_agg" in plan_of(
        spark, "agg_hll_mergeable_rollup", "simple"
    )
    assert "partial_theta_sketch_agg" in plan_of(
        spark, "agg_theta_set_algebra", "simple"
    )


def test_winsorized_cuts_broadcast(spark):
    # The 2·|types| cut rows must broadcast back onto the ranked frame
    # — a shuffle join here would re-partition the data frame to serve
    # a metadata-scale lookup.
    plan = plan_of(spark, "events_winsorized_stats", "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mixture_sampling_is_window_free(spark):
    # O11's whole point: the temperature-sampling scale path with NO
    # per-group rank — thresholds broadcast onto a row-local filter.
    plan = plan_of(spark, "sample_mixture_hash_threshold", "simple")
    assert "Window" not in plan and "Expand" not in plan
    assert "BroadcastHashJoin" in plan  # per-source thresholds
    assert "SortMergeJoin" not in plan


def test_boilerplate_set_probe_is_broadcast_anti_join(spark):
    # F24: the df>=K boilerplate set (bounded by n_segs/K) must probe
    # the exploded corpus as a BROADCAST left_anti — shuffling the
    # corpus against a tiny set would be the scale mistake. Order is
    # rebuilt by array_sort inside the aggregate, never a window.
    plan = plan_of(spark, "text_boilerplate_strip", "formatted")
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "Window" not in plan


def test_corpus_diff_joins_on_the_key_no_bnlj(spark):
    # S19: the release diff is one key-partitioned full-outer join —
    # both sides corpus-scale, so it must be a hash/sort-merge join
    # on doc_id, never a nested-loop shape.
    plan = plan_of(spark, "snapshot_corpus_diff", "simple")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sliding_hll_merge_is_metadata_scale(spark):
    # A33: the sketch path re-aggregates |days|x7 sketch rows (one
    # Generate off the daily frame), and the sketch union combines
    # map-side like every mergeable aggregate.
    plan = plan_of(spark, "agg_hll_sliding_window_merge", "simple")
    assert "partial_hll_union_agg" in plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_span_scrub_hash_prefilter_no_window_no_python(spark):
    # F25: the corpus-scale duplicate-detection shuffle must key on
    # xxhash64(g) (8 bytes), never the 8-word gram strings; the exact
    # string confirm touches only hash-candidates. Interval merge is
    # an aggregate() fold — no window anywhere — and the whole path
    # stays JVM-side.
    plan = plan_of(spark, "text_duplicate_span_scrub", "formatted")
    assert "xxhash64" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # countDistinct df gates are two-phase on both the hash prefilter
    # and the exact confirm.
    assert plan.count("HashAggregate") >= 4


def test_bigram_logprob_model_broadcasts_no_python(spark):
    # F26: the bigram model (|distinct bigrams| scale) broadcasts back
    # onto the occurrence frame; counts are two-phase; ln() never
    # leaves the JVM and fires on the model frame only.
    plan = plan_of(spark, "text_bigram_logprob", "formatted")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_dynamic_partition_pruning_reaches_fact_scan(spark):
    # V7: the Q2 filter lives on the dim, so only a RUNTIME pruning
    # expression can skip fact partitions — assert Catalyst injected
    # it into the partitioned scan's PartitionFilters.
    plan = plan_of(spark, "source_dynamic_partition_pruning", "formatted")
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_snapshot_stat_pruned_read_skips_years(spark):
    # S20: the bounded read's file list must contain ONLY the two year
    # partitions whose o_day footer bounds intersect [2007, 2372] —
    # pruning happened manifest-side, before Spark listed anything.
    df = _builder("snapshot_stat_pruned_read")(spark, SF)
    files = df.inputFiles()
    assert files
    years = {f.split("o_year=")[1].split("/")[0] for f in files}
    assert years == {"1995", "1996"}, years


def test_intradoc_span_dedup_no_crossdoc_traffic_no_window(spark):
    # F27: first-occurrence detection groups on (doc_id, g) — every
    # shuffle key contains doc_id, so the operator is per-document
    # parallel with zero cross-document traffic; interval merge is the
    # shared aggregate fold, never a window; whole path JVM-side.
    plan = plan_of(spark, "text_intradoc_span_dedup", "formatted")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injected_and_confs_restored(spark):
    """V8: the selective-but-unbroadcastable dim join gets a runtime
    bloom filter — bloom_filter_agg subquery on the creation side,
    might_contain applied to the fact BEFORE its shuffle — and the
    per-plan conf carve-out is reset by the next builder's
    table()/load_fixture_tables tune (lazy execution keeps confs live
    until then, so restoration is the contract that protects every
    subsequent query's plan)."""
    plan = plan_of(spark, "join_runtime_bloom_filter", "formatted")
    assert "bloom_filter_agg" in plan, plan[:1500]
    assert "might_contain" in plan
    assert "SortMergeJoin" in plan  # broadcast disabled for this plan
    # next builder restores the engine posture
    from karna_spark.queries.registry import table

    table(spark, SF, "nation")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "64m"
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        == "10GB"
    )


def test_nl_funnel_single_shuffle_no_join_ladder(spark):
    """r12: the funnel intent's plan must be the one-shuffle form —
    per-user collect + JVM-side fold — not the k-way self-join ladder
    a 3-step funnel naively plans (which would shuffle the events
    table 3 times and explode at 100 TB)."""
    from karna_spark.operators.patterns import funnel_user_count
    from karna_spark.queries.registry import table

    df = funnel_user_count(
        table(spark, SF, "events"), ["view", "click", "purchase"]
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "Join" not in plan, plan
    # one data-scale exchange (user groupBy) + the 1-row final agg's
    # single-partition exchange
    assert plan.count("Exchange") <= 2, plan
    assert "BatchEvalPython" not in plan, plan


def test_boolean_search_term_filter_under_shuffle(spark):
    """r12: boolean retrieval keeps the query-term filter BELOW the
    per-doc aggregate exchange (shuffle volume ∝ matched postings, not
    corpus tokens) and resolves AND/NOT/score in ONE aggregate; the
    top-k form plans as TakeOrderedAndProject, never a global sort."""
    from karna_spark.operators.retrieval import boolean_search
    from karna_spark.queries.registry import table

    df = boolean_search(
        table(spark, SF, "documents"), "doc_id", "text",
        ["vector", "stream"], ["slow"], k=10,
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert plan.count("Exchange") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    # the isin() term filter sits below the exchange in the plan tree
    # (printed after it in simple mode's top-down rendering)
    exch = plan.index("Exchange")
    assert "vector" in plan[exch:], plan


def test_rrf_candidate_lists_take_ordered(spark):
    """r12: each RRF candidate list truncates via TakeOrderedAndProject
    (per-partition heaps, k-row driver merge) BEFORE its rank window —
    a global Sort for the top-100 would be the 100TB anti-pattern."""
    from karna_spark.operators.retrieval import topn_ranks
    from karna_spark.queries.registry import table

    scored = table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("vec_id") % 7).cast("double").alias("s"),
    )
    df = topn_ranks(scored, "doc_id", "s", "r", 100)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "TakeOrderedAndProject" in plan, plan


def test_rrf_fuse_union_semantics(spark):
    """rrf_fuse: a doc missing from one list keeps only the other
    list's contribution; ties break by id; ranks survive as ints."""
    from karna_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "id long, r_a int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "id long, r_b int")
    out = rrf_fuse(a, b, "id", "r_a", "r_b", k=60, top_k=10).collect()
    by_id = {r.id: r for r in out}
    assert by_id[2].rrf == 1.0 / 62 + 1.0 / 61          # both lists
    assert by_id[1].rrf == 1.0 / 61                      # a only
    assert by_id[3].rrf == 1.0 / 62                      # b only
    assert by_id[3].r_a is None and by_id[1].r_b is None
    # doc 2 (two contributions) outranks the single-list docs; the
    # 1/61 vs 1/62 ordering puts 1 before 3
    assert [r.id for r in out] == [2, 1, 3]
    assert [r.fused_rank for r in out] == [1, 2, 3]


def test_hamming_rerank_no_python_and_group_limit(spark):
    """r12: the binary-sketch ANN stays fully JVM-side (the packing is
    zip_with/aggregate, never BatchEvalPython) and its per-query top-R
    candidate stage plans as a WindowGroupLimit, not a global sort."""
    from karna_spark.operators.similarity import ann_hamming_rerank
    from karna_spark.queries.registry import table

    emb = table(spark, SF, "embeddings")
    df = ann_hamming_rerank(
        emb, emb.filter(F.col("vec_id") < 5),
        "vec_id", "vec_id", "embedding", k=5, rerank=30, dim=64,
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_rag_index_pipeline_map_only_until_topk(spark):
    """r12: chunk+embed is a map-only projection — the only ordering
    op in the plan is the bounded TakeOrderedAndProject; no shuffle
    exchange anywhere, no Python in the hot path."""
    from karna_spark.queries.registry import REGISTRY

    df = REGISTRY["pipeline_rag_index"].builder(spark, SF)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    # the final row_number window runs over <= k rows AFTER the limit;
    # everything below the TakeOrdered is exchange-free
    below = plan[plan.index("TakeOrderedAndProject"):]
    assert "Exchange" not in below, plan
