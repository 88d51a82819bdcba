"""Plan-shape asserts (SURVEY.md §5.2.3): the physical plans our scale
story depends on — broadcasts actually broadcast, pruning actually
prunes, top-k never globally sorts.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # registry-wide sweep; see pytest.ini

from clickhousebackup_spark.plans import inspect
from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view

SPECS = all_specs()


def test_join_broadcast_is_broadcast(spark, sf_dir):
    df = SPECS["join_broadcast"].fn(spark, sf_dir)
    assert inspect.uses_broadcast_join(df)


def test_scan_projected_prunes_columns(spark, sf_dir):
    df = SPECS["scan_projected"].fn(spark, sf_dir)
    schema = inspect.read_schema(df)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema  # unused column never read


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from pyspark.sql import functions as F

    from clickhousebackup_spark.tables import load_table

    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    pushed = inspect.pushed_filters(df)
    assert "o_totalprice" in pushed


def test_topk_uses_take_ordered(spark, sf_dir):
    df = SPECS["topk_limit"].fn(spark, sf_dir)
    assert inspect.uses_take_ordered(df)


def test_agg_basic_single_shuffle(spark, sf_dir):
    # partial+final hash agg: exactly one exchange on the group keys
    df = SPECS["agg_basic"].fn(spark, sf_dir)
    assert inspect.count_shuffles(df) == 1


def test_set_union_all_no_shuffle(spark, sf_dir):
    df = SPECS["set_union_all"].fn(spark, sf_dir)
    assert inspect.count_shuffles(df) == 0


def test_bucketed_join_no_shuffle(spark, sf_dir):
    # both sides pre-bucketed on the join key → zero exchanges
    df = SPECS["join_bucketed"].fn(spark, sf_dir)
    assert inspect.count_shuffles(df) == 0
    assert inspect.uses_sort_merge_join(df) or "BroadcastHashJoin" in inspect.physical_plan(df)


def test_partition_pruned_scan(spark, sf_dir):
    df = SPECS["scan_partition_pruned"].fn(spark, sf_dir)
    plan = inspect.formatted(df)
    assert "PartitionFilters" in plan
    # the day predicate must appear as a partition filter, not a data filter
    assert any(
        "day" in line and "PartitionFilters" in line
        for line in plan.splitlines()
    )


def test_range_join_keeps_equi_key(spark, sf_dir):
    # the band predicate must ride on a user_id equi join (SMJ/SHJ),
    # never degrade to a broadcast-nested-loop over the whole table
    df = SPECS["join_range"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_cosine_join_is_equi_key(spark, sf_dir):
    """The LSH bucket prefilter must compile to an equi-key join
    (broadcast/shuffled hash or sort-merge) — never a nested-loop
    cartesian, which is the all-pairs scale-killer it replaces."""
    df = SPECS["dedup_embedding_cosine"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_dedup_clusters_plan_is_checkpoint_truncated(spark, sf_dir):
    """Each label-propagation round localCheckpoints, so the returned
    plan must scan checkpointed partitions rather than nesting all
    rounds' joins (lineage would double per iteration otherwise)."""
    df = SPECS["dedup_clusters"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ngram_jaccard_join_is_equi_key(spark, sf_dir):
    """Prefix filtering replaces the all-pairs nested loop: candidate
    generation and verify must both be equi-key joins."""
    df = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_sort_multi_ranks_via_range_partitioning(spark, sf_dir):
    """Global rank must be the two-pass range-partitioned plan, not a
    single-partition window over the full table (the tiny per-partition
    offset table is the only single-partition piece)."""
    df = SPECS["sort_multi"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "rangepartitioning" in plan


# Per-round plan-budget test ids, kept as views of the registry sweep's
# plan clause for keys with a pinned budget (the budgets live in
# tests/contracts.py). Frozen: new keys go in tests/contracts.py only.
test_tpch_r3_plan_budgets = key_view("budget", """
    q11_important_parts q13_customer_distribution q14_promo_effect
    q15_top_supplier q16_parts_suppliers q17_small_quantity
    q19_discounted_revenue q1_pricing_summary q20_part_promotion
    q21_waiting_suppliers q22_global_sales q2_min_cost_supplier
    q4_order_priority q7_volume_shipping q8_market_share q9_product_profit
""".split())
test_r3b_plan_budgets = key_view("budget", """
    agg_combinators agg_hll_merge agg_skew_kurtosis agg_sum_map
    agg_topk_weighted array_cumsum array_difference audio_fft_dominant
    backup_verify_integrity bitmap_set_ops compaction_plan
    date_fill_interpolate dedup_url_normalize dict_encode_lowcard encode_funcs
    events_anomaly_zscore geo_geohash graph_pagerank image_channel_stats
    ip_funcs merge_aggregating_shards merge_collapsing_final
    mv_incremental_refresh orders_market_basket orders_rfm_segments
    part_trigram_search quality_linear_score rollup_time_hierarchy
    sequence_count_pairs skyline_orders stats_cramers_v stats_mannwhitney_u
    stats_welch_ttest text_chunk_passages text_top_terms topic_roundtrip
    url_funcs user_active_streaks win_moving_median zorder_layout
""".split())
test_r4_plan_budgets = key_view("budget", """
    agg_argminmax agg_delta_sum agg_gini_diversity agg_group_concat
    agg_weighted_median array_enumerate_uniq array_join_parallel
    bpe_merge_candidates cdc_apply_changelog corpus_pack_sequences
    corpus_split_train_eval date_bucket_custom dedup_fuzzy_blocked
    dedup_semantic dict_get_join dict_hierarchy_flatten dq_expectations
    explode_outer_empty funnel_steps_windowed geo_cell_radius_join
    intervals_max_concurrent join_any_left join_asof_tolerance join_null_safe
    limit_by merge_replacing_final merge_summing_final merge_upsert_cow
    merge_versioned_collapsing mutation_delete_update orders_pareto_8020
    part_fuzzy_levenshtein set_except_all set_intersect_all stats_linregress
    stats_spearman str_keyvalue_parse table_column_stats text_cdc_chunks
    text_ngram_lm_score ts_autocorr_lag1 win_cume_dist_nth win_ratio_to_report
    with_totals
""".split())
test_r5_plan_budgets = key_view("budget", """
    agg_array_intersect agg_bit_group agg_group_array_last agg_hll_set_ops
    agg_minmax_map agg_retention_flags agg_sparkbar agg_uniq_array
    agg_uniq_upto array_compact_dedup array_fill_forward array_moving_agg
    array_rotate_zip curation_funnel_report date_timeslots dedup_containment
    emb_dim_slice_search emb_vector_distances funnel_time_to_convert
    graph_bfs_hops intervals_open_per_day intervals_union_length
    join_interval_overlap json_schema_stats quantile_timing_grid
    sequence_match_flag sequence_next_node stats_ks_test stats_mad
    stats_mean_ci stats_proportions_ztest stats_roc_auc str_extract_groups
    str_multisearch str_ngram_similarity str_normalized_query_hash
    text_minhash_export text_simhash_export text_word_cooccurrence
    token_vocab_coverage topk_with_ties ts_bounding_ratio
    ts_change_point_flags ts_lttb_downsample ts_m4_downsample
    ts_nonneg_derivative win_cumulative_uniques win_sliding_distinct
""".split())
test_r7_plan_budgets = key_view("budget", """
    agg_combinators_array agg_filter_where attribution_last_touch
    backup_dedup_savings corpus_global_shuffle corpus_upsample_repeat
    dedup_minhash_estimate_vs_truth emb_mrl_overlap_curve
    func_datetime64_precision func_try_arith join_hint_merge join_lateral_topn
    json_variant_ops limit_by_offset multimodal_payload_export
    orderby_with_fill quantile_exact_weighted_grid scan_binary_files
    scan_json_malformed scan_observed_metrics scan_recursive_glob
    scan_text_lines scan_xml_source sequence_match_timed sim_pq_adc_topk
    sink_parquet_codecs sink_partitioned_overwrite sql_group_order_by_all
    sql_parameterized sql_pipe_syntax sql_qualify_topk sql_recursive_cte
    sql_select_modifiers stats_cohens_d stats_wilson_ci stream_stateful_totals
    text_dedup_span_removal text_ngram_novelty ts_ohlc_bars ts_vwap
    user_churn_flags win_first_last_ignore_nulls win_range_interval_frame
""".split())
test_r6_plan_budgets = key_view("budget", """
    agg_time_decay_halflife array_enumerate_dense audience_overlap_jaccard
    backup_manifest_diff backup_pit_select backup_restore_chain
    cohort_revenue_ltv corpus_dsir_features corpus_dup_ngrams
    corpus_length_histogram curation_percentile_gate decontam_span_stats
    dedup_clusters dedup_clusters_neardup dedup_incremental dedup_keep_best
    dedup_source_matrix dedup_threshold_sweep dq_volume_anomaly
    emb_binary_quantize emb_pq_codes funnel_strict_order geo_grid_bbox_join
    geo_point_in_polygon ip_cidr_join join_asof_nearest map_higher_order
    merge_graphite_rollup merge_replacing_deleted mergetree_ttl_expire
    orders_interarrival_hist orders_mix_shift scan_csv_malformed
    scan_schema_merge seq_rle_encode session_type_affinity sessionize_gap
    sim_range_search source_numbers_range stats_chi2_cells str_format_readable
    stream_windowed_topk text_boilerplate_prefix text_c4_gates
    text_inverted_index text_langid_confusion token_fertility_stats
    topk_with_others ts_seasonality_profile
""".split())
test_r8_plan_budgets = key_view("budget", """
    agg_histogram_equi_depth array_search_funcs array_sort_funcs
    corpus_interleave_round_robin corpus_shard_manifest date_timezone_convert
    date_week_mode dq_histogram_drift emb_centroid_distances
    emb_hard_negatives graph_triangle_count ip_prefix_rollup
    merge_coalescing_final mergetree_ttl_rollup multimodal_interleaved_layout
    multimodal_patch_budget sample_bottom_k scan_file_metadata sql_distinct_on
    sql_lateral_alias sql_named_window sql_nulls_ordering sql_unpivot_syntax
    sql_values_inline stats_corr_matrix stats_kendall_tau ts_cumsum_reset
    ts_holt_linear ts_outliers_tukey
""".split())
test_r9_plan_budgets = key_view("budget", """
    agg_combinators_ornull contamination_bitset dq_referential_integrity
    dq_uniqueness_audit graph_degree_histogram join_bitset_prefilter
    orders_backlog_aging orders_fulfillment_latency seq_longest_increase
    stats_cramers_v_corrected
""".split())
test_r9b_plan_budgets = key_view("budget", """
    corpus_datasheet corpus_temperature_mix date_parse_best_effort
    dq_benford_law emb_power_iteration_pc1 emb_random_projection
    events_burstiness_index events_markov_stationary sample_hash_consistent
    seq_edit_distance seq_gaps_islands sketch_countmin_freq
    sql_quantified_compare stats_ab_min_sample stats_contingency_coef
    stats_entropy stats_student_ttest stats_theils_u stats_wilcoxon_signed
    str_phonetic_soundex text_readability_fk text_zipf_fit ts_kalman_level
    ts_theil_sen_slope
""".split())
test_r9d_plan_budgets = key_view("budget", """
    dq_schema_profile stats_anova_oneway stats_jarque_bera
    stats_linregress_multi token_bigram_entropy ts_cusum_alarm
    ts_stl_decompose
""".split())
test_r9e_plan_budgets = key_view("budget", """
    date_business_days emb_pca2_deflation stats_levene_bf stats_runs_test
    text_mattr_diversity
""".split())
test_r10_plan_budgets = key_view("budget", """
    agg_argmax_argmin math_round_families scan_dpp_join stats_covariance
    text_blocklist_filter text_quality_gopher url_canonical_dedup
    win_session_window_builtin
""".split())
test_r11_plan_budgets = key_view("budget", """
    events_peak_hour orders_abc_analysis stats_kruskal_wallis text_tfidf_topk
    ts_rolling_slope win_groups_frame_emulated
""".split())
test_r11b_plan_budgets = key_view("budget", """
    dq_orders_lineitem_reconcile lineitem_revenue_waterfall
    orders_seasonal_index path_transition_lift scan_minmax_pruned
    stats_permutation_test_hash
""".split())
test_r11c_plan_budgets = key_view("budget", """
    agg_combinators_if_matrix dedup_hierarchical_two_level events_wau_rolling
    intervals_peak_position scan_bloom_filter_lookup stats_welch_anova
    str_has_subsequence ts_backtest_seasonal_naive win_frame_exclude_current
""".split())
test_r12_plan_budgets = key_view("budget", """
    funnel_steps_twostage sessionize_gap_adaptive sessionize_gap_twostage
""".split())
test_r14_plan_budgets = key_view("budget", """
    agg_ema_twostage agg_weighted_median_twostage
    sequence_count_pairs_twostage win_percent_rank_twostage
""".split())
test_r13_plan_budgets = key_view("budget", """
    agg_percentile_exact_twostage curation_percentile_gate_twostage
    path_transitions_twostage q1_pricing_summary_grid topk_per_group_twostage
    ts_nonneg_derivative_twostage win_cume_dist_nth_twostage
    win_ntile_firstlast_twostage win_rank_dense_twostage
    win_running_sum_twostage win_sliding_avg_adaptive win_sliding_avg_twostage
""".split())


def test_runtime_bloom_filter_prunes_probe_scan(spark, sf_dir):
    """Big-x-big shuffle join with a selective build-side filter:
    under runtime_bloom_join the probe side's scan gains a
    might_contain(bloom) filter fed by a bloom_filter_agg subquery —
    the 100 TB semi-join reduction — and results are unchanged."""
    from pyspark.sql import functions as F

    from clickhousebackup_spark.operators.scale_patterns import (
        runtime_bloom_join,
    )
    from clickhousebackup_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
        "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = {r["o_orderstatus"]: r["n"] for r in j.collect()}

    with runtime_bloom_join(spark):
        j2 = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = inspect.physical_plan(j2)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert baseline == {r["o_orderstatus"]: r["n"] for r in j2.collect()}

    # confs restored: broadcast joins work again afterwards
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_dynamic_partition_pruning_injects(spark, sf_dir):
    """Fact partitioned by a key x dim with a selective filter: the
    fact scan gains a dynamicpruning subquery on the partition column
    — the 100 TB date-partition pruning shape — and results match the
    unpruned join."""
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = scratch_path(spark, "dpp_events", sf_dir)
    ev.withColumn("etype", F.col("event_type")).write.mode(
        "overwrite"
    ).partitionBy("etype").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select(F.col("event_type").alias("etype2"), "user_id")
        .distinct()
        .filter(F.col("user_id") == 3)
    )
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            "spark.sql.optimizer.dynamicPartitionPruning.useStats",
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            "false",
        )
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false"
        )
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
            "10",
        )
        j = fact.join(dim, fact.etype == dim.etype2).groupBy("etype").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = inspect.physical_plan(j)
        assert "dynamicpruning" in plan.lower(), plan
        got = {r["etype"]: r["n"] for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = {
        r["etype"]: r["n"]
        for r in fact.join(dim, fact.etype == dim.etype2)
        .groupBy("etype")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


def test_aqe_skew_join_splits_hot_partition(spark):
    """A 90%-hot-key join under AQE skew handling: the final adaptive
    plan shows SortMergeJoin(skew=true) + AQEShuffleRead skewed — the
    hot partition was split across tasks instead of OOMing one
    executor. Complements join_skew_salted (the manual strategy) with
    the runtime one."""
    from pyspark.sql import functions as F

    fact = spark.range(2_000_000).select(
        F.when(F.col("id") % 10 != 0, 7).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    other = spark.range(300_000).select(
        (F.col("id") % 50_000).alias("k"), F.col("id").alias("w")
    )
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = fact.join(other, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        n = j.collect()[0]["n"]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
        # hot key 7: 1.8M rows x 6 matches; cold keys are multiples of
        # 10 that land in the other side's 0..49999 key range: 5000
        # keys x 6 matches each
        assert n == 1_800_000 * 6 + 5_000 * 6
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_geo_cell_radius_join_is_equi_key(spark, sf_dir):
    """The 3x3 neighborhood explode must make the radius join a pure
    equi-key join on the cell — never the BroadcastNestedLoop Catalyst
    plans for a raw distance predicate."""
    df = SPECS["geo_cell_radius_join"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_join_null_safe_is_hash_join(spark, sf_dir):
    """EqualNullSafe is a legal equi-join key: the plan must be a
    broadcast hash join on the dim, not a nested loop."""
    df = SPECS["join_null_safe"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoopJoin" not in plan


def test_dict_hierarchy_rounds_are_materialized(spark, sf_dir):
    """Pointer doubling must cut lineage per round: the final plan
    reads the last round's checkpoint, not a 2^rounds-wide tree of
    part scans."""
    df = SPECS["dict_hierarchy_flatten"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    assert plan.count("Scan parquet") == 0  # all inputs checkpointed
    assert "Scan ExistingRDD" in plan


def test_bpe_pairs_top_k_never_global_sorts(spark, sf_dir):
    df = SPECS["bpe_merge_candidates"].fn(spark, sf_dir)
    assert inspect.uses_take_ordered(df)


def test_merge_hint_takes_effect(spark, sf_dir):
    # join_hint_merge's whole point: the MERGE hint must yield a
    # SortMergeJoin where the optimizer would broadcast.
    plan = inspect.physical_plan(SPECS["join_hint_merge"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan


def test_bottom_k_sample_is_take_ordered(spark, sf_dir):
    # the whole point of bottom-k: per-partition heaps + driver merge,
    # never a global sort of the corpus
    plan = inspect.physical_plan(SPECS["sample_bottom_k"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_interleave_has_no_global_window(spark, sf_dir):
    # the whole point of the analytic position formula: the oracle's
    # ROW_NUMBER() OVER (ORDER BY rank, source) would be an
    # UNPARTITIONED window — every row through one task. The engine
    # plan's only window must be the per-source rank; the only
    # SinglePartition exchange is the vocabulary-sized size-vector
    # collect (|sources| rows), which is fine.
    plan = inspect.physical_plan(
        SPECS["corpus_interleave_round_robin"].fn(spark, sf_dir)
    )
    specs = [
        seg for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, plan  # the per-source rank window must exist
    for seg in specs:
        assert seg.startswith("source#"), (
            "window not partitioned by source — global window crept in:\n"
            + plan
        )


def test_q1_grid_filter_pushdown(spark, sf_dir):
    """The grid sibling keeps q1's scan-level shipdate pushdown —
    exactness must not cost the scan anything."""
    df = SPECS["q1_pricing_summary_grid"].fn(spark, sf_dir)
    assert "l_shipdate" in inspect.pushed_filters(df)
