"""Round-3 rerun-stability test ids, kept as views of the registry
sweep.

Building and collecting the same query twice must produce identical,
non-empty rows. tests/test_registry_sweep.py checks that once per key
(the ``rerun_stable`` flags live in tests/contracts.py); the ids below
assert that clause of that single build. The list is frozen: new
keys go in tests/contracts.py only.
"""

from __future__ import annotations

from tests.test_registry_sweep import key_view

_IDS = """
    q1_pricing_summary q2_min_cost_supplier q4_order_priority
    q7_volume_shipping q8_market_share q9_product_profit q11_important_parts
    q13_customer_distribution q14_promo_effect q15_top_supplier
    q16_parts_suppliers q17_small_quantity q19_discounted_revenue
    q20_part_promotion q21_waiting_suppliers q22_global_sales
    sketch_recall_probe multimodal_decode_stats sink_jdbc_roundtrip
    sim_knn_join dedup_passage text_rarity_score corpus_mix_plan
    date_fill_forward merge_collapsing_final merge_aggregating_shards
    mv_incremental_refresh agg_combinators agg_sum_map sequence_count_pairs
    graph_pagerank url_funcs ip_funcs text_chunk_passages quality_linear_score
    zorder_layout rollup_time_hierarchy compaction_plan topic_roundtrip
    date_fill_interpolate array_cumsum agg_hll_merge events_anomaly_zscore
    array_difference geo_geohash encode_funcs dict_encode_lowcard
    audio_fft_dominant image_channel_stats dedup_url_normalize
    win_moving_median backup_verify_integrity orders_market_basket
    part_trigram_search sink_orc_roundtrip user_active_streaks skyline_orders
    text_top_terms orders_rfm_segments agg_skew_kurtosis stats_welch_ttest
    stats_mannwhitney_u stats_cramers_v agg_topk_weighted bitmap_set_ops
""".split()

test_rerun_stable = key_view("rerun", _IDS)


