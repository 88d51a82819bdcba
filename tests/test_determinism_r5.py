"""Round-5 rerun-stability test ids, kept as views of the registry
sweep.

Building and collecting the same query twice must produce identical,
non-empty rows. tests/test_registry_sweep.py checks that once per key
(the ``rerun_stable`` flags live in tests/contracts.py); the ids below
assert that clause, and the coverage ids the key's oracle parity, of
that single build. The list is frozen: new keys go in
tests/contracts.py only.
"""

from __future__ import annotations

from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    agg_uniq_upto agg_bit_group ts_m4_downsample win_sliding_distinct
    json_schema_stats str_multisearch array_fill_forward dedup_containment
    curation_funnel_report agg_retention_flags sequence_match_flag
    array_compact_dedup quantile_timing_grid agg_hll_set_ops stats_roc_auc
    stats_ks_test stats_mad ts_bounding_ratio intervals_union_length
    array_moving_agg agg_minmax_map str_extract_groups sequence_next_node
    ts_lttb_downsample agg_array_intersect graph_bfs_hops array_rotate_zip
    emb_dim_slice_search token_vocab_coverage agg_uniq_array
    str_ngram_similarity ts_nonneg_derivative agg_sparkbar topk_with_ties
    agg_group_array_last emb_vector_distances text_minhash_export
    text_simhash_export stats_proportions_ztest funnel_time_to_convert
    win_cumulative_uniques intervals_open_per_day join_interval_overlap
    ts_change_point_flags date_timeslots str_normalized_query_hash
    stats_mean_ci text_word_cooccurrence
""".split()

test_r5_keys_cover_the_round = keys_view("parity", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


