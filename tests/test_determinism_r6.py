"""Round-6 rerun-stability test ids, kept as views of the registry
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
    sessionize_gap seq_rle_encode ts_seasonality_profile stats_chi2_cells
    cohort_revenue_ltv array_enumerate_dense str_format_readable
    source_numbers_range corpus_dup_ngrams corpus_length_histogram
    corpus_dsir_features token_fertility_stats text_c4_gates dedup_incremental
    emb_pq_codes sim_range_search merge_graphite_rollup mergetree_ttl_expire
    stream_windowed_topk map_higher_order scan_schema_merge geo_grid_bbox_join
    geo_point_in_polygon curation_percentile_gate decontam_span_stats
    dedup_threshold_sweep backup_pit_select backup_manifest_diff ip_cidr_join
    emb_binary_quantize dedup_keep_best topk_with_others dq_volume_anomaly
    merge_replacing_deleted join_asof_nearest text_langid_confusion
    audience_overlap_jaccard orders_interarrival_hist scan_csv_malformed
    agg_time_decay_halflife dedup_source_matrix session_type_affinity
    funnel_strict_order orders_mix_shift text_boilerplate_prefix
    text_inverted_index backup_restore_chain dedup_clusters
    dedup_clusters_neardup
""".split()

test_r6_keys_cover_the_round = keys_view("parity", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


