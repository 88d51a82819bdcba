"""Round-4 rerun-stability test ids, kept as views of the registry
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
    merge_replacing_final merge_summing_final dict_get_join limit_by
    with_totals agg_argminmax stats_spearman stats_linregress
    agg_gini_diversity ts_autocorr_lag1 corpus_pack_sequences
    text_ngram_lm_score dedup_semantic text_cdc_chunks table_column_stats
    geo_cell_radius_join join_null_safe win_cume_dist_nth sink_bucketed_sorted
    mutation_delete_update dict_hierarchy_flatten corpus_split_train_eval
    set_except_all set_intersect_all merge_versioned_collapsing
    backup_incremental_roundtrip bpe_merge_candidates intervals_max_concurrent
    agg_group_concat array_enumerate_uniq agg_weighted_median agg_delta_sum
    join_asof_tolerance merge_upsert_cow join_any_left array_join_parallel
    dq_expectations part_fuzzy_levenshtein win_ratio_to_report
    dedup_fuzzy_blocked orders_pareto_8020 date_bucket_custom
    cdc_apply_changelog explode_outer_empty str_keyvalue_parse
    funnel_steps_windowed
""".split()

test_rerun_stable = key_view("rerun", _IDS)


