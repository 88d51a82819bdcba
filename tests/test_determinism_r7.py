"""Round-7 rerun-stability test ids, kept as views of the registry
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
    multimodal_payload_export ts_ohlc_bars ts_vwap user_churn_flags
    attribution_last_touch sequence_match_timed limit_by_offset
    stats_wilson_ci stats_cohens_d sql_pipe_syntax sql_parameterized
    func_try_arith json_variant_ops join_hint_merge scan_observed_metrics
    scan_json_malformed sink_partitioned_overwrite scan_recursive_glob
    sink_parquet_codecs stream_stateful_totals join_lateral_topn
    sql_group_order_by_all sql_qualify_topk sql_select_modifiers
    agg_filter_where orderby_with_fill corpus_global_shuffle
    text_ngram_novelty corpus_upsample_repeat scan_text_lines
    scan_binary_files scan_xml_source sim_pq_adc_topk backup_dedup_savings
    quantile_exact_weighted_grid win_first_last_ignore_nulls
    agg_combinators_array sql_recursive_cte win_range_interval_frame
    func_datetime64_precision dedup_minhash_estimate_vs_truth
    emb_mrl_overlap_curve text_dedup_span_removal
""".split()

test_r7_keys_cover_the_round = keys_view("parity", _IDS)
test_r7_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


