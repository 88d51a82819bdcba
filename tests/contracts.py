"""Per-key contracts for every registered query — the one table
tests/test_registry_sweep.py checks each key against.

Every registered key, listed here or not, must build, match its
DuckDB oracle exactly, agree with it on the int/float class of every
output column, and plan with no CartesianProduct and no user
repartition keyed only on ``tables.LOW_CARDINALITY_COLUMNS``. A key
NOT listed gets ``Contract()``: zero nested-loop joins, unpartitioned
windows, low-cardinality windows and scaling broadcasts, and no
shuffle budget. An entry raises a maximum (each with its
justification), pins a shuffle/broadcast budget, or marks the key
rerun-stable.

Plan counts are measured at sf0.001 per the verify-skill plan-budget
recipe. Nothing outside the tests reads this table, so it lives here
rather than in ``registry.register``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Contract:
    #: Max shuffle exchanges (``inspect.count_shuffles``) — the scale
    #: currency; a regression that adds an exchange fails before it
    #: ships. None: no budget pinned.
    shuffles: int | None = None
    #: Min BroadcastHashJoin count: the joins the budget expects to
    #: broadcast at fixture scale.
    bcast: int = 0
    #: Max BroadcastNestedLoopJoin count. Every non-zero entry is a
    #: constant-width probe documented in the key's doc (1-8 row
    #: scalar/codebook/query-set broadcasts: the tiny-broadcast cross
    #: join class documented since round 4), plus the one key whose
    #: NLJ is the point (join_cross).
    nlj: int = 0
    #: Max unpartitioned WindowExec count (total-order windows, the
    #: 'move all data to a single partition' shape). Every non-zero
    #: entry is a BOUNDED input, audited round 9:
    #:   - "offsets": the n_shuffle_partitions-row per-partition
    #:     summary table of the two-pass distributed rank
    #:     (distrank.py / sort_multi) — bounded by cluster config, not
    #:     data. Counts of 2 = separate cumulative-offset and
    #:     global-total window specs over that same tiny table.
    #:   - vocabulary / candidate-set / <=k-row cases, noted inline.
    #: Eager localCheckpoint stages are invisible to final-plan
    #: inspection; their semantics are pinned in tests/test_distrank.py.
    unpart_windows: int = 0
    #: Max count of windows whose partition spec is a subset of
    #: ``tables.LOW_CARDINALITY_COLUMNS`` (fixture columns whose
    #: domain is bounded independent of row count). A window
    #: partitioned ONLY by these is the structural-straggler shape:
    #: every row of a group lands in one task at any scale, zipf or
    #: uniform (agg_percentile_exact measured ~10 s absolute max-task
    #: on BOTH probe arms — the shape family six exists to beat).
    #: Derived salt/bucket columns are deliberately not in that set:
    #: bucketing is the fix, so a (type, vbucket) window passes.
    #: Justification classes:
    #:   summary  — the window input is PRE-AGGREGATED (groupBy before
    #:              the window), so partition size is bounded by a grid
    #:              (days, buckets, cells, sources), not by row count.
    #:   rank     — row/user-grain ranking per bounded group; the
    #:              documented scale paths are the family-5 value-bucket
    #:              / salted-top-k and family-6 histogram-selection
    #:              decompositions (agg_percentile_exact carries the
    #:              oracle-identical sibling as the worked example).
    #:   series   — per-type ordered lag/frame semantics; the family-3
    #:              (1-row bucket seam) and family-7 (bounded-frame
    #:              bucket+seam) decompositions are the scale paths.
    lowcard_windows: int = 0
    #: Max count of (broadcast hint, SF-scaling table scan) pairs with
    #: no cardinality-bounding node (Aggregate/Limit/Deduplicate)
    #: between hint and scan. An explicit broadcast hint overrides
    #: AQE's size check, so a hint on a table that grows with scale
    #: factor is a forced executor OOM at the 100 TB design point, not
    #: a graceful degradation (judge round 13 — the five TPC-H
    #: broadcast(customer) hints were exactly this; round 14 removed
    #: every such hint: customer/supplier/part/orders/lineitem joins
    #: are now UNHINTED, size-based broadcast at fixture scale, AQE
    #: shuffle at scale). Every non-zero entry is a frame whose row
    #: count is BOUNDED by construction but whose bound the
    #: analyzed-plan walk cannot see (an equality filter, not an
    #: Aggregate/Limit).
    scaling_bcast: int = 0
    #: Building and collecting the key twice yields identical,
    #: non-empty rows — caught before the driver's hash would flake.
    rerun_stable: bool = False
    #: Fixture scale (a sibling directory of the test fixture, e.g.
    #: "sf0.01") on which the rerun compare builds the key twice, for a
    #: rerun-stable key that returns no rows at the test fixture. None:
    #: the sweep's own build and one fresh build at the test fixture.
    rerun_sf: str | None = None


CONTRACTS: dict[str, Contract] = {
    "agg_argmax_argmin": Contract(
        shuffles=1,  # one max_by/min_by hash
        # agg, map-side combined
        rerun_stable=True,
    ),
    "agg_argminmax": Contract(shuffles=1, rerun_stable=True),  # one max_by/min_by agg
    "agg_array_intersect": Contract(
        shuffles=5, bcast=1,  # distinct + two counts + reassembly
        rerun_stable=True,
    ),
    "agg_bit_group": Contract(shuffles=1, rerun_stable=True),  # one bitfold hash agg
    "agg_combinators": Contract(shuffles=2, rerun_stable=True),  # expand for count-distinct
    "agg_combinators_array": Contract(shuffles=2, rerun_stable=True),  # explode + distinct expand
    "agg_combinators_if_matrix": Contract(
        shuffles=2,  # grouped agg + the
        # COUNT(DISTINCT) two-phase expand
        rerun_stable=True,
    ),
    "agg_combinators_ornull": Contract(shuffles=1),  # one two-phase agg
    "agg_delta_sum": Contract(
        shuffles=1,  # lag window + agg, one key
        lowcard_windows=1,  # series: per-type lag
        rerun_stable=True,
    ),
    "agg_ema_twostage": Contract(
        shuffles=4, bcast=1,  # family nine, trailing-K
        # selection decomposed: the (user, bucket) count agg + the
        # per-user DESC prefix over bucket summaries, the (user, bucket)
        # local rank exchange on surviving-bucket rows (needed-buckets
        # join broadcast at fixture scale), and the final <=K-row
        # per-user fold agg. The flat key's bare-user rank window (the
        # measured ~x8 max-task shape) never appears.
    ),
    "agg_filter_where": Contract(shuffles=1, rerun_stable=True),  # one agg, 4 FILTER counters
    "agg_gini_diversity": Contract(shuffles=2, rerun_stable=True),  # (user,type) + user aggs
    "agg_group_array_last": Contract(
        shuffles=1,  # per-user collect + tail slice
        rerun_stable=True,
    ),
    "agg_group_concat": Contract(shuffles=1, rerun_stable=True),  # collect_set two-phase
    "agg_histogram_equi_depth": Contract(
        shuffles=3, bcast=1,  # distrank two-pass rank:
        # _pid window exchange + offsets agg + final bucket agg; closed-form
        # NTILE from global position (no global-ntile single-partition window)
        unpart_windows=2,  # offsets + totals
        rerun_stable=True,
    ),
    "agg_hll_merge": Contract(
        shuffles=5, bcast=2,  # shard sketch + union + direct + exact
        rerun_stable=True,
    ),
    "agg_hll_set_ops": Contract(shuffles=1, rerun_stable=True),  # one sketch+distinct agg
    "agg_minmax_map": Contract(shuffles=2, rerun_stable=True),  # kv agg + vocab reassembly
    "agg_mode": Contract(lowcard_windows=1),  # summary: |status|x|prio| counts
    "agg_percentile_approx": Contract(
        lowcard_windows=2,  # rank: count-only window; the
        # sketch itself is the scale path
    ),
    "agg_percentile_exact": Contract(
        lowcard_windows=2,  # rank — HAS the two-stage
        # sibling (family six)
    ),
    "agg_percentile_exact_twostage": Contract(
        shuffles=3, bcast=2,  # family six:
        # pass-2 (type, vbucket) ranking exchange over ONLY straddling
        # buckets + the <=30-row final pivot agg on event_type (the
        # pass-1 histogram exchange is materialized inside the eager
        # localCheckpoint, carrying ~2.5k combined rows per mapper). Both
        # event-scale joins MUST be broadcast (bucket filter + rank
        # pick); exactly 2 parquet scans — the declared two-pass
        # contract. The flat key's event_type window (5 groups = 5
        # whole-group sort tasks at any scale) never appears.
    ),
    "agg_retention_flags": Contract(shuffles=2, rerun_stable=True),  # user flags + bucket sums
    "agg_skew_kurtosis": Contract(shuffles=1, rerun_stable=True),  # one two-phase moment agg
    "agg_sparkbar": Contract(shuffles=2, rerun_stable=True),  # hour histogram + vocab reassembly
    "agg_sum_map": Contract(shuffles=2, rerun_stable=True),  # (group,key) agg + group agg
    "agg_time_decay_halflife": Contract(
        shuffles=1,  # 1-row anchor NLJ + one agg
        nlj=1,  # 1-row decay anchor
        rerun_stable=True,
    ),
    "agg_topk_freq": Contract(lowcard_windows=1),  # rank: per-(type,user) counts
    "agg_topk_weighted": Contract(
        shuffles=2,  # weighted agg + type window
        lowcard_windows=1,  # rank: per-(type,user) sums
        rerun_stable=True,
    ),
    "agg_uniq_array": Contract(shuffles=2, rerun_stable=True),  # two-phase distinct-set agg
    "agg_uniq_upto": Contract(shuffles=2, rerun_stable=True),  # two-phase capped distinct
    "agg_weighted_median": Contract(
        shuffles=1,  # cum + total share the key
        lowcard_windows=2,  # rank — HAS the two-stage
        # sibling (family ten)
        rerun_stable=True,
    ),
    "agg_weighted_median_twostage": Contract(
        shuffles=6, bcast=2,  # family ten:
        # the pass-1 (type, vbucket) weight-histogram exchange + its
        # bounded per-type cumulative window over histogram rows, the
        # 5-row totals agg, and the pass-2 (type, vbucket) selection
        # window on only the median buckets' rows; both event-scale
        # joins (bucket filter, totals) must broadcast. Two scans —
        # the declared two-pass trade; the flat key's whole-type sort
        # never appears.
        lowcard_windows=1,  # summary: the per-type
        # cumulative window over
        # <= ~500 value-bucket
        # histogram rows; the
        # event-scale window keys
        # (event_type, vbucket)
    ),
    "array_compact_dedup": Contract(shuffles=0, rerun_stable=True),  # map-only filter lambda
    "array_cumsum": Contract(shuffles=0, rerun_stable=True),  # map-only fold
    "array_difference": Contract(shuffles=0, rerun_stable=True),  # map-only transform
    "array_enumerate_dense": Contract(
        shuffles=2, bcast=1,  # pos window + first-pos join
        rerun_stable=True,
    ),
    "array_enumerate_uniq": Contract(shuffles=1, rerun_stable=True),  # one (doc,word) window
    "array_fill_forward": Contract(shuffles=0, rerun_stable=True),  # map-only fold
    "array_join_parallel": Contract(shuffles=0, rerun_stable=True),  # Generate only, map-side
    "array_moving_agg": Contract(
        shuffles=1,  # per-user collect + JVM lambda fold
        rerun_stable=True,
    ),
    "array_rotate_zip": Contract(
        shuffles=1,  # per-user collect + JVM slicing lambdas
        rerun_stable=True,
    ),
    "array_search_funcs": Contract(shuffles=0, rerun_stable=True),  # map-only battery
    "array_sort_funcs": Contract(shuffles=0, rerun_stable=True),  # map-only battery
    "attribution_last_touch": Contract(
        shuffles=1,  # union+last window, zero joins
        rerun_stable=True,
    ),
    "audience_overlap_jaccard": Contract(
        shuffles=7, bcast=3,  # distinct + user self-join + bcast sizes
        rerun_stable=True,
    ),
    "audio_fft_dominant": Contract(shuffles=1, rerun_stable=True),  # parallelize fan-out only
    "backup_dedup_savings": Contract(shuffles=3, rerun_stable=True),  # 2 windows + db agg
    "backup_incremental_roundtrip": Contract(rerun_stable=True),
    "backup_manifest_diff": Contract(
        shuffles=3,  # full join + agg (catalog-scale)
        rerun_stable=True,
    ),
    "backup_pit_select": Contract(
        shuffles=1,  # 1-row cutoff anchor NLJ
        nlj=1,  # 1-row point-in-time cutoff
        rerun_stable=True,
    ),
    "backup_restore_chain": Contract(
        shuffles=1, bcast=1,  # 1-row cutoff NLJ + bcast base
        nlj=2,  # 1-row cutoff + base pointer
        rerun_stable=True,
    ),
    "backup_retention_plan": Contract(nlj=1),  # 1-row policy row
    "backup_verify_integrity": Contract(shuffles=3, rerun_stable=True),  # 2 hash aggs + full join
    "bitmap_set_ops": Contract(shuffles=2, rerun_stable=True),  # user flags + scalar rollup
    "bpe_merge_candidates": Contract(shuffles=1, rerun_stable=True),  # pair agg + TakeOrdered
    "cdc_apply_changelog": Contract(shuffles=1, rerun_stable=True),  # union + one rank window
    "cohort_revenue_ltv": Contract(
        shuffles=3, bcast=1,  # cust agg + cell agg + window
        rerun_stable=True,
    ),
    "compaction_plan": Contract(shuffles=1, rerun_stable=True),  # one window pass
    "contamination_bitset": Contract(
        shuffles=2, bcast=2,  # two bcast membership
        # joins; bitset/exact-set distinct exchanges
    ),
    "corpus_datasheet": Contract(
        shuffles=5, bcast=1,  # source/lang aggs + window
        nlj=1,  # 1-row corpus-totals frame
        lowcard_windows=1,  # summary: per-source stats
        rerun_stable=True,
    ),
    "corpus_dsir_features": Contract(
        shuffles=2, bcast=1,  # profile bcast + doc agg
        rerun_stable=True,
    ),
    "corpus_dup_ngrams": Contract(shuffles=2, rerun_stable=True),  # gram agg + TakeOrdered
    "corpus_global_shuffle": Contract(
        shuffles=1,  # shard exchange, NO range sort
        rerun_stable=True,
    ),
    "corpus_interleave_round_robin": Contract(
        shuffles=2,  # source rank window +
        # size-vector agg; position is a map-side fold (NO global sort)
        nlj=1,  # 1-row size-vector broadcast
        lowcard_windows=1,  # summary: per-source sizes
        rerun_stable=True,
    ),
    "corpus_length_histogram": Contract(shuffles=1, rerun_stable=True),  # one bucket agg
    "corpus_mix_plan": Contract(nlj=1, rerun_stable=True),  # 1-row corpus totals
    "corpus_pack_sequences": Contract(shuffles=1, rerun_stable=True),  # per-shard window chain
    "corpus_shard_manifest": Contract(shuffles=1, rerun_stable=True),  # one shard hash agg
    "corpus_split_train_eval": Contract(shuffles=0, rerun_stable=True),  # map-only
    "corpus_temperature_mix": Contract(
        shuffles=2,  # lang agg + 1-row normalizer
        nlj=1,  # 1-row normalizer frame
        rerun_stable=True,
    ),
    "corpus_upsample_repeat": Contract(shuffles=0, rerun_stable=True),  # map-only explode
    "curation_funnel_report": Contract(shuffles=2, rerun_stable=True),  # conditional-distinct agg
    "curation_percentile_gate": Contract(
        shuffles=1,  # one lang window pass
        lowcard_windows=2,  # rank: per-lang percentile gate
        # — HAS the two-stage sibling
        rerun_stable=True,
    ),
    "curation_percentile_gate_twostage": Contract(
        shuffles=3, bcast=1,  # family
        # five transplanted to the curation surface: (lang, char-decade)
        # local rank exchange + the per-lang offset/total windows over
        # <= ~55 summary rows + the fold join on the stage-1 keys
        # (broadcast at fixture scale). The flat gate's whole-language
        # sort task never appears.
        lowcard_windows=2,  # summary: the per-lang
        # offset/total windows run over
        # <= ~55 bucket-summary rows;
        # the document-scale windows key
        # (lang, vbucket)
    ),
    "date_bucket_custom": Contract(shuffles=1, rerun_stable=True),  # one two-phase agg
    "date_business_days": Contract(
        shuffles=1, bcast=1,  # orders broadcast join +
        # one bounded-grain hash agg
        rerun_stable=True,
    ),
    "date_fill_forward": Contract(nlj=1, rerun_stable=True),  # 1-row [min,max] bounds
    "date_fill_interpolate": Contract(
        shuffles=3, bcast=1,  # daily agg + spine + window
        nlj=1,  # 1-row [min,max] bounds
        rerun_stable=True,
    ),
    "date_parse_best_effort": Contract(shuffles=0, rerun_stable=True),  # pure row expressions
    "date_timeslots": Contract(shuffles=2, rerun_stable=True),  # bounded slot explode + grid agg
    "date_timezone_convert": Contract(shuffles=0, rerun_stable=True),  # map-only tzdb projection
    "date_week_mode": Contract(shuffles=1, rerun_stable=True),  # calendar distinct, map-side math
    "decontam_span_stats": Contract(
        shuffles=3, bcast=1,  # shingle distinct + bcast bench
        rerun_stable=True,
    ),
    "dedup_clusters": Contract(
        shuffles=0,  # checkpointed fixpoint
        # Keys converted from rows-only to oracled in round 6 (not new, but
        # their oracle path is — keep them rerun-stable too).
        rerun_stable=True,
    ),
    "dedup_clusters_neardup": Contract(
        shuffles=0,  # checkpointed fixpoint
        # Keys converted from rows-only to oracled in round 6 (not new, but
        # their oracle path is — keep them rerun-stable too).
        rerun_stable=True,
    ),
    "dedup_containment": Contract(
        shuffles=5, bcast=4,  # df agg + prefix probe + verify joins
        rerun_stable=True,
    ),
    "dedup_fuzzy_blocked": Contract(
        shuffles=0, bcast=1,  # bcast block self-join
        rerun_stable=True,
    ),
    "dedup_hierarchical_two_level": Contract(
        shuffles=1,  # manifest read +
        # one md5 merge agg (level-1 agg runs at manifest-write time)
        rerun_stable=True,
    ),
    "dedup_incremental": Contract(
        shuffles=3, bcast=2,  # hash split + two bcast joins
        rerun_stable=True,
    ),
    "dedup_keep_best": Contract(shuffles=1, rerun_stable=True),  # one md5-partition window pass
    "dedup_minhash_estimate_vs_truth": Contract(
        # cand_docs (distinct of LSH pair ids) lost its broadcast hint in
        # the round-14 SF-scaling de-hint sweep: +2 static exchanges for
        # the shuffle semi join (AQE re-broadcasts at fixture scale; at
        # corpus scale the frame scales with dup count, so the shuffle is
        # correct).
        shuffles=8, bcast=1,  # sig agg + band
        # join + candidate-pruned shingle intersection (bounded by LSH)
        rerun_stable=True,
    ),
    "dedup_passage": Contract(rerun_stable=True),
    "dedup_semantic": Contract(shuffles=2, bcast=1, rerun_stable=True),  # cluster join + pair agg
    "dedup_source_matrix": Contract(
        shuffles=3, bcast=3,  # LSH-banded pair join + bcast sources
        rerun_stable=True,
    ),
    "dedup_threshold_sweep": Contract(
        shuffles=1, bcast=1,  # label-blocked pair agg
        rerun_stable=True,
    ),
    "dedup_url_normalize": Contract(shuffles=1, rerun_stable=True),  # one hash agg
    "dict_encode_lowcard": Contract(
        shuffles=2, bcast=1,  # vocab distinct + tiny window
        unpart_windows=1,  # vocabulary-sized dictionary codes
        rerun_stable=True,
    ),
    "dict_get_join": Contract(shuffles=0, bcast=2, rerun_stable=True),  # pure broadcast chain
    "dict_hierarchy_flatten": Contract(shuffles=0, rerun_stable=True),  # checkpoint-truncated
    "dq_benford_law": Contract(
        shuffles=2,  # digit agg + 1-row totals
        nlj=1,  # 1-row digit-totals frame
        rerun_stable=True,
    ),
    "dq_expectations": Contract(shuffles=1, bcast=1, rerun_stable=True),  # uniq agg + anti bcast
    "dq_histogram_drift": Contract(
        shuffles=2,  # bin agg + 1-row totals NLJ
        nlj=1,  # 1-row bin-totals broadcast
        rerun_stable=True,
    ),
    "dq_orders_lineitem_reconcile": Contract(
        shuffles=2, bcast=2,  # lineitem agg +
        # final count agg; order join + orphan anti-join broadcast; NLJ =
        # 1-row orphan frame
        nlj=1,  # 1-row orphan-count frame
        rerun_stable=True,
    ),
    "dq_referential_integrity": Contract(
        shuffles=4, bcast=2,  # per-relation agg
        # exchanges; dims broadcast (fact-fact relations may shuffle-join
        # at scale, still 1 join + 1 agg each, relation-parallel)
    ),
    "dq_schema_profile": Contract(
        shuffles=2,  # explode + one distinct
        # expand agg (two-phase)
        rerun_stable=True,
    ),
    "dq_uniqueness_audit": Contract(
        shuffles=4,  # one count-distinct agg
        # per audited table (expand + two-phase), table-parallel
    ),
    "dq_volume_anomaly": Contract(
        shuffles=2,  # day-cell agg + lag window
        lowcard_windows=1,  # summary: per-day counts
        rerun_stable=True,
    ),
    "emb_binary_quantize": Contract(
        shuffles=0,  # 1-row query-mask NLJ + TakeOrdered
        nlj=1,  # 1-row query mask
        scaling_bcast=1,  # 1-row query mask
        rerun_stable=True,
    ),
    "emb_centroid_distances": Contract(
        shuffles=0,  # centroid table checkpointed
        # once (the explode+agg runs at build time); the returned plan is
        # just the |labels|-row pair NLJ (a < b) over checkpointed blocks
        nlj=1,  # |labels|-row centroid pair join
        rerun_stable=True,
    ),
    "emb_dim_slice_search": Contract(
        shuffles=1,  # 5-row bcast probe (deliberate NLJ) + one qid window
        nlj=1,  # 5-row query set
        scaling_bcast=1,  # 5-row query set
        rerun_stable=True,
    ),
    "emb_hard_negatives": Contract(
        shuffles=1,  # 5-row query NLJ + qid rank exchange
        nlj=1,  # 5-row query set (label != is the key)
        scaling_bcast=1,  # 5-row query set
        rerun_stable=True,
    ),
    "emb_kmeans": Contract(
        nlj=1,  # k-row (k=8) centroid broadcast: the
        # per-round assignment is e ⋈ broadcast(centroids) with no join
        # condition (every vector scores every centroid — that IS the
        # Lloyd assignment step), a constant-width probe bounded by k.
        # The shape existed in every prior round but was hidden from
        # final-plan inspection by a per-round assignment localCheckpoint
        # that round 16 removed as pure overhead (consumed-once analysis,
        # OPTIMIZATION_r16.md); pinning it here is bookkeeping, not a new
        # runtime shape.
    ),
    "emb_mrl_overlap_curve": Contract(
        shuffles=1,  # 5-row query bcast NLJ
        nlj=1,  # 5-row query set
        scaling_bcast=1,  # 5-row query set
        rerun_stable=True,
    ),
    "emb_pca2_deflation": Contract(
        # emb_pca2_deflation reads 0 here because every
        # iteration frame is a localCheckpointed single row — the real data
        # pass is the Gram aggregation before the first checkpoint (one
        # map-side-combined hash agg; verified by eye on the pre-checkpoint
        # plan).
        shuffles=0,  # all post-Gram work on
        # checkpointed 1-row frames
        rerun_stable=True,
    ),
    "emb_power_iteration_pc1": Contract(shuffles=0, rerun_stable=True),  # checkpointed 1-row frame
    "emb_pq_codes": Contract(
        shuffles=1,  # 1-row folded-codebook NLJ; fact path shuffle-free
        nlj=1,  # 1-row codebook
        rerun_stable=True,
    ),
    "emb_random_projection": Contract(
        shuffles=0,  # 1-row matrix cross only
        nlj=1,  # 1-row k x d Rademacher matrix
        rerun_stable=True,
    ),
    "emb_vector_distances": Contract(
        shuffles=0, bcast=1,  # bcast successor join, map-only folds
        rerun_stable=True,
    ),
    "encode_funcs": Contract(shuffles=0, rerun_stable=True),  # map-only
    "events_anomaly_zscore": Contract(
        shuffles=1, bcast=1,  # stats agg bcast onto stream
        rerun_stable=True,
    ),
    "events_burstiness_index": Contract(
        shuffles=1,  # lag window + one agg
        lowcard_windows=1,  # series: per-type gap lag
        rerun_stable=True,
    ),
    "events_markov_stationary": Contract(
        shuffles=4, bcast=1,  # r17: the 8 per-step
        # localCheckpoints were removed (single array-fold iteration), so
        # the plan now SHOWS its real lineage instead of a checkpointed
        # 1-row RDD: LEAD window + cells agg + types distinct + grid
        # window + the collect-to-one-row agg = 4 exchanges at sf0.001,
        # plus the deliberate |types|^2 marginal cross (the key's
        # documented NLJ, also pinned as nlj=1 below).
        # Shuffle count was never 0 — the work was merely invisible to
        # final-plan inspection before; unhiding it also exposed (and
        # r17 removed) a grid self-join that planned as SortMergeJoin.
        nlj=1,  # |types|^2 marginal cross (the
        # key's documented NLJ) — previously hidden from final-plan
        # inspection by the per-step checkpoints r17 removed
        rerun_stable=True,
    ),
    "events_peak_hour": Contract(
        shuffles=2,  # (type,hour) agg +
        # type-level max_by agg
        rerun_stable=True,
    ),
    "events_wau_rolling": Contract(
        shuffles=3,  # day-user distinct +
        # distinct-user expand + day agg; NLJ = 1-row max-day clip
        nlj=1,  # 1-row max-day clip frame
        rerun_stable=True,
    ),
    "explode_outer_empty": Contract(shuffles=0, rerun_stable=True),  # outer Generate, map-only
    "filter_age": Contract(nlj=1),  # 1-row max-date scalar subquery
    "func_datetime64_precision": Contract(shuffles=2, rerun_stable=True),  # agg + distinct expand
    "func_try_arith": Contract(shuffles=0, rerun_stable=True),  # map-only try_* battery
    "funnel_steps_twostage": Contract(
        shuffles=6, bcast=3,  # per-step (user,bucket)
        # summary aggs + fine-scan equi-joins on (user,bucket) + the
        # final user-grain assembly; cut tables localCheckpoint once so
        # event-scale subtrees never replicate per consumer (27 -> 6
        # visible exchanges). Every event-scale exchange is keyed
        # (user, bucket) — the skew-immunity invariant.
    ),
    "funnel_steps_windowed": Contract(shuffles=1, rerun_stable=True),  # one user-key window chain
    "funnel_strict_order": Contract(
        shuffles=4, bcast=2,  # pos window + adjacent-pos joins
        rerun_stable=True,
    ),
    "funnel_time_to_convert": Contract(
        shuffles=3, bcast=2,  # user window + bcast anchor + scalar agg
        rerun_stable=True,
    ),
    "geo_cell_radius_join": Contract(
        shuffles=0, bcast=1,  # bcast cell join, no exch
        rerun_stable=True,
    ),
    "geo_geohash": Contract(shuffles=1, rerun_stable=True),  # distinct users only
    "geo_grid_bbox_join": Contract(
        shuffles=1, bcast=1,  # bcast cell join + distinct
        # 0 rows at the sf0.001 test fixture (no user falls in a box),
        # so the rerun compare runs where it returns rows
        rerun_stable=True, rerun_sf="sf0.01",
    ),
    "geo_point_in_polygon": Contract(shuffles=1, rerun_stable=True),  # distinct + map-only pred
    "graph_bfs_hops": Contract(
        shuffles=7, bcast=4,  # layered BFS: per-hop semi/anti joins, bcast frontiers
        rerun_stable=True,
    ),
    "graph_degree_histogram": Contract(
        shuffles=3,  # distinct + degree agg
        # + histogram agg
    ),
    "graph_pagerank": Contract(
        shuffles=5, bcast=3,  # edges+outw+3 bcast rank joins
        rerun_stable=True,
    ),
    "graph_triangle_count": Contract(
        shuffles=2,  # edge/tri checkpoint-truncated;
        # member + degree aggs (was 13 shuffles before materializing edges)
        rerun_stable=True,
    ),
    "image_channel_stats": Contract(shuffles=1, rerun_stable=True),  # parallelize fan-out only
    "intervals_max_concurrent": Contract(shuffles=1, rerun_stable=True),  # sweep window + agg
    "intervals_open_per_day": Contract(shuffles=2, rerun_stable=True),  # day-net agg + spine cumsum
    "intervals_peak_position": Contract(
        shuffles=2,  # (pri,t) net agg +
        # pri-partitioned windows over the distinct-timestamp table
        rerun_stable=True,
    ),
    "intervals_union_length": Contract(
        shuffles=1,  # one partition-sorted island pass
        rerun_stable=True,
    ),
    "ip_cidr_join": Contract(shuffles=1, bcast=1, rerun_stable=True),  # bcast /16 prefix join
    "ip_funcs": Contract(shuffles=1, rerun_stable=True),  # distinct only
    "ip_prefix_rollup": Contract(shuffles=2, rerun_stable=True),  # union + agg + distinct expand
    "join_any_left": Contract(shuffles=1, bcast=1, rerun_stable=True),  # dedupe window; left bcast
    "join_asof_nearest": Contract(
        shuffles=2,  # union + one window pass, both frames
        rerun_stable=True,
    ),
    "join_asof_tolerance": Contract(shuffles=2, rerun_stable=True),  # union sort + user window
    "join_bitset_prefilter": Contract(
        shuffles=2, bcast=2,  # bitset bcast + exact
        # semi bcast; distinct + final agg exchanges
    ),
    "join_broadcast": Contract(
        scaling_bcast=1,  # the broadcast-hint CONTRACT key: the
        # hint IS the operator under test; the
        # demoed shape is for genuinely-small
        # dims (fixture uses customer)
    ),
    "join_cross": Contract(nlj=1),  # the key IS a (bounded) cross join
    "join_hint_merge": Contract(shuffles=3, rerun_stable=True),  # SMJ forced: 2 sort exch + agg
    "join_interval_overlap": Contract(
        shuffles=1, bcast=1,  # month-bucket equi join + pair distinct
        rerun_stable=True,
    ),
    "join_lateral_topn": Contract(
        shuffles=1, bcast=1,  # rank exchange + bcast nation
        rerun_stable=True,
    ),
    "join_null_safe": Contract(
        shuffles=1, bcast=1,  # dim distinct; fact no shuffle
        unpart_windows=1,  # vocabulary-sized dim code assign
        rerun_stable=True,
    ),
    "json_schema_stats": Contract(shuffles=2, rerun_stable=True),  # kv explode + vocab agg
    "json_variant_ops": Contract(shuffles=0, rerun_stable=True),  # map-only VARIANT decode
    "limit_by": Contract(shuffles=1, rerun_stable=True),  # one rank window
    "limit_by_offset": Contract(shuffles=1, rerun_stable=True),  # WindowGroupLimit-pruned rn
    "lineitem_revenue_waterfall": Contract(
        shuffles=0,  # ONE global agg,
        # map-side combined (partial agg then 1-row final — no exchange
        # counted by the shuffle inspector beyond the agg's own)
        rerun_stable=True,
    ),
    "map_higher_order": Contract(shuffles=2, rerun_stable=True),  # tf agg + map assembly agg
    "math_round_families": Contract(
        shuffles=0,  # map-only CH rounding
        # ladders
        rerun_stable=True,
    ),
    "merge_aggregating_shards": Contract(
        shuffles=2,  # shard partial + final merge
        rerun_stable=True,
    ),
    "merge_coalescing_final": Contract(
        shuffles=1,  # all windows on ONE exchange
        rerun_stable=True,
    ),
    "merge_collapsing_final": Contract(shuffles=1, rerun_stable=True),  # one window exchange
    "merge_graphite_rollup": Contract(
        shuffles=1,  # 1-row anchor NLJ + one agg
        nlj=1,  # 1-row time anchor
        rerun_stable=True,
    ),
    "merge_replacing_deleted": Contract(shuffles=1, rerun_stable=True),  # keep-newest + tombstone
    "merge_replacing_final": Contract(shuffles=1, rerun_stable=True),  # one keep-newest window
    "merge_summing_final": Contract(shuffles=1, rerun_stable=True),  # one two-phase agg
    "merge_upsert_cow": Contract(shuffles=2, rerun_stable=True),  # full-outer on the key
    "merge_versioned_collapsing": Contract(
        shuffles=2, bcast=1,  # net agg + window + bcast
        rerun_stable=True,
    ),
    "mergetree_ttl_expire": Contract(
        shuffles=1,  # 1-row anchor NLJ + one agg
        nlj=1,  # 1-row TTL horizon
        rerun_stable=True,
    ),
    "mergetree_ttl_rollup": Contract(
        shuffles=1,  # 1-row anchor NLJ x both arms
        nlj=2,  # 1-row max-ts anchor, one per arm
        rerun_stable=True,
    ),
    "multimodal_decode_stats": Contract(rerun_stable=True),
    "multimodal_interleaved_layout": Contract(
        shuffles=1,  # one doc_id window
        # exchange; explode + segment cumsum + rollup all share it
        rerun_stable=True,
    ),
    "multimodal_patch_budget": Contract(shuffles=0, rerun_stable=True),  # map-only projection
    "multimodal_payload_export": Contract(shuffles=0, rerun_stable=True),  # map-only mapInPandas
    "mutation_delete_update": Contract(shuffles=0, rerun_stable=True),  # single narrow stage
    "mv_incremental_refresh": Contract(
        shuffles=3,  # scalar agg + 2-level state agg
        nlj=2,  # 1-row refresh watermarks
        rerun_stable=True,
    ),
    "orderby_with_fill": Contract(
        shuffles=1, bcast=1,  # fact agg + bcast grid join
        rerun_stable=True,
    ),
    "orders_abc_analysis": Contract(
        shuffles=2, bcast=1,  # customer agg + distrank
        # range exchange; offsets join broadcasts
        unpart_windows=2,  # offsets + totals (distrank scan)
        rerun_stable=True,
    ),
    "orders_backlog_aging": Contract(
        shuffles=1,  # one agg; 1-row ref date
        nlj=1,  # 1-row reference-date broadcast
    ),
    "orders_fulfillment_latency": Contract(
        shuffles=1, bcast=1,  # one join (orders
        # broadcast at fixture scale; co-located shuffle at 100 TB) + agg
    ),
    "orders_interarrival_hist": Contract(shuffles=2, rerun_stable=True),  # lag window + 5-cell agg
    "orders_market_basket": Contract(shuffles=2, rerun_stable=True),  # order-set agg + pair agg
    "orders_mix_shift": Contract(shuffles=3, rerun_stable=True),  # month cells + share/lag windows
    "orders_pareto_8020": Contract(
        shuffles=2, bcast=1,  # distrank: _pid window +
        # offsets agg; broadcast offsets/totals
        unpart_windows=2,  # offsets + totals
        rerun_stable=True,
    ),
    "orders_rfm_segments": Contract(
        shuffles=4, bcast=2,  # base agg (visible now that the
        # melted scan checkpoints AFTER it) + _pid window exchange +
        # offsets agg + posframe pivot agg; offsets broadcast back +
        # posframe/base broadcast join
        unpart_windows=2,  # offsets + totals (single melted scan)
        rerun_stable=True,
    ),
    "orders_seasonal_index": Contract(
        shuffles=2,  # month agg + 12-row total
        # agg; NLJ = 1-row total frame
        nlj=1,  # 1-row grand-total frame
        rerun_stable=True,
    ),
    "part_fuzzy_levenshtein": Contract(
        # allow_nlj is True only for part_fuzzy_levenshtein, whose 3-row
        # probe table crossJoins via BroadcastNestedLoopJoin BY DESIGN (a
        # constant-width broadcast cross join is linear in the scan side).
        shuffles=1,  # bcast cross probes + window
        nlj=1,  # bounded probe set
        rerun_stable=True,
    ),
    "part_trigram_search": Contract(shuffles=1, rerun_stable=True),  # scan + TakeOrdered
    "path_transition_lift": Contract(
        shuffles=2,  # user lag exchange +
        # transition matrix agg; marginals are windows over the bounded
        # matrix
        unpart_windows=1,  # grand-total window over the
        # |types|^2-bounded transition matrix
        rerun_stable=True,
    ),
    "path_transitions_twostage": Contract(
        shuffles=5,  # (user,bucket) local
        # lag exchange + its pair-count agg, the (user,bucket) summary
        # agg + user-ordered seam window, and the final 25-row union agg.
        # Four more exchanges than the flat key's single user_id window —
        # the deliberate price for capping max-task at one user-day;
        # every event-scale exchange is keyed (user, bucket).
        rerun_stable=True,
    ),
    "q11_important_parts": Contract(
        shuffles=2, bcast=6,  # 1-row threshold broadcast
        nlj=1,  # TPC-H Q11 scalar threshold
        rerun_stable=True,
    ),
    "q13_customer_distribution": Contract(shuffles=2, bcast=1, rerun_stable=True),
    "q14_promo_effect": Contract(shuffles=0, bcast=1, rerun_stable=True),
    "q15_top_supplier": Contract(shuffles=0, bcast=2, rerun_stable=True),
    "q16_parts_suppliers": Contract(shuffles=2, bcast=2, rerun_stable=True),
    "q17_small_quantity": Contract(shuffles=2, bcast=2, rerun_stable=True),
    "q19_discounted_revenue": Contract(shuffles=0, bcast=1, rerun_stable=True),
    "q1_pricing_summary": Contract(shuffles=1, rerun_stable=True),
    "q1_pricing_summary_grid": Contract(
        shuffles=1,  # identical shape to
        # q1_pricing_summary: one pushed scan filter feeding one
        # partial+final hash agg (single exchange on the 6-value group
        # key). The micro-grid floor + DECIMAL(38,0) accumulation happens
        # inside the same two-phase agg — exactness costs zero plan.
        rerun_stable=True,
    ),
    "q20_part_promotion": Contract(
        # q20: the heavy-supplier frame (groupBy l_suppkey) lost its
        # broadcast hint in the round-14 SF-scaling de-hint sweep — the
        # static plan now shuffle-semi-joins it on s_suppkey (AQE converts
        # to broadcast at fixture scale; the shuffle IS the 100 TB plan,
        # since the frame scales with supplier).
        shuffles=2, bcast=2,
        rerun_stable=True,
    ),
    "q21_waiting_suppliers": Contract(shuffles=3, bcast=2, rerun_stable=True),
    "q22_global_sales": Contract(
        shuffles=1, bcast=1,  # 1-row avg-threshold broadcast
        nlj=1,  # TPC-H Q22 scalar avg balance
        rerun_stable=True,
    ),
    "q2_min_cost_supplier": Contract(shuffles=1, bcast=4, rerun_stable=True),
    "q4_order_priority": Contract(shuffles=1, bcast=1, rerun_stable=True),
    "q7_volume_shipping": Contract(
        shuffles=1, bcast=5,
        # 0 rows at the sf0.001 test fixture (no NATION_1/NATION_2
        # trade in 1996-97), so the rerun compare runs where it
        # returns rows
        rerun_stable=True, rerun_sf="sf0.01",
    ),
    "q8_market_share": Contract(shuffles=1, bcast=7, rerun_stable=True),
    "q9_product_profit": Contract(shuffles=1, bcast=3, rerun_stable=True),
    "quality_linear_score": Contract(
        shuffles=2, bcast=1,  # fan-out + doc agg; weights bcast
        rerun_stable=True,
    ),
    "quantile_exact_weighted_grid": Contract(
        shuffles=1,  # 1 exchange, 2 windows
        lowcard_windows=2,  # rank (grid-exact outputs)
        rerun_stable=True,
    ),
    "quantile_timing_grid": Contract(
        shuffles=2,  # cell counts + cum window
        lowcard_windows=2,  # summary: per-ms grid counts
        rerun_stable=True,
    ),
    "rollup_time_hierarchy": Contract(shuffles=3, rerun_stable=True),  # one agg per grain, cascaded
    "sample_bottom_k": Contract(
        shuffles=0,  # TakeOrderedAndProject (asserted
        # in test_plan_shapes.py), never a global sort
        rerun_stable=True,
    ),
    "sample_hash_consistent": Contract(shuffles=2, rerun_stable=True),  # distinct-expand agg
    "scan_binary_files": Contract(shuffles=0, rerun_stable=True),  # binaryFile listing, map-only
    "scan_bloom_filter_lookup": Contract(
        shuffles=0,  # pure filtered scan
        # after the one-time bloom-indexed rewrite
        rerun_stable=True,
    ),
    "scan_csv_malformed": Contract(
        shuffles=0, nlj=1,  # two 1-row aggs joined (NLJ)
        rerun_stable=True,
    ),
    "scan_dpp_join": Contract(
        shuffles=4, bcast=1,  # dim distinct + pruned
        # fact join (broadcast) + group agg + distinct-user expand; the
        # DPP subquery's own broadcast may plan as a 3-row NLJ reuse
        rerun_stable=True,
    ),
    "scan_file_metadata": Contract(
        shuffles=2,  # per-file rollup agg +
        # COUNT(DISTINCT) expand; the NLJ is the 1-row × 1-row scalar
        # compose of the two total frames (constant width by construction)
        nlj=1,  # 1-row x 1-row totals compose (r15
        # layout normalization: per-file rollup totals x global distinct)
        rerun_stable=True,
    ),
    "scan_json_malformed": Contract(shuffles=0, rerun_stable=True),  # map-only JSONL scan + agg
    "scan_minmax_pruned": Contract(
        shuffles=0,  # pure pruned scan after
        # the one-time layout rewrite (scan + filter, zero exchanges)
        rerun_stable=True,
    ),
    "scan_observed_metrics": Contract(shuffles=0, rerun_stable=True),  # metrics row (eager pass)
    "scan_recursive_glob": Contract(
        shuffles=0, nlj=1,  # two 1-row aggs joined (NLJ)
        rerun_stable=True,
    ),
    "scan_schema_merge": Contract(shuffles=1, rerun_stable=True),  # merged-footer scan + agg
    "scan_text_lines": Contract(shuffles=0, rerun_stable=True),  # text readback, 3-cell agg
    "scan_xml_source": Contract(shuffles=1, rerun_stable=True),  # xml readback + hash agg
    "seq_edit_distance": Contract(
        shuffles=2,  # position hist + 1-row ref
        nlj=1,  # 1-row modal-reference frame
        rerun_stable=True,
    ),
    "seq_gaps_islands": Contract(
        shuffles=4, bcast=3,  # two distrank scans + join
        unpart_windows=2,  # two distrank offset tables
        rerun_stable=True,
    ),
    "seq_longest_increase": Contract(
        shuffles=2,  # user window + run agg
        # (best/histogram aggs reuse the run agg's partitioning)
    ),
    "seq_rle_encode": Contract(shuffles=1, rerun_stable=True),  # same gaps-islands shape
    "sequence_count_pairs": Contract(
        shuffles=2,  # window + re-agg share user key
        rerun_stable=True,
    ),
    "sequence_count_pairs_twostage": Contract(
        shuffles=3, bcast=1,  # family eight:
        # (user, bucket) local running-count exchange + its purchase agg,
        # the (user, bucket) summary agg + user-ordered seam prefix over
        # summaries, and the final per-user agg; the summary-to-local
        # join is broadcast at fixture scale (hash at scale — still keyed
        # (user, bucket)). Two more exchanges than the flat key's single
        # user_id window; no event-scale task holds more than one
        # user-day.
    ),
    "sequence_match_flag": Contract(shuffles=1, rerun_stable=True),  # one conditional min/max agg
    "sequence_match_timed": Contract(
        shuffles=2, bcast=1,  # as-of window + user-spine join
        rerun_stable=True,
    ),
    "sequence_next_node": Contract(
        shuffles=2, bcast=1,  # user window + bcast anchor join
        rerun_stable=True,
    ),
    "session_type_affinity": Contract(
        shuffles=8, bcast=3,  # session distinct + pair join; 1-row total NLJ
        nlj=1,  # 1-row session-count total
        rerun_stable=True,
    ),
    "sessionize_gap": Contract(shuffles=1, rerun_stable=True),  # windows + agg share user part.
    "sessionize_gap_adaptive": Contract(
        shuffles=5,  # branch-agnostic upper
        # bound: the dispatch returns either the flat plan (1 exchange)
        # or the two-stage plan (5) depending on the fixture's measured
        # hot-share; both branches' own budgets are pinned above/in
        # analytics5 coverage, so this entry only guards against the
        # dispatch ever producing something that is NEITHER.
    ),
    "sessionize_gap_twostage": Contract(
        shuffles=5, bcast=1,  # (user,bucket) window
        # exchange + seam-summary agg + user-ordered seam window + the
        # count-distinct two-phase expand on (user, session); the seam
        # offsets join back broadcast at fixture scale. The extra
        # exchanges vs flat sessionize_gap's single user_id exchange are
        # the DELIBERATE price for capping max-task at one user-day
        # (zipf probe: max-task x0.76 vs the flat key's x3.23 straggler).
    ),
    "set_except_all": Contract(shuffles=1, rerun_stable=True),  # tagged-count agg
    "set_intersect_all": Contract(shuffles=1, rerun_stable=True),  # tagged-count agg
    "sim_knn_join": Contract(rerun_stable=True),
    "sim_pq_adc_topk": Contract(
        shuffles=0, bcast=1,  # map-side ADC, 1x1 cb/LUT NLJs
        nlj=4,  # 1-row codebook/LUT/query probes
        unpart_windows=1,  # rank over the 5-row top-k
        scaling_bcast=2,  # 1-row query + its LUT
        rerun_stable=True,
    ),
    "sim_range_search": Contract(
        shuffles=0,  # 3-row query probe NLJ
        nlj=1,  # 3-row query set
        scaling_bcast=1,  # 3-row query set (vec_id IN (...))
        rerun_stable=True,
    ),
    "sim_topk_cosine": Contract(
        nlj=1,  # 1-row query vector
        scaling_bcast=1,  # 1-row query: vec_id == QUERY_VEC_ID
    ),
    "sim_topk_ivf": Contract(
        nlj=3,  # 1-row query + 2 probe lists
        scaling_bcast=2,  # 1-row query + 2-probe list (filtered)
    ),
    "sim_topk_lsh": Contract(
        nlj=1,  # 1-row query signature
        scaling_bcast=1,  # 1-row query signature (same filter)
    ),
    "sink_bucketed_sorted": Contract(rerun_stable=True),
    "sink_jdbc_roundtrip": Contract(rerun_stable=True),
    "sink_orc_roundtrip": Contract(rerun_stable=True),
    "sink_parquet_codecs": Contract(shuffles=0, rerun_stable=True),  # three map-only scan/aggs
    "sink_partitioned_overwrite": Contract(shuffles=1, rerun_stable=True),  # readback status agg
    "sketch_countmin_freq": Contract(
        shuffles=2, bcast=1,  # exact agg + cell lookup
        nlj=1,  # 1-row grand-total frame
        rerun_stable=True,
    ),
    "sketch_recall_probe": Contract(
        nlj=8,  # 4 paired exact/sketch 1-row probes
        scaling_bcast=3,  # paired exact/sketch 1-row probes
        rerun_stable=True,
    ),
    "skyline_orders": Contract(
        shuffles=2,  # bucket sweep + candidate sweep
        unpart_windows=1,  # final sweep over local-skyline
        # survivors (skyline algebra bounds
        # the candidate set, never the table)
        rerun_stable=True,
    ),
    "sort_multi": Contract(unpart_windows=1),  # offsets
    "source_numbers_range": Contract(shuffles=0, rerun_stable=True),  # pure Range scan
    "sql_distinct_on": Contract(shuffles=1, rerun_stable=True),  # WGL-pruned keep-one rank
    "sql_group_order_by_all": Contract(
        shuffles=2,  # hash agg + ORDER BY ALL sort
        rerun_stable=True,
    ),
    "sql_lateral_alias": Contract(shuffles=0, rerun_stable=True),  # map-only alias chain
    "sql_named_window": Contract(
        shuffles=1,  # both windows share ONE exchange
        lowcard_windows=2,  # rank (WINDOW-clause contract)
        rerun_stable=True,
    ),
    "sql_nulls_ordering": Contract(shuffles=1, rerun_stable=True),  # both windows, one exchange
    "sql_parameterized": Contract(shuffles=1, rerun_stable=True),  # bound literals, one agg
    "sql_pipe_syntax": Contract(shuffles=1, rerun_stable=True),  # pipe form = one hash agg
    "sql_qualify_topk": Contract(
        shuffles=1,  # QUALIFY desugar: WGL-pruned rank
        lowcard_windows=1,  # rank (QUALIFY contract)
        rerun_stable=True,
    ),
    "sql_quantified_compare": Contract(
        shuffles=0, bcast=1,  # dim bcast + 1-row extrema
        nlj=1,  # 1-row ALL/ANY extrema frame
        rerun_stable=True,
    ),
    "sql_recursive_cte": Contract(shuffles=1, rerun_stable=True),  # loop is map-side; 1 agg
    "sql_select_modifiers": Contract(shuffles=0, rerun_stable=True),  # pure projection, map-only
    "sql_unpivot_syntax": Contract(
        shuffles=1,  # one hash agg; UNPIVOT is a projection
        rerun_stable=True,
    ),
    "sql_values_inline": Contract(
        shuffles=1, bcast=1,  # VALUES LocalRelation bcast join
        rerun_stable=True,
    ),
    "stats_ab_min_sample": Contract(shuffles=1, rerun_stable=True),  # one grouped agg
    "stats_anova_oneway": Contract(
        shuffles=1,  # one moment agg; k-row
        # collect rides the same exchange
        rerun_stable=True,
    ),
    "stats_chi2_cells": Contract(
        shuffles=1,  # cell agg + windows over cells
        unpart_windows=1,  # contingency CELL table (|types|x2)
        lowcard_windows=1,  # summary: |type|x|dow| cells
        rerun_stable=True,
    ),
    "stats_cohens_d": Contract(
        shuffles=2,  # 2-group agg + 1x1 NLJ
        nlj=1,  # 1x1 two-group moment join
        rerun_stable=True,
    ),
    "stats_contingency_coef": Contract(
        shuffles=3, bcast=1,  # obs agg + marginals
        nlj=2,  # |dow|-row marginal + 1-row totals
        rerun_stable=True,
    ),
    "stats_corr_matrix": Contract(shuffles=1, rerun_stable=True),  # ALL 14 moments, one agg pass
    "stats_covariance": Contract(shuffles=1, rerun_stable=True),  # one decimal moment agg
    "stats_cramers_v": Contract(
        shuffles=4, bcast=2,  # cell agg + marginals bcast back
        nlj=1,  # 1-row grand total
        rerun_stable=True,
    ),
    "stats_cramers_v_corrected": Contract(
        shuffles=3, bcast=2,  # cell agg + marginal
        # re-aggs; marginals broadcast back; 1-row totals cross
        nlj=1,  # 1-row contingency-totals bcast
    ),
    "stats_entropy": Contract(shuffles=2, rerun_stable=True),  # cells agg + type agg
    "stats_jarque_bera": Contract(shuffles=1, rerun_stable=True),  # one moment agg
    "stats_kendall_tau": Contract(
        shuffles=1, bcast=1,  # cell table checkpointed once;
        # the pair join + agg is all the returned plan does
        rerun_stable=True,
    ),
    "stats_kruskal_wallis": Contract(
        shuffles=5, bcast=2,  # value agg + range scan +
        # (value,type) agg + vr join (bcast) + group agg; NLJ = 1-row tie
        # frame
        nlj=1,  # 1-row tie-sum frame
        unpart_windows=1,  # offsets (distrank cumsum over
        # the distinct-value table)
        rerun_stable=True,
    ),
    "stats_ks_test": Contract(
        shuffles=2, bcast=1,  # same distrank ECDF shape
        unpart_windows=2,  # offsets + totals
        rerun_stable=True,
    ),
    "stats_levene_bf": Contract(
        shuffles=2, bcast=1,  # rank window + moment
        # aggs; 5-row median table broadcast back
        lowcard_windows=2,  # rank: per-type median
        rerun_stable=True,
    ),
    "stats_linregress": Contract(shuffles=1, rerun_stable=True),  # one moment agg
    "stats_linregress_multi": Contract(
        shuffles=0,  # single moment agg,
        # partials merged map-side — no exchange before the 1-row result
        rerun_stable=True,
    ),
    "stats_mad": Contract(
        shuffles=2, bcast=1,  # two quantile aggs; median bcast join
        rerun_stable=True,
    ),
    "stats_mannwhitney_u": Contract(
        shuffles=2, bcast=1,  # distrank prefix scan over the
        # value histogram: _pid window + offsets agg; offsets broadcast
        unpart_windows=1,  # offsets
        rerun_stable=True,
    ),
    "stats_mean_ci": Contract(shuffles=2, rerun_stable=True),  # one decimal-moment agg
    "stats_permutation_test_hash": Contract(
        shuffles=2,  # filtered scan +
        # 64-group pstat agg + observed agg; NLJ = 1-row observed frame
        nlj=1,  # 1-row observed-stat frame
        rerun_stable=True,
    ),
    "stats_proportions_ztest": Contract(
        shuffles=1,  # user flags + single-row totals
        rerun_stable=True,
    ),
    "stats_roc_auc": Contract(
        shuffles=2, bcast=1,  # distrank prefix over score
        # histogram: _pid window + offsets agg; broadcast offsets
        unpart_windows=1,  # offsets
        rerun_stable=True,
    ),
    "stats_runs_test": Contract(
        shuffles=2,  # daily agg + per-type
        # series collect; folds are in-row
        rerun_stable=True,
    ),
    "stats_spearman": Contract(
        shuffles=1,  # rank windows share the key
        lowcard_windows=2,  # rank: two value/ts rankings
        rerun_stable=True,
    ),
    "stats_student_ttest": Contract(shuffles=0, rerun_stable=True),  # one conditional agg
    "stats_theils_u": Contract(
        shuffles=2,  # cells agg + marginal re-agg
        nlj=2,  # two 1-row entropy-sum frames
        rerun_stable=True,
    ),
    "stats_welch_anova": Contract(
        shuffles=3,  # moment agg + two k-row
        # fold aggs; NLJ = 1-row weight-totals frame
        nlj=1,  # 1-row weight-totals frame
        rerun_stable=True,
    ),
    "stats_welch_ttest": Contract(
        shuffles=2,  # per-branch agg + 1x1 cross
        nlj=1,  # 1x1 two-group moment join
        rerun_stable=True,
    ),
    "stats_wilcoxon_signed": Contract(
        shuffles=2, bcast=1,  # pair agg + |d| hist scan
        unpart_windows=1,  # distrank offsets (|d| histogram)
        rerun_stable=True,
    ),
    "stats_wilson_ci": Contract(shuffles=1, rerun_stable=True),  # one 5-cell agg
    "str_extract_groups": Contract(shuffles=0, rerun_stable=True),  # map-only codegen regexp
    "str_format_readable": Contract(shuffles=0, rerun_stable=True),  # map-only CASE/lpad chain
    "str_has_subsequence": Contract(shuffles=0, rerun_stable=True),  # map-only instr chain
    "str_keyvalue_parse": Contract(shuffles=0, rerun_stable=True),  # narrow parse stage
    "str_multisearch": Contract(shuffles=0, rerun_stable=True),  # narrow instr projection
    "str_ngram_similarity": Contract(
        shuffles=0, bcast=1,  # bcast successor join, map-only grams
        rerun_stable=True,
    ),
    "str_normalized_query_hash": Contract(
        shuffles=2,  # map-side normalize + shape agg
        rerun_stable=True,
    ),
    "str_phonetic_soundex": Contract(shuffles=2, rerun_stable=True),  # vocab distinct + code agg
    "stream_late_data": Contract(nlj=1),  # 1-row watermark anchor
    "stream_stateful_totals": Contract(
        # streaming (plan measured on the post-stream final-state
        # window over the memory sink; the stateful stage itself runs
        # inside the streaming query)
        shuffles=1,
        rerun_stable=True,
    ),
    "stream_windowed_topk": Contract(shuffles=2, rerun_stable=True),  # day-cell agg + rank window
    "table_column_stats": Contract(shuffles=6, rerun_stable=True),  # one agg per column (6)
    "text_blocklist_filter": Contract(shuffles=0, rerun_stable=True),  # map-only token gate
    "text_boilerplate_prefix": Contract(shuffles=2, rerun_stable=True),  # prefix hash-groupBy
    "text_c4_gates": Contract(shuffles=0, rerun_stable=True),  # map-only regexp battery
    "text_cdc_chunks": Contract(shuffles=1, rerun_stable=True),  # per-doc window cumsum
    "text_chunk_passages": Contract(shuffles=1, rerun_stable=True),  # parallelize() fan-out only
    "text_dedup_span_removal": Contract(
        shuffles=4, bcast=2,  # dup-set agg +
        # gram-keyed coverage join + position dedup + doc rollup
        rerun_stable=True,
    ),
    "text_inverted_index": Contract(
        shuffles=4, bcast=1,  # distinct + df band + postings agg
        rerun_stable=True,
    ),
    "text_langid_confusion": Contract(
        shuffles=2,  # vote agg + cell window
        lowcard_windows=1,  # summary: |lang|^2 confusion
        rerun_stable=True,
    ),
    "text_mattr_diversity": Contract(
        shuffles=1,  # per-row window arrays +
        # one per-lang hash agg
        rerun_stable=True,
    ),
    "text_minhash_export": Contract(shuffles=2, rerun_stable=True),  # shingle distinct + 8-min agg
    "text_ngram_lm_score": Contract(
        shuffles=3, bcast=2,  # tf/df aggs + bcast joins
        rerun_stable=True,
    ),
    "text_ngram_novelty": Contract(
        shuffles=3,  # distinct + gram window + doc agg
        rerun_stable=True,
    ),
    "text_quality_gopher": Contract(shuffles=0, rerun_stable=True),  # map-only rule columns
    "text_rarity_score": Contract(rerun_stable=True),
    "text_readability_fk": Contract(shuffles=0, rerun_stable=True),  # pure row expressions
    "text_simhash_export": Contract(shuffles=2, rerun_stable=True),  # tf agg + 16-bit vote agg
    "text_tfidf_topk": Contract(
        shuffles=4, bcast=1,  # tf agg + df agg (bcast
        # joined back) + doc_id window
        rerun_stable=True,
    ),
    "text_top_terms": Contract(
        shuffles=5,  # fan-out + tf/df aggs + join + window
        rerun_stable=True,
    ),
    "text_word_cooccurrence": Contract(
        shuffles=2,  # pair agg + TakeOrdered top-20
        rerun_stable=True,
    ),
    "text_zipf_fit": Contract(
        shuffles=2,  # word agg + TakeOrdered
        nlj=1,  # 1-row top-20 fit frame
        rerun_stable=True,
    ),
    "token_bigram_entropy": Contract(
        shuffles=5, bcast=1,  # bigram cell agg (data-
        # scale) + vocab-scale ctx/agg/ragg re-aggs + per-lang bcast join
        rerun_stable=True,
    ),
    "token_fertility_stats": Contract(shuffles=1, rerun_stable=True),  # one lang agg
    "token_vocab_coverage": Contract(
        shuffles=2, bcast=1,  # token agg + bcast vocab join
        rerun_stable=True,
    ),
    "topic_roundtrip": Contract(shuffles=0, rerun_stable=True),  # scan of published segments
    "topk_per_group_twostage": Contract(
        shuffles=2,  # (cust, salt) local
        # top-3 exchange + the cust re-rank exchange over ≤ 3·32
        # survivors per customer. One more exchange than the flat key;
        # the order-scale one is uniformly salted by pmod(o_orderkey).
    ),
    "topk_with_others": Contract(shuffles=2, rerun_stable=True),  # type agg + rank + rebucket agg
    "topk_with_ties": Contract(
        shuffles=1,  # one rank window (WindowGroupLimit)
        lowcard_windows=1,  # rank
        rerun_stable=True,
    ),
    "ts_autocorr_lag1": Contract(
        shuffles=1,  # lag window + agg, one key
        lowcard_windows=1,  # series: per-type lag
        rerun_stable=True,
    ),
    "ts_backtest_seasonal_naive": Contract(
        shuffles=1, bcast=1,  # day-grain table
        # materialized ONCE (localCheckpoint) -> lag-7 broadcast join +
        # final agg; the row-scaled events agg runs a single time
        rerun_stable=True,
    ),
    "ts_bounding_ratio": Contract(shuffles=1, rerun_stable=True),  # one min_by/max_by agg
    "ts_change_point_flags": Contract(
        shuffles=1,  # four frames in one window pass
        lowcard_windows=1,  # series
        rerun_stable=True,
    ),
    "ts_cumsum_reset": Contract(shuffles=1, rerun_stable=True),  # seg + run share user exchange
    "ts_cusum_alarm": Contract(
        shuffles=2,  # daily agg + per-type
        # series collect; folds are in-row expressions
        rerun_stable=True,
    ),
    "ts_holt_linear": Contract(shuffles=2, rerun_stable=True),  # day-cell agg + per-type fold agg
    "ts_kalman_level": Contract(shuffles=2, rerun_stable=True),  # daily agg + series agg
    "ts_lttb_downsample": Contract(
        shuffles=4, bcast=3,  # bucket agg + spine window + co-part join + select
        lowcard_windows=1,  # summary: per-bucket triangle
        rerun_stable=True,
    ),
    "ts_m4_downsample": Contract(shuffles=1, rerun_stable=True),  # single min/max/min_by agg
    "ts_nonneg_derivative": Contract(
        shuffles=1,  # one per-series lag window
        lowcard_windows=1,  # series: per-type lag — HAS
        # the two-stage sibling
        rerun_stable=True,
    ),
    "ts_nonneg_derivative_twostage": Contract(
        shuffles=3,  # family-three
        # series transplant: (type, day-bucket) local lag exchange + the
        # (type, bucket) summary agg + the per-type seam lag over ~30
        # summary rows; the union is exactly the flat pair set. No
        # event-scale exchange keys the bare event_type.
        lowcard_windows=1,  # summary: the per-type seam
        # lag over ~30 day-summary rows;
        # event-scale windows key
        # (type, bucket)
    ),
    "ts_ohlc_bars": Contract(
        shuffles=1,  # both rn dirs + agg share day exchange
        rerun_stable=True,
    ),
    "ts_outliers_tukey": Contract(
        shuffles=2, bcast=1,  # rank window + bcast fence join
        lowcard_windows=2,  # rank: per-type quartiles
        rerun_stable=True,
    ),
    "ts_period_detect": Contract(
        unpart_windows=1,  # dominant rank over 3 arm rows
        rerun_stable=True,
    ),
    "ts_rolling_slope": Contract(
        shuffles=1,  # ONE user_id exchange
        # feeding row_number + all four frame sums
        rerun_stable=True,
    ),
    "ts_seasonality_profile": Contract(shuffles=1, rerun_stable=True),  # one calendar-cell agg
    "ts_stl_decompose": Contract(
        shuffles=4, bcast=1,  # daily agg + calendar-
        # bounded partitioned window + 5x7 seasonal agg, broadcast back
        lowcard_windows=2,  # summary: daily series
        rerun_stable=True,
    ),
    "ts_theil_sen_slope": Contract(shuffles=2, rerun_stable=True),  # daily agg + series agg
    "ts_vwap": Contract(shuffles=1, rerun_stable=True),  # one day-cell hash agg
    "url_canonical_dedup": Contract(
        shuffles=2,  # canonical-group agg +
        # COUNT(DISTINCT url) two-phase expand
        rerun_stable=True,
    ),
    "url_funcs": Contract(shuffles=0, rerun_stable=True),  # map-only
    "user_active_streaks": Contract(
        shuffles=2,  # (user,day) distinct + user window
        rerun_stable=True,
    ),
    "user_churn_flags": Contract(
        shuffles=2,  # week grid distinct + 1-row horizon NLJ
        nlj=1,  # 1-row week horizon
        rerun_stable=True,
    ),
    "win_cume_dist_nth": Contract(
        shuffles=1,  # one window exchange
        lowcard_windows=2,  # rank — HAS the two-stage
        # sibling
        rerun_stable=True,
    ),
    "win_cume_dist_nth_twostage": Contract(
        shuffles=6, bcast=2,  # tie-aware rank
        # decomposition: (type, unit-bucket) local rank + peer-max
        # windows, ascending COUNT offsets over summary rows, and the
        # rank-2 broadcast for nth_value(2). The folded frame feeds both
        # the rank-2 pick and the output, so the balanced local subtree
        # replays once — the same deliberate trade as the percentile
        # family's second scan; no exchange keys the bare event_type at
        # event scale.
        lowcard_windows=3,  # summary: per-type offset/
        # total windows over bucket-
        # summary rows (replayed per
        # consumer); event-scale
        # windows key (type, vbucket)
        scaling_bcast=1,  # nth_value(2) frame: rn == 2
        # keeps <= 1 row per event_type
    ),
    "win_cumulative_uniques": Contract(
        shuffles=3,  # first-day agg + day agg + spine window
        lowcard_windows=1,  # summary: per-day firsts
        rerun_stable=True,
    ),
    "win_first_last_ignore_nulls": Contract(shuffles=1, rerun_stable=True),  # 1 user exchange
    "win_frame_exclude_current": Contract(
        shuffles=1,  # ONE event_type
        # exchange; sliding frame sums
        lowcard_windows=1,  # series (frame contract)
        rerun_stable=True,
    ),
    "win_groups_frame_emulated": Contract(
        shuffles=2, bcast=1,  # day agg + day-grain
        # window; broadcast join back to rows
        lowcard_windows=1,  # series (GROUPS-frame contract)
        rerun_stable=True,
    ),
    "win_moving_median": Contract(shuffles=1, rerun_stable=True),  # one window exchange
    "win_ntile_firstlast": Contract(
        lowcard_windows=1,  # rank (the ntile contract key)
        # — HAS the two-stage sibling
    ),
    "win_ntile_firstlast_twostage": Contract(
        shuffles=4, bcast=2,  # the rank
        # decomposition with DERIVED outputs: (status, kilobucket) local
        # rank exchange + summary offset windows + the closed-form
        # integer NTILE on (rn, n) + a 3-row extremes broadcast computed
        # as map-side max_by/min_by aggregates (no window, no
        # rank-subtree replay). The flat key's whole-status sort (3
        # statuses = n/3 rows per task at any scale) never appears.
        lowcard_windows=2,  # summary: per-status
        # offset/total windows over
        # <= ~1.7k bucket-summary rows;
        # order-scale windows key
        # (status, vbucket)
    ),
    "win_percent_rank": Contract(
        lowcard_windows=1,  # rank — HAS the two-stage
        # sibling (family eleven)
    ),
    "win_percent_rank_twostage": Contract(
        shuffles=3, bcast=1,  # family eleven:
        # the (status, kilobucket) local position exchange (reused by
        # the bucket-count agg) + the per-status offset/total windows
        # over <= ~600 bucket-summary rows + the fold join back on the
        # stage-1 keys (broadcast at fixture scale). The flat key's
        # whole-status sort never appears.
        lowcard_windows=2,  # summary: the per-status
        # offset/total windows over
        # <= ~600 kilobucket-summary
        # rows; the order-scale window
        # keys (status, kilobucket)
    ),
    "win_range_interval_frame": Contract(
        shuffles=1,  # 1 type exchange
        lowcard_windows=1,  # series (range-frame contract)
        rerun_stable=True,
    ),
    "win_rank_dense_twostage": Contract(
        shuffles=3,  # (cust, vbucket) local
        # rank exchange (reused by the per-bucket count agg) + the
        # cust-ordered offset window over ≤ ~560 summaries + the fold
        # join keyed (cust, vbucket). Mirrors the running-sum budget with
        # COUNT for SUM.
    ),
    "win_ratio_to_report": Contract(
        shuffles=1,  # unordered partition window
        lowcard_windows=1,  # summary-ish: type-total share;
        # groupBy-sum + broadcast is the
        # trivial scale rewrite
        rerun_stable=True,
    ),
    "win_running_sum_twostage": Contract(
        shuffles=3,  # (cust,bucket) local
        # prefix exchange (reused by the bucket-total agg) + the
        # cust-ordered offset window over summaries + the fold join
        # (broadcast at fixture scale, hash at scale — still keyed
        # (cust, bucket)). Two more exchanges than the flat key's single
        # o_custkey window; no order-scale task holds more than one
        # customer-day.
        rerun_stable=True,
    ),
    "win_session_window_builtin": Contract(
        shuffles=1,  # one user_id
        # exchange; session assembly is UpdatingSessionsIterator
        rerun_stable=True,
    ),
    "win_sliding_avg_adaptive": Contract(
        shuffles=4,  # branch-agnostic
        # upper bound, mirroring sessionize_gap_adaptive: the dispatch
        # returns either the flat plan (1 exchange) or the two-stage
        # plan (4) depending on the measured hot share; both branches'
        # own budgets are pinned separately, so this entry only guards
        # against the dispatch producing something that is NEITHER.
    ),
    "win_sliding_avg_twostage": Contract(
        shuffles=4, bcast=1,  # family seven, the
        # O(n) sweep form: the peer-collapse agg runs inside the eager
        # pts checkpoint; the visible exchanges are the (user, bucket)
        # sweep-prefix window, the stream bucket-totals agg, the
        # (user, anchor) conditional pivot, and the (user, ts) fold back
        # to event grain — every one keyed by a data-scale column, never
        # the bare user. The offsets join must stay a hash join
        # (broadcast at fixture scale), never a nested loop; the frame
        # itself never materializes (no O(n*f) per-row re-aggregation).
    ),
    "win_sliding_distinct": Contract(
        shuffles=4, bcast=1,  # obs distinct + fan agg; day spine bcast
        rerun_stable=True,
    ),
    "with_totals": Contract(shuffles=1, rerun_stable=True),  # Expand + one agg
    "zorder_layout": Contract(shuffles=1, rerun_stable=True),  # TakeOrdered / range sort
}
