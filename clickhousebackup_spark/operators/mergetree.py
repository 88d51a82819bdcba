"""MergeTree-engine-family semantics as Spark plans.

The reference image IS a ClickHouse server (`/root/reference/
Dockerfile:2` — clickhouse-server:24.8.4.13-alpine); its users store
tables in the MergeTree engine family and rely on merge-time
semantics: CollapsingMergeTree sign-cancelling, AggregatingMergeTree
partial-state merges, and incrementally-maintained materialized
views. The reference's one SQL statement (`backup.sh:38-45`) backs
those tables up wholesale, so a user switching to this engine needs
the same table semantics re-expressed as explicit, deterministic
Spark transforms — which is what this module provides.

Scale notes:

- ``merge_collapsing_final`` is one window over the collapse key —
  a single shuffle on (user_id, event_type), identical in shape to
  ``win_keep_newest``; ClickHouse does the same work lazily at merge
  time, we do it eagerly at read time (the Spark-native trade).
- ``merge_aggregating_shards`` demonstrates the mergeable-state
  contract explicitly: per-shard partial states (count, decimal sum,
  min, max) re-aggregate to the exact global answer. This is the
  two-level aggregation every 100 TB plan relies on — Catalyst's
  partial/final hash-agg does it implicitly; here it is surfaced as
  data so shard-restricted backups can be combined without a rescan.
- ``mv_incremental_refresh`` maintains an aggregate materialized
  view across a snapshot boundary: old state + delta-only scan →
  merged state, never re-reading the base. At 100 TB the delta scan
  is the only O(new data) cost, which is the entire point of an
  incremental MV (and of incremental backups, `engine.py`).
- ``agg_combinators`` is the ClickHouse ``-If`` combinator family
  (sumIf/countIf/maxIf/uniqIf) as conditional aggregates — one
  two-phase hash agg, no joins.

All checked columns follow the exprs.py determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import DEC, dsum
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table


@register(
    "merge_collapsing_final",
    oracle="""
        SELECT user_id, event_type, ts, event_id, value
        FROM (
            SELECT user_id, event_type, ts, event_id, value,
                   CASE WHEN event_id % 4 = 0 THEN -1 ELSE 1 END AS sign,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1 AND sign = 1
    """,
    doc="CollapsingMergeTree SELECT ... FINAL: a state-change stream "
    "(sign=+1 upsert, -1 delete; here sign is a deterministic "
    "event_id%4 derivation) collapses to the latest row per key iff "
    "that row is an upsert. ClickHouse cancels (+1,-1) pairs at merge "
    "time; the eager-read equivalent is one row_number window over "
    "the collapse key — a single shuffle, same as win_keep_newest.",
)
def merge_collapsing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    signed = ev.withColumn(
        "sign",
        F.when(F.pmod(F.col("event_id"), F.lit(4)) == 0, -1).otherwise(1),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        signed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("sign") == 1))
        .select("user_id", "event_type", "ts", "event_id", "value")
    )


@register(
    "merge_aggregating_shards",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                   AS total_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY event_type
    """,
    doc="AggregatingMergeTree partial-state merge: shard the table "
    "(pmod(user_id,8) stands in for the distributed-table shard key), "
    "compute per-shard partial states (count, exact decimal sum, "
    "min, max), then MERGE the states — never rescanning rows. The "
    "oracle is the direct one-pass aggregate, proving state-merge "
    "exactness. Decimal sums keep both levels order-independent; "
    "this is the contract that lets per-shard backup snapshots be "
    "combined into global rollups at 100 TB without a full rescan.",
)
def merge_aggregating_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    partial = (
        ev.withColumn("shard", F.pmod(F.col("user_id"), F.lit(8)))
        .groupBy("shard", "event_type")
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(F.col("value").cast(DEC)).alias("p_sum"),  # stays decimal
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("p_n").cast("long").alias("n_rows"),
        F.sum("p_sum").cast("double").alias("total_value"),
        F.min("p_min").alias("min_value"),
        F.max("p_max").alias("max_value"),
    )


@register(
    "mv_incremental_refresh",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY event_type
    """,
    doc="Incremental materialized-view maintenance (ClickHouse MV "
    "analog): the view state as of the last day boundary (base "
    "aggregate) is merged with a delta aggregate over only the final "
    "day's rows — base-state + delta union, one re-aggregation, no "
    "base rescan. The oracle is the from-scratch aggregate, proving "
    "refresh(state, delta) == full(table). The day cut is a "
    "broadcast 1-row scalar (no driver round-trip); counts merge by "
    "sum, decimal sums merge exactly. This is the same "
    "old-state-plus-delta algebra run_incremental uses for backups "
    "(engine.py), applied to aggregate views.",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    cut = ev.agg(F.date_trunc("day", F.max("ts")).alias("cut_ts"))
    ev2 = ev.crossJoin(F.broadcast(cut))

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("s_n"),
            F.sum(F.col("value").cast(DEC)).alias("s_sum"),
        )

    base = state(ev2.filter(F.col("ts") < F.col("cut_ts")))
    delta = state(ev2.filter(F.col("ts") >= F.col("cut_ts")))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("s_n").cast("long").alias("n_events"),
            F.sum("s_sum").cast("double").alias("total_value"),
        )
    )


@register(
    "agg_combinators",
    oracle="""
        SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                   AS BIGINT) AS n_clicks,
               CAST(SUM(CAST(value AS DECIMAL(38,6)))
                        FILTER (WHERE event_type = 'click')
                   AS DOUBLE) AS click_value,
               MAX(value) FILTER (WHERE event_type = 'purchase')
                   AS max_purchase_value,
               CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                                        THEN user_id END)
                   AS BIGINT) AS uniq_click_users
        FROM events
        GROUP BY 1
    """,
    doc="ClickHouse -If combinator family (sumIf/countIf/maxIf/"
    "uniqIf) as conditional aggregates in one two-phase hash agg: "
    "count/sum/max over CASE-guarded inputs plus a conditional "
    "count-distinct. No joins, no extra shuffle beyond the group-by; "
    "empty guards yield NULL (sum/max) or 0 (count) identically in "
    "both engines.",
)
def agg_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    is_click = F.col("event_type") == "click"
    return ev.groupBy(
        F.pmod(F.col("user_id"), F.lit(10)).cast("long").alias("user_bucket")
    ).agg(
        F.count(F.when(is_click, 1)).alias("n_clicks"),
        F.sum(F.when(is_click, F.col("value")).cast(DEC))
        .cast("double")
        .alias("click_value"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
            "max_purchase_value"
        ),
        F.countDistinct(F.when(is_click, F.col("user_id"))).alias(
            "uniq_click_users"
        ),
    )


@register(
    "agg_sum_map",
    oracle="""
        WITH kv AS (
            SELECT event_type,
                   unnest(json_keys(props)) AS pkey,
                   CAST(json_extract_string(props,
                        concat('$.', unnest(json_keys(props)))) AS BIGINT)
                       AS pval
            FROM events
        ), g AS (
            SELECT event_type, pkey, CAST(SUM(pval) AS BIGINT) AS psum
            FROM kv GROUP BY event_type, pkey
        )
        SELECT event_type,
               array_to_string(list(pkey ORDER BY pkey), ',') AS keys_csv,
               array_to_string(list_transform(list(psum ORDER BY pkey),
                   x -> CAST(x AS VARCHAR)), ',') AS sums_csv
        FROM g GROUP BY event_type
    """,
    doc="ClickHouse sumMap: per group, element-wise sum of a map "
    "column's values by key, emitted as parallel key/sum vectors in "
    "key order. Two-phase: explode the parsed map, integer-sum per "
    "(group, key) — map-side combine absorbs repeats — then "
    "reassemble per group. The reassembly array is bounded by the "
    "property VOCABULARY (distinct keys), not the row count — the "
    "same output cardinality ClickHouse's sumMap state holds, so "
    "the collect is safe at any scale. The parallel vectors are "
    "serialized to CSV strings (driver canonicalizes scalar cells "
    "only — the emb_normalize_quantize convention; r4 ERR fix).",
)
def agg_sum_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,long>")).alias("pkey", "pval"),
    )
    g = kv.groupBy("event_type", "pkey").agg(
        F.sum("pval").cast("long").alias("psum")
    )
    pairs = F.sort_array(F.collect_list(F.struct("pkey", "psum")))
    return g.groupBy("event_type").agg(
        F.array_join(
            F.transform(pairs, lambda x: x["pkey"]), ","
        ).alias("keys_csv"),
        F.array_join(
            F.transform(pairs, lambda x: x["psum"].cast("string")), ","
        ).alias("sums_csv"),
    )


@register(
    "rollup_time_hierarchy",
    oracle="""
        SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'day', date_trunc('day', ts),
               CAST(COUNT(*) AS BIGINT),
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'month', date_trunc('month', ts),
               CAST(COUNT(*) AS BIGINT),
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
        FROM events GROUP BY 2
    """,
    doc="Hierarchical time rollup (continuous-aggregate / hypertable "
    "rollup parity): hour-grain partial states aggregate from raw "
    "rows ONCE; day states re-aggregate the hour states; month "
    "states re-aggregate the day states — each coarser grain reads "
    "the previous grain's output, never the raw table. The oracle "
    "computes all three grains directly from raw rows, proving the "
    "cascade is exact (counts add; decimal sums add). At 100 TB the "
    "raw table is touched once per refresh instead of once per "
    "grain — the standard continuous-aggregate maintenance shape.",
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    # Each grain's state is MATERIALIZED (scratch.materialize — the
    # local-mode analog of persisting the continuous aggregate), so
    # the union below reuses it instead of recomputing the finer
    # grain per branch: without this, Spark's union does no CSE and
    # the raw scan would run once per grain.
    hour = materialize(
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("s_n"),
            F.sum(F.col("value").cast(DEC)).alias("s_sum"),
        )
    )
    day = materialize(
        hour.groupBy(F.date_trunc("day", "bucket_ts").alias("bucket_ts"))
        .agg(F.sum("s_n").alias("s_n"), F.sum("s_sum").alias("s_sum"))
    )
    month = day.groupBy(F.date_trunc("month", "bucket_ts").alias("bucket_ts")).agg(
        F.sum("s_n").alias("s_n"), F.sum("s_sum").alias("s_sum")
    )

    def emit(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_ts",
            F.col("s_n").cast("long").alias("n_events"),
            F.col("s_sum").cast("double").alias("total_value"),
        )

    return emit(hour, "hour").unionByName(emit(day, "day")).unionByName(
        emit(month, "month")
    )


@register(
    "agg_hll_merge",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_exact,
               CAST(1 AS BIGINT) AS within_5pct,
               CAST(1 AS BIGINT) AS direct_within_5pct
        FROM events GROUP BY event_type
    """,
    doc="uniqMerge analog — mergeable HLL sketch states (Apache "
    "DataSketches via hll_sketch_agg): per-shard sketches of "
    "user_id per event_type are UNIONED (hll_union_agg) and "
    "estimated. This is the AggregatingMergeTree "
    "uniqState/uniqMerge contract: shard-local sketches (a few KB "
    "each) combine into the global estimate without re-touching "
    "rows — the only way distinct-count rollups stay cheap at "
    "100 TB. Hash-checkable (r5): the checked columns are the exact "
    "distinct count plus two sketch-quality flags the oracle pins to "
    "1 — within_5pct (merged estimate within 5% of exact) and "
    "direct_within_5pct (direct unsharded estimate within 5% of "
    "exact); 5% is ~3x the default-lgK(12) HLL RSE of ~1.6%, so a "
    "different core count / partition layout cannot flip the flag "
    "(the estimate IS layout-sensitive: DataSketches' HIP estimator "
    "depends on insertion grouping). BOTH flags anchor on the "
    "deterministic exact count, "
    "never on each other: hll_sketch_agg is itself a two-phase "
    "aggregate, so even the 'direct' sketch is a union of "
    "partition-local sketches and its estimate moves a few counts "
    "with partition layout — the round-8 sf0.1 exact sweep caught "
    "the original merged==direct equality flag flipping once dense-"
    "mode sketches made estimates layout-sensitive (sparse-mode "
    "sf0.01 sketches matched exactly, hiding it). The raw estimate "
    "stays out of the hashed surface; the flags FAIL the hash if "
    "the sketch ever degrades past its error contract.",
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    shard = F.pmod(F.col("user_id"), F.lit(8)).alias("shard")
    partial = ev.select(shard, "event_type", "user_id").groupBy(
        "shard", "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = partial.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("uniq_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("uniq_direct")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("uniq_exact")
    )
    return (
        merged.join(exact, "event_type")
        .join(direct, "event_type")
        .select(
            "event_type",
            "uniq_exact",
            F.when(
                F.abs(F.col("uniq_est") - F.col("uniq_exact"))
                <= F.col("uniq_exact") * F.lit(0.05),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("within_5pct"),
            F.when(
                F.abs(F.col("uniq_direct") - F.col("uniq_exact"))
                <= F.col("uniq_exact") * F.lit(0.05),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("direct_within_5pct"),
        )
    )


@register(
    "dict_encode_lowcard",
    oracle="""
        WITH dict AS (
            SELECT event_type,
                   CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS BIGINT)
                       AS type_code
            FROM (SELECT DISTINCT event_type FROM events)
        )
        SELECT e.event_id, e.event_type, d.type_code
        FROM events e JOIN dict d ON e.event_type = d.event_type
    """,
    doc="LowCardinality dictionary encoding: build the value "
    "dictionary (distinct values, dense codes in value order — "
    "deterministic, not first-seen order) and broadcast-join it back "
    "to emit the coded column. This is the storage-layer encode "
    "ClickHouse's LowCardinality and parquet dictionary pages do; "
    "materialized as data it enables integer joins/group-bys on "
    "high-frequency string columns. The dictionary agg is tiny "
    "(vocabulary-sized) and the ROW_NUMBER runs over it, never over "
    "the fact table — no single-partition window on the big side.",
)
def dict_encode_lowcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    dict_df = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "type_code",
            F.row_number().over(Window.orderBy("event_type")).cast("long"),
        )
    )
    return ev.join(F.broadcast(dict_df), "event_type").select(
        "event_id", "event_type", "type_code"
    )


@register(
    "merge_replacing_final",
    oracle="""
        SELECT user_id, event_type, ts, event_id, value
        FROM (
            SELECT user_id, event_type, ts, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    doc="ReplacingMergeTree(ver) SELECT ... FINAL: keep the row with "
    "the greatest VERSION per sorting key — here ver = event_id (the "
    "monotone insert id), which is NOT the same row as the latest "
    "event time (agg_latest_pointer orders by ts): ClickHouse "
    "replaces by the ver column, not by wall clock. event_id is "
    "unique, so the keep is a total order with no tiebreak needed. "
    "One row_number window over the sorting key = one shuffle; "
    "ClickHouse does this lazily at merge time, the Spark-native "
    "trade is eager read-time dedup (same shape as win_keep_newest).",
)
def merge_replacing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "merge_summing_final",
    oracle="""
        SELECT user_id, event_type,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                   AS sum_value,
               CAST(COUNT(*) AS BIGINT) AS n_merged,
               MIN(props) AS any_props
        FROM events GROUP BY user_id, event_type
    """,
    doc="SummingMergeTree SELECT ... FINAL: numeric columns sum per "
    "sorting key, non-summed columns keep an arbitrary surviving "
    "value (pinned to MIN here so the hash-match is deterministic — "
    "ClickHouse's 'any row of the merged set' is not). Exact decimal "
    "sum per the exprs.py conventions; one two-phase hash agg, "
    "map-side combine absorbs hot keys.",
)
def merge_summing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        dsum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n_merged"),
        F.min("props").alias("any_props"),
    )


@register(
    "dict_get_join",
    oracle="""
        SELECT c.c_custkey,
               COALESCE(n.n_name, '') AS nation_name,
               COALESCE(r.r_name, '') AS region_name
        FROM customer c
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="dictGet('nations_dict', 'name', key) as a Spark plan: a "
    "ClickHouse external dictionary is a broadcast hash map — the "
    "exact Spark equivalent is a broadcast LEFT join with the "
    "dictionary default ('' for String) coalesced over misses. Two "
    "chained broadcast joins (nation 25 rows, region 5 rows) means "
    "the fact scan never shuffles: at 100 TB the dictGet chain stays "
    "one map-side stage, which is why dictionaries exist.",
)
def dict_get_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left"
        )
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_name", F.lit("")).alias("nation_name"),
            F.coalesce("r_name", F.lit("")).alias("region_name"),
        )
    )


@register(
    "mutation_delete_update",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CASE WHEN o_totalprice > 200000.0 THEN '1-URGENT'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
    """,
    doc="ClickHouse mutations (`ALTER TABLE .. DELETE WHERE` then "
    "`ALTER TABLE .. UPDATE .. WHERE`, reference server "
    "Dockerfile:2) as one copy-on-write rewrite: mutations are "
    "sequential, so the UPDATE's CASE applies to the DELETE's "
    "survivors — exactly how CH replays its mutation log part by "
    "part. Spark-side this is a single narrow map stage over the "
    "scan (filter + projection, zero shuffles, fully codegen'd); "
    "the at-scale deployment pairs it with partition pruning so "
    "only parts whose min/max envelope intersects the predicates "
    "are rewritten — untouched files are kept by reference, the "
    "same economy CH's mutation machinery buys.",
)
def mutation_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    deleted = o.filter(
        ~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000.0))
    )
    return deleted.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_totalprice") > 200000.0, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )


@register(
    "dict_hierarchy_flatten",
    oracle="""
        WITH RECURSIVE chain AS (
            SELECT p_partkey, p_partkey AS cur, 0 AS depth
            FROM part
            UNION ALL
            SELECT c.p_partkey, c.cur // 10, c.depth + 1
            FROM chain c JOIN part p ON p.p_partkey = c.cur
            WHERE c.cur >= 10
        )
        SELECT p_partkey, CAST(cur AS BIGINT) AS root,
               CAST(depth AS BIGINT) AS depth
        FROM chain
        WHERE cur < 10
           OR NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = chain.cur)
    """,
    doc="dictGetHierarchy / hierarchical dictionary flatten: every "
    "part resolves its ROOT ancestor and DEPTH in a synthetic "
    "category tree (parent(k) = k div 10; keys < 10 are roots). The "
    "walk stays INSIDE the dictionary: a parent id absent from the "
    "key set is terminal — the child reports that dangling id as its "
    "root (dictGetHierarchy semantics; children of dangling parents "
    "are never lost — ADVICE r4). The round-13 sf1 arm's offset key "
    "blocks create exactly such dangling interiors and pinned the "
    "rule into the oracle (hashes unchanged at contiguous-key "
    "driver-gate scales). The oracle walks the chain with a "
    "recursive CTE joined to the key set — O(depth) "
    "sequential rounds. Spark has no recursive CTE, and the naive "
    "translation (one self-join per level) is O(depth) SHUFFLES; "
    "this implementation uses POINTER DOUBLING instead: the pointer "
    "table starts as the edge list (roots as d=0 self-loops) and "
    "each round joins the table to itself (a.ptr = b.key, distance "
    "a.d + b.d), squaring the resolved path length — depth 2^i "
    "after i rounds, so 4 rounds cover depth 16 (keys to 10^16; "
    "the fixture maxes at depth 7). At 100 TB that is 4 shuffles "
    "instead of ~7+, and the doubling join is equi-key all the way "
    "down — the textbook distributed transitive-pointer pattern "
    "(same family as the unrolled graph_pagerank rounds).",
)
def dict_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    # Edge list treated as opaque data from here on (parent(k) is
    # closed-form ONLY because the fixture needs a deterministic
    # tree; a real dictionary ships arbitrary (child, parent) rows).
    reach = part.select(
        F.col("p_partkey").alias("key"),
        F.when(F.col("p_partkey") >= 10, F.expr("p_partkey div 10"))
        .otherwise(F.col("p_partkey"))
        .cast("long")
        .alias("ptr"),
        F.when(F.col("p_partkey") >= 10, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("d"),
    )
    # Materialize each round: without it the lazy plan re-derives
    # every prior round on both join sides (2^rounds scans of part).
    reach = materialize(reach)
    for _ in range(4):
        a = reach.alias("a")
        b = reach.select(
            F.col("key").alias("b_key"),
            F.col("ptr").alias("b_ptr"),
            F.col("d").alias("b_d"),
        ).alias("b")
        # LEFT join + self-loop fallback: a node whose ancestor key is
        # absent from the dictionary keeps its pointer (and row)
        # instead of silently vanishing — the fixture's contiguous
        # keys never hit this, but a real dictionary with dangling
        # parents must not lose children (ADVICE r4 fix).
        reach = materialize(
            a.join(b, F.col("a.ptr") == F.col("b.b_key"), "left")
            .select(
                F.col("a.key").alias("key"),
                F.coalesce(F.col("b.b_ptr"), F.col("a.ptr")).alias("ptr"),
                (F.col("a.d") + F.coalesce(F.col("b.b_d"), F.lit(0))).alias(
                    "d"
                ),
            )
        )
    return reach.select(
        F.col("key").alias("p_partkey"),
        F.col("ptr").alias("root"),
        F.col("d").alias("depth"),
    )


@register(
    "merge_versioned_collapsing",
    oracle="""
        WITH signed AS (
            SELECT user_id, event_type, ts AS version, event_id, value,
                   CASE WHEN event_id % 4 = 0 THEN -1 ELSE 1 END AS sign
            FROM events
        ), net AS (
            SELECT user_id, event_type, version,
                   SUM(sign) AS net,
                   MAX(CASE WHEN sign = 1 THEN event_id END)
                       AS keep_event_id
            FROM signed GROUP BY user_id, event_type, version
        ), alive AS (
            SELECT user_id, event_type, version, keep_event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY version DESC) AS rn
            FROM net WHERE net > 0
        )
        SELECT a.user_id, a.event_type, a.version,
               a.keep_event_id AS event_id, s.value
        FROM alive a
        JOIN signed s
          ON s.user_id = a.user_id AND s.event_type = a.event_type
         AND s.version = a.version AND s.event_id = a.keep_event_id
        WHERE a.rn = 1
    """,
    doc="VersionedCollapsingMergeTree FINAL: rows carry (sign, "
    "version); merge-time semantics cancel +1/-1 pairs WITHIN a "
    "version (net sign per (key, version) decides survival — "
    "CollapsingMergeTree's out-of-order fragility is exactly what "
    "the version column fixes), then the newest surviving version "
    "wins per key. Plan: one hash agg on (key, version) to net the "
    "signs, one window on the key to take the newest survivor, one "
    "equi-join back to fetch the payload row — two shuffles plus a "
    "key-local sort, each shape already proven at scale by "
    "merge_collapsing_final / win_keep_newest. The payload tiebreak "
    "(max event_id among +1 rows of the winning version) keeps the "
    "result a deterministic function of the data.",
)
def merge_versioned_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signed = ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("version"),
        "event_id",
        "value",
        F.when(F.col("event_id") % 4 == 0, F.lit(-1))
        .otherwise(F.lit(1))
        .alias("sign"),
    )
    net = signed.groupBy("user_id", "event_type", "version").agg(
        F.sum("sign").alias("net"),
        F.max(F.when(F.col("sign") == 1, F.col("event_id"))).alias(
            "keep_event_id"
        ),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("version").desc()
    )
    alive = (
        net.filter(F.col("net") > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        alive.alias("a")
        .join(
            signed.alias("s"),
            (F.col("s.user_id") == F.col("a.user_id"))
            & (F.col("s.event_type") == F.col("a.event_type"))
            & (F.col("s.version") == F.col("a.version"))
            & (F.col("s.event_id") == F.col("a.keep_event_id")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("event_type"),
            F.col("a.version").alias("version"),
            F.col("a.keep_event_id").alias("event_id"),
            F.col("s.value").alias("value"),
        )
    )


@register(
    "cdc_apply_changelog",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_totalprice AS price,
                   'I' AS op, CAST(0 AS BIGINT) AS seq
            FROM orders WHERE o_orderkey % 3 = 0
        ), changes AS (
            SELECT o_orderkey AS k, o_totalprice + 500.0 AS price,
                   'U' AS op, CAST(1 AS BIGINT) AS seq
            FROM orders WHERE o_orderkey % 6 = 0
            UNION ALL
            SELECT o_orderkey AS k, CAST(NULL AS DOUBLE) AS price,
                   'D' AS op, CAST(2 AS BIGINT) AS seq
            FROM orders WHERE o_orderkey % 12 = 0
            UNION ALL
            SELECT o_orderkey AS k, o_totalprice AS price,
                   'I' AS op, CAST(3 AS BIGINT) AS seq
            FROM orders WHERE o_orderkey % 24 = 0
        ), log AS (
            SELECT * FROM base UNION ALL SELECT * FROM changes
        ), latest AS (
            SELECT k, price, op,
                   ROW_NUMBER() OVER (PARTITION BY k
                                      ORDER BY seq DESC) AS rn
            FROM log
        )
        SELECT k AS o_orderkey, price AS o_totalprice
        FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC changelog apply (the Debezium/ClickHouse-MaterializedMySQL "
    "shape): fold a sequenced stream of I/U/D operations onto a base "
    "snapshot — insert every 3rd key, update every 6th (+500), "
    "delete every 12th, re-insert every 24th — so every op kind and "
    "every override chain (I<U<D<I) is exercised. Latest-seq-wins "
    "per key then drop deletes: EXACTLY the keep-newest window of "
    "merge_replacing_final with a tombstone filter on top, which is "
    "how ReplacingMergeTree(ver, is_deleted) implements CDC "
    "ingestion. One shuffle on the key; the changelog never joins "
    "the base — both just union into the same rank window, so "
    "applying a day's changes costs O(base + changes), and at 100 TB "
    "the base side is the incremental-restore composition "
    "(engine.restore_incremental) rather than a full rescan.",
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def slice_ops(mod: int, op: str, seq: int, price_expr):
        return o.filter(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").alias("k"),
            price_expr.alias("price"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
        )

    log = (
        slice_ops(3, "I", 0, F.col("o_totalprice"))
        .unionByName(slice_ops(6, "U", 1, F.col("o_totalprice") + 500.0))
        .unionByName(
            slice_ops(12, "D", 2, F.lit(None).cast("double"))
        )
        .unionByName(slice_ops(24, "I", 3, F.col("o_totalprice")))
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("price").alias("o_totalprice"),
        )
    )


@register(
    "agg_hll_set_ops",
    oracle="""
        SELECT
            CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                 THEN user_id END) AS BIGINT) AS n_click,
            CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                 THEN user_id END) AS BIGINT) AS n_purchase,
            CAST(COUNT(DISTINCT CASE WHEN event_type IN
                 ('click', 'purchase') THEN user_id END) AS BIGINT)
                AS n_union,
            CAST(1 AS BIGINT) AS union_est_ok,
            CAST(1 AS BIGINT) AS intersect_est_ok
        FROM events
    """,
    doc="Sketch set algebra (CH uniqCombined/Theta workflows): the "
    "click-user and purchase-user HLL sketches are UNIONED for the "
    "union estimate, and the intersection is estimated by "
    "inclusion-exclusion (|A| + |B| − |A∪B|) — the only set algebra "
    "HLL supports, and exactly how audience-overlap dashboards run "
    "on CH. Checked columns are the exact distinct counts plus two "
    "accuracy flags the oracle pins to 1: union estimate within 2% "
    "of exact, inclusion-exclusion intersection within 5% of exact "
    "(wider — I-E compounds the error of three sketches; the "
    "documented reason CH offers Theta sketches for precise "
    "intersections). The estimates themselves stay out of the "
    "hashed surface (engine-specific), but the flags fail the hash "
    "if sketch algebra ever degrades — same discipline as "
    "agg_hll_merge.",
)
def agg_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    is_c = F.col("event_type") == "click"
    is_p = F.col("event_type") == "purchase"
    sk = ev.agg(
        F.hll_sketch_agg(F.when(is_c, F.col("user_id"))).alias("sk_c"),
        F.hll_sketch_agg(F.when(is_p, F.col("user_id"))).alias("sk_p"),
        F.countDistinct(F.when(is_c, F.col("user_id"))).alias("n_click"),
        F.countDistinct(F.when(is_p, F.col("user_id"))).alias("n_purchase"),
        F.countDistinct(
            F.when(is_c | is_p, F.col("user_id"))
        ).alias("n_union"),
    )
    est_c = F.hll_sketch_estimate("sk_c")
    est_p = F.hll_sketch_estimate("sk_p")
    est_u = F.hll_sketch_estimate(
        F.expr("hll_union(sk_c, sk_p)")
    )
    est_i = est_c + est_p - est_u
    return sk.select(
        F.col("n_click").cast("long").alias("n_click"),
        F.col("n_purchase").cast("long").alias("n_purchase"),
        F.col("n_union").cast("long").alias("n_union"),
        F.when(
            F.abs(est_u - F.col("n_union"))
            <= F.col("n_union") * F.lit(0.02),
            1,
        ).otherwise(0).cast("long").alias("union_est_ok"),
        F.when(
            F.abs(
                est_i - (F.col("n_click") + F.col("n_purchase") - F.col("n_union"))
            )
            <= F.greatest(
                (F.col("n_click") + F.col("n_purchase") - F.col("n_union"))
                * F.lit(0.05),
                F.lit(5.0),
            ),
            1,
        ).otherwise(0).cast("long").alias("intersect_est_ok"),
    )


@register(
    "merge_graphite_rollup",
    oracle="""
        WITH anchor AS (
            SELECT date_trunc('day', MAX(ts)) AS aday FROM events
        ), cls AS (
            SELECT e.event_type, e.value,
                   date_diff('day', date_trunc('day', e.ts), a.aday)
                       AS age_days,
                   e.ts
            FROM events e CROSS JOIN anchor a
        ), tiered AS (
            SELECT event_type, value,
                   CASE WHEN age_days < 7 THEN 'raw_1h'
                        WHEN age_days < 21 THEN 'mid_6h'
                        ELSE 'old_1d' END AS tier,
                   CASE WHEN age_days < 7
                        THEN epoch_us(date_trunc('hour', ts))
                        WHEN age_days < 21
                        THEN epoch_us(date_trunc('day', ts))
                             + (hour(ts) // 6) * 21600000000
                        ELSE epoch_us(date_trunc('day', ts))
                   END AS bucket_us
            FROM cls
        )
        SELECT event_type, tier, CAST(bucket_us AS BIGINT) AS bucket_us,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS v_sum,
               MIN(value) AS v_min, MAX(value) AS v_max
        FROM tiered GROUP BY event_type, tier, bucket_us
    """,
    doc="GraphiteMergeTree retention rollup (ClickHouse's tiered "
    "time-series downsampling engine, graphite_rollup config): data "
    "younger than 7 days keeps hourly resolution, 7–21 days rolls to "
    "6-hour buckets, older collapses to daily — the age tiers are "
    "anchored at the dataset's max day (deterministic, no wall "
    "clock). CH applies the rollup lazily at merge time; here it is "
    "one eager plan: a 1-row anchor broadcast, integer bucket "
    "arithmetic (epoch-µs truncation + hour//6 — no float time "
    "math), and ONE two-phase hash agg over (series, tier, bucket). "
    "At 100 TB the same plan runs per partition-age cohort and old "
    "partitions shrink 24×, which is the entire point of tiered "
    "retention. Sum via exact decimal; min/max of raw doubles are "
    "order-free.",
)
def merge_graphite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(
        F.date_trunc("day", F.max("ts")).alias("aday")
    )
    cls = ev.join(F.broadcast(anchor)).select(
        "event_type",
        "value",
        F.datediff(F.col("aday"), F.date_trunc("day", F.col("ts")))
        .cast("long")
        .alias("age_days"),
        "ts",
    )
    tiered = cls.select(
        "event_type",
        "value",
        F.when(F.col("age_days") < 7, "raw_1h")
        .when(F.col("age_days") < 21, "mid_6h")
        .otherwise("old_1d")
        .alias("tier"),
        F.when(
            F.col("age_days") < 7,
            F.unix_micros(F.date_trunc("hour", F.col("ts"))),
        )
        .when(
            F.col("age_days") < 21,
            F.unix_micros(F.date_trunc("day", F.col("ts")))
            + F.expr("hour(ts) div 6") * F.lit(21600000000),
        )
        .otherwise(F.unix_micros(F.date_trunc("day", F.col("ts"))))
        .cast("long")
        .alias("bucket_us"),
    )
    return tiered.groupBy("event_type", "tier", "bucket_us").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("value").alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


@register(
    "mergetree_ttl_expire",
    oracle="""
        WITH anchor AS (
            SELECT date_trunc('day', MAX(ts)) AS aday FROM events
        ), cls AS (
            SELECT e.event_type,
                   strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
                   e.value,
                   date_diff('day', date_trunc('day', e.ts), a.aday)
                       AS age_days,
                   CASE WHEN e.event_type = 'purchase' THEN 21
                        ELSE 14 END AS ttl_days
            FROM events e CROSS JOIN anchor a
        )
        SELECT event_type, day,
               CASE WHEN age_days <= ttl_days THEN 'live'
                    ELSE 'rolled' END AS state,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS v_sum
        FROM cls GROUP BY event_type, day,
              CASE WHEN age_days <= ttl_days THEN 'live' ELSE 'rolled' END
    """,
    doc="MergeTree TTL semantics: per-row expiry with a per-type TTL "
    "override (purchase rows live 21 days, everything else 14 — CH "
    "`TTL ts + INTERVAL ... DELETE` with a WHERE branch) and CH's "
    "`TTL ... GROUP BY` variant where expired rows are not dropped "
    "but ROLLED UP to day-grain aggregates — the disk-reclaim path "
    "that keeps history queryable. Ages anchor at the dataset's max "
    "day (deterministic). One broadcast anchor + one hash agg; the "
    "live/rolled split is a CASE, not a second scan. At 100 TB CH "
    "evaluates TTL per part at merge time; the equivalent here "
    "partitions by day so expiry drops whole partitions (the "
    "scan_partition_pruned layout), and the rollup output is "
    "calendar-bounded.",
)
def mergetree_ttl_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("day", F.max("ts")).alias("aday"))
    cls = ev.join(F.broadcast(anchor)).select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "value",
        F.datediff(F.col("aday"), F.date_trunc("day", F.col("ts")))
        .cast("long")
        .alias("age_days"),
        F.when(F.col("event_type") == "purchase", 21)
        .otherwise(14)
        .alias("ttl_days"),
    )
    return (
        cls.withColumn(
            "state",
            F.when(F.col("age_days") <= F.col("ttl_days"), "live").otherwise(
                "rolled"
            ),
        )
        .groupBy("event_type", "day", "state")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dsum("value").alias("v_sum"),
        )
    )


@register(
    "merge_replacing_deleted",
    oracle="""
        SELECT user_id, event_type, ts, event_id, value FROM (
            SELECT user_id, event_type, ts, event_id, value,
                   CAST(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END
                       AS BIGINT) AS is_deleted,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND is_deleted = 0
    """,
    doc="ReplacingMergeTree(ver, is_deleted) — the CH 23.2+ soft-"
    "delete variant: keep-newest per key AND drop the key entirely "
    "when its newest version is a tombstone (is_deleted=1, synthetic "
    "here as event_id%7). This differs from merge_replacing_final "
    "(keep-newest only) and from merge_versioned_collapsing (sign "
    "pairs): a tombstone REMOVES the key from FINAL output — the "
    "CDC delete semantic. Same single window shuffle under the "
    "(ts, event_id) total order; the tombstone filter is applied "
    "AFTER rank so an older live row never resurrects a deleted "
    "key.",
)
def merge_replacing_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            "value",
            F.when(F.col("event_id") % 7 == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_deleted"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("is_deleted") == 0))
        .select("user_id", "event_type", "ts", "event_id", "value")
    )


@register(
    "merge_coalescing_final",
    oracle="""
        SELECT user_id, event_type, last_event_id, latest_cents,
               latest_props
        FROM (
            SELECT user_id, event_type,
                   CAST(MAX(event_id) OVER w_all AS BIGINT)
                       AS last_event_id,
                   CAST(LAST_VALUE(sparse_cents IGNORE NULLS) OVER w
                       AS BIGINT) AS latest_cents,
                   LAST_VALUE(sparse_props IGNORE NULLS) OVER w
                       AS latest_props,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY event_id DESC) AS rn
            FROM (
                SELECT user_id, event_type, event_id,
                       CASE WHEN event_id % 3 = 0 THEN NULL
                            ELSE CAST(floor(value * 100.0) AS BIGINT)
                       END AS sparse_cents,
                       CASE WHEN event_id % 4 = 0 THEN NULL
                            ELSE props END AS sparse_props
                FROM events
            )
            WINDOW w AS (PARTITION BY user_id, event_type
                         ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING),
                   w_all AS (PARTITION BY user_id, event_type)
        ) WHERE rn = 1
    """,
    doc="CoalescingMergeTree SELECT ... FINAL (ClickHouse 25.6+): per "
    "sorting key keep, FOR EACH COLUMN INDEPENDENTLY, the most "
    "recent NON-NULL value — a NULL in a newer insert does NOT "
    "erase an older value, which is exactly how partial-update "
    "upserts behave (merge_replacing_final keeps one whole ROW; "
    "this coalesces per column across rows). Sparse columns are "
    "synthesized deterministically (every 3rd event's value and "
    "every 4th event's props arrive NULL, different strides so the "
    "two columns coalesce from DIFFERENT source rows). LAST_VALUE "
    "IGNORE NULLS over the event_id version order + one keep-one "
    "rank share a single (user_id, event_type) exchange; money on "
    "the cent grid, version is the unique insert id (no tiebreak "
    "needed). At 100 TB this stays one window pass in MergeTree "
    "sort order, same as CH's merge-time coalescing.",
)
def merge_coalescing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(None)) \
            .otherwise(F.floor(F.col("value") * 100.0))
            .cast("long")
            .alias("sparse_cents"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None))
        .otherwise(F.col("props"))
        .alias("sparse_props"),
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_all = Window.partitionBy("user_id", "event_type")
    rn = F.row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy(
            F.col("event_id").desc()
        )
    )
    return (
        ev.select(
            "user_id",
            "event_type",
            F.max("event_id").over(w_all).cast("long").alias("last_event_id"),
            F.last("sparse_cents", ignorenulls=True)
            .over(w)
            .cast("long")
            .alias("latest_cents"),
            F.last("sparse_props", ignorenulls=True)
            .over(w)
            .alias("latest_props"),
            rn.alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "mergetree_ttl_rollup",
    oracle="""
        WITH anchored AS (
            SELECT event_type, event_id,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(floor(value * 100.0) AS BIGINT) AS cents,
                   date_diff('day', date_trunc('day', ts),
                       (SELECT date_trunc('day', MAX(ts)) FROM events))
                       AS age_days
            FROM events
        )
        SELECT 'raw' AS kind, event_type, day,
               CAST(event_id AS BIGINT) AS event_id,
               CAST(1 AS BIGINT) AS n, cents
        FROM anchored WHERE age_days <= 14
        UNION ALL
        SELECT 'rollup' AS kind, event_type, day,
               CAST(NULL AS BIGINT) AS event_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM anchored WHERE age_days > 14
        GROUP BY event_type, day
    """,
    doc="TTL ... GROUP BY tiered rollup (ClickHouse's age-based "
    "re-aggregation, the sibling of mergetree_ttl_expire's DELETE "
    "arm): rows younger than 14 days stay RAW at event granularity; "
    "older rows collapse into per-(type, day) aggregates — the "
    "hot/cold tiering every long-retention metrics table ships. "
    "Age is anchored at max(ts) for determinism (same anchor trick "
    "as ttl_expire); money on the cent grid; the rollup rows carry "
    "NULL event_id and their (n, cents) sums CAST BIGINT. Plan: one "
    "scan forks into a filter (raw arm, map-only) and a hash agg "
    "(rollup arm) unioned back — at 100 TB the rollup arm is the "
    "usual two-phase agg and the raw arm never shuffles.",
)
def mergetree_ttl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("day", F.max("ts")).alias("aday"))
    base = ev.join(F.broadcast(anchor)).select(
        "event_type",
        "event_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
        F.datediff(F.col("aday"), F.date_trunc("day", F.col("ts")))
        .cast("long")
        .alias("age_days"),
    )
    raw = base.filter(F.col("age_days") <= 14).select(
        F.lit("raw").alias("kind"),
        "event_type",
        "day",
        F.col("event_id").cast("long").alias("event_id"),
        F.lit(1).cast("long").alias("n"),
        "cents",
    )
    rolled = (
        base.filter(F.col("age_days") > 14)
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            F.lit("rollup").alias("kind"),
            "event_type",
            "day",
            F.lit(None).cast("long").alias("event_id"),
            "n",
            "cents",
        )
    )
    return raw.unionByName(rolled)
