"""Behavioral-analytics operators — the ClickHouse event-analytics
vocabulary (windowFunnel, retention, topK, histogram) re-expressed as
Spark window/aggregate plans over the ``events`` fixture table.

The reference (clickhouse-backup) delegates all querying to ClickHouse
itself; these are the behavioral aggregates a ClickHouse user runs
daily, so the engine must cover them (BASELINE.json north star:
"full relational surface").

Scale notes: every operator here shuffles exactly once on ``user_id``
(the natural partition key for per-user sequences); the funnel's three
window passes share one Exchange because the partition key never
changes. No driver-side iteration, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import DEC, gsum, ogsum
from clickhousebackup_spark.operators.distrank import (
    global_order_scan,
    global_positions_multi,
    ntile_from_pos,
)
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table, parallelize


#: The funnel contract is ONE object: funnel_steps (the flat window
#: plan) and funnel_steps_twostage (the skew-immune rewrite in
#: analytics16) must stay hash-identical, so both registrations
#: reference this single oracle — a copy could silently drift (same
#: convention as analytics5.SESSIONIZE_ORACLE).
FUNNEL_ORACLE = """
        WITH w1 AS (
            SELECT user_id, ts, event_type,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ), w2 AS (
            SELECT user_id, ts, event_type, t1,
                   min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                       OVER (PARTITION BY user_id) AS t2
            FROM w1
        ), w3 AS (
            SELECT user_id, t1, t2,
                   min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                       OVER (PARTITION BY user_id) AS t3
            FROM w2
        )
        SELECT DISTINCT user_id,
               CAST(CASE WHEN t1 IS NULL THEN 0
                         WHEN t2 IS NULL THEN 1
                         WHEN t3 IS NULL THEN 2
                         ELSE 3 END AS BIGINT) AS funnel_depth
        FROM w3
"""


#: Shared by sequence_count_pairs and its skew-immune two-stage
#: sibling (analytics20.py) — the one-oracle-per-family convention:
#: the rewrite must be hash-identical, and a shared constant cannot
#: drift the way a copied string can.
SEQUENCE_PAIRS_ORACLE = """
        SELECT user_id, CAST(SUM(vb) AS BIGINT) AS n_pairs
        FROM (
            SELECT user_id, event_type,
                   COALESCE(SUM(CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS vb
            FROM events
        )
        WHERE event_type = 'purchase'
        GROUP BY user_id
"""


@register(
    "funnel_steps",
    oracle=FUNNEL_ORACLE,
    doc="windowFunnel analog: per-user max depth through the ordered "
    "chain view -> click -> purchase (each step strictly after the "
    "previous step's FIRST occurrence). Three conditional-min window "
    "passes over one user_id partition — a single shuffle, no joins; "
    "ClickHouse computes the same thing with a per-user sorted scan.",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    ev = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    ev = ev.withColumn("t2", t2)
    t3 = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
    ).over(w)
    ev = ev.withColumn("t3", t3)
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
        .cast("long")
        .alias("funnel_depth")
    )
    return ev.select("user_id", depth).distinct()


@register(
    "retention_cohort",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   CAST(datediff('week', f.cohort_week,
                                 date_trunc('week', e.ts)) AS BIGINT) AS week_offset
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        )
        SELECT cohort_week, week_offset,
               count(DISTINCT user_id) AS n_users
        FROM activity
        WHERE week_offset <= 4
        GROUP BY cohort_week, week_offset
    """,
    doc="retention analog: cohort users by first-activity ISO week, "
    "count distinct users active at each week offset 0..4. One "
    "groupBy(user) + a user-key join (exchange reused) + one "
    "count-distinct agg — the standard cohort triangle.",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            # whole-week difference between week-truncated stamps: exact
            # integer arithmetic on day deltas, no calendar ambiguity.
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "agg_topk_freq",
    oracle="""
        SELECT event_type, user_id, n FROM (
            SELECT event_type, user_id, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY count(*) DESC, user_id
                   ) AS rk
            FROM events GROUP BY event_type, user_id
        ) WHERE rk <= 3
    """,
    doc="topK analog (exact form): the 3 most frequent users per "
    "event_type. count groupBy is two-phase (map-side combine absorbs "
    "heavy hitters), then a per-type row_number keeps k — at scale the "
    "approximate ClickHouse topK trades this exactness for one pass; "
    "the exact plan is still shuffle-bounded by the distinct key count, "
    "not the row count. Total-order tiebreak on user_id.",
)
def agg_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "user_id", "n")
    )


@register(
    "agg_histogram",
    oracle="""
        SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
               count(*) AS n,
               min(o_totalprice) AS lo,
               max(o_totalprice) AS hi
        FROM orders
        GROUP BY bucket
    """,
    doc="histogram analog with fixed-width buckets over o_totalprice: "
    "bucket id via floor division (exact IEEE double op, safe for the "
    "value hash per exprs.py), per-bucket count/min/max. Single "
    "two-phase hash aggregate; bucket count is bounded so the reduce "
    "side is tiny regardless of input scale.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long").alias("bucket")
    return o.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


#: Shared between path_transitions (flat per-user lag) and
#: path_transitions_twostage (skew-immune rewrite, analytics16): the
#: two keys promise hash-identical output, so the oracle is ONE object
#: — same convention as FUNNEL_ORACLE / analytics5.SESSIONIZE_ORACLE.
PATH_TRANSITIONS_ORACLE = """
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
"""


@register(
    "path_transitions",
    oracle=PATH_TRANSITIONS_ORACLE,
    doc="sequenceCount/path-analysis analog: first-order transition "
    "matrix of per-user event journeys. One lag window over the "
    "user_id partition (total-ordered by ts, event_id tiebreak), then "
    "a tiny pair-count aggregate — 25 output rows regardless of input "
    "scale, map-side combine does the heavy lifting.",
)
def path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: EMA horizon: with alpha=0.5 the K-th-oldest term's weight is 2^-K;
#: at K=100 that is ~8e-31 — below double ulp for any realistic value
#: scale, so the trailing-K EMA equals the full-history EMA in double
#: precision while bounding per-group state by construction.
EMA_HORIZON = 100


#: Shared by agg_ema and agg_ema_twostage (analytics20.py): both
#: select the SAME trailing-EMA_HORIZON rows under the same total
#: order and run the SAME left fold, so one oracle pins both.
EMA_ORACLE = f"""
        WITH recent AS (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               list_reduce(list(value ORDER BY ts, event_id),
                           (acc, x) -> acc * 0.5 + x * 0.5) AS ema_value
        FROM recent WHERE rn <= {EMA_HORIZON} GROUP BY user_id
"""


@register(
    "agg_ema",
    oracle=EMA_ORACLE,
    doc="exponentialMovingAverage analog (alpha=0.5): per-user ordered "
    "left fold over the TRAILING-100 event values (older terms carry "
    "weight ≤ 2^-100, below double ulp — same EMA, bounded state). The "
    "row_number window is an external (spill-safe) sort, and the "
    "collect after the rn<=K filter holds ≤ K structs per group, so no "
    "aggregation buffer ever sees a whole user history — a hot user "
    "with billions of events costs a sort, never an OOM. The fold is "
    "sorted by (ts, event_id) — a total order — so the fold order is "
    "identical in both engines and the double result is bit-exact "
    "(registry conventions: left-to-right array folds). One shuffle on "
    "user_id, reused by the window and the groupBy.",
)
def agg_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        ev.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= EMA_HORIZON)
        .drop("rn")
    )
    seq = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    return (
        recent.groupBy("user_id")
        .agg(F.transform(seq, lambda s: s["value"]).alias("vals"))
        .select(
            "user_id",
            F.expr(
                "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)),"
                " element_at(vals, 1), (acc, x) -> acc * 0.5D + x * 0.5D)"
            ).alias("ema_value"),
        )
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
        SELECT l_returnflag,
               ({ogsum('l_extendedprice * l_quantity')}
                / {ogsum('l_quantity')}) AS avg_price_weighted
        FROM lineitem GROUP BY l_returnflag
    """,
    doc="avgWeighted analog: quantity-weighted mean price per return "
    "flag. Both the weighted sum and the weight sum go through exact "
    "floor-grid decimals (exprs.gsum — round-14 migration off "
    "DECIMAL(38,6), whose per-row ROUND of the computed p*q and "
    "DuckDB's hugeint->double double-rounding were this key's sf1 "
    "frontier), then one double division — deterministic across "
    "engines and partition orders. Single two-phase hash agg.",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p, q = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        (gsum(p * q) / gsum(q)).alias("avg_price_weighted")
    )


@register(
    "sequence_count_pairs",
    oracle=SEQUENCE_PAIRS_ORACLE,
    doc="sequenceCount('(?1).*(?2)') analog: per user, the number of "
    "(view, later purchase) ordered pairs. ClickHouse materializes "
    "the per-user event list; the scale-safe Spark form is a running "
    "count of views strictly before each row (ROWS frame ending at "
    "1 PRECEDING, total-ordered by (ts, event_id)) summed over "
    "purchase rows — one shuffle on user_id, O(1) window state, no "
    "per-user collect, immune to hot-key skew.",
)
def sequence_count_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    views_before = F.coalesce(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w),
        F.lit(0),
    )
    return (
        ev.withColumn("vb", views_before)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("vb").cast("long").alias("n_pairs"))
    )


@register(
    "graph_pagerank",
    oracle="""
        WITH seq AS (
            SELECT event_type AS dst,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS src
            FROM events
        ), edges AS (
            SELECT src, dst, COUNT(*) AS cnt
            FROM seq WHERE src IS NOT NULL GROUP BY src, dst
        ), outw AS (
            SELECT src, SUM(cnt) AS tot FROM edges GROUP BY src
        ), enorm AS (
            SELECT e.src, e.dst,
                   CAST(e.cnt AS DOUBLE) / CAST(o.tot AS DOUBLE) AS w
            FROM edges e JOIN outw o ON e.src = o.src
        ), nodes AS (
            SELECT DISTINCT event_type AS node FROM events
        ), nn AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
        ), r0 AS (
            SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
        ), r1 AS (
            SELECT nd.node,
                   0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                       SELECT CAST(SUM(CAST(floor(e.w * r.rank
                                   * 1000000000000.0) AS BIGINT))
                              AS DOUBLE) / 1000000000000.0
                       FROM enorm e JOIN r0 r ON e.src = r.node
                       WHERE e.dst = nd.node), 0.0) AS rank
            FROM nodes nd
        ), r2 AS (
            SELECT nd.node,
                   0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                       SELECT CAST(SUM(CAST(floor(e.w * r.rank
                                   * 1000000000000.0) AS BIGINT))
                              AS DOUBLE) / 1000000000000.0
                       FROM enorm e JOIN r1 r ON e.src = r.node
                       WHERE e.dst = nd.node), 0.0) AS rank
            FROM nodes nd
        )
        SELECT nd.node,
               0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
                   SELECT CAST(SUM(CAST(floor(e.w * r.rank
                               * 1000000000000.0) AS BIGINT))
                          AS DOUBLE) / 1000000000000.0
                   FROM enorm e JOIN r2 r ON e.src = r.node
                   WHERE e.dst = nd.node), 0.0) AS rank
        FROM nodes nd
    """,
    doc="Deterministic PageRank (damping 0.85, 3 power iterations) "
    "over the event-transition graph: nodes = event types, edges = "
    "consecutive-event transitions per user (lag window), weights = "
    "out-degree-normalized counts. Each iteration is one broadcast "
    "join (the rank vector is node-sized) + an integer-grid "
    "contribution sum (floor at 1e-12, exact 64-bit adds), so "
    "results are bit-identical regardless of partitioning; dangling-node mass is dropped (the standard "
    "simplified formulation, mirrored exactly in the oracle's "
    "unrolled CTEs). At web-graph scale the same loop runs with the "
    "rank vector as a shuffled (not broadcast) join plus per-round "
    "localCheckpoint, as dedup_clusters does; 3 fixed rounds keeps "
    "the oracle expressible.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    edges = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    outw = edges.groupBy("src").agg(F.sum("cnt").alias("tot"))
    enorm = materialize(
        edges.join(outw, "src").select(
            "src",
            "dst",
            (F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("w"),
        )
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # node spine + 1/N scalar: tiny and reused by all iterations —
    # materialize once so the loop doesn't re-derive the distinct.
    base = materialize(nodes.crossJoin(F.broadcast(nn)))
    ranks = base.select("node", "n", (F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(3):
        contrib = enorm.join(
            F.broadcast(ranks.select(F.col("node").alias("src"), "rank")), "src"
        ).select(
            "dst",
            F.floor(F.col("w") * F.col("rank") * F.lit(1000000000000.0))
            .cast("long")
            .alias("c"),
        )
        acc = contrib.groupBy("dst").agg(
            (F.sum("c").cast("double") / F.lit(1000000000000.0)).alias("acc")
        )
        ranks = (
            base.join(F.broadcast(acc), base["node"] == acc["dst"], "left")
            .select(
                "node",
                "n",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("acc"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


@register(
    "events_anomaly_zscore",
    oracle=f"""
        WITH stats AS (
            SELECT event_type,
                   ({ogsum('value')} / COUNT(value)) AS mu,
                   sqrt(greatest(
                       ({ogsum('value * value')} / COUNT(value))
                       - (({ogsum('value')} / COUNT(value))
                          * ({ogsum('value')} / COUNT(value))),
                       0.0)) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value, s.mu, s.sigma
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE abs(e.value - s.mu) > 2.5 * s.sigma
    """,
    doc="Population z-score anomaly detection: per-type mean and "
    "stddev from exact floor-grid sums (exprs.gsum — round-14 "
    "migration off DECIMAL(38,6); population variance as "
    "E[x^2]-E[x]^2 with a greatest(...,0) clamp, sqrt is "
    "exact-IEEE), broadcast back onto the stream, keep |value-mu| > "
    "2.5 sigma. Both engines derive bit-identical mu/sigma, so the "
    "selection boundary is engine-identical too. One two-phase agg "
    "+ one broadcast join — the monitoring-table shape (ClickHouse "
    "users run exactly this over system.metrics); emitted rows "
    "carry the stats that flagged them.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    v = F.col("value")
    mu = gsum(v) / F.count(v)
    ex2 = gsum(v * v) / F.count(v)
    stats = ev.groupBy("event_type").agg(mu.alias("mu"), ex2.alias("ex2"))
    stats = stats.select(
        "event_type",
        "mu",
        F.sqrt(F.greatest(F.col("ex2") - F.col("mu") * F.col("mu"), F.lit(0.0))).alias(
            "sigma"
        ),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(v - F.col("mu")) > F.lit(2.5) * F.col("sigma"))
        .select("event_id", "event_type", "value", "mu", "sigma")
    )


@register(
    "user_active_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day
            FROM events
        ), islands AS (
            SELECT user_id, day,
                   day - INTERVAL (ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY day)) DAY AS island
            FROM days
        )
        SELECT user_id,
               CAST(max(streak_len) AS BIGINT) AS longest_streak,
               CAST(COUNT(*) AS BIGINT) AS n_streaks
        FROM (
            SELECT user_id, island, COUNT(*) AS streak_len
            FROM islands GROUP BY user_id, island
        )
        GROUP BY user_id
    """,
    doc="Longest consecutive-active-day streak per user — the "
    "gaps-and-islands idiom: distinct active days, island key = "
    "day minus row_number days (constant within a consecutive run), "
    "then two cheap aggregations. All three steps share the user_id "
    "partition so the plan re-uses one exchange; no self-join, no "
    "sequence materialization — the engagement metric every "
    "activity dashboard computes.",
)
def user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("rn", F.row_number().over(w)).withColumn(
        "island", F.expr("day - make_interval(0, 0, 0, rn)")
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


@register(
    "orders_rfm_segments",
    oracle="""
        WITH base AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                        AS DOUBLE) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, last_order, frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY last_order, o_custkey)
                    AS BIGINT) AS r_quartile,
               CAST(ntile(4) OVER (ORDER BY frequency, o_custkey)
                    AS BIGINT) AS f_quartile,
               CAST(ntile(4) OVER (ORDER BY monetary, o_custkey)
                    AS BIGINT) AS m_quartile
        FROM base
    """,
    doc="RFM customer segmentation: per-customer recency (last order "
    "date), frequency (order count), monetary (decimal-exact spend), "
    "each cut into exact quartiles under a total order (custkey "
    "tiebreak — quartile labels are rank-dependent, so the tiebreak "
    "is what makes them deterministic). One hash agg, then ONE "
    "melted two-pass distributed rank for all three metrics "
    "(distrank.global_positions_multi: the three (metric, value, "
    "custkey) orders ride a single range shuffle of 3n narrow rows "
    "and a single materialization — never a single-partition window, "
    "never a per-metric full-frame checkpoint) and NTILE(4) in "
    "closed form from global position + total count "
    "(distrank.ntile_from_pos). Identical output to the global-ntile "
    "formulation at any scale.",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("monetary"),
    )
    s = global_positions_multi(
        base,
        {
            "_rp": F.unix_micros(F.col("last_order")),
            "_fp": F.col("frequency"),
            "_mp": F.col("monetary"),
        },
        ["o_custkey"],
        total="_n",
    )
    n = F.col("_n")
    return s.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        ntile_from_pos(F.col("_rp"), n, 4).alias("r_quartile"),
        ntile_from_pos(F.col("_fp"), n, 4).alias("f_quartile"),
        ntile_from_pos(F.col("_mp"), n, 4).alias("m_quartile"),
    )


@register(
    "agg_topk_weighted",
    oracle="""
        SELECT event_type, user_id, weight FROM (
            SELECT event_type, user_id,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       AS weight,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY SUM(CAST(value AS DECIMAL(38,6))) DESC,
                                user_id) AS rk
            FROM events GROUP BY event_type, user_id
        ) WHERE rk <= 3
    """,
    doc="topKWeighted analog (exact): the 3 heaviest users per event "
    "type by summed VALUE rather than row count — the revenue-"
    "weighted variant of agg_topk_freq. Ranking happens on the "
    "exact DECIMAL sum (not its double projection) so ties break "
    "identically in both engines; user_id total-orders the rest. "
    "Two-phase weighted agg + per-type row_number window.",
)
def agg_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC)).alias("w_dec")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("w_dec").desc(), F.col("user_id")
    )
    return (
        g.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            "user_id",
            F.col("w_dec").cast("double").alias("weight"),
        )
    )


@register(
    "bitmap_set_ops",
    oracle="""
        WITH flags AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click'
                                 AND event_id % 7 = 0 THEN 1 ELSE 0 END)
                       AS has_click,
                   max(CASE WHEN event_type = 'view'
                                 AND event_id % 11 = 0 THEN 1 ELSE 0 END)
                       AS has_view
            FROM events GROUP BY user_id
        )
        SELECT CAST(SUM(has_click) AS BIGINT) AS n_click_users,
               CAST(SUM(has_view) AS BIGINT) AS n_view_users,
               CAST(SUM(has_click * has_view) AS BIGINT) AS n_and,
               CAST(SUM(CASE WHEN has_click + has_view > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_or,
               CAST(SUM(CASE WHEN has_click + has_view = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_xor
        FROM flags
    """,
    doc="groupBitmap AND/OR/XOR cardinalities: audience overlap "
    "between QUALIFYING clickers and viewers (deterministic "
    "event_id%7 / %11 subsets — the dense fixture put every user in "
    "both sets, so the XOR cardinality was structurally 0; round-7 "
    "degeneracy audit) computed from per-user membership "
    "flags — one user-grain agg (the 'bitmap build': state is one "
    "bit per set per user) + one scalar roll-up, no joins. This is "
    "the exact form; ClickHouse's roaring bitmaps make the same "
    "algebra sublinear in memory, which is the documented upgrade "
    "path (the flags agg IS mergeable shard state).",
)
def bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("event_id") % 7 == 0),
                1,
            ).otherwise(0)
        ).alias("has_click"),
        F.max(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("event_id") % 11 == 0),
                1,
            ).otherwise(0)
        ).alias("has_view"),
    )
    both = F.col("has_click") + F.col("has_view")
    return flags.agg(
        F.sum("has_click").cast("long").alias("n_click_users"),
        F.sum("has_view").cast("long").alias("n_view_users"),
        F.sum(F.col("has_click") * F.col("has_view")).cast("long").alias("n_and"),
        F.sum(F.when(both > 0, 1).otherwise(0)).cast("long").alias("n_or"),
        F.sum(F.when(both == 1, 1).otherwise(0)).cast("long").alias("n_xor"),
    )


@register(
    "orders_pareto_8020",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT o_custkey, rev,
                   SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum_rev,
                   SUM(rev) OVER () AS total_rev,
                   ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey)
                       AS rk,
                   COUNT(*) OVER () AS n_cust
            FROM per_cust
        )
        SELECT CAST(MIN(rk) AS BIGINT) AS top_customers,
               CAST(MAX(n_cust) AS BIGINT) AS all_customers,
               CAST(MIN(rk) AS DOUBLE) / CAST(MAX(n_cust) AS DOUBLE)
                   AS top_share
        FROM ranked WHERE 5 * cum_rev >= 4 * total_rev
    """,
    doc="Pareto 80/20 concentration: the smallest top-revenue "
    "customer set producing >= 80% of total revenue (the "
    "concentration question behind every account-tiering decision). "
    "Per-customer revenues are DECIMAL-exact; the crossing test "
    "5*cum >= 4*total stays in decimal arithmetic (no 0.8 float, "
    "no division) so both engines cut at the identical rank; the "
    "only double is the final ratio — one IEEE division of identical "
    "integers. The global cumulative revenue, rank, and both totals "
    "all come from ONE two-pass distributed prefix scan "
    "(distrank.global_order_scan: range-partition on (rev DESC, "
    "custkey), local running sum + row_number, broadcast partition "
    "offsets; totals ride the tiny per-partition summary) — no "
    "single-partition window over the customer-grain table, so the "
    "same plan serves the 100 TB corpus-wide report.",
)
def orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    ranked = global_order_scan(
        per_cust,
        (F.col("rev").desc(), F.col("o_custkey")),
        pos="rk",
        cumsum={"cum_rev": F.col("rev")},
        totals={"total_rev": F.col("rev"), "n_cust": F.lit(1)},
    ).select("cum_rev", "total_rev", "rk", "n_cust")
    return ranked.filter(
        F.col("cum_rev") * 5 >= F.col("total_rev") * 4
    ).agg(
        F.min("rk").cast("long").alias("top_customers"),
        F.max("n_cust").cast("long").alias("all_customers"),
        (
            F.min("rk").cast("double") / F.max("n_cust").cast("double")
        ).alias("top_share"),
    )


@register(
    "funnel_steps_windowed",
    oracle="""
        WITH w1 AS (
            SELECT user_id, ts, event_type,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ), w2 AS (
            SELECT user_id, ts, event_type, t1,
                   min(CASE WHEN event_type = 'click' AND ts > t1
                            AND epoch_us(ts) - epoch_us(t1) <= 3600000000
                            THEN ts END)
                       OVER (PARTITION BY user_id) AS t2
            FROM w1
        ), w3 AS (
            SELECT user_id, t1, t2,
                   min(CASE WHEN event_type = 'purchase' AND ts > t2
                            AND epoch_us(ts) - epoch_us(t1) <= 3600000000
                            THEN ts END)
                       OVER (PARTITION BY user_id) AS t3
            FROM w2
        )
        SELECT DISTINCT user_id,
               CAST(CASE WHEN t1 IS NULL THEN 0
                         WHEN t2 IS NULL THEN 1
                         WHEN t3 IS NULL THEN 2
                         ELSE 3 END AS BIGINT) AS funnel_depth
        FROM w3
    """,
    doc="windowFunnel(3600) — the TIME-BOUNDED funnel that is "
    "ClickHouse's actual signature (funnel_steps is the unbounded "
    "chain): every later step must land within one hour of the "
    "user's FIRST view, so a purchase days later no longer counts "
    "as conversion. Same plan as funnel_steps — three chained "
    "min-over-user windows sharing ONE partitioning (a single "
    "shuffle on user_id; Catalyst reuses the exchange across the "
    "window chain) — with the bound expressed in integer epoch "
    "MICROSECONDS, the only cross-engine-stable way to compare "
    "timestamp differences (interval arithmetic rounds differently "
    "per engine).",
)
def funnel_steps_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id")
    within = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("t1"))
    ) <= 3600000000
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    ev = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & within,
            F.col("ts"),
        )
    ).over(w)
    ev = ev.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & within,
            F.col("ts"),
        )
    ).over(w)
    ev = ev.withColumn("t3", t3)
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
    )
    return ev.select(
        "user_id", depth.cast("long").alias("funnel_depth")
    ).distinct()


@register(
    "agg_retention_flags",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS has_view,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS has_click,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS has_purchase
            FROM events GROUP BY user_id
        )
        SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
               CAST(SUM(has_view) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS r3
        FROM per_user GROUP BY 1
    """,
    doc="ClickHouse retention(cond1, cond2, cond3): per user, flag "
    "r[i] is cond_i AND cond_1 (every later condition is gated on "
    "the first — CH's exact contract), then the flags are summed "
    "per cohort bucket: 'of users who VIEWED, how many also "
    "clicked / purchased'. Two-phase: one boolean-max agg per user "
    "(map-side combine collapses repeats), one small sum per "
    "bucket. Both shuffles key on integers; state per user is three "
    "bits — the reason CH evaluates retention() in one pass at any "
    "scale, matched here.",
)
def agg_retention_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "has_view"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_click"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    return per_user.groupBy(
        F.pmod(F.col("user_id"), F.lit(10)).cast("long").alias("user_bucket")
    ).agg(
        F.sum("has_view").cast("long").alias("r1"),
        F.sum(
            F.when((F.col("has_view") == 1) & (F.col("has_click") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("r2"),
        F.sum(
            F.when(
                (F.col("has_view") == 1) & (F.col("has_purchase") == 1), 1
            ).otherwise(0)
        ).cast("long").alias("r3"),
    )


@register(
    "sequence_match_flag",
    oracle="""
        SELECT user_id,
               CAST(CASE WHEN MIN(CASE WHEN event_type = 'click'
                                       THEN ts END) IS NOT NULL
                         THEN 1 ELSE 0 END AS BIGINT) AS has_click,
               CAST(CASE WHEN MAX(CASE WHEN event_type = 'purchase'
                                       THEN ts END) IS NOT NULL
                         THEN 1 ELSE 0 END AS BIGINT) AS has_purchase,
               CAST(CASE WHEN MIN(CASE WHEN event_type = 'click'
                                       THEN ts END)
                            < MAX(CASE WHEN event_type = 'purchase'
                                       THEN ts END)
                         THEN 1 ELSE 0 END AS BIGINT) AS matched
        FROM events GROUP BY user_id
    """,
    doc="ClickHouse sequenceMatch('(?1).*(?2)'): did event A ever "
    "precede event B for this user? The unbounded-gap pattern needs "
    "no per-event scan state: first-click-before-last-purchase is "
    "equivalent (a click earlier than SOME purchase exists iff the "
    "earliest click is earlier than the latest purchase), so the "
    "whole match collapses to one conditional min/max aggregate — "
    "one two-phase shuffle, constant state per user, identical "
    "timestamp comparisons in both engines. funnel_steps_windowed "
    "is the time-bounded generalization; this is the cheap "
    "existence check CH users reach for first.",
)
def sequence_match_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    first_click = F.min(F.when(F.col("event_type") == "click", F.col("ts")))
    last_purch = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return ev.groupBy("user_id").agg(
        F.when(first_click.isNotNull(), 1).otherwise(0).cast("long").alias(
            "has_click"
        ),
        F.when(last_purch.isNotNull(), 1).otherwise(0).cast("long").alias(
            "has_purchase"
        ),
        F.when(first_click < last_purch, 1).otherwise(0).cast("long").alias(
            "matched"
        ),
    )


@register(
    "graph_bfs_hops",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), walk(side, id, d) AS (
            SELECT 'c', CAST(1 AS BIGINT), 0
            UNION
            SELECT CASE WHEN w.side = 'c' THEN 's' ELSE 'c' END,
                   CAST(CASE WHEN w.side = 'c' THEN e.s ELSE e.c END
                        AS BIGINT),
                   w.d + 1
            FROM walk w JOIN e
              ON (w.side = 'c' AND w.id = e.c)
              OR (w.side = 's' AND w.id = e.s)
            WHERE w.d < 3
        )
        SELECT side, id, CAST(MIN(d) AS BIGINT) AS dist
        FROM walk GROUP BY side, id
    """,
    doc="Bounded breadth-first search over the customer-supplier "
    "bipartite graph (edges = 'customer ordered a line item from "
    "supplier'): minimum hop count from customer 1 out to depth 3 "
    "— the neighborhood-expansion query behind fraud rings, "
    "recommendation walks, and supply-chain blast radius. Spark "
    "side is LAYERED BFS: each hop is one equi-join of the "
    "current frontier against the edge list followed by an "
    "anti-join against already-visited nodes, so a node's first "
    "discovery layer IS its minimum distance — no per-node state, "
    "no driver loop beyond the fixed 3 rounds, and the frontier "
    "(dimension-sized here) broadcasts. The oracle states the "
    "same fixpoint as a recursive CTE with MIN(d). The edge list "
    "is built once (distinct pairs) and reused across hops — at "
    "100 TB you'd bucket it by both endpoints and the per-hop "
    "joins stay co-partitioned shuffle-free.",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_suppkey").alias("s"),
    )
    e = o.join(li, "o_orderkey").select("c", "s").distinct()
    e = materialize(e, eager=False)

    src = F.lit(1).cast("long")
    # layer 0: the source customer
    d0 = (
        e.sparkSession.range(1)
        .select(F.lit("c").alias("side"), src.alias("id"), F.lit(0).alias("d"))
    )
    # layer 1: suppliers of customer 1
    s1 = (
        e.filter(F.col("c") == src)
        .select(F.col("s").alias("id"))
        .distinct()
    )
    # layer 2: customers sharing any layer-1 supplier, minus the source
    c2 = (
        e.join(F.broadcast(s1), e["s"] == s1["id"], "semi")
        .select(F.col("c").alias("id"))
        .distinct()
        .filter(F.col("id") != src)
    )
    # layer 3: suppliers of layer-2 customers not already in layer 1
    s3 = (
        e.join(F.broadcast(c2), e["c"] == c2["id"], "semi")
        .select(F.col("s").alias("id"))
        .distinct()
        .join(F.broadcast(s1), "id", "anti")
    )
    lay = lambda df, side, dist: df.select(  # noqa: E731
        F.lit(side).alias("side"),
        F.col("id").cast("long").alias("id"),
        F.lit(dist).alias("d"),
    )
    return (
        d0.unionAll(lay(s1, "s", 1))
        .unionAll(lay(c2, "c", 2))
        .unionAll(lay(s3, "s", 3))
        .select("side", "id", F.col("d").cast("long").alias("dist"))
    )


@register(
    "funnel_strict_order",
    oracle="""
        WITH f AS (
            SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS BIGINT) AS pos
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ), m AS (
            SELECT a.user_id,
                   CAST(MIN(a.pos) AS BIGINT) AS first_match_pos,
                   CAST(MIN(c.us - a.us) AS BIGINT) AS best_span_us
            FROM f a
            JOIN f b ON a.user_id = b.user_id AND b.pos = a.pos + 1
            JOIN f c ON a.user_id = c.user_id AND c.pos = a.pos + 2
            WHERE a.event_type = 'view' AND b.event_type = 'click'
              AND c.event_type = 'purchase'
              AND c.us - a.us <= 86400000000
            GROUP BY a.user_id
        )
        SELECT u.user_id,
               CAST(CASE WHEN m.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS BIGINT) AS strict_matched,
               CAST(COALESCE(m.first_match_pos, -1) AS BIGINT)
                   AS first_match_pos,
               CAST(COALESCE(m.best_span_us, -1) AS BIGINT)
                   AS best_span_us
        FROM (SELECT DISTINCT user_id FROM f) u
        LEFT JOIN m ON u.user_id = m.user_id
    """,
    doc="windowFunnel(strict_order): view→click→purchase must occur "
    "as three CONSECUTIVE funnel events (no other funnel step "
    "between them) within 24h — CH's strict_order mode, which "
    "existing funnel_steps_windowed (subsequence semantics) cannot "
    "express: there, click..X..cart still matches; here any "
    "intervening funnel event breaks the chain. Implemented on the "
    "funnel-event position index (row_number over funnel rows "
    "only): the strict chain is pos, pos+1, pos+2 — two user-keyed "
    "(steps chosen from the fixture's REAL event vocabulary — the "
    "round-7 degeneracy audit caught the original 'cart' step "
    "matching zero users at every scale) "
    "equi self-joins on adjacent positions, never a pattern scan. "
    "Sentinel -1 for non-converters (no nullable ints). One window "
    "+ co-partitioned joins on user_id; at 100 TB the funnel-type "
    "filter prunes the scan before anything shuffles.",
)
def funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    f = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )
    a, b, c = f.alias("a"), f.alias("b"), f.alias("c")
    m = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("c.pos") == F.col("a.pos") + 2),
        )
        .filter(
            (F.col("a.event_type") == "view")
            & (F.col("b.event_type") == "click")
            & (F.col("c.event_type") == "purchase")
            & (F.col("c.us") - F.col("a.us") <= 86400000000)
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(
            F.min(F.col("a.pos")).cast("long").alias("first_match_pos"),
            F.min(F.col("c.us") - F.col("a.us"))
            .cast("long")
            .alias("best_span_us"),
        )
    )
    users = f.select("user_id").distinct()
    return users.join(m, "user_id", "left").select(
        "user_id",
        F.when(F.col("first_match_pos").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("strict_matched"),
        F.coalesce("first_match_pos", F.lit(-1)).cast("long").alias(
            "first_match_pos"
        ),
        F.coalesce("best_span_us", F.lit(-1)).cast("long").alias(
            "best_span_us"
        ),
    )


@register(
    "graph_triangle_count",
    oracle="""
        WITH ws AS (
            SELECT string_split_regex(lower(text), '\\s+') AS w
            FROM documents
        ), edges AS (
            SELECT DISTINCT least(w[i], w[i + 1]) AS a,
                   greatest(w[i], w[i + 1]) AS b
            FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
            WHERE w[i] <> w[i + 1]
        ), tris AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ), member AS (
            SELECT a AS word FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ), tri_counts AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM member GROUP BY word
        ), deg AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS word FROM edges
                  UNION ALL SELECT b FROM edges)
            GROUP BY word
        )
        SELECT d.word, d.degree,
               COALESCE(t.n_triangles, 0) AS n_triangles
        FROM deg d LEFT JOIN tri_counts t ON d.word = t.word
    """,
    doc="Per-node triangle participation over the word co-occurrence "
    "graph (nodes = the corpus' closed vocabulary, undirected edges "
    "= adjacent-token pairs): degree and the number of triangles "
    "each word sits in — the local clustering signal community "
    "detection and graph-quality audits start from. Triangles are "
    "enumerated once each as ordered (a<b<c) wedges closed by a "
    "third edge — the standard edge-orientation trick that bounds "
    "wedge work by out-degree (at web scale you orient by "
    "(degree, id) instead of lexicographically; same join shape). "
    "Here the graph is VOCABULARY-bounded: at 100 TB the only "
    "row-scaled work is the distinct-edges aggregation on the gram "
    "scan; the triangle join runs over a node-bounded edge set and "
    "broadcasts. All outputs integer.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    w = F.split(F.lower("text"), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.struct(
            F.least(F.element_at(w, i), F.element_at(w, i + 1)).alias("a"),
            F.greatest(F.element_at(w, i), F.element_at(w, i + 1)).alias(
                "b"
            ),
        ),
    )
    # the edge set feeds FIVE consumers (three triangle-join legs and
    # two degree/union scans) — materialize the vocabulary-sized table
    # once or every consumer replays the corpus gram scan (measured:
    # 13 shuffles → 4).
    edges = materialize(
        # single-token docs have no bigram edges; without this filter
        # sequence(1, 0) is DESCENDING [1, 0] (the round-5 trap) and
        # element_at(w, 2) throws under ANSI on a 1-element array
        d.filter(F.size(w) >= 2)
        .select(F.explode(grams).alias("g"))
        .select("g.a", "g.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = materialize(  # three member-union consumers
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    member = (
        tris.select(F.col("a").alias("word"))
        .unionAll(tris.select(F.col("b").alias("word")))
        .unionAll(tris.select(F.col("c").alias("word")))
    )
    tri_counts = member.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    deg = (
        edges.select(F.col("a").alias("word"))
        .unionAll(edges.select(F.col("b").alias("word")))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.join(tri_counts, "word", "left").select(
        "word",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
