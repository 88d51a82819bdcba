"""Sort / limit / top-k operators (SURVEY.md §2.B "Sort / limit / top-k").

Scale notes: ``topk_limit`` compiles to TakeOrderedAndProject — each
partition keeps only its local top-k, the driver merges k·p rows; no
global sort. ``topk_per_group`` shuffles once on the group key. The
global position column in ``sort_multi`` makes the sort order
*observable* to the order-insensitive hash; it is the two-pass
distributed rank of ``distrank.global_order_scan`` (range partition,
local ranks, broadcast per-partition offsets), so no window moves the
rows to one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.operators.distrank import global_order_scan
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.tables import load_table, parallelize


@register(
    "sort_multi",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderdate,
               ROW_NUMBER() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey) AS pos
        FROM orders
    """,
    doc="Multi-key total-order sort, materialized as an explicit "
    "position column so the order-insensitive hash still verifies it. "
    "Global rank WITHOUT a single-partition window: range-partition on "
    "the sort key, rank within each partition, then add broadcast "
    "per-partition offsets — the two-pass distributed rank that holds "
    "at any scale. The ranged subtree is materialized ONCE "
    "(localCheckpoint) before both consumers read it: the count branch "
    "and the rank branch MUST observe identical partition boundaries "
    "and ids, and RangePartitioner's sampling seed varies with RDD id, "
    "so relying on Spark's exchange reuse to dedupe the two "
    "evaluations is a race, not a contract.",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    keys = (F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return global_order_scan(o, keys, pos="pos").orderBy("pos")


@register(
    "topk_limit",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    doc="Top-100 orders by totalprice (tiebroken) — "
    "TakeOrderedAndProject, the scalable top-k plan.",
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


#: Shared between topk_per_group (flat partitioned row_number) and
#: topk_per_group_twostage (skew-immune salted rewrite, analytics17):
#: the two keys promise hash-identical output, so the oracle is ONE
#: object — same convention as RUNNING_SUM_ORACLE / FUNNEL_ORACLE.
TOPK_PER_GROUP_ORACLE = """
        SELECT o_custkey, o_orderkey, o_totalprice, rn AS rank_in_cust
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
"""


@register(
    "topk_per_group",
    oracle=TOPK_PER_GROUP_ORACLE,
    doc="Top-3 orders per customer via partitioned row_number.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan-out on the window's partition key: same single
    # exchange, WindowGroupLimit + sort run core-parallel instead of
    # on the fixture's one scan task (0.50 s → 0.39 s at sf0.1);
    # no-op at production file counts.
    o = parallelize(load_table(spark, sf_dir, "orders"), by=("o_custkey",))
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank_in_cust", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )
