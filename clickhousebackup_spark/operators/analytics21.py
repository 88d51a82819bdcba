"""Round-14 skew-playbook families TEN and ELEVEN: exact weighted
order statistics and the percent_rank pair under low-cardinality
group keys.

``agg_weighted_median`` (stats.py — ClickHouse quantileExactWeighted)
computes its cumulative-weight window partitioned by the bare 5-value
``event_type``: the same STRUCTURAL straggler as agg_percentile_exact
(each task sorts n/5 of the table at ANY data scale — no skew needed),
carried as lowcard_windows debt in tests/contracts.py until now. This
module applies the family-six two-pass histogram selection to WEIGHTS:

- **Pass 1 (weight histogram).** Sum integer weights per (event_type,
  floor(value)) bucket — monotone buckets, so bucket order IS value
  order and cumulative bucket weights bracket the weighted-median
  rank exactly. The only event-scale exchange is this hash agg
  (map-side combined, ≤ #cells rows per mapper).
- **Pass 2 (selection).** Rescan only rows in the ONE bucket per type
  whose inclusive cumulative weight crosses half the total (broadcast
  bucket filter); the cumulative-weight window runs inside
  (event_type, vbucket) — never the bare type — with the bucket's
  preceding weight as offset. Max task = one bucket of one type.

The crossing test is the flat key's ``2·cw >= tw`` verbatim (pure
integer arithmetic) under the same (value, event_id) total order, and
the reported median is a SELECTED raw parquet double — so the rewrite
is value-identical, not merely close, and registers with the SAME
oracle object (stats.WEIGHTED_MEDIAN_ORACLE).

Reference anchor: the reference delegates queries to ClickHouse
(backup.sh:45); quantileExactWeighted/medianExactWeighted is the
exact weighted quantile its users run over restored metric tables,
and ClickHouse's own implementation aggregates a value→weight hash
map per group — the same histogram grain as pass 1 here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import exact_floor_decimal
from clickhousebackup_spark.operators.reshape import PERCENT_RANK_ORACLE
from clickhousebackup_spark.operators.stats import WEIGHTED_MEDIAN_ORACLE
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.tables import load_table


@register(
    "agg_weighted_median_twostage",
    oracle=WEIGHTED_MEDIAN_ORACLE,
    doc="Skew-immune rewrite of agg_weighted_median (ClickHouse "
    "quantileExactWeighted(0.5), integer weights user_id%5+1), "
    "value-identical to the flat key — family TEN: the two-pass "
    "histogram selection applied to WEIGHTS. Pass 1 sums weights per "
    "(event_type, floor(value)) — monotone buckets, cumulative "
    "bucket weights locate the single median bucket per type; pass 2 "
    "rescans only that bucket (broadcast filter), runs the "
    "cumulative-weight window inside (event_type, vbucket), and "
    "applies the flat key's exact integer crossing test 2·cw >= tw "
    "with the bucket's preceding weight as offset. The flat key's "
    "whole-type sort (5 groups = n/5 rows per task at any scale) "
    "never appears; the median is a selected raw parquet double. "
    "Shares stats.WEIGHTED_MEDIAN_ORACLE.",
)
def agg_weighted_median_twostage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 5 + 1).cast("long").alias("w"),
    ).withColumn(
        # exact_floor_decimal, not floor().cast(long): LONG floor
        # silently wraps past |value| ~ 9.2e18 (non-ANSI), breaking
        # bucket monotonicity and thus median selection; the decimal
        # form stays monotone over the full double range. NON-NULL
        # assumption (as documented on analytics18's family): a NULL
        # value would bucket NULLS FIRST here vs NULLS LAST in DuckDB.
        "vbucket",
        exact_floor_decimal(F.col("value")),
    )

    # Pass 1: weight histogram per (type, value-bucket); the only
    # event-scale exchange, map-side combined.
    hist = ev.groupBy("event_type", "vbucket").agg(
        F.sum("w").alias("bw")
    )
    wb = Window.partitionBy("event_type").orderBy("vbucket")
    cum = hist.withColumn("cum_incl", F.sum("bw").over(wb)).withColumn(
        "cum_excl", F.col("cum_incl") - F.col("bw")
    )
    totals = hist.groupBy("event_type").agg(F.sum("bw").alias("tw"))
    # the single bucket where the flat key's crossing 2·cw >= tw
    # first happens: 2·cum_excl < tw <= 2·cum_incl
    target = (
        cum.join(F.broadcast(totals), "event_type")
        .filter(
            (2 * F.col("cum_excl") < F.col("tw"))
            & (2 * F.col("cum_incl") >= F.col("tw"))
        )
        .select("event_type", "vbucket", "cum_excl", "tw")
    )

    # Pass 2: the flat cumulative window, but inside (type, vbucket)
    # — one bucket per type, never the bare 5-value key.
    wloc = (
        Window.partitionBy("event_type", "vbucket")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inside = (
        ev.join(F.broadcast(target), ["event_type", "vbucket"])
        .withColumn("cw", F.col("cum_excl") + F.sum("w").over(wloc))
        .filter(2 * F.col("cw") >= F.col("tw"))
    )
    return inside.groupBy("event_type").agg(
        F.min("value").alias("wmedian")
    )


@register(
    "win_percent_rank_twostage",
    oracle=PERCENT_RANK_ORACLE,
    doc="Skew-immune percent_rank + cume_dist over orders — family "
    "ELEVEN, the rank decomposition transplanted to the "
    "percent_rank pair and the 3-value o_orderstatus key, "
    "value-identical to win_percent_rank (SHARED "
    "reshape.PERCENT_RANK_ORACLE). The flat window orders by "
    "(o_totalprice, o_orderkey) — a UNIQUE total order, so both "
    "functions degenerate to row-position arithmetic (no peer "
    "groups: every row is its own peer). Stage 1: row_number inside "
    "(status, price-kilobucket) under the same order; stage 2: "
    "ascending count offsets + per-status totals over the "
    "bucket-summary rows; fold: global position rn = offset + "
    "rn_loc, percent_rank = (rn-1)/(n-1), cume = rn/n — the same "
    "two-BIGINT double divisions the engine-native functions "
    "perform, so outputs hash raw (single-row partitions guard the "
    "n=1 zero denominator to 0.0, engine-native semantics). The "
    "flat key's whole-status sort (n/3 rows per task at ANY scale) "
    "never appears; the only order-scale window keys "
    "(status, kilobucket).",
)
def win_percent_rank_twostage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (F.floor(F.col("o_totalprice") / F.lit(1000.0))).cast("long").alias(
            "kb"
        ),
    )

    # Stage 1: local position inside (status, kilobucket) under the
    # unique (price, orderkey) total order — no peer machinery
    # needed, the order key is unique.
    wloc = Window.partitionBy("o_orderstatus", "kb").orderBy(
        "o_totalprice", "o_orderkey"
    )
    local = o.withColumn("rn_loc", F.row_number().over(wloc))

    # Stage 2: ascending count offsets + per-status totals over the
    # bucket summaries (~bounded by the price domain / 1000).
    counts = local.groupBy("o_orderstatus", "kb").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wseam = Window.partitionBy("o_orderstatus").orderBy("kb")
    wstat = Window.partitionBy("o_orderstatus")
    offsets = counts.select(
        "o_orderstatus",
        "kb",
        F.coalesce(
            F.sum("cnt").over(
                wseam.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
        F.sum("cnt").over(wstat).alias("n_stat"),
    )

    folded = local.join(offsets, ["o_orderstatus", "kb"])
    rank = F.col("offset") + F.col("rn_loc")  # global position
    peers = rank  # unique order: every row is its own peer group
    n = F.col("n_stat")
    return folded.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(
            n > 1, (rank - 1).cast("double") / (n - 1).cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (peers.cast("double") / n.cast("double")).alias("cume"),
    )
