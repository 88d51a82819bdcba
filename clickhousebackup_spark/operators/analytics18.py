"""Round-13 late additions: skew playbook family SIX — exact
order-statistics (quantiles) under a LOW-CARDINALITY group key.

Families one through five (analytics16/17.py) beat a *zipf-hot* key:
one group owning ~25 % of the rows. ``agg_percentile_exact`` has a
harsher, STRUCTURAL version of the same straggler: it partitions its
row_number window by ``event_type`` — a 5-value column at every
scale — so each task sorts n/5 of the table no matter how uniform the
data is. At 10M events that is five ~2M-row single-task sorts; at
100 TB it is five ~20 TB sorts, i.e. the plan simply does not execute.
No salting trick fixes a rank: positions are global per group, and
(unlike top-k) every row's neighborhood matters.

The classic exact remedy is the two-pass histogram selection this
module implements:

- **Pass 1 (histogram).** Count rows per (event_type,
  ``floor(value)``). floor is monotone in value, so bucket order IS
  value order and equal values can never straddle a bucket. The agg
  is hash-based and map-side combinable: the only event-scale
  exchange in the whole plan carries ≤ #cells rows per mapper
  (~2.5k), not events. Cumulative counts over the ≤ ~500 summary rows
  per type locate, for each of the 6 needed global ranks (lo/hi of
  q25/q50/q75), the single bucket that contains it.
- **Pass 2 (selection).** Re-scan events, keep ONLY rows in a needed
  (type, bucket) — a broadcast join against ≤ 6·|types| bucket keys —
  row_number inside (type, bucket): global rank = bucket's cumulative
  start + local rank. Max task = one bucket of one type (n/~2500),
  for ANY group cardinality.
- **Interpolation** replays the flat key's expression tree verbatim
  (g = pos − floor(pos); lo + g·(hi − lo), pos = (n−1)·q in doubles),
  so the output is bit-identical, not merely close — the key shares
  ONE oracle object with the flat sibling
  (quantiles.PERCENTILE_EXACT_ORACLE).

Cost contract, stated honestly: TWO scans of events instead of one.
The flat key scans once but then sorts *everything* through 5 tasks;
the two-stage scans twice and sorts ~nothing (pass 2 sorts only the
≤ 6 straddling buckets per type). At 100 TB a parquet scan is
embarrassingly parallel; a 20 TB single-task sort is a failed stage.
The bucket width (floor of the raw value) is a task-sizing knob only —
exactness holds for ANY width because bucketing is monotone; a
degenerate corpus with one repeated value collapses to one bucket per
type, which pass 2 then sorts whole (mass-at-a-single-value is
irreducible for exact ranks — no method avoids it without changing
the question).

Reference mapping: the reference (backup.sh:38-45) delegates queries
to ClickHouse, whose exact `quantileExact` family likewise spills
per-part value histograms and merges them — MergeTree parts play the
role the value buckets play here.

Family rules carried from analytics16/17: every order carries the
unique-key (event_id) tiebreak; integer outputs CAST BIGINT; no
per-row Python anywhere.

NON-NULL assumption (this module and its gate/cume_dist siblings):
the ranked column is assumed NON-NULL. The monotone-bucket argument
buckets by floor(value), so a NULL value would land in a NULL vbucket
where Spark's NULLS FIRST default ordering diverges from DuckDB's
NULLS LAST — the bit-identical claim holds only for non-null ranked
columns (true of the fixture's ``value``). A nullable corpus needs an
explicit isNotNull pre-filter (changing the question: ranks among
non-null values) or a NULL-bucket convention agreed with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.operators.analytics4 import (
    NONNEG_DERIVATIVE_ORACLE,
)
from clickhousebackup_spark.operators.quantiles import (
    PERCENTILE_EXACT_ORACLE,
    QS,
)
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table


@register(
    "agg_percentile_exact_twostage",
    oracle=PERCENTILE_EXACT_ORACLE,
    doc="Skew-immune rewrite of agg_percentile_exact (exact "
    "interpolated quartiles of value per event_type), "
    "oracle-identical to the flat key — the SIXTH operator family on "
    "the skew playbook and the first whose straggler is STRUCTURAL "
    "(a 5-value group key puts n/5 rows in one sort task at any "
    "scale, zipf or not). Two-pass histogram selection: pass 1 "
    "counts rows per (type, floor(value)) — map-side combinable, so "
    "the only event-scale exchange carries ~2.5k summary rows per "
    "mapper — and cumulative counts locate the one bucket holding "
    "each of the 6 needed global ranks; pass 2 re-scans, keeps only "
    "rows in a needed (type, bucket) via a broadcast join against "
    "<= 6 bucket keys per type, and ranks INSIDE (type, bucket) — max task = "
    "one value-bucket of one type. The interpolation replays the "
    "flat expression tree verbatim (g = pos - floor(pos); "
    "lo + g*(hi - lo)), so outputs are bit-identical. Deliberate "
    "price: a second scan of events — embarrassingly parallel, vs "
    "the flat key's five single-task n/5-row sorts.",
)
def agg_percentile_exact_twostage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.floor(F.col("value")).cast("long").alias("vbucket"),
    )

    # Pass 1: the histogram. Hash agg on (type, bucket) — partials
    # combine map-side, so event-scale rows never cross an exchange.
    # The ~2.5k-row result feeds THREE consumers (bucket bounds,
    # per-type totals, rank location); materialize it once so the
    # event-scale agg subtree doesn't replicate per consumer.
    counts = materialize(
        ev.groupBy("event_type", "vbucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    # Bucket cumulative starts + per-type totals, over summary rows
    # only (<= ~500 buckets per type).
    wseam = Window.partitionBy("event_type").orderBy("vbucket")
    bounds = counts.select(
        "event_type",
        "vbucket",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(
                wseam.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_start"),
    )

    # The 6 needed global ranks per type: lo/hi of each quartile,
    # with the flat key's exact rank arithmetic (floor((n-1)q)+1,
    # capped hi).
    ntab = counts.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    need_structs = []
    for q in QS:
        qname = f"q{int(q * 100)}"
        lo_rn = F.floor((F.col("n") - 1) * F.lit(q)).cast("long") + 1
        hi_rn = F.least(lo_rn + F.lit(1).cast("long"), F.col("n"))
        need_structs.append(
            F.struct(
                F.lit(qname).alias("qname"),
                F.lit("lo").alias("role"),
                lo_rn.alias("rank"),
            )
        )
        need_structs.append(
            F.struct(
                F.lit(qname).alias("qname"),
                F.lit("hi").alias("role"),
                hi_rn.alias("rank"),
            )
        )
    needs = ntab.select(
        "event_type",
        "n",
        F.explode(F.array(*need_structs)).alias("nd"),
    ).select("event_type", "n", "nd.qname", "nd.role", "nd.rank")

    # Locate each needed rank's bucket (summary-scale join: <= 30
    # needs x <= ~2.5k bounds rows, broadcast the needs side).
    located = materialize(
        bounds.join(F.broadcast(needs), "event_type")
        .filter(
            (F.col("rank") > F.col("cum_start"))
            & (F.col("rank") <= F.col("cum_start") + F.col("cnt"))
        )
        .select(
            "event_type", "vbucket", "qname", "role", "rank",
            "cum_start", "n",
        )
        # <= 30 rows, two consumers (the bucket filter and the rank
        # pick) — materialize so the summary window isn't replayed.
    )

    # Pass 2: selection. Only rows in a straddling bucket survive the
    # broadcast filter join; ranking partitions on (type, bucket), so
    # no task ever holds more than one value-bucket of one type.
    hit_buckets = located.select("event_type", "vbucket").distinct()
    sub = ev.join(F.broadcast(hit_buckets), ["event_type", "vbucket"])
    wloc = Window.partitionBy("event_type", "vbucket").orderBy(
        "value", "event_id"
    )
    ranked = sub.withColumn("rn_loc", F.row_number().over(wloc))
    picked = (
        ranked.join(F.broadcast(located), ["event_type", "vbucket"])
        .filter(F.col("cum_start") + F.col("rn_loc") == F.col("rank"))
        .select("event_type", "qname", "role", "value", "n")
    )

    # Interpolation — the flat key's expression tree verbatim, over
    # <= 6 picked rows per type.
    out_aggs = []
    for q in QS:
        qname = f"q{int(q * 100)}"
        pos = (F.max("n") - 1) * F.lit(q)
        g = pos - F.floor(pos)
        lo = F.max(
            F.when(
                (F.col("qname") == qname) & (F.col("role") == "lo"),
                F.col("value"),
            )
        )
        hi = F.max(
            F.when(
                (F.col("qname") == qname) & (F.col("role") == "hi"),
                F.col("value"),
            )
        )
        out_aggs.append((lo + g * (hi - lo)).alias(qname))
    return picked.groupBy("event_type").agg(*out_aggs)


#: Day-wide time buckets for the series-lag transplant below — the
#: same salt the temporal families (analytics16) use; pure task
#: sizing, exact for any width (bucketing epoch-µs is monotone, so
#: within-bucket order is the global order restricted to the bucket).
SERIES_BUCKET_US = 86_400_000_000


@register(
    "ts_nonneg_derivative_twostage",
    oracle=NONNEG_DERIVATIVE_ORACLE,
    doc="Skew-immune rewrite of ts_nonneg_derivative (per-second "
    "clamped rate between consecutive points of each event_type "
    "series), oracle-identical to the flat key — the SERIES-lag "
    "decomposition (family three, path_transitions_twostage) "
    "transplanted onto a STRUCTURAL key: a 5-value series column "
    "means the flat lag window scans n/5 rows per task at any "
    "scale. Within-bucket pairs come from the same lag inside "
    "(type, day-bucket); each bucket's FIRST point pairs with the "
    "previous NON-EMPTY bucket's LAST point via struct-min/max "
    "bucket summaries lagged per type (summaries only exist for "
    "non-empty buckets, so the previous summary row IS the previous "
    "non-empty bucket); the rate expression replays the flat "
    "subtraction/multiply/divide on identical operands. No "
    "event-scale task holds more than one type-day; the seam window "
    "runs over ~30 summary rows per type.",
)
def ts_nonneg_derivative_twostage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
    ).withColumn(
        "bucket",
        F.floor(F.col("t_us") / F.lit(SERIES_BUCKET_US)).cast("long"),
    )

    # Stage 1: within-bucket lag — the event-scale exchange is keyed
    # (type, bucket).
    wloc = Window.partitionBy("event_type", "bucket").orderBy(
        "t_us", "event_id"
    )
    local = ev.select(
        "event_type",
        "event_id",
        "value",
        "t_us",
        F.lag("value").over(wloc).alias("pv"),
        F.lag("t_us").over(wloc).alias("pt"),
    ).filter(F.col("pt").isNotNull())

    # Stage 2: seam pairs from one summary row per (type, bucket).
    summary = ev.groupBy("event_type", "bucket").agg(
        F.min(F.struct("t_us", "event_id", "value")).alias("first_ev"),
        F.max(F.struct("t_us", "event_id", "value")).alias("last_ev"),
    )
    wseam = Window.partitionBy("event_type").orderBy("bucket")
    seams = (
        summary.select(
            "event_type",
            F.col("first_ev.event_id").alias("event_id"),
            F.col("first_ev.value").alias("value"),
            F.col("first_ev.t_us").alias("t_us"),
            F.lag(F.col("last_ev.value")).over(wseam).alias("pv"),
            F.lag(F.col("last_ev.t_us")).over(wseam).alias("pt"),
        )
    ).filter(F.col("pt").isNotNull())

    # The union is exactly the flat key's pair set; the rate replays
    # the flat expression on identical operands.
    pairs = local.unionByName(seams)
    dt = F.col("t_us") - F.col("pt")
    return pairs.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        dt.cast("long").alias("dt_us"),
        F.when(dt <= 0, F.lit(0.0))
        .otherwise(
            F.greatest(
                F.lit(0.0),
                (F.col("value") - F.col("pv"))
                * F.lit(1000000.0)
                / dt.cast("double"),
            )
        )
        .alias("rate_per_sec"),
    )
