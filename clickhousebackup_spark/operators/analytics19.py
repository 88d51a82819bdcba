"""Round-13 late additions: skew playbook family SEVEN — bounded
time-range window frames.

Families one through six (analytics16/17/18.py) cover order-dependent
scans (sessionize), min-chains (funnel), 1-row seams (lag), prefix
offsets (running sum), count offsets (rank), and histogram selection
(quantiles). The remaining flat window shape still partitioned on a
bare hot key is the BOUNDED range frame: ``win_sliding_avg`` computes
a 1-hour trailing mean per user, and it is the worst flat straggler
the zipf probe family has measured — ×34-37.5 max-task (≈80 s single
task at 10M rows) — for a compounded reason: Spark evaluates a
bounded frame by re-aggregating it per row (no inverse-combine), so a
partitioned range window costs O(partition_rows × frame_rows), and a
hot key raises BOTH factors (its rows are denser per hour, so every
one of its rows also has a bigger frame).

That second factor means bucket-and-seam alone cannot fix this
family: the zipf probe rejected THREE designs on measurement before
the committed one —

1. local range window in (user, day-bucket) + a seam JOIN of
   first-hour targets against previous-bucket last-hour sources:
   the join is quadratic in rows-per-hour (3.3k × 3.3k pairs per hot
   user-day), ×13.8 max-task;
2. same, with the seam as a conditional range window over the
   unioned slices: linear seam, but the hot user-day still pays
   O(n·f) inside the LOCAL window, ×10.3;
3. frame-sized (2 h) buckets shrinking each local partition: caps
   the max task (×4.8) but the zipf arm still does Ω(Σ frame sizes)
   additions — the hot arm's wall stays ~3× uniform because the
   WORK is genuinely larger under per-row re-aggregation.

The committed form removes the per-row frame re-scan altogether.
SUM and COUNT are invertible, so a trailing frame is a DIFFERENCE OF
PREFIX SUMS — and exact, skew-immune prefix sums are family four's
solved problem:

- **Peer collapse.** One point per (user, ts): the frame of a row
  depends only on (user, t), so peers share one computed result
  (``pts``: per-(user, ts) DECIMAL(38,6) sum + count).
- **Sweep stream.** Each point enters twice: a REAL carrier at its
  own time (kind 1, carrying the point's sum/count) and a MARKER at
  t − 1h (kind 0, carrying nothing). Ordered by (sweep time, kind),
  a marker's running prefix is exactly the prefix STRICTLY BEFORE
  t − 1h (points at exactly t − 1h are in the frame and sort after
  the marker), and a real carrier's prefix is the prefix through t.
- **Bucketed exact prefix** (family four verbatim): local decimal
  prefix inside (user, day-bucket) + per-bucket totals cumulated per
  user over summary rows; prefix = offset + local — exact because
  DECIMAL(38,6) addition is associative. No task holds more than one
  user-day of O(1)-cost rows, for ANY bucket width (the sweep has no
  bucket ≥ frame constraint — the frame never materializes).
- **Difference.** frame_sum(t) = prefix(real at t) − prefix(marker
  at t − 1h); same for counts; DECIMAL subtraction is exact, so the
  result equals the frame's decimal sum bit-for-bit and the final
  ``CAST(sum AS DOUBLE)/count`` replays the flat key's expression.
- **Fold back** to event grain on (user, ts) — peers inherit the
  shared result; every event-scale exchange is keyed (user, ts) or
  (user, bucket), balanced under any distribution.

Total cost: O(n) additions regardless of frame density — the probe
arms become work-identical, which is what the ratios then show.

Reference mapping: the reference (backup.sh:38-45) delegates queries
to ClickHouse, where trailing-window aggregates over MergeTree parts
merge per-part partials the way the bucket offsets merge here; the
marker sweep is the classic event-time difference trick (Summingbird
/ stream-processing prefix windows).

Family rules carried forward: every order carries a unique tiebreak
((sweep_us, kind) is unique per user after peer collapse); integer
outputs CAST BIGINT; no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import DEC
from clickhousebackup_spark.operators.windows import SLIDING_AVG_ORACLE
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

#: Frame width (µs) — fixed by the flat key's contract (1 hour).
FRAME_US = 3_600_000_000
#: Prefix-salt bucket width (µs). Pure task sizing — the sweep
#: decomposition is exact for ANY width (unlike the rejected
#: local+seam designs, which needed bucket >= frame); one day keeps
#: the per-user summary table small while a hot user-day is ~2×80k
#: O(1)-cost stream rows per task.
BUCKET_US = 86_400_000_000


@register(
    "win_sliding_avg_twostage",
    oracle=SLIDING_AVG_ORACLE,
    doc="Skew-immune rewrite of win_sliding_avg (1-hour trailing mean "
    "of value per user, RANGE frame on epoch-µs), oracle-identical to "
    "the flat key — the SEVENTH operator family on the skew playbook, "
    "and the only one whose straggler bucket-and-seam alone cannot "
    "fix: Spark re-aggregates bounded frames per row (O(rows × "
    "frame_rows)), and a hot key inflates BOTH factors, so the zipf "
    "probe rejected three bucketed designs (seam join ×13.8; "
    "conditional seam window ×10.3; frame-sized buckets ×4.8 with "
    "the hot arm's work still Ω(Σ frame sizes)). SUM/COUNT are "
    "invertible, so the committed form is the O(n) sweep: collapse "
    "peers to one point per (user, ts); emit each point as a REAL "
    "carrier at t and a MARKER at t-1h; compute EXACT bucketed "
    "decimal prefixes over the (sweep, kind)-ordered stream (family "
    "four's local-prefix + per-bucket-offset decomposition — no "
    "task holds more than one user-day of O(1)-cost rows); "
    "frame = prefix(real) - prefix(marker), exact by decimal "
    "associativity, folded back to event grain on (user, ts). The "
    "final CAST(sum AS DOUBLE)/count replays the flat expression on "
    "the bit-identical decimal sum. Work is O(n) regardless of "
    "frame density — the probe arms are work-identical by "
    "construction.",
)
def win_sliding_avg_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )

    # Peer collapse: the frame depends only on (user, t). The point
    # table feeds THREE consumers (both arms of the sweep union and
    # the bucket totals); materialize it once (≤ one row per input
    # row).
    pts = materialize(
        ev.groupBy("user_id", "ts_us")
        .agg(
            F.sum(F.col("value").cast(DEC)).alias("p_sum"),
            F.count("value").alias("p_cnt"),
        )
    )

    # Sweep stream: REAL carrier at t (kind 1, carries the point),
    # MARKER at t-1h (kind 0, carries nothing). At equal sweep time
    # the marker sorts FIRST, so its prefix excludes points at
    # exactly t-1h — which belong to the frame.
    real = pts.select(
        "user_id",
        F.col("ts_us").alias("sweep_us"),
        F.lit(1).alias("kind"),
        F.col("ts_us").alias("anchor_us"),
        "p_sum",
        "p_cnt",
    )
    mark = pts.select(
        "user_id",
        (F.col("ts_us") - F.lit(FRAME_US)).alias("sweep_us"),
        F.lit(0).alias("kind"),
        F.col("ts_us").alias("anchor_us"),
        F.lit(None).cast(DEC).alias("p_sum"),
        F.lit(0).cast("long").alias("p_cnt"),
    )
    stream = real.unionByName(mark).withColumn(
        "bucket", F.floor(F.col("sweep_us") / F.lit(BUCKET_US)).cast("long")
    )

    # Family-four exact prefix: local decimal prefix inside
    # (user, bucket) + per-bucket totals cumulated per user over
    # summary rows only. (sweep_us, kind) is unique per user, so the
    # row frame is deterministic.
    wloc = (
        Window.partitionBy("user_id", "bucket")
        .orderBy("sweep_us", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = stream.select(
        "user_id",
        "bucket",
        "kind",
        "anchor_us",
        F.sum("p_sum").over(wloc).alias("loc_s"),
        F.sum("p_cnt").over(wloc).alias("loc_c"),
    )
    # Bucket totals over the STREAM, not the points: a marker-only
    # bucket (a t−1h landing where no real point exists) must still
    # get an offsets row, or the inner join below would drop its
    # markers. Markers carry zero mass, so the totals are unchanged;
    # the union replay is cheap against the materialized points, and
    # the map-side combine shrinks the exchange to summary rows.
    btot = stream.groupBy("user_id", "bucket").agg(
        F.sum("p_sum").alias("b_s"), F.sum("p_cnt").alias("b_c")
    )
    woff = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    zero_dec = F.lit(0).cast(DEC)
    offs = btot.select(
        "user_id",
        "bucket",
        F.coalesce(F.sum("b_s").over(woff), zero_dec).alias("off_s"),
        F.coalesce(F.sum("b_c").over(woff), F.lit(0)).alias("off_c"),
    )
    pref = loc.join(offs, ["user_id", "bucket"]).select(
        "user_id",
        "kind",
        "anchor_us",
        (F.coalesce(F.col("loc_s"), zero_dec) + F.col("off_s")).alias(
            "pre_s"
        ),
        (F.col("loc_c") + F.col("off_c")).alias("pre_c"),
    )

    # frame = prefix(real) - prefix(marker), exact decimal. Each
    # anchor has EXACTLY one real and one marker row, so the pairing
    # is a conditional pivot on (user, anchor) — one pass over pref,
    # no self-join (which would replay the whole prefix subtree per
    # branch).
    k_real = F.col("kind") == 1
    fr = (
        pref.groupBy("user_id", "anchor_us")
        .agg(
            F.max(F.when(k_real, F.col("pre_s"))).alias("r_s"),
            F.max(F.when(k_real, F.col("pre_c"))).alias("r_c"),
            F.max(F.when(~k_real, F.col("pre_s"))).alias("m_s"),
            F.max(F.when(~k_real, F.col("pre_c"))).alias("m_c"),
        )
        .select(
            F.col("user_id").alias("fr_uid"),
            "anchor_us",
            (F.col("r_s") - F.col("m_s")).alias("f_sum"),
            (F.col("r_c") - F.col("m_c")).alias("f_cnt"),
        )
    )

    # Fold back to event grain; peers at one (user, ts) share the
    # result. The final expression replays the flat key's verbatim.
    # (fr's key columns are renamed — it derives from ev, and a
    # same-name join condition would be ambiguous lineage.)
    return ev.join(
        fr,
        (F.col("user_id") == F.col("fr_uid"))
        & (F.col("ts_us") == F.col("anchor_us")),
    ).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("f_sum").cast("double") / F.col("f_cnt")).alias("moving_avg"),
    )


@register(
    "win_sliding_avg_adaptive",
    oracle=SLIDING_AVG_ORACLE,
    doc="Key-distribution dispatch for the bounded-frame family, "
    "completing the adaptive story the sessionizer started "
    "(sessionize_gap_adaptive): the flat win_sliding_avg wins on "
    "uniform keys (one exchange, no sweep machinery) and loses "
    "catastrophically on hot keys (x34 max-task — Spark re-aggregates "
    "a bounded frame per row, so the hot user's task costs "
    "O(rows x frame_rows)); the two-stage sibling inverts both. This "
    "key reads the SAME memoized hot-share probe "
    "(analytics16._events_hot_share: sidecar stats file when "
    "present, else a bounded driver-side pyarrow read of the pruned "
    "user_id column, cached on the events table's file identity — "
    "NO Spark job at plan construction, ever) and "
    "returns whichever branch fits — both branches are "
    "oracle-identical (ONE shared SLIDING_AVG_ORACLE across all "
    "three keys), so the physical choice is invisible to "
    "correctness, exactly how an engine should treat plan selection. "
    "At 100 TB the dispatch statistic comes from table statistics "
    "instead of a scan.",
)
def win_sliding_avg_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.operators.analytics16 import (
        ADAPTIVE_HOT_SHARE,
        _events_hot_share,
    )
    from clickhousebackup_spark.operators.windows import win_sliding_avg

    # (hot, basis): hot-in-sample over sampled-row basis once the
    # table exceeds the probe cap — an estimate, not (hot, total).
    hot, basis = _events_hot_share(spark, sf_dir)
    skewed = basis > 0 and hot / basis > ADAPTIVE_HOT_SHARE
    branch = win_sliding_avg_twostage if skewed else win_sliding_avg
    return branch(spark, sf_dir)
