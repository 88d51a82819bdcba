"""Round-12 operator additions: skew-immune two-stage gap
sessionization (the salting rewrite PLANS_r11 §5 put a number on).

``sessionize_gap`` (analytics5.py) partitions its window by the bare
``user_id``; the round-11 zipf probe measured the un-fixable cost of
that shape under a 24 %-hot user at ~3x max single-task time (2.99x
single-JVM, 2.25x across 4 executor JVMs) — a partitioned window
must ship the whole hot key to ONE task and AQE has no skew rewrite
for windows. ``sessionize_gap_twostage`` is the classic two-stage
answer, oracle-identical to the flat key:

1. **Local pass** — window partitioned by ``(user_id, day-bucket)``:
   the hot user's events split across ~#days tasks, so no task ever
   holds more than one user-day. Local session boundaries fall out of
   the same lag-gap rule; local ids are a per-bucket cumsum.
2. **Seam merge** — per ``(user_id, bucket)`` summary rows (first/last
   event time, local session count): tiny relative to events (one row
   per user-day — the hot user contributes #days rows, not 24 % of
   all rows). A per-user window over THESE rows decides whether each
   bucket's first local session continues the previous non-empty
   bucket's last session (gap rule on the seam times — correct for
   non-adjacent buckets because the time check subsumes adjacency,
   and for sessions chaining across many buckets because a fully
   merged bucket introduces zero new sessions), and converts local
   ids to global ids with a running offset:
   ``global_id = introduced_before_bucket + local_id - merge_prev``.
3. **Fold** — join the per-bucket (offset, merge) row back to events
   on ``(user_id, bucket)`` (the partitioning stage 1 already
   established) and run the same per-session aggregate as the flat
   key, now keyed by the GLOBAL session id.

Trade: the flat plan does one exchange and reuses it everywhere; this
plan pays extra exchanges (seam window + fold join + final agg) to
cap max-task at one user-day. That is the right trade exactly when a
key is hot — at 100 TB a 24 %-hot user under the flat plan is a
single task holding 24 TB of a shuffle, i.e. a dead executor, while
the two-stage plan's largest task holds one user-day. The zipf probe
(scripts/scale_probe_sf1.py --zipf-window) runs both keys on the
same 100x heavy-tail arm and records the max-task ratios side by
side (scripts/zipf_window_results.json).

Reference mapping: the reference (backup.sh:38-45) delegates query
execution to the ClickHouse server; sessionization is the implicit
first stage of every CH funnel/retention deployment (windowFunnel /
neighbor()), and the bucket-then-merge rewrite is how those
deployments shard a hot cohort across MergeTree parts.

Family rules carried from analytics5: integer outputs only (epoch-µs
bounds, counts); window cumsums CAST BIGINT in the DuckDB oracle
(HUGEINT trap); every order carries the (ts, event_id) total-order
tiebreak; no per-row Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.operators.behavior import (
    FUNNEL_ORACLE,
    PATH_TRANSITIONS_ORACLE,
)
from clickhousebackup_spark.operators.analytics5 import (
    SESSION_GAP_US,
    SESSIONIZE_ORACLE,
)
from clickhousebackup_spark.operators.windows import RUNNING_SUM_ORACLE
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

#: Local-pass bucket width: one day of epoch-µs. Must only be large
#: relative to typical per-user-day row counts (task sizing), NOT
#: relative to the gap — the seam merge is exact for any bucket width
#: because it compares actual first/last event times.
BUCKET_US = 24 * 60 * 60 * 1_000_000


@register(
    "sessionize_gap_twostage",
    oracle=SESSIONIZE_ORACLE,
    doc="Skew-immune rewrite of sessionize_gap: local 30m-gap "
    "sessionization inside (user_id, day-bucket) window partitions, "
    "then an exact seam merge over one summary row per user-day "
    "(merge iff first event of the bucket is within the gap of the "
    "previous non-empty bucket's last event; global ids via a "
    "running introduced-sessions offset), then the per-session "
    "aggregate on the global id. Oracle is the FLAT per-user "
    "sessionization — the whole point is hash-identical output with "
    "max-task capped at one user-day instead of one user (the "
    "round-11 zipf probe's 3x straggler). Extra exchanges vs the "
    "flat plan are the deliberate price; the seam window runs on "
    "user-day summary rows, ~3 orders of magnitude smaller than "
    "events.",
)
def sessionize_gap_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    ).withColumn("bucket", (F.col("us") / F.lit(BUCKET_US)).cast("long"))

    # Stage 1: local sessionization within (user, day-bucket). The
    # first event of every bucket is provisionally a new session
    # (lag NULL); the seam merge decides whether it really is.
    wloc = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    new_loc = (
        F.when(
            (F.col("us") - F.lag("us").over(wloc) > SESSION_GAP_US)
            | F.lag("us").over(wloc).isNull(),
            1,
        ).otherwise(0)
    )
    cum = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ev.withColumn("new_loc", new_loc).withColumn(
        "local_sid", F.sum("new_loc").over(cum).cast("long")
    )

    # Stage 2: one summary row per (user, bucket) — same grouping keys
    # as the stage-1 partitioning, so this agg reuses the exchange.
    summary = local.groupBy("user_id", "bucket").agg(
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.max("local_sid").alias("n_local"),
    )
    wseam = Window.partitionBy("user_id").orderBy("bucket")
    seam = summary.withColumn(
        "merge_prev",
        F.when(
            F.col("first_us") - F.lag("last_us").over(wseam)
            <= F.lit(SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        # sessions INTRODUCED by buckets strictly before this one; a
        # bucket whose only session merges backward introduces zero,
        # which is exactly what folds multi-bucket session chains.
        "base",
        F.coalesce(
            F.sum(F.col("n_local") - F.col("merge_prev")).over(
                wseam.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    ).select("user_id", "bucket", "merge_prev", "base")

    # Stage 3: fold the per-bucket offset back onto events (join on
    # the stage-1 keys) and aggregate per GLOBAL session id.
    folded = local.join(seam, ["user_id", "bucket"]).withColumn(
        "session_id",
        (F.col("base") + F.col("local_sid") - F.col("merge_prev")).cast(
            "long"
        ),
    )
    return folded.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("us").cast("long").alias("start_us"),
        F.max("us").cast("long").alias("end_us"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


@register(
    "funnel_steps_twostage",
    oracle=FUNNEL_ORACLE,
    doc="Skew-immune rewrite of funnel_steps (windowFunnel analog), "
    "oracle-identical to the flat key. The flat plan ships every "
    "event of a user to ONE window task (the round-11 zipf probe's "
    "x2.6-2.8 max-task straggler); this plan exploits that each "
    "chained conditional min's cut point (t1, then t2) falls in "
    "exactly ONE day-bucket per user: (1) t1 = plain min agg over "
    "views — map-side partials absorb any skew; (2) per-(user, "
    "day-bucket) min aggs over clicks/purchases — the bucket "
    "summaries (one row per user-day) are the only user-grain rows "
    "that meet t1; (3) the COARSE candidate is the min bucket-"
    "summary past the cut bucket, the FINE candidate re-scans "
    "events of the single cut bucket only, via an equi-join on "
    "(user_id, bucket) — so every event-scale task is bounded by "
    "one user-day, exactly the sessionize_gap_twostage seam "
    "philosophy. min(coarse, fine) is exact because buckets are "
    "time-ordered: any qualifying ts in a later bucket exceeds "
    "bucket start > cut, and ties cannot cross buckets. Extra "
    "exchanges (all (user,bucket)-keyed or partial-agg-combined) "
    "are the deliberate price for removing the hot-key window sort.",
)
def funnel_steps_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_type",
        (F.unix_micros("ts") / F.lit(BUCKET_US)).cast("long").alias("bucket"),
    )

    def step_min(etype: str, cuts: DataFrame, cut_col: str, out: str):
        """min ts of `etype` events strictly after cuts.cut_col —
        coarse over whole buckets past the cut bucket, fine inside
        the cut bucket itself; both inputs keyed (user, bucket)."""
        evs = ev.filter(F.col("event_type") == etype)
        summ = evs.groupBy("user_id", "bucket").agg(
            F.min("ts").alias("bmin")
        )
        cuts_b = cuts.withColumn(
            "cut_bucket",
            (F.unix_micros(cut_col) / F.lit(BUCKET_US)).cast("long"),
        )
        coarse = (
            summ.join(cuts_b, "user_id")
            .filter(F.col("bucket") > F.col("cut_bucket"))
            .groupBy("user_id")
            .agg(F.min("bmin").alias("coarse"))
        )
        fine = (
            evs.join(
                cuts_b.select(
                    "user_id",
                    F.col("cut_bucket").alias("bucket"),
                    F.col(cut_col).alias("_cut"),
                ),
                ["user_id", "bucket"],
            )
            .filter(F.col("ts") > F.col("_cut"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("fine"))
        )
        return (
            cuts.select("user_id")
            .join(coarse, "user_id", "left")
            .join(fine, "user_id", "left")
            .select("user_id", F.least("coarse", "fine").alias(out))
            .filter(F.col(out).isNotNull())
        )

    # The cut tables are user-grain (orders of magnitude below the
    # event table) and each feeds THREE consumers (coarse, fine, the
    # final assembly); materialize them once so the event-scale agg
    # subtrees don't replicate per consumer.
    t1 = materialize(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = materialize(step_min("click", t1, "t1", "t2"))
    t3 = step_min("purchase", t2, "t2", "t3")
    users = ev.select("user_id").distinct()
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
        .cast("long")
        .alias("funnel_depth")
    )
    return (
        users.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select("user_id", depth)
    )


#: Hot-share dispatch threshold for the adaptive sessionizer: if the
#: hottest user owns more than this fraction of all events, the flat
#: plan's single window task becomes the job's critical path (the
#: zipf probe measured ~3x max-task at 24%) and the two-stage plan
#: wins on BOTH wall and max-task; below it the flat plan's single
#: exchange is cheaper (the probe's uniform arms: flat 3.96 s vs
#: two-stage 6.98 s). 5% sits well inside both measured regimes.
#: Near-threshold caveat: past _PROBE_ROWS_CAP the probe's stride
#: sampling can understate a hot user whose rows cluster in unsampled
#: row groups, so a dataset sitting right at 5% may be misdispatched —
#: both branches are oracle-identical, so the cost is wall time only.
ADAPTIVE_HOT_SHARE = 0.05

#: Memoized hot-share probe results, keyed by the events table's file
#: identity (absolute path, byte size, mtime). The adaptive key's plan
#: choice needs two integers that only table statistics (or a bounded
#: column scan) can provide; caching them per dataset makes plan
#: construction fully side-effect free on Spark — explain loops,
#: plan-shape tests and repeated driver calls hit the cache, and even
#: the first call never launches a Spark job (see _hot_share_probe).
_HOT_SHARE_CACHE: dict = {}

#: Row budget for the driver-side probe. Reading the single pruned
#: user_id column caps the probe at ~32 MB of ids; datasets with more
#: rows are sampled by even row-group stride, which only changes the
#: ESTIMATE quality — both dispatch branches are oracle-identical, so
#: a sampling misdispatch costs wall time, never correctness.
_PROBE_ROWS_CAP = 4_000_000


def _hot_share_probe(path: str):
    """Compute (hot, basis) for the events table at ``path`` without a
    Spark job.

    Resolution order:

    1. **Sidecar statistics** ``<path>.stats.json`` with integer keys
       ``hot_user_events`` / ``total_events`` — the production hook: a
       100 TB deployment materializes these two numbers at ingest (or
       via its ANALYZE-equivalent) and plan dispatch becomes a pure
       metadata read.
    2. **Bounded driver-side pyarrow probe** — read ONLY the user_id
       column (parquet column pruning at the footer level), with
       even-stride row-group sampling once the table exceeds
       _PROBE_ROWS_CAP rows. Returns (max per-user count within the
       sample, rows sampled) so the caller's hot/basis ratio is the
       sampled hot-share estimate; when the whole table fits in the
       budget the result is exact.

    Either way, no SparkSession is touched: plan construction of the
    adaptive keys is side-effect free for every consumer (explain,
    plan canaries, dry runs), the round-13 verdict's remaining
    adaptive-probe item.
    """
    import json as _json

    sidecar = path + ".stats.json"
    if os.path.isfile(sidecar):
        with open(sidecar) as fh:
            stats = _json.load(fh)
        return int(stats["hot_user_events"]), int(stats["total_events"])

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            e.path
            for e in os.scandir(path)
            if e.is_file()
            and e.name.endswith(".parquet")
            and not e.name.startswith((".", "_"))
        )
    else:
        files = [path]

    # Pass 1 — metadata only: enumerate (file, row-group, rows).
    groups = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            groups.append((f, i, md.row_group(i).num_rows))
    total_rows = sum(g[2] for g in groups)
    if total_rows == 0:
        return 0, 0

    # Even-stride sample of row groups under the row budget: stride
    # (not prefix) so a layout clustered by user or time cannot bias
    # the sample toward one region of the table.
    if total_rows <= _PROBE_ROWS_CAP:
        chosen = groups
    else:
        avg = max(1, total_rows // len(groups))
        want = max(1, _PROBE_ROWS_CAP // avg)
        stride = max(1, len(groups) // want)
        chosen = groups[::stride]

    chunks = []
    by_file: dict = {}
    for f, i, _ in chosen:
        by_file.setdefault(f, []).append(i)
    for f, idxs in by_file.items():
        pf = pq.ParquetFile(f)
        for i in idxs:
            chunks.append(pf.read_row_group(i, columns=["user_id"]).column(0))
    ids = pa.chunked_array(
        [c for ch in chunks for c in (ch.chunks if hasattr(ch, "chunks") else [ch])]
    )
    counts = pc.value_counts(ids).field("counts")
    hot = pc.max(counts).as_py() or 0
    return int(hot), int(len(ids))


def _events_hot_share(spark: SparkSession, sf_dir: str):
    """Return (hot, basis) user_id counts for sf_dir's events table.

    ``hot / basis`` is the hottest user's share of events — exact when
    the table fits the probe's row budget, an even-stride row-group
    estimate past it (see _hot_share_probe). Memoized on the parquet
    file's (path, size, mtime) so each dataset pays the probe exactly
    once per process; the probe itself is driver-side pyarrow (or a
    sidecar stats file), so NO call — first or cached — runs a Spark
    job. ``spark`` stays in the signature for call-site symmetry with
    every other helper; it is deliberately unused.
    """
    del spark  # plan dispatch must not depend on a live Spark job
    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    try:
        if os.path.isdir(path):
            # Spark-written directory: the dir's own stat is blind to
            # in-place part-file replacement (same names, same dir
            # mtime on some filesystems) — key on the part files'
            # (name, size, mtime) set instead.
            parts = tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in os.scandir(path)
                    if e.is_file()
                )
            )
            key = (path, hash(parts), len(parts))
        else:
            st = os.stat(path)
            key = (path, st.st_size, st.st_mtime_ns)
    except OSError:  # exotic layouts: fall back to path-only identity
        key = (path, -1, -1)
    if key not in _HOT_SHARE_CACHE:
        _HOT_SHARE_CACHE[key] = _hot_share_probe(path)
    return _HOT_SHARE_CACHE[key]


@register(
    "sessionize_gap_adaptive",
    oracle=SESSIONIZE_ORACLE,
    doc="Data-dependent plan dispatch for gap sessionization — the "
    "production form of the round-12 skew playbook (CLUSTER.md §9): "
    "ONE cheap aggregate measures the hottest user's share of all "
    "events (a two-phase max-of-counts — map-side partials absorb "
    "the very skew being measured), then dispatches to the flat "
    "single-exchange plan (hot share <= 5%: its one user_id window "
    "is cheapest) or the two-stage bucket+seam plan (hot share > 5%: "
    "the flat plan's straggler is the measured ~3x max-task of the "
    "zipf probe). BOTH branches are oracle-identical, so the choice "
    "is invisible to correctness — exactly how an engine should "
    "treat physical-plan selection. Plan construction is fully "
    "Spark-side-effect free: the probe reads a sidecar stats file "
    "when present (the 100 TB path — two integers materialized at "
    "ingest), else a bounded driver-side pyarrow read of ONLY the "
    "user_id column with even-stride row-group sampling past 4M "
    "rows; its two-integer result is memoized on the table's file "
    "identity, so explain loops, plan canaries and dry runs never "
    "launch a Spark job. A sampling misdispatch costs wall time "
    "only — both branches are oracle-identical.",
)
def sessionize_gap_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.operators.analytics5 import sessionize_gap

    # (hot, basis): hot-in-sample over sampled-row basis once the
    # table exceeds the probe cap — an estimate, not (hot, total).
    hot, basis = _events_hot_share(spark, sf_dir)
    skewed = basis > 0 and hot / basis > ADAPTIVE_HOT_SHARE
    branch = sessionize_gap_twostage if skewed else sessionize_gap
    return branch(spark, sf_dir)


@register(
    "path_transitions_twostage",
    oracle=PATH_TRANSITIONS_ORACLE,
    doc="Skew-immune rewrite of path_transitions (the per-user lag / "
    "first-order transition matrix), oracle-identical to the flat "
    "key — the third operator family on the bucket+seam playbook "
    "(sessionize and funnel landed in round 12). Every consecutive "
    "pair of a user's (ts, event_id)-ordered journey is either "
    "WITHIN one day-bucket — counted by a lag window partitioned on "
    "(user_id, bucket), so no task ever holds more than one user-day "
    "— or CROSSES buckets, in which case the earlier event is "
    "necessarily the last of its bucket and the later one the first "
    "of the next non-empty bucket: one summary row per (user, "
    "bucket) with argmin/argmax event types (total-ordered struct "
    "min/max on (us, event_id)), then a lag over bucket summaries "
    "(~3 orders of magnitude smaller than events) pairs each bucket "
    "with its previous non-empty bucket. Local and seam pair counts "
    "union into the same 25-row matrix; map-side combine absorbs "
    "the per-(prev,next) aggregation exactly as in the flat plan.",
)
def path_transitions_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    ).withColumn("bucket", (F.col("us") / F.lit(BUCKET_US)).cast("long"))

    # Stage 1: within-bucket transitions — the event-scale exchange is
    # keyed (user_id, bucket), the skew-immunity invariant.
    wloc = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    local = ev.withColumn("prev_type", F.lag("event_type").over(wloc))
    local_counts = (
        local.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # Stage 2: cross-bucket (seam) transitions from one summary row
    # per (user, bucket) — same grouping keys as the stage-1
    # partitioning. Struct min/max carries the boundary event's type
    # under the exact (us, event_id) total order.
    summary = ev.groupBy("user_id", "bucket").agg(
        F.min(F.struct("us", "event_id", "event_type")).alias("first_ev"),
        F.max(F.struct("us", "event_id", "event_type")).alias("last_ev"),
    )
    wseam = Window.partitionBy("user_id").orderBy("bucket")
    seams = summary.withColumn(
        "prev_last_type",
        F.lag(F.col("last_ev.event_type")).over(wseam),
    )
    seam_counts = (
        seams.filter(F.col("prev_last_type").isNotNull())
        .groupBy(
            F.col("prev_last_type").alias("prev_type"),
            F.col("first_ev.event_type").alias("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    return (
        local_counts.unionByName(seam_counts)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").cast("long").alias("n"))
    )


@register(
    "win_running_sum_twostage",
    oracle=RUNNING_SUM_ORACLE,
    doc="Skew-immune rewrite of win_running_sum (per-customer prefix "
    "sum over orders), oracle-identical to the flat key — the FOURTH "
    "operator family on the bucket+seam playbook, and the one with "
    "event-grain output (one row per order, not an aggregate). "
    "Decimal addition is exact and associative, so the prefix "
    "decomposes exactly: (1) local prefix sums inside (o_custkey, "
    "day-bucket) window partitions — day truncation is monotone in "
    "the (o_orderdate, o_orderkey) order, so within-bucket order is "
    "the global order restricted to the bucket; (2) one total per "
    "(cust, bucket) — the same grouping keys as the stage-1 "
    "exchange — then a per-customer window over BUCKET SUMMARIES "
    "(orders of magnitude smaller) accumulates each bucket's "
    "preceding-buckets offset; (3) offsets join back on (cust, "
    "bucket) and running_total = offset + local prefix, cast double "
    "only at the end. A prefix sum has no map-side combine in the "
    "flat plan — the hot customer's whole history is ONE task's "
    "sort+scan (the same shape that made flat path_transitions the "
    "probe's worst straggler); here no task holds more than one "
    "customer-day.",
)
def win_running_sum_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.exprs import DEC

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast(DEC).alias("price_dec"),
        F.expr("datediff(o_orderdate, DATE'1970-01-01')")
        .cast("long")
        .alias("bucket"),
    )

    # Stage 1: exact local decimal prefix inside (cust, day-bucket).
    wloc = (
        Window.partitionBy("o_custkey", "bucket")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = o.withColumn("local_prefix", F.sum("price_dec").over(wloc))

    # Stage 2: one total per (cust, bucket) — reuses the stage-1
    # exchange — then the preceding-buckets offset per customer over
    # summary rows only.
    totals = local.groupBy("o_custkey", "bucket").agg(
        F.sum("price_dec").alias("bucket_total")
    )
    wseam = Window.partitionBy("o_custkey").orderBy("bucket")
    offsets = totals.withColumn(
        "offset",
        F.coalesce(
            F.sum("bucket_total").over(
                wseam.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast(DEC),
        ),
    ).select("o_custkey", "bucket", "offset")

    # Stage 3: fold the offset back onto order-grain rows.
    return local.join(offsets, ["o_custkey", "bucket"]).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.col("offset") + F.col("local_prefix"))
        .cast("double")
        .alias("running_total"),
    )
