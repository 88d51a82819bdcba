"""Batch-checkable forms of the streaming operators (SURVEY.md §2.B
"Streaming-only").

Spark's time-window functions (`window`, `session_window`) evaluate
identically in batch and streaming, so the driver's batch oracle can
hash-check the *semantics*; the streaming execution itself (watermarks,
memory-source micro-batches, foreachBatch sinks) lives in
streaming/engine.py and is unit-tested in tests/test_streaming.py.

Reference anchor: the daily cadence of A18 (`Dockerfile:20`
SCHEDULE=@daily) is the tumbling window; A20's webhook is the
foreachBatch sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import dsum, osum
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.tables import load_table, parallelize


@register(
    "stream_tumbling",
    oracle=f"""
        SELECT date_trunc('day', ts) AS window_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
               COUNT(*) AS n_events,
               {osum('value')} AS sum_value
        FROM events GROUP BY 1, 2
    """,
    doc="Per-day tumbling window counts (A18's @daily cadence); "
    "streaming form adds withWatermark — same window semantics.",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding",
    oracle="""
        SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
               COUNT(*) AS n_events
        FROM (
            SELECT date_trunc('hour', ts) AS window_start, event_id FROM events
            UNION ALL
            SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_id FROM events
        ) GROUP BY window_start
    """,
    doc="2h-window / 1h-slide counts: each event lands in exactly two "
    "windows (the SQL oracle materializes that expansion).",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


@register(
    "stream_session",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                             OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
                                    PARTITION BY user_id ORDER BY ts, event_id))
                                > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ),
        sess AS (
            SELECT user_id, ts, event_id,
                   SUM(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_no
    """,
    doc="Session windows per user, 30-min gap (session_window in "
    "batch = the gaps-and-islands oracle; streaming form is stateful).",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan-out (user_id = the session key): the session-window
    # merge reuses the same exchange, and the gap-merge map work runs
    # core-parallel instead of on the fixture's one scan task
    # (0.49 s → 0.43 s at sf0.1); no-op at production file counts.
    ev = parallelize(load_table(spark, sf_dir, "events"), by=("user_id",))
    return session_window_counts(ev)


def session_window_counts(events: DataFrame) -> DataFrame:
    """Per-user 30-minute-gap session counts — the one spelling of the
    session transform; ``streaming.engine.session_counts`` applies it
    to a watermarked stream."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_dedup_watermark",
    oracle="SELECT event_id, user_id, event_type FROM events",
    doc="Stateful dedup on event_id (unique in fixtures → identity in "
    "batch; the watermarked streaming form drops late duplicates and "
    "is unit-tested with a memory source).",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return ev.dropDuplicates(["event_id"])


@register(
    "stream_late_data",
    oracle="""
        SELECT event_id, ts, user_id FROM events
        WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
    """,  # the end-of-stream watermark admission set is deterministic;
    # the *incremental* drop behavior is unit-tested with micro-batches.
    doc="Watermark cutoff analog in batch: events within 1 h of the "
    "max ts (what a 1 h watermark would admit at end-of-stream).",
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("cutoff")
    )
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .select("event_id", "ts", "user_id")
    )


@register(
    "stream_foreach_sink",
    oracle="""
        SELECT 'post-backup' AS status,
               date_trunc('day', ts) AS batch_start,
               COUNT(*) AS n_events
        FROM events GROUP BY 2
    """,  # the summary rows the sink would POST are deterministic;
    # actual delivery is unit-tested via streaming/engine.run_foreach_webhook.
    doc="A20's webhook as a sink: per-batch summary rows that "
    "foreachBatch would POST ({'status': …} + counts).",
)
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.lit("post-backup").alias("status"),
            F.col("w.start").alias("batch_start"),
            "n_events",
        )
    )


@register(
    "stream_stream_join",
    oracle="""
        SELECT a.event_id AS a_event, b.event_id AS b_event, a.user_id,
               (epoch_us(b.ts) - epoch_us(a.ts)) / 60000000.0
                   AS delta_minutes
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream interval join semantics, batch-checkable: each "
    "event pairs with the same user's events in the following 30 "
    "minutes. Equi-key on user_id (shuffle/broadcast join; the range "
    "bound is a post-join filter, never a nested loop over time). The "
    "streaming execution — watermarks on BOTH sides bounding the join "
    "state buffer — lives in streaming/engine.interval_join and is "
    "golden-tested against this exact result.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            F.col("a.event_id").alias("a_event"),
            F.col("b.event_id").alias("b_event"),
            F.col("a.user_id").alias("user_id"),
            (
                (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts")))
                / F.lit(60_000_000.0)
            ).alias("delta_minutes"),
        )
    )


@register(
    "stream_windowed_topk",
    oracle="""
        WITH c AS (
            SELECT date_trunc('day', ts) AS window_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, event_type, n,
               CAST(rk AS BIGINT) AS rk
        FROM (
            SELECT window_start, event_type, n,
                   ROW_NUMBER() OVER (PARTITION BY window_start
                       ORDER BY n DESC, event_type) AS rk
            FROM c
        ) WHERE rk <= 3
    """,
    doc="Windowed top-k: the 3 most frequent event types per daily "
    "tumbling window under the (count DESC, type) total order — the "
    "'trending now' aggregation every streaming dashboard runs. "
    "Batch form shown (window semantics identical); the streaming "
    "form is the same day-window groupBy under a watermark with the "
    "rank applied per finalized window in foreachBatch (rank over an "
    "open window is not monotone, so CH/Flink deployments rank at "
    "window close — same contract). One hash agg over (day × type) "
    "— vocabulary-bounded — then a rank window over that tiny cell "
    "table. Nothing about the plan changes at 100 TB: the agg "
    "absorbs the volume; the rank input stays days × types.",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        c.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n", "rk")
    )
