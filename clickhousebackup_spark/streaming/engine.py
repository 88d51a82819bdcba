"""Structured Streaming engine (SURVEY.md §2.B streaming rows + A18/A20).

The reference's scheduler is go-cron forking backup.sh on a cadence
(`init.sh:14`, `Dockerfile:20`); its lifecycle notification is a
webhook (`hooks/00-webhook`). Here:

- cadence → ``trigger(processingTime=...)`` via :func:`cron_to_trigger`
  (``BACKUP_ON_START`` → ``availableNow``, A18);
- notifications → ``foreachBatch`` posting per-batch summaries through
  the same hook machinery as batch jobs (A20);
- the data-plane operators (tumbling/session windows, watermarked
  dedup) are the *same* expressions as their batch equivalents in
  batch_equiv.py — Spark evaluates them identically; only the
  incremental state management differs. Session windows share the
  batch key's transform (``batch_equiv.session_window_counts``) and
  add only the watermark.

Scale notes: watermarks bound state size (without one, a streaming agg
keeps every window forever); ``dropDuplicatesWithinWatermark`` holds
only the in-horizon key set. Sinks are exactly-once per epoch via
foreachBatch + idempotent writes.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhousebackup_spark.streaming.batch_equiv import session_window_counts

#: cron @-aliases → canonical 5-field specs (go-cron accepts both;
#: `@daily` is the reference default, Dockerfile:20).
_CRON_ALIASES = {
    "@hourly": "0 * * * *",
    "@daily": "0 0 * * *",
    "@midnight": "0 0 * * *",
    "@weekly": "0 0 * * 0",
    "@monthly": "0 0 1 * *",
    "@yearly": "0 0 1 1 *",
    "@annually": "0 0 1 1 *",
}


def _parse_field(spec: str, lo: int, hi: int) -> frozenset[int]:
    """One cron field: `*`, `*/n`, `a`, `a-b`, `a-b/n`, comma lists."""
    out: set[int] = set()
    for tok in spec.split(","):
        step = 1
        if "/" in tok:
            tok, step_s = tok.split("/", 1)
            step = int(step_s)
            if step < 1:
                raise ValueError(f"cron step must be >= 1: {spec!r}")
        if tok == "*":
            a, b = lo, hi
        elif "-" in tok:
            a_s, b_s = tok.split("-", 1)
            a, b = int(a_s), int(b_s)
        else:
            a = b = int(tok)
        if not (lo <= a <= hi and lo <= b <= hi and a <= b):
            raise ValueError(f"cron field out of range [{lo},{hi}]: {spec!r}")
        out.update(range(a, b + 1, step))
    return frozenset(out)


@dataclass(frozen=True)
class CronSpec:
    """Parsed 5-field cron with EXACT next-fire-time semantics (A18).

    go-cron (`init.sh:14`) fires `backup.sh` at real cron boundaries —
    "0 3 * * *" means 03:00 sharp, not "some phase of a 24 h interval".
    The previous smallest-repeating-unit approximation drifted phase on
    day one for any scheduled-backup user; this computes the aligned
    fire times themselves.
    """

    minutes: frozenset[int]
    hours: frozenset[int]
    doms: frozenset[int]
    months: frozenset[int]
    dows: frozenset[int]  # cron convention: 0 = Sunday
    dom_star: bool
    dow_star: bool

    @classmethod
    def parse(cls, schedule: str) -> "CronSpec":
        schedule = _CRON_ALIASES.get(schedule.strip(), schedule.strip())
        fields = schedule.split()
        if len(fields) == 6:  # seconds-resolution variant: drop seconds
            fields = fields[1:]
        if len(fields) != 5:
            raise ValueError(f"not a 5-field cron spec: {schedule!r}")
        f_min, f_hr, f_dom, f_mon, f_dow = fields
        # `7` = Sunday too, normalize onto 0
        dows = {d % 7 for d in _parse_field(f_dow, 0, 7)}
        return cls(
            minutes=_parse_field(f_min, 0, 59),
            hours=_parse_field(f_hr, 0, 23),
            doms=_parse_field(f_dom, 1, 31),
            months=_parse_field(f_mon, 1, 12),
            dows=frozenset(dows),
            dom_star=f_dom == "*",
            dow_star=f_dow == "*",
        )

    def _day_matches(self, d: dt.date) -> bool:
        if d.month not in self.months:
            return False
        dom_ok = d.day in self.doms
        dow_ok = ((d.weekday() + 1) % 7) in self.dows  # Mon=0 → cron Sun=0
        if not self.dom_star and not self.dow_star:
            return dom_ok or dow_ok  # standard cron OR rule
        return (self.dom_star or dom_ok) and (self.dow_star or dow_ok)

    def next_fire(self, after: dt.datetime) -> dt.datetime:
        """First fire time STRICTLY after ``after`` (minute-aligned)."""
        t = after.replace(second=0, microsecond=0) + dt.timedelta(minutes=1)
        day = t.date()
        for _ in range(366 * 5):  # any real spec fires within 5 years
            if self._day_matches(day):
                floor = t if day == t.date() else None
                for h in sorted(self.hours):
                    for m in sorted(self.minutes):
                        cand = dt.datetime(day.year, day.month, day.day, h, m)
                        if floor is None or cand >= floor:
                            return cand
            day = day + dt.timedelta(days=1)
        raise ValueError("cron spec never fires (e.g. Feb 30)")

    def fire_times(self, after: dt.datetime, count: int) -> list[dt.datetime]:
        out: list[dt.datetime] = []
        t = after
        for _ in range(count):
            t = self.next_fire(t)
            out.append(t)
        return out


def run_scheduled(
    job: Callable[[], object],
    schedule: str,
    on_start: bool = False,
    now_fn: Callable[[], dt.datetime] = dt.datetime.now,
    sleep_fn: Callable[[float], None] | None = None,
    max_runs: int = 1,
) -> list[dt.datetime]:
    """The go-cron loop (A18): sleep until each aligned fire time, run
    the one-shot job (the `availableNow` analog of a backup.sh fork).
    ``on_start`` = the `-i` flag (BACKUP_ON_START): run immediately
    first, which does NOT consume a scheduled slot. ``now_fn``/
    ``sleep_fn`` are injectable for tests; returns the fire times run.
    """
    import time as _time

    sleep = sleep_fn or _time.sleep
    spec = None if schedule.startswith("@every ") else CronSpec.parse(schedule)
    ran: list[dt.datetime] = []
    if on_start:
        ran.append(now_fn())
        job()
    for _ in range(max_runs):
        now = now_fn()
        if spec is None:  # @every <duration>: interval, not aligned
            fire = now + _parse_every(schedule)
        else:
            fire = spec.next_fire(now)
        sleep(max((fire - now).total_seconds(), 0.0))
        ran.append(fire)
        job()
    return ran


def _parse_every(schedule: str) -> dt.timedelta:
    dur = schedule.removeprefix("@every ").strip()
    units = {"s": 1, "m": 60, "h": 3600, "d": 86400}
    if dur and dur[-1] in units:
        return dt.timedelta(seconds=float(dur[:-1]) * units[dur[-1]])
    raise ValueError(f"bad @every duration: {schedule!r}")


def cron_to_trigger(schedule: str, on_start: bool = False) -> dict:
    """Map the reference's SCHEDULE/BACKUP_ON_START to a streaming
    trigger kwarg dict (go-cron's `-s`/`-i`, init.sh:10-14).

    ``on_start`` → `availableNow` (immediate one-shot). For periodic
    schedules the trigger interval is the TRUE cadence — derived from
    consecutive exact fire times, not a smallest-repeating-unit guess;
    phase alignment of the first tick is the scheduler loop's job
    (``run_scheduled``), since Structured Streaming's processingTime
    trigger cannot express an epoch offset.
    """
    if on_start:
        return {"availableNow": True}
    if schedule.startswith("@every "):
        secs = int(_parse_every(schedule).total_seconds())
        return {"processingTime": f"{secs} seconds"}
    spec = CronSpec.parse(schedule)
    t0 = dt.datetime(2024, 1, 1)  # any anchor: cadence = fire-time gaps
    a, b = spec.fire_times(t0, 2)
    secs = int((b - a).total_seconds())
    return {"processingTime": f"{secs} seconds"}


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-day tumbling counts with a watermark (streaming form of
    batch_equiv.stream_tumbling)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming form of batch_equiv.stream_session: the same session
    transform over a watermarked stream."""
    return session_window_counts(events.withWatermark("ts", watermark))


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming form of the hardlink identity (A13/A14): the first
    arrival wins, later duplicates inside the horizon are dropped,
    state is bounded by the horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a streaming query to completion against a bounded source
    (memory/parquet) — the unit-test harness shape."""
    q = track_query(
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def query_health(query) -> dict:
    """A19 analog: the probe-able status surface go-cron serves over
    HTTP on HEALTHCHECK_PORT (init.sh:14, Dockerfile:29,44-45), as a
    dict built from StreamingQuery.status/lastProgress — the payload a
    liveness endpoint would serialize."""
    return {
        "id": str(query.id),
        "run_id": str(query.runId),
        "name": query.name,
        "is_active": query.isActive,
        "status": dict(query.status or {}),
        "last_progress": dict(query.lastProgress or {}),
    }


#: Queries registered via :func:`track_query`, by query id. Needed
#: because ``spark.streams.active`` only lists LIVE queries — a stream
#: that crashed simply disappears from it, so health built from the
#: active list alone can never report a dead stream.
_TRACKED: dict[str, object] = {}


def track_query(q):
    """Remember a started StreamingQuery so session_health can inspect
    it after termination (the crashed-stream case)."""
    _TRACKED[str(q.id)] = q
    return q


def reset_tracking() -> None:
    _TRACKED.clear()


def session_health(spark) -> dict:
    """Health of every active streaming query in the session PLUS every
    tracked query that has terminated; a tracked query that died with
    an exception flips the overall ok flag even though it no longer
    appears in ``spark.streams.active``."""
    active = {str(q.id): q for q in spark.streams.active}
    merged = {**_TRACKED, **active}
    queries = []
    ok = True
    for q in merged.values():
        info = query_health(q)
        exc = None
        try:
            exc = q.exception()
        except Exception:  # query manager already gone — not a failure
            pass
        info["exception"] = str(exc) if exc is not None else None
        if exc is not None:
            ok = False
        queries.append(info)
    return {
        "ok": ok,
        "n_active": len(active),
        "queries": queries,
    }


def run_foreach_webhook(
    stream_df: DataFrame,
    post: Callable[[dict], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    block: bool = True,
):
    """A20 as a streaming sink: each epoch POSTs a summary dict through
    ``post`` (injected for tests; production passes hooks.webhook_hook's
    transport). foreachBatch gives exactly-once per epoch-id.

    Default is the one-shot form (availableNow + block) the batch
    engine's post-backup hook uses; pass ``trigger=cron_to_trigger(...)``
    and ``block=False`` for a LIVE listener riding an unbounded source
    (the rate-source conformance arm drives that path across a
    simulated restart)."""

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n = batch_df.count()
        post({"status": "post-backup", "epoch": epoch_id, "rows": n})

    q = track_query(
        stream_df.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    if block:
        q.awaitTermination()
    return q


def interval_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "1 hour",
    interval: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: same-user events within
    ``interval`` after the left event. Both sides carry a watermark so
    Spark can bound the join state buffer (without one the left buffer
    grows forever); the time-interval condition is what lets the state
    manager evict rows past the horizon."""
    a = left.withWatermark("ts", watermark).alias("a")
    b = right.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {interval}")),
    ).select(
        F.col("a.event_id").alias("a_event"),
        F.col("b.event_id").alias("b_event"),
        F.col("a.user_id").alias("user_id"),
    )
