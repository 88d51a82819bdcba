"""Retention semantics as pure DataFrame transforms (A14/A15/A16).

Each function takes a snapshot-catalog DataFrame (catalog.py) and
returns a plan DataFrame — nothing here touches storage; the caller
applies the delete plan (mirroring how `backup.sh` separates listing
(`find`) from action (`rm`)).

Scale notes: all three ops shuffle once on (db, generation[, period])
— the natural partitioning of a backup catalog; at 100 TB the catalog
would additionally be stored partitioned by `generation` so the prune
scan prunes partitions before reading (the find -maxdepth analog).

This is the Spark spelling of retention, for catalogs held as tables:
the registry keys (`backup_retention_plan`, `flagship_retention_plan`,
`backup_latest_pointers`) run it at scale. `BackupEngine` works over
its own catalog, a few rows per table and generation, in the driver
(`engine._keep_newest`, `engine._classify`, the delete set in
`BackupEngine.prune`, `BackupEngine._latest_rows`), so its prune
launches no Spark job; a property test
(tests/test_engine_driver_retention.py) pins those twins equal to
`retention_plan(keep_newest_per_period(...))`, `prune_delete_set` and
`latest_pointers` here, row for row.
"""

from __future__ import annotations

import numbers
from decimal import Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import RetentionPolicy


def keep_newest_per_period(catalog: DataFrame) -> DataFrame:
    """backup.sh:90-97: within one (db, generation, period_key) the
    newest snapshot wins (`ln -f` overwrites the period's artifact).
    Tiebreak on snapshot_id for hash determinism.

    A catalog with a ``table_name`` column (the engine's, one artifact
    per table) keeps the newest snapshot per table as well: otherwise
    the table registered last in a run would win every period and the
    other tables' expired snapshots would never reach the delete set.
    The fixture catalog (catalog.py) has no such column; its partition
    key, and so its plan, stay (db, generation, period_key)."""
    keys = [
        c
        for c in ("db", "table_name", "generation", "period_key")
        if c in catalog.columns
    ]
    w = Window.partitionBy(*keys).orderBy(
        F.col("snapshot_ts").desc(), F.col("snapshot_id").desc()
    )
    return (
        catalog.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def latest_pointers(catalog: DataFrame, suffix: str = ".zip") -> DataFrame:
    """backup.sh:99-115: per (db, generation), point `<db>-latest` at
    the newest artifact (max_by with total-order tiebreak)."""
    key = F.struct(F.col("snapshot_ts"), F.col("snapshot_id"))
    return catalog.groupBy("db", "generation").agg(
        F.max_by("path", key).alias("latest_target"),
        F.max("snapshot_ts").alias("latest_ts"),
        F.concat(F.col("db"), F.lit("-latest"), F.lit(suffix)).alias(
            "pointer_name"
        ),
    )


def _window_literal(minutes) -> str:
    """A policy window as a typed SQL literal: an integer stays
    integral (INT, or BIGINT past int32), any other number is a DOUBLE
    (a bare 1440.5 would parse as DECIMAL)."""
    if isinstance(minutes, bool) or not isinstance(
        minutes, (numbers.Real, Decimal)
    ):
        raise TypeError(f"retention window must be a number, got {minutes!r}")
    if isinstance(minutes, numbers.Integral):
        return str(int(minutes))
    return f"CAST('{float(minutes)!r}' AS DOUBLE)"


def retention_plan(
    catalog: DataFrame, policy: RetentionPolicy | None = None
) -> DataFrame:
    """backup.sh:119-122 (`find -mmin/-mtime +N … rm`) as a keep/delete
    classification.

    Adds ``age_minutes`` (vs the newest snapshot overall — wall-clock
    would break determinism) and ``keep`` per the per-generation
    windows of env.sh:26-29.

    "Now" is anchored at the newest snapshot via a 1-row broadcast — a
    global window here would collapse to a single partition. Built as
    parsed selectExpr stages (r17 construction lever, construct 94 →
    43 ms under every retention-consuming key), plan-identical to the
    Column build (canonicalized compare pinned in
    tests/test_optimizations_r17.py). Every literal is typed: the
    60000000.0D divisor and non-integer windows are DOUBLE, since a
    bare 60000000.0 parses as DECIMAL and would change age_minutes'
    type.
    """
    windows = {
        gen: _window_literal(m)
        for gen, m in (policy or RetentionPolicy()).window_minutes().items()
    }
    mx = catalog.agg(F.max("snapshot_ts").alias("_now"))
    keep_window = (
        f"CASE WHEN generation = 'last' THEN {windows['last']} "
        f"WHEN generation = 'daily' THEN {windows['daily']} "
        f"WHEN generation = 'weekly' THEN {windows['weekly']} "
        f"ELSE {windows['monthly']} END"
    )
    return (
        catalog.join(F.broadcast(mx))
        .selectExpr(
            "*",
            "(unix_micros(_now) - unix_micros(snapshot_ts)) "
            "/ 60000000.0D AS age_minutes",
        )
        .selectExpr("*", f"CAST(age_minutes <= {keep_window} AS LONG) AS keep")
        .drop("_now")
    )


def prune_delete_set(plan: DataFrame) -> DataFrame:
    """The engine-side `rm` list: the plan's rows sharing no (db,
    generation, path) with a kept row, as catalog columns (anti-join)."""
    keys = ["db", "generation", "path"]
    kept = plan.filter(F.col("keep") == 1).select(*keys)
    return plan.join(kept, keys, "left_anti").drop("age_minutes", "keep")
