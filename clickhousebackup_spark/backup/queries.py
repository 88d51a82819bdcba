"""Registry entries for the backup vertical (SURVEY.md §7 P4) — the
reference's snapshot / generation / latest / retention semantics as
oracle-checked queries over the derived snapshot catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.catalog import CATALOG_ORACLE_CTE, build_catalog
from clickhousebackup_spark.backup.config import RetentionPolicy
from clickhousebackup_spark.backup.retention import (
    keep_newest_per_period,
    latest_pointers,
    retention_plan,
)
from clickhousebackup_spark.backup.snapshot import snapshot_table
from clickhousebackup_spark.exprs import row_hash
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.tables import load_table, parallelize

CATALOG_COLS = (
    "db",
    "generation",
    "period_key",
    "snapshot_ts",
    "snapshot_id",
    "path",
    "content_hash",
    "size_bytes",
)
_CATALOG_COLS_SQL = ", ".join(CATALOG_COLS)


@register(
    "snapshot_write",
    oracle="SELECT * FROM orders",
    doc="A10/A11: snapshot a table (staged-atomic parquet publish, "
    "backup.sh:38-52) then reread it — result ≡ the source table.",
)
def snapshot_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.scratch import scratch_path

    o = load_table(spark, sf_dir, "orders")
    res = snapshot_table(
        o, scratch_path(spark, "snap_orders", sf_dir), db="db0",
        table="orders", period_key="19970101-000000",
    )
    return spark.read.parquet(res.path)


@register(
    "snapshot_partitioned",
    oracle="""
        SELECT event_id, user_id, event_type, value,
               strftime(ts, '%Y%m%d') AS gen_day
        FROM events
    """,
    doc="A7/A14: snapshot partitioned by day (partitionBy on write = "
    "the generation-dir layout of backup.sh:21); partition pruning on "
    "reread is the find -maxdepth analog.",
)
def snapshot_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.scratch import scratch_path

    ev = load_table(spark, sf_dir, "events").withColumn(
        "gen_day", F.date_format("ts", "yyyyMMdd")
    )
    res = snapshot_table(
        ev.select("event_id", "user_id", "event_type", "value", "gen_day"),
        scratch_path(spark, "snap_events", sf_dir),
        db="db0",
        table="events",
        period_key="part",
        partition_by=["gen_day"],
    )
    back = spark.read.parquet(res.path)
    # Spark type-infers partition dir values (20240101 → int); pin string.
    return back.select(
        "event_id", "user_id", "event_type", "value",
        F.col("gen_day").cast("string").alias("gen_day"),
    )


@register(
    "backup_catalog",
    oracle=f"WITH {CATALOG_ORACLE_CTE} SELECT {_CATALOG_COLS_SQL} FROM catalog_full",
    doc="The reference's directory-of-artifacts state as an explicit "
    "catalog DataFrame (SURVEY.md §1.1) — filename grammar, period "
    "keys, content hashes.",
)
def backup_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_catalog(load_table(spark, sf_dir, "events"))


@register(
    "backup_keep_newest",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE}
        SELECT {_CATALOG_COLS_SQL} FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY db, generation, period_key
                ORDER BY snapshot_ts DESC, snapshot_id DESC) AS rn
            FROM catalog_full
        ) WHERE rn = 1
    """,
    doc="A14: newest snapshot wins per (db, generation, period).",
)
def backup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keep_newest_per_period(
        build_catalog(load_table(spark, sf_dir, "events"))
    )


@register(
    "backup_latest_pointers",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE}
        SELECT db, generation, path AS latest_target, snapshot_ts AS latest_ts,
               concat(db, '-latest', '.zip') AS pointer_name
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY db, generation
                ORDER BY snapshot_ts DESC, snapshot_id DESC) AS rn
            FROM catalog_full
        ) WHERE rn = 1
    """,
    doc="A15: `-latest` pointer per (db, generation) via max_by.",
)
def backup_latest_pointers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_pointers(
        build_catalog(load_table(spark, sf_dir, "events"))
    ).select("db", "generation", "latest_target", "latest_ts", "pointer_name")


@register(
    "backup_retention_plan",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE}
        SELECT {_CATALOG_COLS_SQL},
               (epoch_us((SELECT max(snapshot_ts) FROM catalog_full))
                - epoch_us(snapshot_ts)) / 60000000.0 AS age_minutes,
               CAST((epoch_us((SELECT max(snapshot_ts) FROM catalog_full))
                     - epoch_us(snapshot_ts)) / 60000000.0 <=
                    CASE generation
                        WHEN 'last' THEN 1440
                        WHEN 'daily' THEN 10080
                        WHEN 'weekly' THEN 41760
                        ELSE 269280 END AS BIGINT) AS keep
        FROM catalog_full
    """,
    doc="A16+A3: age-based keep/delete classification with the "
    "reference's default windows (1440 min / 7 d / 29 d / 187 d), "
    "anchored at max(snapshot_ts) for determinism.",
)
def backup_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed fan-out of the fixture's one-row-group events scan so the
    # per-row catalog derivation (md5 content hash + four strftime
    # period keys) runs core-parallel instead of on a single task
    # (1.19 s → 0.78 s at sf0.1; hash fan-out beats round-robin by
    # skipping its sort-before-repartition pass). No-op at production
    # file counts (tables.parallelize).
    ev = parallelize(load_table(spark, sf_dir, "events"), by=("user_id",))
    plan = retention_plan(build_catalog(ev), RetentionPolicy())
    return plan.select(*CATALOG_COLS, "age_minutes", "keep")


def flagship_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry()'s query: the reference's whole per-run pipeline in one
    plan — catalog → keep-newest-per-period (A14) → retention keep flag
    (A16) → per (db, generation) summary with latest pointer (A15)."""
    cat = build_catalog(load_table(spark, sf_dir, "events"))
    newest = keep_newest_per_period(cat)
    plan = retention_plan(newest, RetentionPolicy())
    key = F.struct(F.col("snapshot_ts"), F.col("snapshot_id"))
    return (
        plan.groupBy("db", "generation")
        .agg(
            F.count(F.lit(1)).alias("n_artifacts"),
            F.sum("keep").alias("n_keep"),
            (F.count(F.lit(1)) - F.sum("keep")).alias("n_delete"),
            F.max_by("path", key).alias("latest_target"),
            F.max("snapshot_ts").alias("latest_ts"),
            F.sum("size_bytes").alias("total_bytes"),
        )
        .orderBy("db", "generation")
    )


@register(
    "compaction_plan",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE.strip().lstrip()},
        ordered AS (
            SELECT db, generation, path, size_bytes,
                   SUM(size_bytes) OVER (
                       PARTITION BY db, generation
                       ORDER BY size_bytes DESC, snapshot_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_bytes
            FROM catalog_full
        )
        SELECT db, generation, path, size_bytes,
               CAST(floor(CAST(cum_bytes - size_bytes AS DOUBLE)
                          / 262144.0) AS BIGINT) AS bin_id
        FROM ordered
    """,
    doc="Small-file compaction planner (lakehouse OPTIMIZE / "
    "ClickHouse merge-selection analog): within each (db, "
    "generation), order artifacts largest-first with a snapshot_id "
    "tiebreak and assign each to a ~256 KiB output bin by its "
    "running-sum offset — a deterministic next-fit pack in ONE "
    "window pass, no driver loop. The bin assignment is exactly "
    "what a compaction job would feed to coalesced rewrite tasks; "
    "at 100 TB the window partitions by (db, generation) so "
    "planning parallelizes per table and never materializes more "
    "than a partition of catalog rows per task.",
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = build_catalog(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("db", "generation")
        .orderBy(F.col("size_bytes").desc(), F.col("snapshot_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("size_bytes").over(w)
    return cat.select(
        "db",
        "generation",
        "path",
        "size_bytes",
        F.floor(
            (cum - F.col("size_bytes")).cast("double") / F.lit(262144.0)
        )
        .cast("long")
        .alias("bin_id"),
    )


@register(
    "backup_verify_integrity",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
               CAST(COUNT(*) AS BIGINT) AS n_restored,
               CAST(0 AS BIGINT) AS n_missing,
               CAST(0 AS BIGINT) AS n_extra
        FROM orders
    """,
    doc="A11's write-then-verify made total: snapshot orders "
    "(staged-atomic publish), reread, and diff source vs restored by "
    "null-safe row hash (md5 of the JSON row struct — the same "
    "identity run_incremental uses) with multiplicity via per-hash "
    "counts: n_missing = rows whose count shrank, n_extra = rows "
    "whose count grew. The oracle asserts the invariant (counts "
    "equal, zero drift). Two scans + one hash-agg join — no "
    "collect; at 100 TB this is the cheap post-backup audit that "
    "catches a torn write before retention deletes the previous "
    "snapshot.",
)
def backup_verify_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.scratch import scratch_path

    src = load_table(spark, sf_dir, "orders")
    res = snapshot_table(
        src,
        scratch_path(spark, "verify_orders", sf_dir),
        db="db0",
        table="orders",
        period_key="19970101-000001",
    )
    restored = spark.read.parquet(res.path)
    return integrity_diff(src, restored)


def integrity_diff(src: DataFrame, restored: DataFrame) -> DataFrame:
    """Multiplicity-aware source-vs-restored drift report (the diff
    half of backup_verify_integrity, factored out so the MISMATCH
    path is provable in tests — on an intact snapshot n_missing and
    n_extra are legitimately 0 forever, which is exactly why the
    detection machinery needs its own tampered-input proof,
    tests/test_backup.py). Rows are identified by ``exprs.row_hash``
    over the sorted union of both sides' columns, so column order does
    not matter and a column only one side has counts as null on the
    other."""
    cols = sorted(set(src.columns) | set(restored.columns))

    def hashed_counts(df: DataFrame, col: str) -> DataFrame:
        return df.groupBy(row_hash(df, cols).alias("row_hash")).agg(
            F.count(F.lit(1)).alias(col)
        )

    a = hashed_counts(src, "n_a")
    b = hashed_counts(restored, "n_b")
    d = a.join(b, "row_hash", "full").select(
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    return d.agg(
        F.sum("n_a").cast("long").alias("n_source"),
        F.sum("n_b").cast("long").alias("n_restored"),
        F.sum(F.greatest(F.col("n_a") - F.col("n_b"), F.lit(0)))
        .cast("long")
        .alias("n_missing"),
        F.sum(F.greatest(F.col("n_b") - F.col("n_a"), F.lit(0)))
        .cast("long")
        .alias("n_extra"),
    )


@register(
    "backup_incremental_roundtrip",
    oracle="SELECT * FROM orders",
    doc="Incremental backup chain round-trip, end-to-end through the "
    "engine: run 1 snapshots half the table (even orderkeys), run 2 "
    "diffs the FULL table against the composed restored state and "
    "snapshots only the missing rows, and restore_incremental unions "
    "base + delta back into exactly the source table (the oracle is "
    "the identity query — lossless is the entire contract). The diff "
    "is the engine's multiplicity-aware md5(JSON-with-explicit-nulls) "
    "row identity (engine.py run_incremental): one shuffle on a "
    "16-byte hash per run, so at 100 TB each nightly increment costs "
    "O(new data) write + one hash-key diff instead of a full rewrite. "
    "Uses a deterministic scratch backup dir (replaced per run) and "
    "fixed period timestamps so reruns are stable.",
)
def backup_incremental_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import shutil

    from clickhousebackup_spark.backup.config import BackupConfig
    from clickhousebackup_spark.engine import BackupEngine
    from clickhousebackup_spark.scratch import scratch_path

    base_dir = scratch_path(spark, "incr_roundtrip", sf_dir)
    shutil.rmtree(base_dir, ignore_errors=True)
    os.makedirs(base_dir, exist_ok=True)
    eng = BackupEngine(
        spark,
        BackupConfig(
            host="fixture", dbs="db0", user="u", password="p",
            backup_dir=base_dir,
        ),
    )
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0)
    eng.run_incremental(
        {"db0": {"orders": base}}, now=dt.datetime(1997, 1, 1)
    )
    eng.run_incremental(
        {"db0": {"orders": o}}, now=dt.datetime(1997, 1, 2)
    )
    return eng.restore_incremental("db0", "orders")


@register(
    "backup_pit_select",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE},
        anchor AS (
            SELECT MAX(snapshot_ts) - INTERVAL 10 DAY AS cutoff
            FROM catalog_full
        )
        SELECT {_CATALOG_COLS_SQL} FROM (
            SELECT c.*, ROW_NUMBER() OVER (
                PARTITION BY db, generation
                ORDER BY snapshot_ts DESC, snapshot_id DESC) AS rn
            FROM catalog_full c CROSS JOIN anchor a
            WHERE c.snapshot_ts <= a.cutoff
        ) WHERE rn = 1
    """,
    doc="Point-in-time restore selection: the newest snapshot at or "
    "before the restore point per (db, generation) — the query every "
    "restore runbook starts with ('give me the state as of T'). The "
    "restore point is anchored at max(snapshot_ts) − 10 days "
    "(deterministic — no wall clock), broadcast as a 1-row cutoff; "
    "selection is the keep-newest window under the (ts, snapshot_id) "
    "total order, bounded below by the cutoff — the A14 machinery "
    "plus a time bound. One window shuffle on the catalog "
    "(catalog-scale, not data-scale — the backup vertical's "
    "invariant).",
)
def backup_pit_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = build_catalog(load_table(spark, sf_dir, "events"))
    anchor = cat.agg(
        (F.max("snapshot_ts") - F.expr("INTERVAL 10 DAYS")).alias("cutoff")
    )
    w = Window.partitionBy("db", "generation").orderBy(
        F.col("snapshot_ts").desc(), F.col("snapshot_id").desc()
    )
    return (
        cat.join(F.broadcast(anchor))
        .filter(F.col("snapshot_ts") <= F.col("cutoff"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*CATALOG_COLS)
    )


@register(
    "backup_manifest_diff",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE},
        oldm AS (
            SELECT * FROM catalog_full WHERE snapshot_id % 5 <> 0
        ), newm AS (
            SELECT db, generation, period_key, snapshot_ts, snapshot_id,
                   path,
                   CASE WHEN snapshot_id % 3 = 0 THEN md5(content_hash)
                        ELSE content_hash END AS content_hash,
                   size_bytes
            FROM catalog_full WHERE snapshot_id % 7 <> 0
        ), j AS (
            SELECT COALESCE(o.db, n.db) AS db,
                   CASE WHEN o.snapshot_id IS NULL THEN 'added'
                        WHEN n.snapshot_id IS NULL THEN 'removed'
                        WHEN o.content_hash <> n.content_hash
                             THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM oldm o FULL OUTER JOIN newm n
              ON o.db = n.db AND o.snapshot_id = n.snapshot_id
        )
        SELECT db, status, CAST(COUNT(*) AS BIGINT) AS n
        FROM j GROUP BY db, status
    """,
    doc="Incremental-backup manifest diff: two snapshot catalogs "
    "(deterministic synthetic halves: every 5th artifact missing "
    "from old, every 7th from new, every 3rd's content hash "
    "perturbed in new) FULL-joined on artifact identity and "
    "classified added / removed / changed / unchanged — the diff "
    "that decides what an incremental run uploads and what a prune "
    "deletes (the hardlink-reuse decision of backup.sh:77-96 made "
    "explicit). Output is per-(db, status) counts — the manifest "
    "summary line. Catalog-scale full join + one agg; identity is "
    "(db, snapshot_id), never the non-unique path.",
)
def backup_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = build_catalog(load_table(spark, sf_dir, "events"))
    old = cat.filter(F.col("snapshot_id") % 5 != 0).select(
        "db", "snapshot_id", "content_hash"
    )
    new = cat.filter(F.col("snapshot_id") % 7 != 0).select(
        "db",
        "snapshot_id",
        F.when(
            F.col("snapshot_id") % 3 == 0, F.md5("content_hash")
        )
        .otherwise(F.col("content_hash"))
        .alias("content_hash"),
    )
    o = old.alias("o")
    n = new.alias("n")
    j = o.join(
        n,
        (F.col("o.db") == F.col("n.db"))
        & (F.col("o.snapshot_id") == F.col("n.snapshot_id")),
        "full_outer",
    ).select(
        F.coalesce(F.col("o.db"), F.col("n.db")).alias("db"),
        F.when(F.col("o.snapshot_id").isNull(), "added")
        .when(F.col("n.snapshot_id").isNull(), "removed")
        .when(F.col("o.content_hash") != F.col("n.content_hash"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("db", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "backup_restore_chain",
    oracle=f"""
        WITH {CATALOG_ORACLE_CTE},
        typed AS (
            SELECT db, generation, period_key, snapshot_ts, snapshot_id,
                   path, content_hash, size_bytes,
                   CASE WHEN snapshot_id % 4 = 0 THEN 'full'
                        ELSE 'incr' END AS kind
            FROM catalog_full
        ), anchor AS (
            SELECT MAX(snapshot_ts) - INTERVAL 5 DAY AS cutoff
            FROM typed
        ), base AS (
            SELECT db,
                   MAX(CASE WHEN kind = 'full' THEN snapshot_ts END)
                       AS base_ts
            FROM typed t CROSS JOIN anchor a
            WHERE t.snapshot_ts <= a.cutoff
            GROUP BY db
        )
        SELECT t.db, t.kind,
               CAST(t.snapshot_id AS BIGINT) AS snapshot_id,
               t.snapshot_ts
        FROM typed t
        CROSS JOIN anchor a
        JOIN base b ON t.db = b.db
        WHERE t.snapshot_ts <= a.cutoff
          AND t.snapshot_ts >= b.base_ts
          AND (t.kind = 'incr' OR t.snapshot_ts = b.base_ts)
    """,
    doc="Incremental-chain restore plan: to restore db X at time T "
    "you need the newest FULL snapshot at-or-before T plus every "
    "INCREMENTAL between that full and T — the chain-resolution "
    "query behind `restore --time T` in every incremental backup "
    "tool (and the reason a pruned full invalidates its whole "
    "chain, which retention_plan must respect). Kind is synthetic "
    "(snapshot_id%4=0 ⇒ full); the restore point anchors at "
    "max(ts)−5d. Plan: 1-row cutoff broadcast, per-db newest-full "
    "aggregate broadcast back, then one catalog filter — "
    "catalog-scale throughout, no window needed (the base_ts "
    "equality picks the full, the range picks its incrementals).",
)
def backup_restore_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = build_catalog(load_table(spark, sf_dir, "events"))
    typed = cat.withColumn(
        "kind",
        F.when(F.col("snapshot_id") % 4 == 0, "full").otherwise("incr"),
    )
    anchor = typed.agg(
        (F.max("snapshot_ts") - F.expr("INTERVAL 5 DAYS")).alias("cutoff")
    )
    within = typed.join(F.broadcast(anchor)).filter(
        F.col("snapshot_ts") <= F.col("cutoff")
    )
    base = (
        within.groupBy("db")
        .agg(
            F.max(
                F.when(F.col("kind") == "full", F.col("snapshot_ts"))
            ).alias("base_ts")
        )
    )
    return (
        within.join(F.broadcast(base), "db")
        .filter(
            (F.col("snapshot_ts") >= F.col("base_ts"))
            & (
                (F.col("kind") == "incr")
                | (F.col("snapshot_ts") == F.col("base_ts"))
            )
        )
        .select(
            "db",
            "kind",
            F.col("snapshot_id").cast("long").alias("snapshot_id"),
            "snapshot_ts",
        )
    )


@register(
    "backup_dedup_savings",
    oracle="""
        WITH snaps AS (
            SELECT concat('db', CAST(user_id % 3 AS VARCHAR)) AS db,
                   ts AS snapshot_ts, event_id AS snapshot_id,
                   CAST(floor(value * 1000) AS BIGINT) AS size_bytes
            FROM events
        ), g AS (
            SELECT s.*, gen.generation,
                   CASE gen.generation
                       WHEN 'last'
                           THEN strftime(snapshot_ts, '%Y%m%d-%H%M%S')
                       WHEN 'daily' THEN strftime(snapshot_ts, '%Y%m%d')
                       WHEN 'weekly' THEN concat(
                           CAST(isoyear(snapshot_ts) AS VARCHAR),
                           lpad(CAST(week(snapshot_ts) AS VARCHAR), 2,
                                '0'))
                       ELSE strftime(snapshot_ts, '%Y%m')
                   END AS period_key
            FROM snaps s CROSS JOIN (VALUES ('last'), ('daily'),
                ('weekly'), ('monthly')) gen(generation)
        ), kept AS (
            SELECT * FROM (
                SELECT g.*, ROW_NUMBER() OVER (
                    PARTITION BY db, generation, period_key
                    ORDER BY snapshot_ts DESC, snapshot_id DESC) AS rn
                FROM g
            ) WHERE rn = 1
        ), marked AS (
            SELECT kept.*, ROW_NUMBER() OVER (
                PARTITION BY db, snapshot_id ORDER BY generation) AS rn2
            FROM kept
        )
        SELECT db,
               CAST(COUNT(*) AS BIGINT) AS n_logical,
               CAST(COUNT(CASE WHEN rn2 = 1 THEN 1 END) AS BIGINT)
                   AS n_physical,
               CAST(SUM(size_bytes) AS BIGINT) AS logical_bytes,
               CAST(SUM(CASE WHEN rn2 = 1 THEN size_bytes END)
                   AS BIGINT) AS physical_bytes,
               CAST(SUM(size_bytes) - SUM(CASE WHEN rn2 = 1
                   THEN size_bytes END) AS BIGINT) AS saved_bytes,
               CAST((SUM(size_bytes) - SUM(CASE WHEN rn2 = 1
                   THEN size_bytes END)) * 1000 // SUM(size_bytes)
                   AS BIGINT) AS saved_permille
        FROM marked GROUP BY db
    """,
    doc="Hardlink-dedup savings accounting — the storage arithmetic "
    "of backup.sh:77-96: one physical artifact serves every "
    "generation dir whose period it is the newest of (a snapshot "
    "that closes a day also closes its week and month ⇒ 4 logical "
    "copies, 1 physical file). Each snapshot is evaluated against "
    "ALL FOUR period grammars (A9: %Y%m%d-%H%M%S / %Y%m%d / ISO "
    "%G%V / %Y%m), keep-newest-per-period picks the generation "
    "views, and the per-db report compares logical copies vs "
    "distinct physical snapshots: counts, bytes, saved bytes, and "
    "integer-permille savings — the `du` the reference never had. "
    "Plan: the 4-grammar expansion is a map-side explode (no "
    "shuffle), then two narrow windows (keep-newest, first-"
    "occurrence marking) and one db agg — three key-bounded "
    "exchanges over 4x catalog rows; catalog-scale, not data-scale.",
)
def backup_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from clickhousebackup_spark.backup.catalog import period_key_expr
    from clickhousebackup_spark.backup.config import GENERATIONS

    ev = load_table(spark, sf_dir, "events")
    snaps = ev.select(
        F.concat(
            F.lit("db"), F.pmod("user_id", F.lit(3)).cast("string")
        ).alias("db"),
        F.col("ts").alias("snapshot_ts"),
        F.col("event_id").alias("snapshot_id"),
        F.floor(F.col("value") * 1000).cast("long").alias("size_bytes"),
    )
    g = snaps.withColumn(
        "generation",
        F.explode(F.array(*[F.lit(x) for x in GENERATIONS])),
    ).withColumn(
        "period_key", period_key_expr("snapshot_ts", "generation")
    )
    kept = keep_newest_per_period(g)  # no table_name: keys (db, generation, period_key)
    w_mark = Window.partitionBy("db", "snapshot_id").orderBy("generation")
    marked = kept.withColumn("rn2", F.row_number().over(w_mark))
    first = F.col("rn2") == 1
    phys_bytes = F.sum(F.when(first, F.col("size_bytes")))
    log_bytes = F.sum("size_bytes")
    return marked.groupBy("db").agg(
        F.count(F.lit(1)).cast("long").alias("n_logical"),
        F.count(F.when(first, 1)).cast("long").alias("n_physical"),
        log_bytes.cast("long").alias("logical_bytes"),
        phys_bytes.cast("long").alias("physical_bytes"),
        (log_bytes - phys_bytes).cast("long").alias("saved_bytes"),
        F.expr(
            "CAST((SUM(size_bytes) - SUM(CASE WHEN rn2 = 1 THEN"
            " size_bytes END)) * 1000 div SUM(size_bytes) AS LONG)"
        ).alias("saved_permille"),
    )
