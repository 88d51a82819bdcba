"""The public engine facade (SURVEY.md §3.4's three entry points).

A user of the reference configures env vars and gets scheduled
``backup.sh`` runs. Here the same surface is:

    from clickhousebackup_spark.engine import BackupEngine
    eng = BackupEngine(spark, BackupConfig(host=..., dbs="db0,db1",
                       user=..., password=..., backup_dir=...))
    eng.add_hook(webhook_hook(url))          # hooks/00-webhook
    result = eng.run_backup({"orders": df})  # one backup.sh run
    plan = eng.retention_plan()              # the find…rm classification
    eng.prune(plan)                          # apply it

plus the relational surface (``table()``, ``sql()``) the reference
delegates to ClickHouse behind `backup.sh:45`.

Every run is the reference's lifecycle (backup.sh:16-130): pre hooks →
per-db snapshot loop → generation propagation → latest pointers →
retention prune → post hooks, with the error trap firing error hooks.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.catalog import period_key_expr
from clickhousebackup_spark.backup.config import (
    GENERATIONS,
    BackupConfig,
    validate_backup_dir,
)
from clickhousebackup_spark.backup.hooks import Hook, LifecycleHooks
from clickhousebackup_spark.backup.retention import (
    keep_newest_per_period,
    latest_pointers,
    prune_delete_set,
    retention_plan,
)
from clickhousebackup_spark.backup.snapshot import (
    SnapshotResult,
    snapshot_table,
    write_verified,
)
from clickhousebackup_spark.exprs import row_hash
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table, parquet_data_files

CATALOG_SCHEMA = (
    "db string, table_name string, generation string, period_key string, "
    "snapshot_ts timestamp, snapshot_id long, path string, content_hash string, "
    "size_bytes long"
)


@dataclass
class BackupEngine:
    spark: SparkSession
    config: BackupConfig
    hooks: LifecycleHooks = field(default_factory=LifecycleHooks)
    _snapshot_seq: int = 0

    def __post_init__(self):
        validate_backup_dir(self.config.backup_dir)  # env.sh:32-35

    # -- relational entry points (what ClickHouse serves in the ref) --

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return load_table(self.spark, sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- lifecycle --

    def add_hook(self, hook: Hook) -> "BackupEngine":
        self.hooks.add(hook)
        return self

    # -- the backup.sh run --

    def run_backup(
        self, tables_by_db: dict[str, dict[str, DataFrame]], now=None
    ) -> list[SnapshotResult]:
        """One scheduled run: for each configured db (env.sh:24 split),
        snapshot its tables with the `last` period key and register all
        four generation rows in the catalog (backup.sh:24-97)."""
        return self._run(tables_by_db, now, incremental=False)

    def run_incremental(
        self, tables_by_db: dict[str, dict[str, DataFrame]], now=None
    ) -> list[SnapshotResult]:
        """Incremental run: the same lifecycle as ``run_backup``, but
        each table's snapshot holds only the rows NOT present in the
        composed state of the same (db, table) — see ``_new_rows``. The
        reference only does full backups (backup.sh:45); this is the
        capability a 100 TB corpus needs: the diff on a 16-byte hash is
        one shuffle, and restore composes snapshots by unioning them in
        period order.

        Rows deleted upstream are not tracked (append-only semantics,
        matching the fixture tables and most log/corpus workloads).
        """
        return self._run(tables_by_db, now, incremental=True)

    def _run(
        self,
        tables_by_db: dict[str, dict[str, DataFrame]],
        now,
        incremental: bool,
    ) -> list[SnapshotResult]:
        """The one run loop (backup.sh:16-130): pre hooks, then per db
        and table a snapshot registered under all four generations,
        then the latest pointers, then post hooks; the error trap fires
        error hooks."""
        now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        key = now.strftime("%Y%m%d-%H%M%S")  # backup.sh:26

        def job() -> list[SnapshotResult]:
            results: list[SnapshotResult] = []
            for db in self.config.db_list:  # backup.sh:24
                for tname, df in tables_by_db.get(db, {}).items():
                    if incremental:
                        df = self._new_rows(db, tname, df)
                    res = snapshot_table(
                        df, self.config.backup_dir, db, tname, key
                    )
                    results.append(res)
                    self._register(db, tname, res, now)
            self.materialize_latest()  # backup.sh:99-115, per run
            return results

        return self.hooks.run_job(job)  # pre/post/error per backup.sh

    def _new_rows(self, db: str, table: str, df: DataFrame) -> DataFrame:
        """The rows of ``df`` not yet in the composed state (base + all
        deltas) of (db, table); all of ``df`` when nothing is there.

        Row identity is ``exprs.row_hash``. The diff is
        multiplicity-aware: rows are numbered within each hash and only
        occurrences BEYOND the previously-snapshotted count are
        captured, so a table holding k copies of a row round-trips all
        k (a plain anti-join would silently drop every duplicate).
        """
        try:
            prev = self.restore_incremental(db, table)
        except FileNotFoundError:
            return df  # first run = full snapshot
        cols = list(df.columns)
        prev_counts = prev.groupBy(row_hash(prev, cols).alias("_h")).agg(
            F.count(F.lit(1)).alias("_n_prev")
        )
        # occurrence index among identical rows: any order works — rows
        # within a hash are byte-identical, so which copies survive the
        # filter is unobservable.
        w_occ = Window.partitionBy("_h").orderBy(F.lit(1))
        return (
            df.withColumn("_h", row_hash(df, cols))
            .withColumn("_occ", F.row_number().over(w_occ))
            .join(prev_counts, on="_h", how="left")
            .filter(F.col("_occ") > F.coalesce(F.col("_n_prev"), F.lit(0)))
            .drop("_h", "_occ", "_n_prev")
        )

    def _register(self, db: str, table: str, res: SnapshotResult, now) -> None:
        rows = []
        for gen in GENERATIONS:
            rows.append(
                (db, table, gen, "", now, self._snapshot_seq, res.path, "", res.n_rows)
            )
            self._snapshot_seq += 1
        self._append_catalog(
            self.spark.createDataFrame(rows, CATALOG_SCHEMA)
            .withColumn("period_key", period_key_expr("snapshot_ts", "generation"))
            .withColumn(
                "content_hash",
                F.md5(F.concat_ws("|", "db", "generation", "period_key", "path")),
            )
        )

    def restore_incremental(
        self, db: str, table: str, until_period_key: str | None = None
    ) -> DataFrame:
        """Union every snapshot of (db, table) in period order — the
        read side of run_incremental (full state = base + deltas).

        Matches on the catalog's ``table_name`` column (NOT a path
        substring — 'orders' must never swallow 'orders-archive'
        snapshots). Pass ``until_period_key`` for a point-in-time
        restore of the state as of that snapshot (inclusive).

        The path list is catalog-sized and is deduplicated and sorted
        in the driver from one plain collect.

        Plan shape: when every snapshot carries the same schema (the
        overwhelmingly common case — checked driver-side from the
        footer of the first data file ``tables.parquet_data_files``
        lists for each snapshot, partition subdirectories included;
        no Spark job), all paths go into ONE
        multi-path ``spark.read.parquet(*paths)`` scan, so an
        N-snapshot chain plans O(1) deep regardless of N. Only a chain
        with schema evolution falls back to the per-snapshot
        ``unionByName(allowMissingColumns=True)`` ladder, which is
        what makes a column added between base and delta restore as
        null in pre-evolution rows.
        """
        cat = self.catalog().filter(
            (F.col("db") == db) & (F.col("table_name") == table)
        )
        if until_period_key is not None:
            # the `last` generation's period_key IS the snapshot key
            # (yyyyMMdd-HHmmss — lexicographic == temporal)
            cat = cat.filter(
                (F.col("generation") == "last")
                & (F.col("period_key") <= until_period_key)
            )
        # catalog-sized: dedup and order in the driver, not in a
        # shuffle + sort (Python's code-point order equals Spark's
        # UTF-8 byte order)
        paths = sorted({r["path"] for r in cat.select("path").collect()})
        if not paths:
            raise FileNotFoundError(f"no snapshots for ({db}, {table})")
        if len(paths) == 1 or self._snapshot_schemas_identical(paths):
            return self.spark.read.parquet(*paths)
        out = self.spark.read.parquet(paths[0])
        for p in paths[1:]:
            out = out.unionByName(
                self.spark.read.parquet(p), allowMissingColumns=True
            )
        return out

    @staticmethod
    def _snapshot_schemas_identical(paths: list[str]) -> bool:
        """True iff every snapshot directory's parquet footer schema
        is byte-identical (names, types, order). Driver-side pyarrow
        footer reads of the first file ``parquet_data_files`` lists
        (the files Spark's reader reads, found recursively through
        partition subdirectories, so partition columns are not part of
        the compared schema) — one small metadata read per snapshot,
        no Spark job; at catalog scale this is the cheap gate that
        keeps the restore plan O(1) deep. Any unreadable/ambiguous layout
        returns False (fall back to the always-correct union ladder) —
        including pyarrow itself being absent (no pinned manifest).
        """
        try:
            import pyarrow.parquet as pq
        except Exception:
            return False

        def footer_schema(path):
            files = parquet_data_files(path)
            return pq.ParquetFile(files[0]).schema_arrow if files else None

        try:
            first = footer_schema(paths[0])
            if first is None:
                return False
            return all(
                (s := footer_schema(p)) is not None and s.equals(first)
                for p in paths[1:]
            )
        except Exception:
            return False

    # -- catalog state (the reference's directory listing, explicit) --

    @property
    def catalog_path(self) -> str:
        return os.path.join(self.config.backup_dir, "_catalog")

    def _append_catalog(self, df: DataFrame) -> None:
        # partitioned by generation (SURVEY §1.2/§4.1: the reference's
        # last/daily/weekly/monthly dirs) so retention scans prune to
        # one generation directory instead of reading the full catalog.
        df.write.mode("append").partitionBy("generation").parquet(
            self.catalog_path
        )

    def catalog(self) -> DataFrame:
        if not os.path.exists(self.catalog_path):
            return self.spark.createDataFrame([], CATALOG_SCHEMA)
        # The pinned schema skips the footer-inference job and reads a
        # catalog with no data files (all rows pruned) as empty. The
        # partition column, generation, still comes last.
        return self.spark.read.schema(CATALOG_SCHEMA).parquet(self.catalog_path)

    # -- retention (backup.sh:90-122) --

    def generation_state(self) -> DataFrame:
        """Keep-newest-per-period view of the catalog (A14)."""
        return keep_newest_per_period(self.catalog())

    def latest(self) -> DataFrame:
        """`-latest` pointers (A15), honoring latest_type='none'."""
        if self.config.latest_type == "none":  # backup.sh:113
            return self.spark.createDataFrame(
                [], "db string, generation string, latest_target string, "
                "latest_ts timestamp, pointer_name string"
            )
        return latest_pointers(self.catalog(), self.config.suffix)

    def retention_plan(self) -> DataFrame:
        return retention_plan(self.generation_state(), self.config.retention)

    def restore(self, db: str, table: str, period_key: str | None = None) -> DataFrame:
        """Read a snapshot back — the restore path the reference leaves
        to manual `RESTORE` invocation. Defaults to the newest snapshot
        of (db, table); pass a period_key for point-in-time restore."""
        cat = self.catalog().filter(
            (F.col("db") == db) & (F.col("table_name") == table)
        )
        if period_key is not None:
            cat = cat.filter(F.col("period_key") == period_key)
        newest = (
            cat.orderBy(F.col("snapshot_ts").desc(), F.col("snapshot_id").desc())
            .select("path")
            .limit(1)
            .collect()
        )
        if not newest:
            raise FileNotFoundError(
                f"no snapshot found for ({db}, {table}, {period_key or 'latest'})"
            )
        return self.spark.read.parquet(newest[0]["path"])

    def prune(
        self, plan: DataFrame | None = None, apply: bool = False
    ) -> DataFrame:
        """The delete set (find…rm analog of backup.sh:119-122).

        With ``apply=False`` (default) only returns the delete set,
        mirroring how backup.sh separates listing (``find``) from
        action (``rm``). With ``apply=True`` it also rewrites the
        catalog without them and then removes the snapshot dirs — the
        `-exec rm -rvf` side; a failed rewrite removes nothing. One
        path is registered under all four generations (backup.sh's
        hardlink fan-out), so a dir is only removed when NO kept
        generation row still references it.

        The collects here are catalog-scale (one row per snapshot
        artifact), never data-scale.
        """
        plan = plan if plan is not None else self.retention_plan()
        delete_df = prune_delete_set(self.generation_state(), plan)
        if not apply:
            return delete_df
        # Materialize before mutating storage: the lazy plan reads the
        # catalog files the rewrite below replaces.
        delete_df = materialize(delete_df)
        kept_paths = {
            r["path"] for r in plan.filter(F.col("keep") == 1).select("path").collect()
        }
        doomed = {r["path"] for r in delete_df.select("path").collect()} - kept_paths
        backup_root = os.path.realpath(self.config.backup_dir)
        real_paths = {p: os.path.realpath(p) for p in sorted(doomed)}
        for path, real in real_paths.items():
            # refuse to rm anything that escaped the backup volume
            if os.path.commonpath([backup_root, real]) != backup_root:
                raise ValueError(f"prune path outside backup_dir: {path}")
        # Publish the rewritten catalog before removing anything: a
        # failed rewrite leaves every cataloged snapshot on disk.
        self._rewrite_catalog_excluding(delete_df, doomed)
        for real in real_paths.values():
            if os.path.isdir(real):
                shutil.rmtree(real)
            elif os.path.exists(real):
                os.remove(real)
        return delete_df

    def _rewrite_catalog_excluding(
        self, delete_df: DataFrame, doomed_paths: set[str]
    ) -> None:
        """Staged-atomic catalog rewrite dropping the deleted rows (by
        snapshot_id — the per-generation "hardlink" entries, mirroring
        the per-generation-dir rm) plus any row whose backing path was
        removed (superseded rows that would otherwise dangle). The
        staged catalog is checked like a snapshot (``write_verified``)
        before it replaces the old one."""
        cat = self.catalog()
        survivors = cat.join(
            delete_df.select("snapshot_id"), on="snapshot_id", how="left_anti"
        ).select(*cat.columns)
        if doomed_paths:
            survivors = survivors.filter(~F.col("path").isin(sorted(doomed_paths)))
        staging = self.catalog_path + "-new"
        write_verified(
            survivors, staging, "catalog", self.catalog_path, ["generation"]
        )
        shutil.rmtree(self.catalog_path)
        os.rename(staging, self.catalog_path)

    # -- latest pointers on storage (backup.sh:99-115) --

    def materialize_latest(self) -> list[str]:
        """Write ``<backup_dir>/<generation>/<db>-latest<suffix>``
        pointers at the newest artifact per (db, generation), honoring
        ``latest_type``:

        - ``symlink``: ``ln -sf`` (backup.sh:101-103);
        - ``hardlink``: directory artifacts get a per-file hardlink
          mirror dir (the ``ln -f`` loop of backup.sh:67-80);
        - ``none``: nothing is written (backup.sh:113).

        Returns the pointer paths written, so ``restore_latest`` can
        resolve "latest" from the filesystem alone.
        """
        if self.config.latest_type == "none":
            return []
        written: list[str] = []
        for r in self.latest().collect():  # catalog-scale
            gen_dir = os.path.join(self.config.backup_dir, r["generation"])
            os.makedirs(gen_dir, exist_ok=True)
            ptr = os.path.join(gen_dir, r["pointer_name"])
            if os.path.islink(ptr) or os.path.isfile(ptr):
                os.remove(ptr)
            elif os.path.isdir(ptr):
                shutil.rmtree(ptr)
            target = r["latest_target"]
            if self.config.latest_type == "symlink":
                os.symlink(target, ptr)
            else:  # hardlink
                os.makedirs(ptr)
                for root, _, files in os.walk(target):
                    rel = os.path.relpath(root, target)
                    dst = ptr if rel == "." else os.path.join(ptr, rel)
                    os.makedirs(dst, exist_ok=True)
                    for fn in files:
                        os.link(os.path.join(root, fn), os.path.join(dst, fn))
            written.append(ptr)
        return written

    def health(self) -> dict:
        """A19 analog of go-cron's HEALTHCHECK_PORT endpoint: config
        validity, catalog reachability, and the status/lastProgress of
        every active streaming query in the session."""
        from clickhousebackup_spark.streaming.engine import session_health

        streams = session_health(self.spark)
        ok = True
        try:
            validate_backup_dir(self.config.backup_dir)
        except Exception:
            ok = False
        return {
            "ok": ok and streams["ok"],
            "backup_dir": self.config.backup_dir,
            "catalog_rows": self.catalog().count(),
            "streams": streams,
        }

    def restore_latest(self, db: str, generation: str = "last") -> DataFrame:
        """Restore by convention: read the on-disk ``<db>-latest``
        pointer (no catalog needed — the property backup.sh's symlinks
        exist to provide)."""
        ptr = os.path.join(
            self.config.backup_dir,
            generation,
            f"{db}-latest{self.config.suffix}",
        )
        real = os.path.realpath(ptr)
        if not os.path.exists(real):
            raise FileNotFoundError(
                f"no latest pointer for ({db}, {generation}) at {ptr} "
                f"(latest_type={self.config.latest_type!r})"
            )
        return self.spark.read.parquet(real)
