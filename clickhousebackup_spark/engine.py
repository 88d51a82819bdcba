"""The public engine facade (SURVEY.md §3.4's three entry points).

A user of the reference configures env vars and gets scheduled
``backup.sh`` runs. Here the same surface is:

    from clickhousebackup_spark.engine import BackupEngine
    eng = BackupEngine(spark, BackupConfig(host=..., dbs="db0,db1",
                       user=..., password=..., backup_dir=...))
    eng.add_hook(webhook_hook(url))          # hooks/00-webhook
    result = eng.run_backup({"orders": df})  # one backup.sh run
    plan = eng.retention_plan()              # the find…rm classification
    eng.prune(plan)                          # list the delete set
    eng.prune(plan, apply=True)              # and remove it

plus the relational surface (``table()``, ``sql()``) the reference
delegates to ClickHouse behind `backup.sh:45`.

Every run is the reference's lifecycle (backup.sh:16-130): pre hooks →
per-db snapshot loop → generation propagation → latest pointers →
retention prune → post hooks, with the error trap firing error hooks.
Where ``backup.sh`` snapshots one db after another, a run here takes
its tables' snapshots at the same time: each table's pipeline (the
incremental diff, then the snapshot write) runs on a driver thread, at
most ``defaultParallelism`` at once, and every thread carries the
caller's job group, so a table's small Spark jobs overlap the others'
fixed per-job cost instead of queueing behind it (``_run``).

The catalog (``<backup_dir>/_catalog``, one ``generation=<g>``
directory per generation) is driver-side metadata, as the reference's
directory listing is: only the driver reads (``_catalog_table``) and
writes (``_write_catalog``) its files, with pyarrow and one schema,
``CATALOG_SCHEMA``, so registration, the latest pointers, the restore
lookups and the prune rewrite launch no Spark job. The relational
surface (``catalog()``, ``generation_state()``, ``latest()``,
``retention_plan()``) runs over that table shipped to Spark as a local
relation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid
from collections import namedtuple
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

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
from clickhousebackup_spark.backup.snapshot import SnapshotResult, snapshot_table
from clickhousebackup_spark.exprs import row_hash
from clickhousebackup_spark.sources.readers import ConnectorUnavailable
from clickhousebackup_spark.tables import load_table, parquet_data_files

#: the catalog's one schema, for its files, frames and driver rows: the
#: columns of a catalog file, then generation, which names the file's
#: ``generation=<g>`` directory
CATALOG_SCHEMA = (
    StructType()
    .add("db", "string").add("table_name", "string").add("period_key", "string")
    .add("snapshot_ts", "timestamp").add("snapshot_id", "long").add("path", "string")
    .add("content_hash", "string").add("size_bytes", "long").add("generation", "string")
)
CATALOG_COLUMNS = CATALOG_SCHEMA.names

#: one catalog row as the driver holds it; ``snapshot_ts`` is UTC
#: microseconds since the epoch (Spark's ``unix_micros``)
CatalogRow = namedtuple("CatalogRow", CATALOG_COLUMNS)


def _arrow_catalog_schema():
    """``CATALOG_SCHEMA`` in Arrow: ``snapshot_ts`` is
    ``timestamp[us, tz=UTC]``, which Spark reads as its UTC instant."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(CATALOG_SCHEMA)


#: footer key-value entry in which Spark's parquet writer stores the
#: exact Spark schema (StructType JSON) of the rows it wrote
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class BackupEngine:
    spark: SparkSession
    config: BackupConfig
    hooks: LifecycleHooks = field(default_factory=LifecycleHooks)
    _snapshot_seq: int = 0

    def __post_init__(self):
        try:  # the catalog and every snapshot verify read footers with it
            import pyarrow.parquet  # noqa: F401
        except ImportError as e:
            raise ConnectorUnavailable(
                "BackupEngine needs pyarrow: the catalog and the snapshot "
                "verify read and write parquet in the driver with it"
            ) from e
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
        """The one run loop (backup.sh:16-130): pre hooks, then a
        snapshot of every table of every configured db, then ONE catalog
        append registering every snapshot of the run under all four
        generations, then the latest pointers, then post hooks; the
        error trap fires error hooks.

        The tables' pipelines (``_new_rows`` when incremental, then
        ``snapshot_table``) run concurrently on a thread pool of
        ``min(n_tables, defaultParallelism)`` threads, so their Spark
        jobs share the scheduler. Each task gets its own
        ``inheritable_thread_target`` wrap, which clones the caller's
        local properties (job group, description, interruptOnCancel)
        into the worker thread: one shared clone would be one
        ``java.util.Properties`` on which every thread's
        ``SQLExecution`` sets and clears ``spark.sql.execution.id``.
        A table's ``_new_rows`` lookup never needs another table of the
        same run: (db, table) is unique within a run. The results, and
        so the ``snapshot_id``s, follow db/table order whatever order
        the pipelines finish in, then ``GENERATIONS`` order.

        Failure contract: every table is attempted, and a failing table
        does not stop the others. Every snapshot published is
        registered by the one append. After the append the first error
        in db/table order is raised, with each later table's error
        attached as a note, so the error hooks see the catalog that
        holds every published snapshot."""
        now = now or dt.datetime.now(dt.timezone.utc)
        if now.tzinfo is not None:  # a naive ``now`` is UTC already
            now = now.astimezone(dt.timezone.utc).replace(tzinfo=None)
        key = now.strftime("%Y%m%d-%H%M%S")  # backup.sh:26
        tables = [
            (db, tname, df)
            for db in self.config.db_list  # backup.sh:24
            for tname, df in tables_by_db.get(db, {}).items()
        ]

        def pipeline(db: str, tname: str, df: DataFrame) -> SnapshotResult:
            if incremental:
                df = self._new_rows(db, tname, df)
            return snapshot_table(df, self.config.backup_dir, db, tname, key)

        def job() -> list[SnapshotResult]:
            workers = min(len(tables), self.spark.sparkContext.defaultParallelism)
            futures = []
            try:
                with ThreadPoolExecutor(
                    max(workers, 1), thread_name_prefix="snapshot"
                ) as pool:
                    for db, tname, df in tables:
                        task = inheritable_thread_target(self.spark)(pipeline)
                        futures.append(pool.submit(task, db, tname, df))
            finally:
                # all done unless the caller itself was interrupted
                results = [
                    f.result()
                    for f in futures
                    if f.done() and not f.cancelled() and f.exception() is None
                ]
                self._register(results, now)
            failed = [
                (db, tname, f.exception())
                for (db, tname, _), f in zip(tables, futures)
                if f.exception() is not None
            ]
            if failed:
                error = failed[0][2]
                for db, tname, e in failed[1:]:
                    error.add_note(
                        f"snapshot of {db}.{tname} also failed: {type(e).__name__}: {e}"
                    )
                raise error
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

    def _register(self, results: list[SnapshotResult], now) -> None:
        """Append the four generation rows of every snapshot in
        ``results`` to the catalog in one ``_write_catalog``.

        The rows are an Arrow table of ``CATALOG_SCHEMA``, ``now`` a
        naive UTC datetime. Spark adds the period keys
        (``period_key_expr``) and the content hashes over that table as
        a local relation, which it folds with the projection, so the
        collect launches no job; user text is never spliced into SQL.

        The ids continue past both this engine's count and the largest
        ``snapshot_id`` already cataloged (read in the driver): an
        engine over a ``backup_dir`` that an earlier engine or process
        wrote starts its count at 0 too, and ``prune`` deletes catalog
        rows by id."""
        if not results:
            return
        import pyarrow as pa

        n_gen = len(GENERATIONS)
        seq = max(
            self._snapshot_seq,
            1 + max((r.snapshot_id for r in self._catalog_rows()), default=-1),
        )
        self._snapshot_seq = seq + n_gen * len(results)
        rows = pa.Table.from_pylist(
            [  # period_key and content_hash are filled in below
                {"db": res.db, "table_name": res.table, "snapshot_ts": now,
                 "snapshot_id": seq + n_gen * i + g, "path": res.path,
                 "size_bytes": res.n_rows, "generation": gen}
                for g, gen in enumerate(GENERATIONS)
                for i, res in enumerate(results)
            ],
            schema=_arrow_catalog_schema(),
        )
        keys = (
            self.spark.createDataFrame(rows, CATALOG_SCHEMA)
            .withColumn("period_key", period_key_expr("snapshot_ts", "generation"))
            .select(
                "period_key",
                F.md5(F.concat_ws("|", "db", "generation", "period_key", "path")),
            )
            .collect()
        )
        for name, values in zip(("period_key", "content_hash"), zip(*keys)):
            i = rows.schema.get_field_index(name)
            rows = rows.set_column(i, rows.field(i), pa.array(values, pa.string()))
        self._write_catalog(rows, self.catalog_path)

    def restore_incremental(
        self, db: str, table: str, until_period_key: str | None = None
    ) -> DataFrame:
        """Union every snapshot of (db, table) in period order — the
        read side of run_incremental (full state = base + deltas).

        Matches on the catalog's ``table_name`` column (NOT a path
        substring — 'orders' must never swallow 'orders-archive'
        snapshots). Pass ``until_period_key`` for a point-in-time
        restore of the state as of that snapshot (inclusive).

        The path list comes from ``_catalog_rows``, deduplicated and
        sorted in the driver; building the restore launches no Spark
        job. The snapshots are read by ``_read_snapshots``: one
        multi-path scan with the footers' Spark schema (no inference
        job) when every snapshot was written with the same schema, so
        an N-snapshot chain plans O(1) deep; otherwise the
        schema-evolution ladder.
        """
        # The `last` generation's period_key IS the snapshot key
        # (yyyyMMdd-HHmmss — lexicographic == temporal); Python's
        # code-point order equals Spark's UTF-8 byte order.
        paths = sorted({
            r.path
            for r in self._catalog_rows()
            if r.db == db
            and r.table_name == table
            and (
                until_period_key is None
                or (r.generation == "last" and r.period_key <= until_period_key)
            )
        })
        if not paths:
            raise FileNotFoundError(f"no snapshots for ({db}, {table})")
        return self._read_snapshots(paths)

    def _read_snapshots(self, paths: list[str]) -> DataFrame:
        """Read snapshot directories, in order, as one frame.

        With the Spark schema every snapshot's footer carries
        (``_snapshot_schema``) the read is one multi-path scan with
        that schema, which launches no schema-inference job. Without
        one each snapshot is read with inference and the reads are
        combined with ``unionByName(allowMissingColumns=True)``, which
        makes a column added between base and delta restore as null in
        pre-evolution rows; a single path is then a plain inferred
        read."""
        schema = self._snapshot_schema(paths)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        out = self.spark.read.parquet(paths[0])
        for p in paths[1:]:
            out = out.unionByName(
                self.spark.read.parquet(p), allowMissingColumns=True
            )
        return out

    @staticmethod
    def _snapshot_schema(paths: list[str]) -> StructType | None:
        """The Spark schema of the data columns every snapshot in
        ``paths`` was written with, or None when they do not all carry
        the same one.

        Spark's parquet writer stores the exact ``StructType`` of the
        written rows in each file's footer metadata
        (``SPARK_SCHEMA_KEY``); its reader infers a schema from that
        same entry, so reading with it gives the inferred read's
        columns, types and order. The footer of the first file
        ``parquet_data_files`` lists is read for each snapshot, by
        pyarrow in this process, no Spark job; older backups carry the
        entry too. None (the caller's inference path) when a snapshot
        has no data file or is partitioned (its
        partition columns are typed from directory names, and each
        partitioned snapshot is its own partition root, which no
        multi-path read accepts), a footer is unreadable or lacks the
        entry, or two snapshots' schemas differ in any name, type,
        nullability or metadata."""
        import pyarrow.parquet as pq

        def footer_schema(path: str) -> StructType | None:
            files = parquet_data_files(path)
            root = os.path.normpath(path)
            if not files or any(os.path.dirname(f) != root for f in files):
                return None  # no data, or partitioned
            raw = (pq.read_metadata(files[0]).metadata or {}).get(SPARK_SCHEMA_KEY)
            return StructType.fromJson(json.loads(raw)) if raw else None

        try:
            first = footer_schema(paths[0])
            if first is None:
                return None
            for p in paths[1:]:
                if footer_schema(p) != first:
                    return None
            return first
        except (OSError, ValueError, KeyError, TypeError):
            # unreadable footer (pyarrow raises OSError/ValueError
            # subclasses) or a schema entry Spark's JSON parser rejects
            return None

    # -- catalog state (the reference's directory listing, explicit) --

    @property
    def catalog_path(self) -> str:
        return os.path.join(self.config.backup_dir, "_catalog")

    def _catalog_partitions(self) -> list[str]:
        """The catalog's ``generation=<g>`` directories, sorted; none
        when the catalog was never written or every row was pruned.
        Partitioned by generation as the reference's
        last/daily/weekly/monthly dirs are (SURVEY §1.2/§4.1)."""
        try:
            return sorted(
                e.path
                for e in os.scandir(self.catalog_path)
                if e.is_dir() and e.name.startswith("generation=")
            )
        except FileNotFoundError:
            return []

    def _catalog_table(self):
        """The catalog as one Arrow table of ``CATALOG_SCHEMA``, read
        by pyarrow in the driver: no Spark job. Generation comes from
        the directory name. Catalogs Spark wrote store ``snapshot_ts``
        as INT96, which is read at microsecond precision as the UTC
        instant it is. An unreadable file (a truncated one has no
        footer) raises RuntimeError: no row is skipped, and no caller
        mistakes it for a missing snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = _arrow_catalog_schema()
        file_schema = schema.remove(schema.get_field_index("generation"))
        tables = [schema.empty_table()]
        for part in self._catalog_partitions():
            generation = os.path.basename(part).partition("=")[2]
            for f in parquet_data_files(part):
                try:
                    t = (
                        pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
                        .read(columns=file_schema.names)
                        .cast(file_schema)
                    )
                except (OSError, ValueError) as e:
                    raise RuntimeError(f"catalog file unreadable: {f}") from e
                tables.append(
                    t.append_column(
                        schema.field("generation"),
                        pa.array([generation] * t.num_rows, pa.string()),
                    )
                )
        return pa.concat_tables(tables)

    def _catalog_rows(self) -> list[CatalogRow]:
        """``_catalog_table`` as ``CatalogRow``s, with ``snapshot_ts``
        as UTC microseconds."""
        import pyarrow as pa

        t = self._catalog_table()
        i = t.schema.get_field_index("snapshot_ts")
        t = t.set_column(i, "snapshot_ts", t.column(i).cast(pa.int64()))
        return [CatalogRow(**r) for r in t.to_pylist()]

    @staticmethod
    def _write_catalog(rows, dest: str) -> None:
        """Add ``rows``, an Arrow table of ``CATALOG_SCHEMA``, to the
        catalog at ``dest``: one new parquet file per ``generation=<g>``
        directory, holding the other columns.

        Each file is written under a dot-prefixed name, which the
        reader does not list, and is checked before any is renamed
        into place: its footer row count must equal the rows given
        (A11), or every staged file is removed and RuntimeError
        raised."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(dest, exist_ok=True)
        staged: list[tuple[str, str]] = []
        try:
            for generation in rows.column("generation").unique().to_pylist():
                group = rows.filter(pc.equal(rows["generation"], generation))
                group = group.drop_columns("generation")
                part = os.path.join(dest, f"generation={generation}")
                os.makedirs(part, exist_ok=True)
                name = f"part-{uuid.uuid4().hex}.parquet"
                tmp = os.path.join(part, "." + name)
                staged.append((tmp, os.path.join(part, name)))
                # the parquet types alone read back as the catalog schema
                pq.write_table(group, tmp, store_schema=False)
                n = pq.read_metadata(tmp).num_rows
                if n != group.num_rows:
                    raise RuntimeError(
                        f"catalog verify failed for {part}: the staged file "
                        f"holds {n} rows, {group.num_rows} were given"
                    )
        except BaseException:
            for tmp, _ in staged:
                if os.path.exists(tmp):
                    os.remove(tmp)
            raise
        for tmp, final in staged:
            os.rename(tmp, final)

    def catalog(self) -> DataFrame:
        """The catalog as a frame: ``_catalog_table`` shipped to Spark
        as a local relation. Building and collecting it launch no
        Spark job, and the frame holds the rows read when it was
        built, so a later rewrite of the catalog files does not
        change it. An empty catalog (never written, or every row
        pruned) is the empty frame with the same schema."""
        return self.spark.createDataFrame(self._catalog_table(), CATALOG_SCHEMA)

    # -- retention (backup.sh:90-122) --

    def generation_state(self) -> DataFrame:
        """Keep-newest-per-period view of the catalog (A14)."""
        return keep_newest_per_period(self.catalog())

    def latest(self) -> DataFrame:
        """`-latest` pointers (A15), honoring latest_type='none'."""
        pointers = latest_pointers(self.catalog(), self.config.suffix)
        if self.config.latest_type == "none":  # backup.sh:113
            return pointers.where(F.lit(False))  # folds to an empty relation
        return pointers

    def retention_plan(self) -> DataFrame:
        return retention_plan(self.generation_state(), self.config.retention)

    def restore(self, db: str, table: str, period_key: str | None = None) -> DataFrame:
        """Read a snapshot back — the restore path the reference leaves
        to manual `RESTORE` invocation. Defaults to the newest snapshot
        of (db, table); pass a period_key for point-in-time restore.
        The lookup reads ``_catalog_rows``: no Spark job."""
        rows = [
            r
            for r in self._catalog_rows()
            if r.db == db
            and r.table_name == table
            and (period_key is None or r.period_key == period_key)
        ]
        if not rows:
            raise FileNotFoundError(
                f"no snapshot found for ({db}, {table}, {period_key or 'latest'})"
            )
        return self._read_snapshots([_newest(rows).path])

    def prune(
        self, plan: DataFrame | None = None, apply: bool = False
    ) -> DataFrame:
        """The delete set (find…rm analog of backup.sh:119-122),
        ``prune_delete_set(plan)``; ``plan`` must come from this
        engine's ``retention_plan()`` (the default): a plan covering
        part of the catalog deletes only its own not-kept rows.

        With ``apply=False`` (default) only returns the delete set,
        mirroring how backup.sh separates listing (``find``) from
        action (``rm``).

        With ``apply=True`` it also rewrites the catalog without them
        and then removes the snapshot dirs — the `-exec rm -rvf` side;
        a failed rewrite removes nothing, and an empty delete set
        rewrites and removes nothing. One path is registered under all
        four generations (backup.sh's hardlink fan-out), so a dir is
        only removed when NO kept generation row still references it.
        The plan is collected once. It reads the catalog rows the
        driver shipped to Spark when it was built, not the catalog
        files, so neither the set returned here nor one a listing
        returned earlier changes with the rewrite.
        """
        plan = plan if plan is not None else self.retention_plan()
        if not apply:
            return prune_delete_set(plan)
        rows = plan.select("db", "generation", "path", "snapshot_id", "keep").collect()
        kept = {(db, gen, path) for db, gen, path, _, keep in rows if keep == 1}
        deleted = [r for r in rows if r[:3] not in kept]
        if not deleted:
            return prune_delete_set(plan)
        doomed = {r.path for r in deleted} - {path for _, _, path in kept}
        backup_root = os.path.realpath(self.config.backup_dir)
        real_paths = {p: os.path.realpath(p) for p in sorted(doomed)}
        for path, real in real_paths.items():
            # refuse to rm anything that escaped the backup volume
            if os.path.commonpath([backup_root, real]) != backup_root:
                raise ValueError(f"prune path outside backup_dir: {path}")
        # Publish the rewritten catalog before removing anything: a
        # failed rewrite leaves every cataloged snapshot on disk.
        self._rewrite_catalog_excluding({r.snapshot_id for r in deleted}, doomed)
        for real in real_paths.values():
            if os.path.isdir(real):
                shutil.rmtree(real)
            elif os.path.exists(real):
                os.remove(real)
        return prune_delete_set(plan)

    def _rewrite_catalog_excluding(
        self, snapshot_ids: set[int], doomed_paths: set[str]
    ) -> None:
        """Staged-atomic catalog rewrite, one filter of
        ``_catalog_table`` dropping the rows in ``snapshot_ids`` (the
        per-generation "hardlink" entries, mirroring the
        per-generation-dir rm) and any row on a ``doomed_paths`` path
        (superseded rows that would otherwise dangle). The survivors
        are written to ``<catalog>-new`` by ``_write_catalog``, which
        checks each file's footer count, before it replaces the old
        catalog."""
        rows = self._catalog_table()
        survivors = rows.filter([
            i not in snapshot_ids and p not in doomed_paths
            for i, p in zip(rows["snapshot_id"].to_pylist(), rows["path"].to_pylist())
        ])
        staging = self.catalog_path + "-new"
        if os.path.exists(staging):  # a leftover of an interrupted rewrite
            shutil.rmtree(staging)
        self._write_catalog(survivors, staging)
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
        resolve "latest" from the filesystem alone. The targets are
        ``latest()``'s rows, worked out from ``_catalog_rows`` in the
        driver: no Spark job.
        """
        if self.config.latest_type == "none":
            return []
        by_key: dict[tuple[str, str], list[CatalogRow]] = {}
        for r in self._catalog_rows():
            by_key.setdefault((r.db, r.generation), []).append(r)
        written: list[str] = []
        for (db, generation), rows in sorted(by_key.items()):
            gen_dir = os.path.join(self.config.backup_dir, generation)
            os.makedirs(gen_dir, exist_ok=True)
            ptr = os.path.join(gen_dir, f"{db}-latest{self.config.suffix}")
            if os.path.islink(ptr) or os.path.isfile(ptr):
                os.remove(ptr)
            elif os.path.isdir(ptr):
                shutil.rmtree(ptr)
            target = _newest(rows).path
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
        every active streaming query in the session. A catalog file the
        driver cannot read makes ``ok`` False, with ``catalog_rows``
        None."""
        from clickhousebackup_spark.streaming.engine import session_health

        streams = session_health(self.spark)
        ok = True
        try:
            validate_backup_dir(self.config.backup_dir)
        except Exception:
            ok = False
        try:
            catalog_rows = self._catalog_table().num_rows
        except (RuntimeError, OSError):  # an unreadable catalog file
            ok, catalog_rows = False, None
        return {
            "ok": ok and streams["ok"],
            "backup_dir": self.config.backup_dir,
            "catalog_rows": catalog_rows,
            "streams": streams,
        }

    def restore_latest(self, db: str, generation: str = "last") -> DataFrame:
        """Restore by convention: read the on-disk ``<db>-latest``
        pointer (no catalog needed — the property backup.sh's symlinks
        exist to provide), with the footer schema like ``restore``."""
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
        return self._read_snapshots([real])


def _newest(rows: list[CatalogRow]) -> CatalogRow:
    """The newest of ``rows``: the greatest (snapshot_ts, snapshot_id),
    the order ``latest_pointers`` and ``keep_newest_per_period`` use."""
    return max(rows, key=lambda r: (r.snapshot_ts, r.snapshot_id))
