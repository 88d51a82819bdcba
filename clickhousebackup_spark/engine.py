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

The catalog is driver-side metadata, as the reference's directory
listing is. It is a series of numbered full-state files,
``<backup_dir>/_catalog/<n:020d>.parquet``, each holding every row in
``CATALOG_SCHEMA``; the newest is the catalog. Only the driver reads
(``_catalog_table``, one file) and writes (``_commit``) them, with
pyarrow, so registration, the latest pointers, the restore lookups and
the prune launch no Spark job. A commit publishes version n + 1 with
one ``os.link``, which fails if another engine published it first, so
the commit re-reads and re-applies its change (the single atomic
``ln -f`` of backup.sh:77-115; a Delta Lake log commit). Rows store
snapshot paths relative to ``backup_dir``, so a moved backup volume
restores. The relational surface (``catalog()``,
``generation_state()``, ``latest()``, ``retention_plan()``) runs over
the newest version shipped to Spark as a local relation.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import re
import shutil
import uuid
from collections import namedtuple
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

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

#: the catalog's one schema, for its version files, frames and driver
#: rows; a catalog written before versions stored generation as its
#: ``generation=<g>`` directory name
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
        ``results`` to the catalog in one ``_commit``.

        The driver builds the rows from ``now``, a naive UTC datetime:
        the period keys (``_period_keys``) and the content hash, an md5
        over ``db|generation|period_key|path``, with no Spark call, so
        neither follows the session time zone.

        The ids continue past both this engine's count and the largest
        ``snapshot_id`` of the version the commit extends: an engine
        over a ``backup_dir`` that an earlier engine or process wrote
        starts its count at 0 too, and ``prune`` deletes catalog rows
        by id. A commit that lost a race re-applies the append to the
        winner's version, so its ids move past the winner's."""
        if not results:
            return
        import pyarrow as pa

        n_gen = len(GENERATIONS)
        keys = _period_keys(now)

        def append(rows):
            seq = max(self._snapshot_seq, 1 + max(rows["snapshot_id"].to_pylist(), default=-1))
            self._snapshot_seq = seq + n_gen * len(results)
            new = [
                {"db": res.db, "table_name": res.table, "period_key": keys[gen],
                 "snapshot_ts": now, "snapshot_id": seq + n_gen * i + g, "path": res.path,
                 "content_hash": hashlib.md5(f"{res.db}|{gen}|{keys[gen]}|{res.path}".encode()).hexdigest(),
                 "size_bytes": res.n_rows, "generation": gen}
                for g, gen in enumerate(GENERATIONS)
                for i, res in enumerate(results)
            ]
            return pa.concat_tables([rows, pa.Table.from_pylist(new, schema=rows.schema)])

        self._commit(append)

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

    def _catalog_table(self, retry: bool = True):
        """The catalog as ``(n, table)``: the newest version number
        (0 when there is none) and its rows, an Arrow table of
        ``CATALOG_SCHEMA`` with absolute paths, read by pyarrow in the
        driver from one file: no Spark job.

        A catalog written before versions has no version file; it is
        read from its ``generation=<g>`` directories as version 0, with
        generation from the directory name, and ``snapshot_ts``, which
        Spark stored as INT96, at microsecond precision as the UTC
        instant it is. A version removed between the listing and the
        read (two later commits) is read again once, at the newest. An
        unreadable file (a truncated one has no footer) raises
        RuntimeError: no row is skipped, and no caller mistakes it for
        a missing snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema, root = _arrow_catalog_schema(), self.config.backup_dir
        names = sorted(os.listdir(self.catalog_path)) if os.path.isdir(self.catalog_path) else []
        versions = [name for name in names if _version(name) is not None]
        files = [(os.path.join(self.catalog_path, v), None) for v in versions[-1:]] or [
            (f, n.partition("=")[2])
            for n in names
            if n.startswith("generation=")
            for f in parquet_data_files(os.path.join(self.catalog_path, n))
        ]
        tables = [schema.empty_table()]
        for f, generation in files:
            try:
                t = pq.ParquetFile(f, coerce_int96_timestamp_unit="us").read()
            except (OSError, ValueError) as e:
                if retry and isinstance(e, FileNotFoundError):
                    return self._catalog_table(retry=False)
                raise RuntimeError(f"catalog file unreadable: {f}") from e
            if generation is not None:
                t = t.append_column("generation", pa.array([generation] * t.num_rows, pa.string()))
            tables.append(t.select(schema.names).cast(schema))
        rows = _map_paths(pa.concat_tables(tables), lambda p: os.path.join(root, p))
        return (_version(versions[-1]) if versions else 0), rows

    def _catalog_rows(self) -> list[CatalogRow]:
        """``_catalog_table`` as ``CatalogRow``s, with ``snapshot_ts``
        as UTC microseconds."""
        import pyarrow as pa

        _, t = self._catalog_table()
        i = t.schema.get_field_index("snapshot_ts")
        t = t.set_column(i, "snapshot_ts", t.column(i).cast(pa.int64()))
        return [CatalogRow(**r) for r in t.to_pylist()]

    def _commit(self, change) -> None:
        """The one write to the catalog: publish ``change(rows)`` of the
        newest version n as version n + 1.

        The result is written to a dot-prefixed file, which no reader
        lists, and checked: its footer row count must equal the rows
        given (A11), or it is removed and RuntimeError raised. It is
        published with ``os.link`` to the name of version n + 1, which
        fails if that name exists: another engine committed first, so
        the commit reads the new version and applies ``change`` again.
        Then the versions older than n go, with the files of a catalog
        written before versions (its ``generation=`` directories and
        Spark's ``_SUCCESS`` marker); version n stays, so a reader that
        listed it can still open it. A crash at any step leaves version
        n or n + 1 the newest, each whole. Paths are stored relative to
        ``backup_dir``, so the volume can move.

        Because old versions are removed, a commit stalled between its
        read and its link while other engines commit twice more could
        link a number they already removed, and be lost; commits take
        milliseconds, and nothing guards against such a stall."""
        import pyarrow.parquet as pq

        os.makedirs(self.catalog_path, exist_ok=True)
        while True:
            n, rows = self._catalog_table()
            rows = _map_paths(change(rows), lambda p: os.path.relpath(p, self.config.backup_dir))
            tmp = os.path.join(self.catalog_path, f".{uuid.uuid4().hex}.parquet")
            try:
                # the parquet types alone read back as the catalog schema
                pq.write_table(rows, tmp, store_schema=False)
                got = pq.read_metadata(tmp).num_rows
                if got != rows.num_rows:
                    raise RuntimeError(
                        f"catalog verify failed for {self.catalog_path}: the staged "
                        f"file holds {got} rows, {rows.num_rows} were given"
                    )
                os.link(tmp, os.path.join(self.catalog_path, f"{n + 1:020d}.parquet"))
                break
            except FileExistsError:
                continue  # version n + 1 is another engine's: apply to it
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)
        for name in os.listdir(self.catalog_path):
            path = os.path.join(self.catalog_path, name)
            v = _version(name)
            with contextlib.suppress(FileNotFoundError):  # another engine's cleanup
                if name.startswith("generation="):
                    shutil.rmtree(path)
                elif name in ("_SUCCESS", "._SUCCESS.crc") or (v is not None and v < n):
                    os.remove(path)

    def catalog(self) -> DataFrame:
        """The catalog as a frame: ``_catalog_table`` shipped to Spark
        as a local relation. Building and collecting it launch no
        Spark job, and the frame holds the rows read when it was
        built, so a later commit to the catalog does not change it.
        An empty catalog (never written, or every row pruned) is the
        empty frame with the same schema."""
        return self.spark.createDataFrame(self._catalog_table()[1], CATALOG_SCHEMA)

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

        With ``apply=True`` it also commits the catalog without them
        (one ``_commit`` of a filter) and then removes the snapshot
        dirs — the `-exec rm -rvf` side; a failed commit removes
        nothing, and an empty delete set commits and removes nothing.
        One path is registered under all four generations (backup.sh's
        hardlink fan-out), so a dir is only removed when NO kept
        generation row still references it. The plan is collected
        once. It reads the catalog rows the driver shipped to Spark
        when it was built, not the catalog files, so neither the set
        returned here nor one a listing returned earlier changes with
        the commit.

        Retention does not know incremental chains: it can delete the
        base and early deltas of a ``run_incremental`` chain while
        keeping the newest delta, and ``restore_incremental`` then
        returns only the kept deltas' rows, without an error. Prune
        incremental backup dirs with windows that keep every snapshot
        of a chain that must stay restorable.
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
        # Publish the catalog without the deleted rows (by id: one per
        # generation, the per-generation-dir rm) and without any row on a
        # doomed path (a superseded row that would dangle) before
        # removing anything: a failed commit leaves every snapshot.
        ids = {r.snapshot_id for r in deleted}
        self._commit(lambda rows: rows.filter([
            i not in ids and p not in doomed
            for i, p in zip(rows["snapshot_id"].to_pylist(), rows["path"].to_pylist())
        ]))
        for real in real_paths.values():
            if os.path.isdir(real):
                shutil.rmtree(real)
            elif os.path.exists(real):
                os.remove(real)
        return prune_delete_set(plan)

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
            if self.config.latest_type == "symlink":  # relative: the volume can move
                os.symlink(os.path.relpath(target, gen_dir), ptr)
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
            catalog_rows = self._catalog_table()[1].num_rows
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


def _map_paths(rows, fn):
    """``rows``, an Arrow table of ``CATALOG_SCHEMA``, with each path
    ``p`` replaced by ``fn(p)``."""
    import pyarrow as pa

    i = rows.schema.get_field_index("path")
    paths = [fn(p) for p in rows["path"].to_pylist()]
    return rows.set_column(i, rows.field(i), pa.array(paths, pa.string()))


def _version(name: str) -> int | None:
    """The number of a catalog version file, ``<n:020d>.parquet``; None
    for any other name."""
    m = re.fullmatch(r"([0-9]{20})\.parquet", name)
    return int(m[1]) if m else None


def _period_keys(now: dt.datetime) -> dict[str, str]:
    """The period key of each generation for ``now``, a naive UTC
    datetime, in backup.sh:26-29's ``date`` grammars: ``%Y%m%d-%H%M%S``,
    ``%Y%m%d``, ISO ``%G%V`` and ``%Y%m``."""
    year, week, _ = now.isocalendar()
    return {
        "last": now.strftime("%Y%m%d-%H%M%S"),
        "daily": now.strftime("%Y%m%d"),
        "weekly": f"{year}{week:02d}",
        "monthly": now.strftime("%Y%m"),
    }


def _newest(rows: list[CatalogRow]) -> CatalogRow:
    """The newest of ``rows``: the greatest (snapshot_ts, snapshot_id),
    the order ``latest_pointers`` and ``keep_newest_per_period`` use."""
    return max(rows, key=lambda r: (r.snapshot_ts, r.snapshot_id))
