"""The engine's catalog: what one run appends and how it is read.

A run registers its snapshots with one append of rows the driver
builds as an Arrow table, period keys and content hashes included.
Those rows must equal, row for row, the rows the
``createDataFrame`` build registered: all nine columns,
``snapshot_id`` included, whatever Python's local zone is and whatever
characters the snapshot paths hold; a naive ``now`` is UTC, so the
`last` period key is the snapshot's key and restores it. Reading the
catalog must not log Spark's "All paths were ignored" warning, which
the hidden ``_catalog`` root used to trigger.

The engine reads the catalog files in the driver only
(``_catalog_table``); ``catalog()`` serves the same rows to Spark.
Both must agree row for row with Spark's own read of the newest
version file, and with Spark's read of a catalog Spark wrote before
versions once the first commit has folded it in, and choose the same
newest snapshot on tied timestamps. An unreadable catalog file fails every
reader loudly, and ``health()`` reports it.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.catalog import period_key_expr
from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig, RetentionPolicy
from clickhousebackup_spark.backup.snapshot import SnapshotResult
from clickhousebackup_spark.engine import CATALOG_COLUMNS, CATALOG_SCHEMA, BackupEngine
from clickhousebackup_spark.sources.readers import ConnectorUnavailable
from clickhousebackup_spark.tables import parquet_data_files
from tests.test_engine_prune import _tree


@pytest.fixture(params=["UTC", "America/New_York"])
def local_tz(request, monkeypatch):
    """Python's local zone, which both builds apply to naive datetimes."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def _reference(spark, runs, seq=0):
    """The catalog rows as the per-table ``createDataFrame`` build made
    them: ids from ``seq`` in results order, then ``GENERATIONS``
    order; a naive ``now`` is UTC."""
    rows = []
    for results, now in runs:
        utc = now.replace(tzinfo=dt.timezone.utc)
        for res in results:
            for gen in GENERATIONS:
                rows.append((res.db, res.table, "", utc, seq, res.path, "", res.n_rows, gen))
                seq += 1
    return (
        spark.createDataFrame(rows, CATALOG_SCHEMA)
        .withColumn("period_key", period_key_expr("snapshot_ts", "generation"))
        .withColumn(
            "content_hash",
            F.md5(F.concat_ws("|", "db", "generation", "period_key", "path")),
        )
    )


def _rows(df):
    return sorted(
        tuple(r)
        for r in df.select(
            *CATALOG_COLUMNS, F.unix_micros("snapshot_ts").alias("ts_us")
        ).collect()
    )


def test_catalog_rows_equal_the_create_dataframe_build(spark, tmp_path, local_tz):
    backup_dir = tmp_path / "it's a dir"
    backup_dir.mkdir()
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0,db1", user="u", password="p", backup_dir=str(backup_dir),
    ))

    def tables(n):
        src = spark.range(n).select(F.col("id").alias("k"))
        return {"db0": {"orders": src, "lineitem": src.limit(2)}, "db1": {"t": src}}

    runs = []
    # a local-time DST gap in New York, then a summer night with micros
    for run, now in (
        (engine.run_backup, dt.datetime(2024, 3, 10, 2, 30, 15, 123456)),
        (engine.run_incremental, dt.datetime(2024, 7, 1, 23, 59, 59, 999999)),
    ):
        runs.append((run(tables(3 + len(runs)), now=now), now))
    # Spark's reader treats a backslash in a path as a glob escape, so
    # no snapshot can live in such a directory; the row build is given
    # one directly.
    odd = [SnapshotResult("db0", "orders", "k", str(backup_dir / "a\\'b"), 7)]
    now = dt.datetime(2024, 7, 2)
    engine._register(odd, now)
    runs.append((odd, now))

    got = _rows(engine.catalog())
    assert len(got) == (3 + 3 + 1) * len(GENERATIONS)
    assert sum(r[CATALOG_COLUMNS.index("path")].endswith("a\\'b") for r in got) == len(GENERATIONS)
    assert got == _rows(_reference(spark, runs))
    # the `last` period key of each run is its snapshot's key
    for results, _ in runs[:2]:
        for res in results:
            assert engine.restore(res.db, res.table, res.period_key).columns == ["k"]


def test_an_aware_now_is_converted_to_utc(spark, tmp_path):
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    now = dt.datetime(2024, 1, 2, 3, tzinfo=dt.timezone(dt.timedelta(hours=-5)))
    (res,) = engine.run_backup({"db0": {"t": spark.range(3)}}, now=now)
    assert res.period_key == "20240102-080000"
    last = {r.period_key for r in engine._catalog_rows() if r.generation == "last"}
    assert last == {res.period_key}


def _capture_spark_log(spark):
    """Attach a log4j appender to the JVM's root logger; returns
    (read, detach)."""
    log4j = spark._jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = spark._jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(),
        None, writer, "test-engine-catalog", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()

    def detach():
        root.removeAppender("test-engine-catalog")
        ctx.updateLoggers()
        appender.stop()

    return writer.toString, detach


def test_catalog_read_logs_no_ignored_paths_warning(spark, tmp_path):
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    engine.run_backup({"db0": {"t": spark.range(3)}}, now=dt.datetime(2024, 1, 1))
    read, detach = _capture_spark_log(spark)
    try:
        assert engine.catalog().count() == len(GENERATIONS)
        # the capture itself works: a WARN logged now is seen
        spark._jvm.org.apache.logging.log4j.LogManager.getLogger(
            "test-engine-catalog"
        ).warn("capture probe")
        log = read()
    finally:
        detach()
    assert "capture probe" in log
    assert "All paths were ignored" not in log


def _newest_version(engine) -> str:
    """The catalog's newest version file, the one its readers open."""
    return max(glob.glob(os.path.join(glob.escape(engine.catalog_path), "*.parquet")))


def test_catalog_read_equals_the_catalog_root_read(spark, tmp_path):
    """The driver's read gives Spark's read of the newest version file
    (its relative paths joined to ``backup_dir``): rows, columns and
    schema; a catalog pruned to nothing is the empty frame with the
    catalog schema."""
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=-1, keep_days=-1, keep_weeks=-1, keep_months=-1),
    ))
    for day in (1, 2):
        engine.run_backup({"db0": {"t": spark.range(day)}}, now=dt.datetime(2024, 1, day))
    root = spark.read.schema(CATALOG_SCHEMA).parquet(_newest_version(engine)).withColumn(
        "path", F.concat(F.lit(str(tmp_path) + os.sep), "path")
    )
    cat = engine.catalog()
    assert cat.schema == root.schema and cat.columns[-1] == "generation"
    assert sorted(cat.collect()) == sorted(root.collect())

    engine.prune(apply=True)
    assert not any(
        n.startswith("generation=") for n in os.listdir(engine.catalog_path)
    )
    empty = engine.catalog()
    assert empty.collect() == []
    assert empty.schema == cat.schema


def _mixed_catalog(spark, tmp_path):
    """A catalog Spark wrote before versions (INT96 timestamps, a
    ``_SUCCESS`` file), which the engine's first commit folds into its
    versions, then the engine's own appends. Every row of db0.t shares
    one timestamp; the legacy rows' ids lie below the engine's, whose
    last append wins every tie. One path holds a quote. Returns the
    engine and the rows it must hold: Spark's read of the legacy
    catalog plus the rows the engine registered."""
    backup_dir = tmp_path / "it's a dir"
    backup_dir.mkdir()
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0,db1", user="u", password="p", backup_dir=str(backup_dir),
    ))
    tie = dt.datetime(2024, 1, 5, 3, 4, 5, 678901)
    legacy = [
        SnapshotResult("db0", "t", "k", str(backup_dir / "legacy-t"), 3),
        SnapshotResult("db1", "u", "k", str(backup_dir / "legacy-u"), 4),
    ]
    _reference(spark, [(legacy, tie)], seq=6).write.mode("append").partitionBy(
        "generation"
    ).parquet(engine.catalog_path)
    # the legacy catalog really is Spark's: INT96 and a _SUCCESS marker
    assert os.path.exists(os.path.join(engine.catalog_path, "_SUCCESS"))
    schemas = [pq.ParquetFile(f).schema for f in parquet_data_files(engine.catalog_path)]
    kinds = {s.column(s.names.index("snapshot_ts")).physical_type for s in schemas}
    assert kinds == {"INT96"}
    legacy_rows = _micros_rows(spark.read.schema(CATALOG_SCHEMA).parquet(engine.catalog_path))
    assert sorted(tuple(r) for r in engine._catalog_rows()) == legacy_rows

    first = [
        SnapshotResult("db0", "t", "k", str(backup_dir / "t-a"), 5),
        SnapshotResult("db0", "t", "k", str(backup_dir / "t-it's"), 6),
    ]
    engine._register(first, tie)
    # the fold left one version and none of the legacy files
    assert os.listdir(engine.catalog_path) == [os.path.basename(_newest_version(engine))]
    u = engine.run_backup(
        {"db1": {"u": spark.range(2).select(F.col("id").alias("k"))}},
        now=dt.datetime(2024, 2, 1),
    )
    late = [SnapshotResult("db0", "t", "k", str(backup_dir / "t-late"), 7)]
    engine._register(late, tie)
    s = pq.ParquetFile(_newest_version(engine)).schema
    assert s.column(s.names.index("snapshot_ts")).physical_type == "INT64"
    new = _reference(spark, [(first, tie), (u, dt.datetime(2024, 2, 1)), (late, tie)], seq=14)
    return engine, sorted(legacy_rows + _micros_rows(new))


def _micros_rows(df):
    return sorted(
        tuple(r)
        for r in df.select(*[
            F.unix_micros(c).alias(c) if c == "snapshot_ts" else c
            for c in CATALOG_COLUMNS
        ]).collect()
    )


def test_driver_catalog_rows_equal_the_spark_read(spark, tmp_path):
    engine, expected = _mixed_catalog(spark, tmp_path)
    got = engine._catalog_rows()
    assert len(got) == (2 + 2 + 1 + 1) * len(GENERATIONS)
    assert sorted(tuple(r) for r in got) == expected
    assert _micros_rows(engine.catalog()) == expected
    assert engine.health()["catalog_rows"] == len(got)


def test_driver_lookups_equal_the_spark_answers_on_ties(spark, tmp_path, monkeypatch):
    """``materialize_latest`` points where ``latest()`` does, and
    ``restore``/``restore_incremental`` read the paths the catalog
    frame's orderBy/limit and distinct path list give."""
    engine, _ = _mixed_catalog(spark, tmp_path)
    written = engine.materialize_latest()
    pointers = {
        (r["generation"], r["pointer_name"]): os.path.realpath(r["latest_target"])
        for r in engine.latest().collect()
    }
    assert len(written) == len(pointers) == 2 * len(GENERATIONS)
    assert {
        (os.path.basename(os.path.dirname(p)), os.path.basename(p)): os.path.realpath(p)
        for p in written
    } == pointers

    monkeypatch.setattr(engine, "_read_snapshots", lambda paths: paths)
    cat = engine.catalog()
    for db, table in (("db0", "t"), ("db1", "u")):
        rows = cat.filter((F.col("db") == db) & (F.col("table_name") == table))
        for period_key in (None, *sorted({r.period_key for r in rows.collect()})):
            keyed = rows if period_key is None else rows.filter(F.col("period_key") == period_key)
            newest = (
                keyed.orderBy(F.col("snapshot_ts").desc(), F.col("snapshot_id").desc())
                .select("path").limit(1).collect()
            )
            assert engine.restore(db, table, period_key) == [newest[0]["path"]]
        paths = sorted(r["path"] for r in rows.select("path").distinct().collect())
        assert engine.restore_incremental(db, table) == paths
    assert engine.restore("db0", "t")[0].endswith("t-late")
    assert engine.restore_incremental("db0", "t", "20240105-030405") == sorted(
        str(tmp_path / "it's a dir" / n) for n in ("legacy-t", "t-a", "t-it's", "t-late")
    )


def test_truncated_catalog_file_fails_restore_and_backup(spark, tmp_path):
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    src = {"db0": {"t": spark.range(3).select(F.col("id").alias("k"))}}
    for day in (1, 2):
        engine.run_backup(src, now=dt.datetime(2024, 1, day))
    victim = _newest_version(engine)
    with open(victim, "rb") as f:
        head = f.read()[:100]
    with open(victim, "wb") as f:
        f.write(head)
    with pytest.raises(RuntimeError, match="catalog file unreadable"):
        engine.restore("db0", "t")
    with pytest.raises(RuntimeError, match="catalog file unreadable"):
        engine.restore_incremental("db0", "t")
    with pytest.raises(RuntimeError, match="catalog file unreadable"):
        engine.run_backup(src, now=dt.datetime(2024, 1, 3))
    with pytest.raises(RuntimeError, match="catalog file unreadable"):
        engine.run_incremental(src, now=dt.datetime(2024, 1, 4))


def test_health_reports_a_truncated_catalog_file(spark, tmp_path, monkeypatch):
    """Catalog reachability: ``health()`` answers ``ok: False`` for a
    catalog file the driver cannot read, where every reader raises.
    The session's streams are stubbed healthy, so only the catalog
    can flip ``ok``."""
    import clickhousebackup_spark.streaming.engine as streaming

    monkeypatch.setattr(streaming, "session_health", lambda spark: {"ok": True})
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    engine.run_backup({"db0": {"t": spark.range(3)}}, now=dt.datetime(2024, 1, 1))
    assert engine.health()["ok"] is True
    victim = _newest_version(engine)
    with open(victim, "rb") as f:
        head = f.read()[:100]
    with open(victim, "wb") as f:
        f.write(head)
    health = engine.health()
    assert health["ok"] is False
    assert health["catalog_rows"] is None


def test_a_short_catalog_file_is_never_published(spark, tmp_path, monkeypatch):
    """The footer check of ``_commit``: a file holding fewer
    rows than it was given raises, and no file of the write (staged
    or renamed) is left in the catalog."""
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    engine.run_backup({"db0": {"t": spark.range(3)}}, now=dt.datetime(2024, 1, 1))
    before = _tree(engine.catalog_path)
    real = pq.write_table
    monkeypatch.setattr(pq, "write_table", lambda t, where, **kw: real(t.slice(1), where, **kw))
    with pytest.raises(RuntimeError, match="catalog verify failed"):
        engine.run_backup({"db0": {"t": spark.range(3)}}, now=dt.datetime(2024, 1, 2))
    assert _tree(engine.catalog_path) == before


def test_engine_without_pyarrow_raises_connector_unavailable(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(sys.modules, "pyarrow", None)
    with pytest.raises(ConnectorUnavailable, match="pyarrow"):
        BackupEngine(spark, BackupConfig(
            host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        ))
