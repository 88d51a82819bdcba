"""The engine's catalog: what one run appends and how it is read.

A run registers its snapshots with one append of rows built in the
JVM (a parsed ``VALUES`` relation with bound parameters). Those rows
must equal, row for row, the rows the ``createDataFrame`` build
registered: all nine columns, ``snapshot_id`` included, whatever
Python's local zone is and whatever characters the snapshot paths
hold. Reading the catalog must not log Spark's "All paths were
ignored" warning, which the hidden ``_catalog`` root used to trigger.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.catalog import period_key_expr
from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig, RetentionPolicy
from clickhousebackup_spark.backup.snapshot import SnapshotResult
from clickhousebackup_spark.engine import CATALOG_COLUMNS, CATALOG_SCHEMA, BackupEngine


@pytest.fixture(params=["UTC", "America/New_York"])
def local_tz(request, monkeypatch):
    """Python's local zone, which both builds apply to naive datetimes."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


def _reference(spark, runs):
    """The catalog rows as the per-table ``createDataFrame`` build made
    them: ids in results order, then ``GENERATIONS`` order."""
    rows, seq = [], 0
    for results, now in runs:
        for res in results:
            for gen in GENERATIONS:
                rows.append((res.db, res.table, gen, "", now, seq, res.path, "", res.n_rows))
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


def test_catalog_read_equals_the_catalog_root_read(spark, tmp_path):
    """The partition-directory read gives the root read's rows,
    columns and schema; a catalog pruned to nothing is the empty
    frame with the catalog schema."""
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=-1, keep_days=-1, keep_weeks=-1, keep_months=-1),
    ))
    for day in (1, 2):
        engine.run_backup({"db0": {"t": spark.range(day)}}, now=dt.datetime(2024, 1, day))
    root = spark.read.schema(CATALOG_SCHEMA).parquet(engine.catalog_path)
    cat = engine.catalog()
    assert cat.schema == root.schema and cat.columns[-1] == "generation"
    assert sorted(cat.collect()) == sorted(root.collect())

    engine.prune(apply=True)
    assert not any(
        n.startswith("generation=") for n in os.listdir(engine.catalog_path)
    )
    empty = engine.catalog()
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame([], CATALOG_SCHEMA).schema
