"""Spark job counts of the backup path on a tiny local table.

Each count is read back from the status tracker for a job group set
around one call, so a change that adds a pass over the data (a count
before the write, a reread of the staged files), runs catalog-sized
work as Spark jobs (schema inference of the catalog or of a restored
snapshot, a catalog lookup, the catalog append or rewrite, the latest
pointers), or appends to the catalog more than once per run fails
here in the quick tier.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os

from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import BackupConfig, RetentionPolicy
from clickhousebackup_spark.backup.snapshot import snapshot_table
from clickhousebackup_spark.engine import BackupEngine

_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"test-backup-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _source(spark, n):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )


def _engine(spark, backup_dir) -> BackupEngine:
    backup_dir.mkdir()
    return BackupEngine(
        spark,
        BackupConfig(
            host="h", dbs="db0", user="u", password="p",
            backup_dir=str(backup_dir),
        ),
    )


def test_snapshot_of_a_flat_source_is_one_job(spark, tmp_path):
    # the write counts its rows and the verify reads footers only
    src = _source(spark, 20)
    assert _jobs(spark, lambda: snapshot_table(src, str(tmp_path), "db0", "t", "k")) == 1


def test_catalog_read_launches_no_job(spark, tmp_path):
    engine = _engine(spark, tmp_path / "b")
    engine.run_backup({"db0": {"t": _source(spark, 5)}}, now=dt.datetime(2024, 1, 1))
    assert _jobs(spark, engine.catalog) == 0


def test_catalog_frames_are_local_relations(spark, tmp_path):
    """``catalog()`` is a local relation built in the driver, so Spark
    never reads the catalog files, and neither it nor the retention
    plan over it launches a job to build; collecting the catalog
    launches none either."""
    engine = _engine(spark, tmp_path / "b")
    engine.run_backup({"db0": {"t": _source(spark, 5)}}, now=dt.datetime(2024, 1, 1))
    plan = engine.catalog()._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert _jobs(spark, engine.retention_plan) == 0
    assert _jobs(spark, lambda: engine.catalog().collect()) == 0


def test_restore_builds_launch_no_inference_job(spark, tmp_path):
    """Building a restore launches no job: the catalog lookup reads the
    catalog in the driver, and the snapshot schema comes from the
    parquet footers, not from an inference job."""
    engine = _engine(spark, tmp_path / "b")
    for day in (1, 2):
        engine.run_backup({"db0": {"t": _source(spark, 5 * day)}}, now=dt.datetime(2024, 1, day))
    assert _jobs(spark, lambda: engine.restore("db0", "t")) == 0
    assert _jobs(spark, lambda: engine.restore_incremental("db0", "t")) == 0
    assert _jobs(spark, lambda: engine.restore_latest("db0")) == 0


def test_a_multi_table_run_makes_one_catalog_append(spark, tmp_path, monkeypatch):
    appends = []
    real = BackupEngine._commit

    def counting_commit(self, change):
        appends.append(change)
        real(self, change)

    monkeypatch.setattr(BackupEngine, "_commit", counting_commit)
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0,db1", user="u", password="p", backup_dir=str(tmp_path),
    ))
    tables = {
        "db0": {"a": _source(spark, 3), "b": _source(spark, 4)},
        "db1": {"c": _source(spark, 5)},
    }
    engine.run_backup(tables, now=dt.datetime(2024, 1, 1))
    assert len(appends) == 1
    engine.run_incremental(tables, now=dt.datetime(2024, 1, 2))
    assert len(appends) == 2
    assert engine.catalog().count() == 2 * 3 * 4


def test_backup_and_incremental_runs_job_counts(spark, tmp_path):
    """Two runs of each kind over two tables of one db.

    Per table: run_backup launches 1 job (the snapshot write).
    run_incremental's first run launches 1 too (the `_new_rows` lookup
    finds no catalog); its second launches 4 (the diff's write, which
    runs as 4 jobs under AQE; the catalog lookup is read in the driver
    and the restore read knows its schema from the footers). Per run,
    the catalog append (a collect of a local relation, then a pyarrow
    write) and the latest pointers launch none. The two tables'
    pipelines run on the engine's worker threads: their jobs count here
    only through the job group the threads inherit, and the counts show
    the threads add no job.
    """
    full = _engine(spark, tmp_path / "full")
    incremental = _engine(spark, tmp_path / "incr")

    def tables(n):
        return {"db0": {"a": _source(spark, n), "b": _source(spark, n + 1)}}

    def runs(run):
        return [
            _jobs(spark, lambda i=i: run(tables(10 * (i + 1)), now=dt.datetime(2024, 1, 1 + i)))
            for i in range(2)
        ]

    assert runs(full.run_backup) == [2 * 1, 2 * 1]
    assert runs(incremental.run_incremental) == [2 * 1, 2 * 4]


def test_prune_plans_the_retention_window_once(spark, tmp_path):
    """Two tables, two nights, a policy that expires the first night.

    The plan's one collect (kept rows, delete ids and doomed paths)
    launches 5 jobs under AQE; the plan reads the catalog as a local
    relation, and the catalog rewrite is read and written in the
    driver. Planning the retention window again for the delete set or
    the kept paths adds jobs here."""
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=720, keep_days=0),
    ))
    for day in (1, 2):
        tables = {"db0": {"a": _source(spark, 5), "b": _source(spark, 6)}}
        engine.run_backup(tables, now=dt.datetime(2024, 1, day))
    assert _jobs(spark, lambda: engine.prune(engine.retention_plan(), apply=True)) == 5
    assert sorted(os.listdir(tmp_path / "db0")) == ["a-20240102-000000", "b-20240102-000000"]
