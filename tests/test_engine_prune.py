"""``BackupEngine.prune(apply=True)`` never leaves a catalog row that
points at a removed snapshot: the new catalog version is published
before any directory is removed, a plan that keeps nothing commits
an empty catalog, and a plan that deletes nothing leaves the
catalog files untouched."""

from __future__ import annotations

import datetime as dt
import os
import shutil
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import BackupConfig, RetentionPolicy
from clickhousebackup_spark.engine import BackupEngine


def _engine(spark, tmp_path, **retention) -> BackupEngine:
    eng = BackupEngine(
        spark,
        BackupConfig(
            host="h", dbs="db0", user="u", password="p",
            backup_dir=str(tmp_path),
            retention=RetentionPolicy(**retention),
        ),
    )
    t = spark.range(5).select(F.col("id").alias("k"))
    for year in (2023, 2024):
        eng.run_backup({"db0": {"t": t}}, now=dt.datetime(year, 1, 1))
    return eng


def test_prune_of_everything_empties_the_catalog(spark, tmp_path):
    eng = _engine(spark, tmp_path, keep_mins=-1, keep_days=-1, keep_weeks=-1, keep_months=-1)
    paths = {r["path"] for r in eng.catalog().select("path").collect()}
    assert len(paths) == 2

    eng.prune(apply=True)
    assert eng.catalog().count() == 0
    assert not os.path.exists(eng.catalog_path + "-new")
    assert not any(os.path.exists(p) for p in paths)
    with pytest.raises(FileNotFoundError):
        eng.restore("db0", "t")


def test_failed_catalog_rewrite_removes_no_snapshot(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path)  # default windows: the 2023 run expires

    def boom(*args, **kwargs):
        raise RuntimeError("rewrite failed")

    monkeypatch.setattr(BackupEngine, "_commit", boom)
    with pytest.raises(RuntimeError, match="rewrite failed"):
        eng.prune(apply=True)
    paths = {r["path"] for r in eng.catalog().select("path").collect()}
    assert len(paths) == 2
    assert all(os.path.isdir(p) for p in paths)


def test_a_listed_delete_set_still_collects_after_the_prune(spark, tmp_path):
    """List, apply, then collect the listing: it is the applied set.
    Frames built before the prune read the rows they were built from,
    even with the catalog directory gone."""
    eng = _engine(spark, tmp_path)  # default windows: the 2023 run expires
    cat, plan = eng.catalog(), eng.retention_plan()
    listed = eng.prune()
    applied = sorted(eng.prune(apply=True).collect())
    assert len(applied) == 4
    assert sorted(listed.collect()) == applied
    shutil.rmtree(eng.catalog_path)
    assert len(cat.collect()) == len(plan.collect()) == 2 * 4
    assert sorted(eng.prune(plan).collect()) == applied


def test_prune_removes_every_table_s_expired_snapshot(spark, tmp_path):
    """Two tables of one db, backed up nightly and pruned with a window
    that keeps only the newest night: after each prune only that
    night's snapshot of each table is on disk, and the catalog has no
    row for a removed path. The nights fall in one ISO week and month,
    so no weekly or monthly row keeps an older night."""
    eng = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=720, keep_days=0, keep_weeks=0, keep_months=0),
    ))
    t = spark.range(5).select(F.col("id").alias("k"))
    for day in (2, 3, 4):  # Tue..Thu of 2024-W01
        eng.run_backup({"db0": {"orders": t, "lineitem": t}}, now=dt.datetime(2024, 1, day))
        eng.prune(apply=True)
        key = f"202401{day:02d}-000000"
        assert sorted(os.listdir(tmp_path / "db0")) == [f"lineitem-{key}", f"orders-{key}"]
        cataloged = {r["path"] for r in eng.catalog().select("path").collect()}
        assert cataloged == {str(tmp_path / "db0" / n) for n in os.listdir(tmp_path / "db0")}


def _tree(root):
    """Every file under ``root`` with its mtime."""
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_prune_with_nothing_to_delete_rewrites_nothing(spark, tmp_path):
    eng = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    eng.run_backup({"db0": {"t": spark.range(5)}}, now=dt.datetime(2024, 1, 1))
    catalog, snapshots = _tree(eng.catalog_path), _tree(tmp_path / "db0")
    assert catalog and snapshots

    assert eng.prune(apply=True).count() == 0
    assert _tree(eng.catalog_path) == catalog
    assert _tree(tmp_path / "db0") == snapshots
    assert not os.path.exists(eng.catalog_path + "-new")


def test_two_engines_over_one_backup_dir_never_reuse_snapshot_ids(spark, tmp_path):
    """A second engine over the same ``backup_dir`` (another process, or
    a restart) numbers its snapshots past the cataloged ids, so a prune
    that deletes the first night's rows by id keeps the second's."""
    config = BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=720),
    )
    t = spark.range(5).select(F.col("id").alias("k"))
    BackupEngine(spark, config).run_backup({"db0": {"a": t}}, now=dt.datetime(2024, 1, 1))
    eng = BackupEngine(spark, config)
    day2 = eng.run_backup({"db0": {"a": t, "b": t}}, now=dt.datetime(2024, 1, 2))

    ids = [r.snapshot_id for r in eng._catalog_rows()]
    assert len(ids) == len(set(ids)) == 3 * 4

    eng.prune(apply=True)
    ids = [r.snapshot_id for r in eng._catalog_rows()]
    assert len(ids) == len(set(ids))
    a2 = day2[0].path
    survivors = {(r.table_name, r.generation) for r in eng._catalog_rows() if r.path == a2}
    assert {("a", "last"), ("a", "daily")} <= survivors
    restored = eng.restore_incremental("db0", "a", until_period_key=day2[0].period_key)
    assert {os.path.dirname(urlparse(f).path) for f in restored.inputFiles()} == {a2}
    assert restored.count() == 5
