"""The versioned catalog: one full-state file per version, published by
one ``os.link``.

Every write is one ``_commit``: it reads the newest version, applies a
change, writes the result to a hidden file and links it to the next
version's name. A crash at any step of a commit leaves the old or the
new catalog, never a mix and never none; two engines that commit at
once both land, with distinct ids; a read opens one file however many
runs the catalog has seen. Rows store paths relative to
``backup_dir``, so a moved backup volume restores and prunes, and the
driver spells the period keys from the UTC ``now``, so they do not
follow the session time zone.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import tempfile
import threading

import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.catalog import period_key_expr
from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig, RetentionPolicy
from clickhousebackup_spark.backup.snapshot import SnapshotResult
from clickhousebackup_spark.engine import BackupEngine

_LATEST_KEEP_ONLY = RetentionPolicy(keep_mins=720, keep_days=0, keep_weeks=0, keep_months=0)


def _engine(spark, backup_dir, **config) -> BackupEngine:
    return BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(backup_dir), **config,
    ))


def _src(spark, n):
    return {"db0": {"t": spark.range(n).select(F.col("id").alias("k"))}}


def _versions(engine) -> list[str]:
    return sorted(glob.glob(os.path.join(glob.escape(engine.catalog_path), "*.parquet")))


def test_a_moved_backup_dir_restores_and_prunes(spark, tmp_path):
    vol_a, vol_b = tmp_path / "vol_a", tmp_path / "vol_b"
    vol_a.mkdir()
    eng = _engine(spark, vol_a)
    eng.run_backup(_src(spark, 3), now=dt.datetime(2024, 1, 2))
    (incr,) = eng.run_incremental(_src(spark, 5), now=dt.datetime(2024, 1, 3))
    os.rename(vol_a, vol_b)

    eng = _engine(spark, vol_b, retention=_LATEST_KEEP_ONLY)
    assert all(r.path.startswith(str(vol_b) + os.sep) for r in eng._catalog_rows())
    assert eng.restore("db0", "t").count() == 2
    assert eng.restore_incremental("db0", "t").count() == 5
    assert eng.restore_latest("db0").count() == 2

    deleted = {r["path"] for r in eng.prune(apply=True).select("path").collect()}
    assert deleted == {str(vol_b / "db0" / "t-20240102-000000")}
    assert not any(os.path.exists(p) for p in deleted)
    assert {r.path for r in eng._catalog_rows()} == {str(vol_b / "db0" / os.path.basename(incr.path))}
    assert eng.restore("db0", "t").count() == 2


def test_period_keys_do_not_follow_the_session_time_zone(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "America/New_York")
    try:
        (res,) = eng.run_backup(_src(spark, 3), now=dt.datetime(2024, 1, 1, 3))
        assert res.period_key == "20240101-030000"
        assert eng.restore("db0", "t", res.period_key).count() == 3
        keys = {r.generation: r.period_key for r in eng._catalog_rows()}
        assert keys == {"last": res.period_key, "daily": "20240101", "weekly": "202401",
                        "monthly": "202401"}
    finally:
        spark.conf.set(conf, before)


@given(st.lists(
    st.datetimes(min_value=dt.datetime(1970, 1, 1), max_value=dt.datetime(2199, 12, 31)),
    min_size=1, max_size=8,
))
@example([  # ISO week-years: 2020-W53 in both years, 2025-W01 in December, 2026-W01
    dt.datetime(2020, 12, 31, 23, 59, 59, 999999), dt.datetime(2021, 1, 3),
    dt.datetime(2024, 12, 30), dt.datetime(2026, 1, 1),
])
@settings(max_examples=20, deadline=None)
def test_driver_keys_and_hashes_equal_the_spark_spelling(spark, nows):
    """The driver's period keys and content hashes equal
    ``period_key_expr`` and Spark's md5 over the same string, under a
    UTC session."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    with tempfile.TemporaryDirectory() as d:
        eng = _engine(spark, d)
        for i, now in enumerate(nows):
            eng._register([SnapshotResult("db0", "t", "k", os.path.join(d, "db0", f"t-{i}"), i)], now)
        cat = eng.catalog()
        spelled = cat.withColumn(
            "period_key", period_key_expr("snapshot_ts", "generation")
        ).withColumn(
            "content_hash", F.md5(F.concat_ws("|", "db", "generation", "period_key", "path"))
        )
        cols = ["snapshot_id", "period_key", "content_hash"]
        got = sorted(tuple(r) for r in cat.select(cols).collect())
        assert len(got) == len(nows) * len(GENERATIONS)
        assert got == sorted(tuple(r) for r in spelled.select(cols).collect())


# -- crashes: each filesystem step of a commit fails in turn --

class _Fault(OSError):
    pass


def _under(root: str, path) -> bool:
    real = os.path.abspath(os.fspath(path))
    return os.path.commonpath([root, real]) == root


def _inject(monkeypatch, engine, step: str) -> list:
    """Make ``step`` of a catalog commit raise ``_Fault`` for paths
    under the catalog; returns the list each raise is recorded in.
    ``publish`` fails the link (or rename) that makes a new catalog
    the catalog."""
    root = os.path.abspath(engine.catalog_path)
    fired = []

    def failing(real, arg, when=lambda p: True):
        def f(*args, **kwargs):
            if _under(root, args[arg]) and when(os.fspath(args[arg])):
                fired.append(args[arg])
                raise _Fault(f"{step} failed")
            return real(*args, **kwargs)
        return f

    def hidden(p):
        return os.path.basename(p).startswith(".")

    if step == "temp write":
        monkeypatch.setattr(pq, "write_table", failing(pq.write_table, 1))
    elif step == "footer read":
        monkeypatch.setattr(pq, "read_metadata", failing(pq.read_metadata, 0))
    elif step == "publish":
        monkeypatch.setattr(os, "link", failing(os.link, 1))
        monkeypatch.setattr(os, "rename", failing(os.rename, 1))
    elif step == "temp removal":
        monkeypatch.setattr(os, "remove", failing(os.remove, 0, hidden))
    else:  # old-version removal
        monkeypatch.setattr(os, "remove", failing(os.remove, 0, lambda p: not hidden(p)))
        monkeypatch.setattr(shutil, "rmtree", failing(shutil.rmtree, 0))
    return fired


STEPS = ["temp write", "footer read", "publish", "temp removal", "old-version removal"]


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("op", ["append", "prune"])
def test_a_crash_at_any_commit_step_keeps_one_whole_catalog(spark, tmp_path, monkeypatch, op, step):
    eng = _engine(spark, tmp_path)  # default windows: the 2023 run expires
    for year in (2023, 2024):
        eng.run_backup(_src(spark, 5), now=dt.datetime(year, 1, 1))
    old = set(eng._catalog_rows())
    if op == "append":  # the new rows are the four of ``path``
        path = str(tmp_path / "db0" / "t-20240102-000000")
    else:
        doomed_ids = {r["snapshot_id"] for r in eng.prune().collect()}
        assert len(doomed_ids) == len(GENERATIONS)
        new = {r for r in old if r.snapshot_id not in doomed_ids}

    with monkeypatch.context() as m:
        fired = _inject(m, eng, step)
        with pytest.raises(_Fault):
            if op == "append":
                eng.run_backup(_src(spark, 5), now=dt.datetime(2024, 1, 2))
            else:
                eng.prune(apply=True)
        assert fired

    got = set(eng._catalog_rows())
    if op == "append":
        added = got - old
        assert old <= got and (not added or (
            {r.path for r in added} == {path}
            and sorted(r.generation for r in added) == sorted(GENERATIONS)
        ))
    else:
        assert got in (old, new)
    assert all(os.path.isdir(r.path) for r in got)

    # the next run and prune lose no row
    (res,) = eng.run_backup(_src(spark, 5), now=dt.datetime(2024, 1, 3))
    before = set(eng._catalog_rows())
    assert before == got | {r for r in before if r.path == res.path}
    deleted = {r["snapshot_id"] for r in eng.prune().collect()}
    eng.prune(apply=True)
    after = set(eng._catalog_rows())
    assert after == {r for r in before if r.snapshot_id not in deleted and os.path.isdir(r.path)}
    assert {r.path for r in after} >= {res.path}
    assert all(os.path.isdir(r.path) for r in after)
    assert len(_versions(eng)) <= 2


# -- concurrency and read cost --

def test_two_engines_committing_at_once_both_land(spark, tmp_path, monkeypatch):
    """Both engines read the same version before either links: one
    link fails, and that engine re-applies its append to the other's
    version. The race is run on ``_register``, the commit of a run:
    two runs' ``materialize_latest`` over one ``backup_dir`` also race,
    on the pointer files, which is a separate defect."""
    a, b = _engine(spark, tmp_path), _engine(spark, tmp_path)
    a.run_backup(_src(spark, 1), now=dt.datetime(2024, 1, 1))
    barrier = threading.Barrier(2, timeout=60)
    for eng in (a, b):
        real, reads = eng._catalog_table, []

        def read(*args, real=real, reads=reads, **kwargs):
            out = real(*args, **kwargs)
            reads.append(out[0])
            if len(reads) == 1:
                barrier.wait()  # both hold version n before either links
            return out

        monkeypatch.setattr(eng, "_catalog_table", read)
    lost = []
    real_link = os.link

    def link(src, dst):
        try:
            real_link(src, dst)
        except FileExistsError:
            lost.append(dst)
            raise

    monkeypatch.setattr(os, "link", link)
    errors = []

    def commit(eng, table):
        try:
            res = SnapshotResult("db0", table, "k", str(tmp_path / "db0" / table), 1)
            eng._register([res], dt.datetime(2024, 1, 2))
        except Exception as e:  # asserted below
            errors.append(e)

    threads = [threading.Thread(target=commit, args=args) for args in ((a, "x"), (b, "y"))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(lost) == 1

    rows = _engine(spark, tmp_path)._catalog_rows()
    assert sorted(r.table_name for r in rows) == sorted(["t", "x", "y"] * len(GENERATIONS))
    assert len({r.snapshot_id for r in rows}) == len(rows)
    assert len(_versions(a)) <= 2


def test_a_catalog_read_opens_one_file_after_ten_runs(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path)
    for day in range(1, 11):
        eng.run_backup(_src(spark, 1), now=dt.datetime(2024, 1, day))
    assert len(_versions(eng)) <= 2
    assert len(eng._catalog_rows()) == 10 * len(GENERATIONS)
    opened = []
    real = pq.ParquetFile

    def counting(*args, **kwargs):
        opened.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert eng.catalog().count() == 10 * len(GENERATIONS)
    assert opened == _versions(eng)[-1:]
