"""Engines over one ``backup_dir`` may write the latest pointers at once.

``materialize_latest`` builds each pointer under a temp name and moves
it onto its name, so two engines racing on the same pointers raise
nothing, and every pointer left resolves to a cataloged snapshot.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import threading

import pytest

from clickhousebackup_spark.backup.config import BackupConfig
from clickhousebackup_spark.engine import BackupEngine


def _inodes(root):
    return {
        os.stat(os.path.join(d, f)).st_ino
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize("latest_type", ["symlink", "hardlink"])
def test_two_engines_racing_on_the_latest_pointers(spark, tmp_path, latest_type):
    def engine():
        return BackupEngine(spark, BackupConfig(
            host="h", dbs="db0,db1", user="u", password="p",
            backup_dir=str(tmp_path), latest_type=latest_type,
        ))

    engines = [engine(), engine()]
    for day, eng in zip((1, 2), engines):
        eng.run_backup(
            {"db0": {"t": spark.range(3)}, "db1": {"u": spark.range(2)}},
            now=dt.datetime(2024, 1, day),
        )
    errors = []
    start = threading.Barrier(2)

    def hammer(eng):
        start.wait(60)
        for _ in range(100):
            try:
                eng.materialize_latest()
            except Exception as e:  # noqa: BLE001 - every error counts
                errors.append(e)

    threads = [threading.Thread(target=hammer, args=(eng,)) for eng in engines]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the two engines' filesystem calls
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

    cataloged = {r["path"] for r in engines[0].catalog().select("path").collect()}
    pointers = engines[0].materialize_latest()
    assert len(pointers) == 2 * 4
    for ptr in pointers:
        if latest_type == "symlink":
            assert os.path.islink(ptr) and os.path.realpath(ptr) in cataloged
        else:
            assert any(_inodes(ptr) == _inodes(p) for p in cataloged)
    leftovers = [n for g in ("last", "daily", "weekly", "monthly") for n in os.listdir(tmp_path / g)]
    assert sorted(leftovers) == sorted(os.path.basename(p) for p in pointers)
