"""A cataloged snapshot that is gone from disk is a typed error.

Every read of a catalog row's snapshot raises ``SnapshotMissing``
naming the row, not Spark's ``PATH_NOT_FOUND``. It is not a
``FileNotFoundError``: ``_new_rows`` reads that as "no backup yet", so
an incremental run over a broken chain would take a full snapshot and
hide the loss.
"""

from __future__ import annotations

import datetime as dt
import re
import shutil

import pytest

from clickhousebackup_spark.backup.config import BackupConfig
from clickhousebackup_spark.engine import BackupEngine, SnapshotMissing


def test_a_removed_snapshot_fails_every_read_of_it(spark, tmp_path):
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))
    for day in (1, 2):
        engine.run_incremental({"db0": {"t": spark.range(3 * day)}}, now=dt.datetime(2024, 1, day))
    base = tmp_path / "db0" / "t-20240101-000000"
    shutil.rmtree(base)
    rows = engine.catalog().count()

    assert not issubclass(SnapshotMissing, FileNotFoundError)
    with pytest.raises(SnapshotMissing, match=r"db0\.t \(period_key 20240101-000000\).*t-20240101-000000"):
        engine.restore("db0", "t", "20240101-000000")
    with pytest.raises(SnapshotMissing, match=re.escape(str(base))):
        engine.restore_incremental("db0", "t")
    with pytest.raises(SnapshotMissing):
        engine.run_incremental({"db0": {"t": spark.range(9)}}, now=dt.datetime(2024, 1, 3))
    assert engine.catalog().count() == rows  # the failed run cataloged nothing
    assert engine.restore("db0", "t").count() == 3  # the kept snapshot reads
