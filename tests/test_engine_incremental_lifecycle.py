"""The backup.sh lifecycle of ``BackupEngine.run_incremental``: the
same run loop as ``run_backup`` — hooks around the per-db snapshot
loop, four generation catalog rows per snapshot, ``-latest`` pointers
— with only the row diff added per table."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig
from clickhousebackup_spark.engine import BackupEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return BackupEngine(
        spark,
        BackupConfig(
            host="h", dbs="db0,db1", user="u", password="p",
            backup_dir=str(tmp_path),
        ),
    )


def _tables(spark, n):
    return {
        "db0": {"t": spark.range(n).select(F.col("id").alias("k"))},
        "db1": {"u": spark.range(n).select((F.col("id") * 2).alias("k"))},
    }


def test_incremental_hooks_fire_in_order(spark, engine):
    calls = []
    engine.add_hook(lambda a: calls.append(("a", a)))
    engine.add_hook(lambda a: calls.append(("b", a)))
    engine.run_incremental(_tables(spark, 3), now=dt.datetime(2024, 1, 1))
    # pre in registration order, post reversed (backup.sh:16-18,127-130)
    assert calls == [
        ("a", "pre-backup"), ("b", "pre-backup"),
        ("b", "post-backup"), ("a", "post-backup"),
    ]


def test_incremental_failing_table_fires_error_hooks(spark, engine):
    calls = []
    engine.add_hook(calls.append)
    broken = spark.range(3).filter(F.expr("assert_true(id < 0) IS NULL"))
    with pytest.raises(Exception):
        engine.run_incremental(
            {"db0": {"t": broken}}, now=dt.datetime(2024, 1, 1)
        )
    assert calls == ["pre-backup", "error"]


def test_incremental_registers_four_generations_and_latest(spark, engine):
    first = engine.run_incremental(
        _tables(spark, 3), now=dt.datetime(2024, 1, 1)
    )
    second = engine.run_incremental(
        _tables(spark, 5), now=dt.datetime(2024, 1, 2)
    )
    assert [r.n_rows for r in first] == [3, 3]
    assert [r.n_rows for r in second] == [2, 2]  # only the new rows

    cat = engine.catalog().collect()
    for res in first + second:
        gens = sorted(r["generation"] for r in cat if r["path"] == res.path)
        assert gens == sorted(GENERATIONS), res
    assert len(cat) == 4 * len(first + second)
    assert len({r["snapshot_id"] for r in cat}) == len(cat)

    newest = {res.db: res.path for res in second}
    for db, path in newest.items():
        for gen in GENERATIONS:
            ptr = os.path.join(
                engine.config.backup_dir, gen, f"{db}-latest.zip"
            )
            assert os.path.islink(ptr) and os.path.realpath(ptr) == os.path.realpath(path)
    assert engine.restore_latest("db1").count() == 2


@pytest.mark.parametrize("kind", ["run_backup", "run_incremental"])
def test_failing_table_keeps_earlier_tables_cataloged(spark, engine, kind):
    """The run's one catalog append still registers the snapshots
    published before a table failed, before the error hooks fire."""
    calls = []
    engine.add_hook(lambda a: calls.append((a, engine.catalog().count())))
    broken = spark.range(3).filter(F.expr("assert_true(id < 0) IS NULL"))
    tables = _tables(spark, 3)
    tables["db1"] = {"u": broken}
    with pytest.raises(Exception):
        getattr(engine, kind)(tables, now=dt.datetime(2024, 1, 1))
    assert calls == [("pre-backup", 0), ("error", len(GENERATIONS))]
    cat = engine.catalog().collect()
    assert {(r["db"], r["table_name"]) for r in cat} == {("db0", "t")}
    assert all(os.path.isdir(r["path"]) for r in cat)


@pytest.mark.parametrize("kind", ["run_backup", "run_incremental"])
def test_failing_first_table_keeps_later_tables_cataloged(spark, engine, kind):
    """Every table is attempted: a later table that succeeds is
    published and cataloged, and the error hooks see its rows."""
    calls = []
    engine.add_hook(lambda a: calls.append((a, engine.catalog().count())))
    tables = _tables(spark, 3)
    tables["db0"] = {"t": spark.range(3).filter(F.expr("assert_true(id < 0) IS NULL"))}
    with pytest.raises(Exception):
        getattr(engine, kind)(tables, now=dt.datetime(2024, 1, 1))
    assert calls == [("pre-backup", 0), ("error", len(GENERATIONS))]
    cat = engine.catalog().collect()
    assert {(r["db"], r["table_name"]) for r in cat} == {("db1", "u")}
    assert all(os.path.isdir(r["path"]) for r in cat)


def test_first_failure_is_raised_with_the_later_ones_as_notes(spark, engine):
    def broken(msg):
        return spark.range(3).filter(F.expr(f"assert_true(id < 0, '{msg}') IS NULL"))

    tables = {"db0": {"t": broken("t broke")}, "db1": {"u": broken("u broke")}}
    with pytest.raises(Exception, match="t broke") as info:
        engine.run_backup(tables, now=dt.datetime(2024, 1, 1))
    notes = getattr(info.value, "__notes__", [])
    assert len(notes) == 1 and notes[0].startswith("snapshot of db1.u also failed")
    assert "u broke" in notes[0]
    assert engine.catalog().count() == 0
