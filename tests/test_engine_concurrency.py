"""A run's per-table snapshot pipelines run concurrently.

``BackupEngine._run`` snapshots a run's tables on a thread pool of
``min(n_tables, defaultParallelism)`` threads. What must not change
with the thread count: results and ``snapshot_id``s follow db/table
order, at most the bound is in flight, and every Spark job of the run
carries the caller's job group (perfbench's span attribution,
``tests/test_backup_jobs.py::_jobs`` and the timeout cancel of
``scripts/driver_sim.py`` read it), while the caller thread's own local
properties are left as they were.
"""

from __future__ import annotations

import datetime as dt
import threading
import time

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark import engine as engine_module
from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig
from clickhousebackup_spark.engine import BackupEngine

NOW = dt.datetime(2024, 1, 1)


@pytest.fixture()
def engine(spark, tmp_path):
    return BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
    ))


def _source(spark, n):
    return spark.range(n).select(F.col("id").alias("k"))


def _wrap_snapshots(monkeypatch, around):
    """Replace the engine's ``snapshot_table`` by ``around(table, call)``,
    where ``call()`` takes the real snapshot."""
    real = engine_module.snapshot_table

    def patched(df, base_dir, db, table, period_key, *args, **kwargs):
        return around(table, lambda: real(df, base_dir, db, table, period_key, *args, **kwargs))

    monkeypatch.setattr(engine_module, "snapshot_table", patched)


@pytest.mark.parametrize("kind", ["run_backup", "run_incremental"])
def test_results_and_ids_follow_table_order_when_a_later_table_finishes_first(
    spark, engine, monkeypatch, kind
):
    later_done = threading.Event()
    finished = []

    def around(table, call):
        if table == "first":  # the bigger table waits for the later one
            assert later_done.wait(60), "the two snapshots did not overlap"
        res = call()
        finished.append(table)
        if table == "second":
            later_done.set()
        return res

    _wrap_snapshots(monkeypatch, around)
    tables = {"db0": {"first": _source(spark, 2000), "second": _source(spark, 3)}}
    results = getattr(engine, kind)(tables, now=NOW)

    assert finished == ["second", "first"]
    assert [(r.table, r.n_rows) for r in results] == [("first", 2000), ("second", 3)]
    n_gen = len(GENERATIONS)
    ids = {}
    for r in engine._catalog_rows():
        ids.setdefault(r.table_name, set()).add(r.snapshot_id)
    assert ids == {"first": set(range(n_gen)), "second": set(range(n_gen, 2 * n_gen))}


def test_in_flight_snapshots_never_exceed_the_bound(spark, engine, monkeypatch):
    bound = min(6, spark.sparkContext.defaultParallelism)
    lock = threading.Lock()
    in_flight, peak, threads = [0], [0], set()

    def around(table, call):
        with lock:
            in_flight[0] += 1
            peak[0] = max(peak[0], in_flight[0])
            threads.add(threading.get_ident())
        try:
            time.sleep(0.2)  # hold the slot so the pool's threads overlap
            return call()
        finally:
            with lock:
                in_flight[0] -= 1

    _wrap_snapshots(monkeypatch, around)
    before = threading.active_count()
    tables = {"db0": {f"t{i}": _source(spark, i + 1) for i in range(6)}}
    results = engine.run_backup(tables, now=NOW)

    assert [r.table for r in results] == [f"t{i}" for i in range(6)]
    assert 1 < peak[0] <= bound
    assert len(threads) <= bound
    assert threading.get_ident() not in threads
    assert threading.active_count() <= before  # the pool's threads are gone


def test_every_job_of_a_run_carries_the_caller_s_job_group(spark, engine):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-engine-concurrency"
    tables = {"db0": {f"t{i}": _source(spark, 10 + i) for i in range(3)}}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "a concurrent run", interruptOnCancel=True)
    try:
        engine.run_backup(tables, now=NOW)
        # the caller's own properties are untouched by the worker threads
        assert sc.getLocalProperty("spark.sql.execution.id") is None
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup(group)) == 3  # one snapshot write each
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
