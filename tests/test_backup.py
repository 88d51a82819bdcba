"""Backup-vertical unit + property tests (SURVEY.md §5.2.4): config
validation, lifecycle hook ordering, snapshot atomicity, and the
retention-law invariants on randomized catalogs.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clickhousebackup_spark.backup.config import (
    GLOB_METACHARACTERS,
    BackupConfig,
    ConfigError,
    RetentionPolicy,
    validate_backup_dir,
)
from clickhousebackup_spark.backup.hooks import HookError, LifecycleHooks, webhook_hook
from clickhousebackup_spark.backup.retention import (
    keep_newest_per_period,
    latest_pointers,
    prune_delete_set,
    retention_plan,
)
from clickhousebackup_spark.backup.snapshot import snapshot_table
from clickhousebackup_spark.engine import BackupEngine
from clickhousebackup_spark.tables import load_table

# ---------- config (A1-A4) ----------


def test_config_sentinel_rejected():
    with pytest.raises(ConfigError):
        BackupConfig(host="h", dbs="db0", user="u")  # password left **None**


def test_config_retention_arithmetic():
    p = RetentionPolicy(keep_weeks=4, keep_months=6)
    assert p.keep_weeks_days == 29  # env.sh:28: 4*7+1
    assert p.keep_months_days == 187  # env.sh:29: 6*31+1
    assert p.window_minutes()["last"] == 1440


def test_config_db_list_split():
    c = BackupConfig(host="h", dbs="db0,db1,db2", user="u", password="p")
    assert c.db_list == ["db0", "db1", "db2"]  # env.sh:24


def test_config_bad_latest_type():
    with pytest.raises(ConfigError):
        BackupConfig(host="h", dbs="d", user="u", password="p", latest_type="x")


def test_validate_backup_dir():
    with pytest.raises(ConfigError):
        validate_backup_dir("/definitely/not/a/dir")
    validate_backup_dir(tempfile.mkdtemp())  # ok


# Spark's parquet reader globs every path it is given: a snapshot under
# a path holding one of these is written but cannot be read back.
@pytest.mark.parametrize("ch", sorted(GLOB_METACHARACTERS))
def test_glob_metacharacter_backup_dir_is_refused_at_construction(spark, tmp_path, ch):
    backup_dir = tmp_path / f"back{ch}ups"
    backup_dir.mkdir()
    with pytest.raises(ConfigError, match="glob metacharacter"):
        BackupEngine(spark, BackupConfig(
            host="h", dbs="db0", user="u", password="p", backup_dir=str(backup_dir),
        ))
    assert os.listdir(backup_dir) == []


@pytest.mark.parametrize("ch", sorted(GLOB_METACHARACTERS))
def test_glob_metacharacter_db_name_is_refused_at_construction(tmp_path, ch):
    with pytest.raises(ConfigError, match="glob metacharacter"):
        BackupConfig(
            host="h", dbs=f"db0,d{ch}b", user="u", password="p", backup_dir=str(tmp_path),
        )


# ---------- hooks (A5/A6/A20) ----------


def test_hook_ordering_pre_forward_post_reverse():
    calls = []
    hooks = LifecycleHooks()
    hooks.add(lambda a: calls.append(("h1", a))).add(lambda a: calls.append(("h2", a)))
    hooks.run_job(lambda: calls.append(("job", "run")))
    assert calls == [
        ("h1", "pre-backup"),
        ("h2", "pre-backup"),
        ("job", "run"),
        ("h2", "post-backup"),  # reverse order (run-parts --reverse)
        ("h1", "post-backup"),
    ]


def test_hook_pre_failure_aborts_and_fires_error():
    calls = []

    def bad(action):
        if action == "pre-backup":
            raise RuntimeError("boom")
        calls.append(action)

    hooks = LifecycleHooks().add(bad)
    with pytest.raises(HookError):
        hooks.run_job(lambda: calls.append("job"))
    assert "job" not in calls  # --exit-on-error aborted the run
    assert calls == ["error"]  # trap ERR fired


def test_webhook_retries_then_fails():
    attempts = []

    def flaky_poster(url, body):
        attempts.append(url)
        raise OSError("down")

    hook = webhook_hook("http://x/", retries=5, poster=flaky_poster)
    with pytest.raises(HookError):
        hook("post-backup")
    # curl --retry 5 = 1 initial + 5 retries (hooks/00-webhook:15)
    assert len(attempts) == 6


def test_webhook_success_posts_status_json():
    seen = {}

    def poster(url, body):
        seen["url"], seen["body"] = url, body

    webhook_hook("http://x/", poster=poster)("error")
    assert seen["body"] == b'{"status": "error"}'  # hooks/00-webhook:13


def test_webhook_per_action_routing():
    """hooks/00-webhook:6-63: pre-backup fires only the pre URL; post
    and error fire the default URL plus their dedicated URL; unset URLs
    are skipped (**None** guard)."""
    posts = []

    def poster(url, body):
        posts.append((url, body))

    hook = webhook_hook(
        "http://default/",
        poster=poster,
        error_url="http://err/",
        pre_backup_url="http://pre/",
        post_backup_url="http://post/",
    )
    hook("pre-backup")
    assert posts == [("http://pre/", b'{"status": "pre-backup"}')]
    posts.clear()
    hook("post-backup")
    assert [u for u, _ in posts] == ["http://default/", "http://post/"]
    posts.clear()
    hook("error")
    assert [u for u, _ in posts] == ["http://default/", "http://err/"]


def test_webhook_pre_backup_skipped_without_dedicated_url():
    """WEBHOOK_URL alone never fires on pre-backup (the reference's
    pre-backup case checks only WEBHOOK_PRE_BACKUP_URL)."""
    posts = []
    hook = webhook_hook("http://default/", poster=lambda u, b: posts.append(u))
    hook("pre-backup")
    assert posts == []


def test_webhook_error_action_never_raises_through_lifecycle():
    """trap-on-ERR semantics: a dead error webhook must not mask the
    original job failure (fire(..., exit_on_error=False))."""

    def dead_poster(url, body):
        raise OSError("down")

    hooks = LifecycleHooks().add(
        webhook_hook("http://x/", retries=0, poster=dead_poster)
    )
    with pytest.raises(RuntimeError, match="boom"):
        hooks.run_job(lambda: (_ for _ in ()).throw(RuntimeError("boom")))


# ---------- snapshot publish (A10/A11/A13) ----------


def test_snapshot_staged_atomic_publish(spark, sf_dir):
    base = tempfile.mkdtemp(prefix="cbs_snaptest_")
    df = load_table(spark, sf_dir, "region")
    res = snapshot_table(df, base, "db0", "region", "20240101")
    assert res.n_rows == df.count()
    assert os.path.isdir(res.path)
    assert not os.path.exists(res.path + "-new")  # staging dir cleaned up
    # immutable rerun with same period replaces, not appends
    res2 = snapshot_table(df, base, "db0", "region", "20240101")
    assert spark.read.parquet(res2.path).count() == df.count()


def _damage_after_write(monkeypatch, damage):
    """Make every parquet write call ``damage(path)`` after it wrote."""
    from pyspark.sql.readwriter import DataFrameWriter

    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        damage(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _part_files(path):
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")
    )


@pytest.mark.parametrize("damage", ["lost", "truncated"])
def test_snapshot_verify_rejects_damaged_staged_files(spark, tmp_path, monkeypatch, damage):
    """A staged part file lost or truncated between the write and the
    publish raises a typed RuntimeError and leaves neither the staging
    directory nor a published snapshot."""

    def lose_or_truncate(path):
        victim = _part_files(path)[0]
        if damage == "lost":
            os.remove(victim)
        else:
            with open(victim, "r+b") as fh:
                fh.truncate(os.path.getsize(victim) // 2)

    df = spark.range(0, 100, 1, 4)  # four part files
    _damage_after_write(monkeypatch, lose_or_truncate)
    with pytest.raises(RuntimeError, match="snapshot verify failed"):
        snapshot_table(df, str(tmp_path), "db0", "t", "20240101")
    assert os.listdir(tmp_path / "db0") == []


def test_snapshot_partitioned_counts_every_subdirectory(spark, tmp_path):
    from pyspark.sql import functions as F

    from clickhousebackup_spark.tables import parquet_data_files

    df = spark.range(100).withColumn("p", F.col("id") % 3)
    res = snapshot_table(df, str(tmp_path), "db0", "t", "20240101", partition_by=["p"])
    assert res.n_rows == 100
    files = parquet_data_files(res.path)
    assert {os.path.basename(os.path.dirname(f)) for f in files} == {"p=0", "p=1", "p=2"}
    assert spark.read.parquet(res.path).count() == 100


# ---------- retention laws on randomized catalogs (hypothesis) ----------

GENS = ["last", "daily", "weekly", "monthly"]


@st.composite
def catalogs(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append(
            (
                f"db{draw(st.integers(0, 2))}",
                GENS[draw(st.integers(0, 3))],
                f"pk{draw(st.integers(0, 5))}",
                base + dt.timedelta(minutes=draw(st.integers(0, 400000))),
                i,
                f"path{i}",
                f"hash{i}",
                100 + i,
            )
        )
    return rows


CATALOG_SCHEMA = (
    "db string, generation string, period_key string, snapshot_ts timestamp, "
    "snapshot_id long, path string, content_hash string, size_bytes long"
)


@given(rows=catalogs())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_retention_laws(spark, rows):
    cat = spark.createDataFrame(rows, CATALOG_SCHEMA)
    newest = keep_newest_per_period(cat)
    plan = retention_plan(newest, RetentionPolicy())
    kept = plan.filter("keep = 1")
    deleted = prune_delete_set(plan)

    # keep-newest idempotence
    assert keep_newest_per_period(newest).count() == newest.count()
    # pruned ⊆ original, and kept + deleted partitions the catalog
    assert newest.count() == kept.count() + deleted.count()
    # prune with infinite windows = identity
    inf = RetentionPolicy(
        keep_mins=10**9, keep_days=10**6, keep_weeks=10**5, keep_months=10**4
    )
    assert retention_plan(newest, inf).filter("keep = 1").count() == newest.count()
    # The latest pointer targets its group's newest artifact. (It may
    # still dangle after pruning when the whole group aged out — the
    # reference behaves the same: find...rm at backup.sh:119-122 ignores
    # pointers.)
    newest_by_group: dict[tuple, tuple] = {}
    for r in newest.collect():
        k = (r["db"], r["generation"])
        cand = (r["snapshot_ts"], r["snapshot_id"], r["path"])
        if k not in newest_by_group or cand > newest_by_group[k]:
            newest_by_group[k] = cand
    for r in latest_pointers(newest).collect():
        assert r["latest_target"] == newest_by_group[(r["db"], r["generation"])][2]
        assert r["latest_ts"] == newest_by_group[(r["db"], r["generation"])][0]


def test_integrity_diff_detects_tampering(spark, sf_dir):
    """The drift counters are 0 on every intact snapshot (the happy
    path the driver checks), so prove the DETECTION machinery on
    tampered input: drop one row (missing), duplicate another
    (extra), and mutate a value (one missing + one extra)."""
    from pyspark.sql import functions as F

    from clickhousebackup_spark.backup.queries import integrity_diff
    from clickhousebackup_spark.tables import load_table

    src = load_table(spark, sf_dir, "orders")
    dropped = src.filter(~F.col("o_orderkey").isin(1, 3))
    dup_row = src.filter(F.col("o_orderkey") == 2)
    mutated = src.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 3, F.lit(-1.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    tampered = dropped.unionAll(dup_row).unionAll(
        mutated.filter(F.col("o_orderkey") == 3)
    )
    r = integrity_diff(src, tampered).collect()[0]
    assert r["n_missing"] == 2   # dropped key 1 + original key-3 row
    assert r["n_extra"] == 2     # duplicated key 2 + mutated key-3 row
    clean = integrity_diff(src, src).collect()[0]
    assert clean["n_missing"] == 0 and clean["n_extra"] == 0


def test_catalog_suffix_rejects_literal_breakout(spark, sf_dir):
    """The suffix is spliced into a parsed SQL string literal: a quote
    or backslash must raise ValueError (not an assert, which
    ``python -O`` strips)."""
    from clickhousebackup_spark.backup.catalog import build_catalog

    events = load_table(spark, sf_dir, "events")
    for bad in (".zip'", ".z\\ip"):
        with pytest.raises(ValueError):
            build_catalog(events, suffix=bad)
