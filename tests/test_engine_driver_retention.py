"""The retention plan the driver classifies equals the Spark spelling.

``BackupEngine.retention_plan()``, ``generation_state()``, the delete
set ``prune()`` returns and ``latest()`` are local relations of rows
the driver works out (``engine._classify``, ``engine._keep_newest``,
``prune``'s anti-join, ``engine._latest_rows``); ``backup/retention.py``
spells the same operations in Spark for the registry keys. The
property test pins each pair equal as multisets over every column,
``age_minutes`` bit for bit, with the same schema, on generated
catalogs and policies.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import tempfile

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from clickhousebackup_spark.backup.config import GENERATIONS, BackupConfig, RetentionPolicy
from clickhousebackup_spark.backup.retention import (
    keep_newest_per_period,
    latest_pointers,
    prune_delete_set,
    retention_plan,
)
from clickhousebackup_spark.engine import (
    CATALOG_COLUMNS,
    CATALOG_SCHEMA,
    DELETE_SCHEMA,
    LATEST_SCHEMA,
    PLAN_SCHEMA,
    BackupEngine,
    _arrow_rows,
)

BASE_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
MINUTE_US = 60 * 10**6

#: windows: zero, negative, fractional, and integers past int32
windows = st.one_of(
    st.integers(-1, 2000),
    st.sampled_from([0, 1440.5, 2**31 + 7, 2**53 + 1]),
    st.floats(0, 1e6, allow_nan=False),
)
policies = st.builds(
    RetentionPolicy, keep_mins=windows, keep_days=windows, keep_weeks=windows, keep_months=windows
)


@st.composite
def catalogs(draw):
    """Catalog rows over two dbs and two tables that share period keys;
    ``snapshot_ts`` is often one of a few instants, so the newest of a
    period is often a tie that ``snapshot_id`` breaks."""
    n = draw(st.integers(0, 14))
    ids = draw(st.lists(st.integers(0, 10**6), min_size=n, max_size=n, unique=True))
    ts = st.one_of(
        st.sampled_from([0, 720 * MINUTE_US, 2880 * MINUTE_US]),
        st.integers(0, 400 * 1440 * MINUTE_US),
    )
    return [
        (
            draw(st.sampled_from(["db0", "db1"])),
            draw(st.sampled_from(["a", "b"])),
            draw(st.sampled_from(["p0", "p1"])),
            BASE_US + draw(ts),
            i,
            f"db0/s{i}",
            f"h{i}",
            i % 7,
            draw(st.sampled_from(GENERATIONS)),
        )
        for i in ids
    ]


def _tied():
    """Three (db, table) pairs over two dbs and two tables, each with
    two rows of one period at one instant, so only ``snapshot_id``
    picks the newest; and one older period."""
    return [
        (db, t, "p0", BASE_US + 720 * MINUTE_US, 10 * k + j, f"db0/{db}{t}{j}", "h", 1, "daily")
        for k, (db, t) in enumerate([("db0", "a"), ("db0", "b"), ("db1", "a")])
        for j in (1, 0)
    ] + [("db0", "a", "p1", BASE_US, 99, "db0/old", "h", 1, "daily")]


def _multiset(df) -> collections.Counter:
    i = df.columns.index("age_minutes") if "age_minutes" in df.columns else None
    return collections.Counter(
        tuple(v.hex() if j == i else v for j, v in enumerate(r)) for r in df.collect()
    )


@given(rows=catalogs(), policy=policies)
@example(rows=[], policy=RetentionPolicy())
@example(rows=_tied(), policy=RetentionPolicy(keep_mins=0, keep_days=0))
@example(rows=_tied(), policy=RetentionPolicy(keep_mins=1440.5, keep_days=0.5))
@example(rows=_tied(), policy=RetentionPolicy(keep_mins=2**31 + 7, keep_days=2**40))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_driver_plan_equals_the_spark_spelling(spark, rows, policy):
    with tempfile.TemporaryDirectory() as d:
        engine = BackupEngine(spark, BackupConfig(
            host="h", dbs="db0", user="u", password="p", backup_dir=d, retention=policy,
        ))
        cataloged = [(*r[:5], os.path.join(d, r[5]), *r[6:]) for r in rows]
        engine._commit(lambda _: _arrow_rows(cataloged, CATALOG_SCHEMA))
        catalog = spark.createDataFrame(engine._catalog_table()[1], CATALOG_SCHEMA)
        state = keep_newest_per_period(catalog)
        expected = retention_plan(state, policy)
        deleted, latest = prune_delete_set(expected), latest_pointers(catalog, engine.config.suffix)

        got_state, got = engine.generation_state(), engine.retention_plan()
        got_deleted, got_latest = engine.prune(got), engine.latest()
        assert got.schema == expected.schema == PLAN_SCHEMA
        assert got_state.schema == state.schema == CATALOG_SCHEMA
        assert got_deleted.schema == deleted.schema == DELETE_SCHEMA
        assert got_latest.schema == latest.schema == LATEST_SCHEMA
        assert _multiset(got) == _multiset(expected)
        assert _multiset(got_state) == _multiset(state)
        assert _multiset(got_deleted) == _multiset(deleted)
        assert _multiset(got_latest) == _multiset(latest)


def test_catalog_schema_is_not_extended_by_the_plan(spark, tmp_path):
    """The plan schema is its own StructType: building the plan, the
    generation state and a prune leave the catalog's schema as it was
    (``StructType.add`` would extend ``CATALOG_SCHEMA`` in place, and
    every later catalog read would carry the plan's columns)."""
    before = CATALOG_SCHEMA.jsonValue()
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=str(tmp_path),
        retention=RetentionPolicy(keep_mins=0, keep_days=0, keep_weeks=0, keep_months=0),
    ))
    for day in (1, 2):
        engine.run_backup({"db0": {"t": spark.range(3)}}, now=dt.datetime(2024, 1, day))
    engine.retention_plan().collect()
    engine.generation_state().collect()
    assert engine.prune(apply=True).count() == 2  # the first night's last and daily
    assert CATALOG_SCHEMA.names == list(CATALOG_COLUMNS)
    assert CATALOG_SCHEMA.jsonValue() == before
    assert engine.catalog().columns == list(CATALOG_COLUMNS)
