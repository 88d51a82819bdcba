"""Queries never write the caller's session conf.

A registered key runs on the caller's SparkSession, which other
queries share; a key that sets a conf there (even with a restore in
``finally``) changes what a concurrent query on the same session sees
while it runs. The keys that need a different conf get it another way:
``sink_partitioned_overwrite`` through the writer option,
``stream_stateful_totals`` through its own ``spark.newSession()``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.conf import RuntimeConfig

from clickhousebackup_spark.registry import all_specs
from clickhousebackup_spark.scratch import scratch_path
from clickhousebackup_spark.tables import table_rows_metadata


@pytest.fixture
def caller_conf_sets(monkeypatch, spark):
    """Keys set through the caller session's RuntimeConfig while the
    fixture is live (sets on any other session are not recorded)."""
    caller = spark._jsparkSession.conf()
    recorded: list[str] = []
    orig_set = RuntimeConfig.set

    def recording_set(self, key, value):
        if self._jconf.equals(caller):
            recorded.append(key)
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    return recorded


def test_stream_stateful_totals_never_sets_caller_conf(
    spark, sf_dir, caller_conf_sets
):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = all_specs()["stream_stateful_totals"].fn(spark, sf_dir).collect()
    assert rows
    assert "spark.sql.shuffle.partitions" not in caller_conf_sets
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_sink_partitioned_overwrite_never_sets_caller_conf(
    spark, sf_dir, caller_conf_sets
):
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    rows = all_specs()["sink_partitioned_overwrite"].fn(spark, sf_dir).collect()
    assert "spark.sql.sources.partitionOverwriteMode" not in caller_conf_sets
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before
    # dynamic mode replaced only the 'F' partition: static mode would
    # have dropped the untouched statuses
    assert {r["o_orderstatus"] for r in rows} == {"F", "O", "P"}


def test_stream_stateful_totals_sizes_state_from_footer(spark, sf_dir):
    """The stream's session gets the footer-sized state partition
    count (one per ~12.5k feed rows, floor 8, capped at the caller's
    width); the checkpoint's first offset entry records it."""
    n_rows = table_rows_metadata(sf_dir, "events")
    assert n_rows is not None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        all_specs()["stream_stateful_totals"].fn(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    offsets = os.path.join(scratch_path(spark, "sst_ckpt", sf_dir), "offsets", "0")
    with open(offsets) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == str(
        min(64, max(8, n_rows // 12_500))
    )
