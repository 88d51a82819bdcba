"""Restores read snapshots with the Spark schema their parquet footers
carry, and that read equals the inferred read it replaces.

``BackupEngine._snapshot_schema`` returns the footers' schema when
every snapshot carries the same one; ``_read_snapshots`` then reads
without a schema-inference job. The result must have the inferred
read's columns, types, order and rows. Partitioned snapshots,
footers without Spark's schema entry, and snapshots whose schemas
differ take the inference path.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import BackupConfig
from clickhousebackup_spark.backup.snapshot import snapshot_table
from clickhousebackup_spark.engine import BackupEngine
from tests.test_backup_jobs import _jobs


def _source(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        # digit strings: the inferred read types the partition as int
        (F.col("id") % 3 + 10).cast("string").alias("p"),
    )


def test_footer_schema_read_equals_the_inferred_read(spark, tmp_path):
    paths = [
        snapshot_table(_source(spark, 12, 12 * i), str(tmp_path), "db0", "t", f"k{i}").path
        for i in range(2)
    ]
    assert BackupEngine._snapshot_schema(paths) is not None
    for chain in (paths[:1], paths):
        got = _read(spark, chain)
        want = spark.read.parquet(*chain)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    assert _jobs(spark, lambda: _read(spark, paths)) == 0


def test_partitioned_snapshots_take_the_inference_path(spark, tmp_path):
    """Each partitioned snapshot is its own partition root, so no
    multi-path read can take a chain of them; they are read one by
    one with inference, as the directory names type the partition."""
    paths = [
        snapshot_table(
            _source(spark, 12, 12 * i), str(tmp_path), "db0", "t", f"k{i}", ["p"]
        ).path
        for i in range(2)
    ]
    assert BackupEngine._snapshot_schema(paths) is None
    single = _read(spark, paths[:1])
    want = spark.read.parquet(paths[0])
    assert single.dtypes == want.dtypes and dict(single.dtypes)["p"] == "int"
    assert sorted(single.collect()) == sorted(want.collect())
    chain = _read(spark, paths)
    assert chain.dtypes == want.dtypes
    assert sorted(chain.collect()) == sorted(
        want.unionByName(spark.read.parquet(paths[1])).collect()
    )


def _read(spark, paths):
    engine = BackupEngine(spark, BackupConfig(
        host="h", dbs="db0", user="u", password="p", backup_dir=os.path.dirname(paths[0]),
    ))
    return engine._read_snapshots(paths)


def test_differing_footer_schemas_take_the_inference_path(spark, tmp_path):
    a = snapshot_table(_source(spark, 3), str(tmp_path), "db0", "t", "a").path
    b = snapshot_table(
        _source(spark, 3).withColumn("extra", F.lit(1)), str(tmp_path), "db0", "t", "b"
    ).path
    assert BackupEngine._snapshot_schema([a, b]) is None
    got = _read(spark, [a, b])
    assert got.columns == ["k", "s", "ts", "p", "extra"]
    assert got.filter(F.col("extra").isNull()).count() == 3


def test_footer_without_spark_schema_takes_the_inference_path(spark, tmp_path):
    d = tmp_path / "foreign"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "s": ["x", "y"]}),
        os.path.join(d, "part-0.parquet"),
    )
    assert BackupEngine._snapshot_schema([str(d)]) is None
    got = _read(spark, [str(d)])
    want = spark.read.parquet(str(d))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
