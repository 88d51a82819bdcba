"""Tests of the benchmark's own code: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os

import pytest

import compare
import measure
import workload

POOL = [f"key{i:03d}" for i in range(200)]


def test_same_seed_same_order_and_slices():
    assert workload.pass_order(POOL, 7, 3) == workload.pass_order(POOL, 7, 3)
    assert workload.backup_slices(7, 150_000) == workload.backup_slices(7, 150_000)


def test_other_seed_differs():
    assert workload.pass_order(POOL, 7, 1) != workload.pass_order(POOL, 8, 1)
    assert workload.pass_order(POOL, 7, 1) != workload.pass_order(POOL, 7, 2)
    assert workload.backup_slices(7, 150_000) != workload.backup_slices(8, 150_000)


def test_panel_takes_one_key_per_stratum():
    n = workload.REGISTRY_PANEL
    panel = workload.registry_panel(POOL)
    assert len(set(panel)) == n
    for i, key in enumerate(panel):
        assert len(POOL) * i // n <= POOL.index(key) < len(POOL) * (i + 1) // n
    with pytest.raises(ValueError):
        workload.registry_panel(POOL[: n - 1])


def test_warm_passes_are_a_fixed_count():
    assert workload.warm_passes("registry-sf0.01", 18) == 3
    assert workload.warm_passes("registry-sf0.01", 12) == 2
    assert workload.warm_passes("backup-cycle", 18) == workload.MIN_WARM_PASSES
    assert workload.warm_passes("backup-cycle", 26) == 2
    assert workload.warm_passes("registry-sf0.01", 1) == workload.MIN_WARM_PASSES


def test_slices_grow_by_step():
    s = workload.backup_slices(5, 1000)

    def keys(cycle):  # the order keys the predicate selects
        return {k for k in range(s.modulus) if (k - s.offset) % s.modulus < s.bound(cycle)}

    for c in range(5):
        prev, cur = keys(c), keys(c + 1)
        assert prev < cur
        assert len(cur - prev) == s.step
    assert len(keys(0)) == s.base


def test_p90_needs_ten_samples_beyond():
    assert not measure.supports_percentile(99, 90)
    assert measure.supports_percentile(100, 90)
    assert measure.supports_percentile(20, 50)
    assert not measure.supports_percentile(19, 50)
    assert measure.percentile(range(99), 90) is None
    assert measure.percentile(range(101), 90) == pytest.approx(90.0)


def test_tree_bytes_counts_each_inode_once(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "f").write_bytes(b"x" * 1000)
    (a / "g").write_bytes(b"y" * 10)
    os.link(a / "f", b / "f-hardlink")
    os.symlink(a / "g", b / "g-symlink")
    os.symlink(a, b / "dir-symlink")
    assert measure.tree_bytes(str(a)) == 1010
    assert measure.tree_bytes(str(a), str(b)) == 1010
    assert measure.tree_bytes(str(b)) == 1000
    assert measure.file_count(str(b)) == 1


def test_verdicts():
    parent = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
    faster = [v * 0.8 for v in parent]
    slower = [v * 1.3 for v in parent]
    pairs = list(zip(parent, faster))
    assert compare.verdict(parent, faster, "lower", 0.1, pairs)[0] == "improved"
    assert compare.verdict(parent, slower, "lower", 0.1, list(zip(parent, slower)))[0] == "regressed"
    assert compare.verdict(parent, parent, "lower", 0.1, list(zip(parent, parent)))[0] == "within bound"
    noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 1.0, 0.8, 1.2]
    assert compare.verdict(noisy, noisy, "lower", 0.1, list(zip(noisy, noisy)))[0] == "unresolved"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_every_job_of_the_phase_is_attributed(spark):
    from spans import Tracer

    tr = Tracer(True)
    tr.attach(spark)
    mark, first = tr.job_mark(), len(tr.spans)
    per_op = []
    for i in range(3):
        with tr.span("op", f"op{i}"):
            with tr.span("operators.construct"):
                df = spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
                df.localCheckpoint(eager=True)  # an eager job inside construction
            with tr.span("exec.execute"):
                df.groupBy("k").count().join(df, "k").collect()
        op_spans = [s for s in tr.spans if s.op == f"op{i}"]
        tr.attribute(op_spans)
        per_op.append(sum(s.jobs for s in op_spans))
    assert all(n > 1 for n in per_op)
    assert tr.unattributed_jobs(mark, first) == 0

    mark, first = tr.job_mark(), len(tr.spans)
    spark.range(10).collect()  # outside every span
    assert tr.unattributed_jobs(mark, first) == 1
