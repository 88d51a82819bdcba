"""Cluster-safe scratch space for query-internal materialization.

Some registered queries materialize an intermediate: sketch tables
(dedup_minhash), snapshot targets (snapshot_write), partitioned
rewrites (scan_partition_pruned). On a real cluster that storage must
be on a shared filesystem (HDFS/S3A/NFS) — a driver-local
``tempfile.mkdtemp`` path is invisible to executors, which is exactly
how the reference treats its backup volume (a mounted shared dir,
Dockerfile:40). The base directory is therefore read from the session
conf ``spark.cbs.scratch.dir``; set it to shared storage on a real
cluster. Locally it defaults to one fixed directory under the system
temp root.

Leak control: paths are DETERMINISTIC per (key, input-dir) and every
write replaces the previous artifact (mode=overwrite or staged
replace), so reruns reuse the same path instead of accumulating fresh
``mkdtemp`` dirs. ``clean_scratch`` removes the whole base for
explicit cleanup (tests, post-run hooks). Concurrent *distinct*
sessions should set distinct ``spark.cbs.scratch.dir`` values.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

#: Session conf naming the shared scratch base directory.
SCRATCH_CONF = "spark.cbs.scratch.dir"


def scratch_base(spark: SparkSession) -> str:
    """The scratch base dir: session conf, else the CBS_SCRATCH_DIR
    env var (how concurrent test shards isolate their scratch — see
    scripts/run_test_shards.py), else <tmp>/cbs_scratch."""
    try:
        base = spark.conf.get(SCRATCH_CONF, None)
    except Exception:
        base = None
    return (
        base
        or os.environ.get("CBS_SCRATCH_DIR")
        or os.path.join(tempfile.gettempdir(), "cbs_scratch")
    )


def scratch_path(spark: SparkSession, key: str, sf_dir: str = "") -> str:
    """Deterministic scratch path for one query key on one input dir.

    Determinism (not uniqueness) is the leak fix: the same (key,
    input) always lands on the same path and the writer replaces it.
    """
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8] if sf_dir else "global"
    return os.path.join(scratch_base(spark), f"{key}_{tag}")


def input_fingerprint(path: str) -> str:
    """Content fingerprint of a LOCAL input dir/file: md5 over the
    sorted (name, size, mtime_ns) listing. Keys that CACHE a derived
    artifact keyed on the input path (shard manifests, layout
    rewrites) fold this into their scratch key so regenerating the
    input in place invalidates the cache instead of silently serving
    results for the OLD bytes (round-11 review finding). Non-local
    URIs fall back to hashing the path string — same behavior as
    before, documented as path-keyed."""
    h = hashlib.md5()
    try:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, name))
                h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
        else:
            st = os.stat(path)
            h.update(f"{path}:{st.st_size}:{st.st_mtime_ns};".encode())
    except OSError:
        h.update(path.encode())
    return h.hexdigest()[:10]


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Pin ``df`` as a stored intermediate and truncate its lineage —
    the one call every query makes to checkpoint a subtree, so how
    intermediates are stored is decided here and nowhere else.

    The strategy is ``localCheckpoint``: blocks live in executor
    storage, with no checkpoint dir and no extra I/O. ``eager=True``
    runs the job now; ``eager=False`` stores the rows on the first
    action that reads them.

    Cluster caveat: localCheckpoint blocks are NOT replicated, so on a
    multi-executor cluster an executor loss after the checkpoint fails
    the job instead of recomputing it. That is the right trade on a
    single JVM (no executor to lose, no shared filesystem to write).
    For long cluster jobs, swap the body here for a reliable
    checkpoint (``df.checkpoint(eager=eager)`` after
    ``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")``); every
    call site follows.
    """
    return df.localCheckpoint(eager=eager)


def roundtrip_parquet(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` at ``path`` (replacing any prior run) and
    reread it — the explicit stage boundary used where a plan would
    otherwise recompute an expensive subtree per consumer."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def reap_stale_siblings(prefix_path: str) -> list[str]:
    """Best-effort removal of per-process/per-session scratch dirs
    left by PREVIOUS boots: every dir in ``dirname(prefix_path)``
    whose name starts with ``basename(prefix_path)`` and whose mtime
    predates the current boot. pid-/applicationId-keyed scratch
    (Derby dbs, bucketed warehouses) is unique per run by design —
    uniqueness is what prevents cross-process races — so nothing
    reclaims it EXCEPT this sweep; anything modified since boot may
    belong to a live sibling process and is left alone."""
    base = os.path.dirname(prefix_path)
    stem = os.path.basename(prefix_path)
    try:
        with open("/proc/uptime") as fh:
            import time as _time

            boot = _time.time() - float(fh.read().split()[0])
    except Exception:
        return []  # no boot clock (non-Linux) — skip rather than guess
    removed = []
    try:
        names = os.listdir(base)
    except OSError:
        return []
    for name in names:
        if not name.startswith(stem):
            continue
        full = os.path.join(base, name)
        try:
            if os.path.isdir(full) and os.path.getmtime(full) < boot:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        except OSError:
            continue
    return removed


def clean_scratch(spark: SparkSession) -> None:
    """Remove the scratch base entirely (local-filesystem bases only)."""
    base = scratch_base(spark)
    if os.path.isdir(base):
        shutil.rmtree(base, ignore_errors=True)
