"""Fixture-table loaders (FIXTURES.md §1).

``load_table`` is the single read path for every operator: parquet
scan + the one normalization the fixtures need (events.ts arrives as
Parquet TIMESTAMP(NANOS) which Spark reads as a nanosecond long under
``nanosAsLong``; we convert with integer division — double division
would lose precision above 2^53 ns).

At 100 TB these reads stay exactly the same calls: Catalyst pushes
filters/column pruning into the parquet scan, and partition discovery
parallelizes across the cluster. Nothing here collects to the driver.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session-scoped TABLE-PLAN cache: (sf_dir, name) → analyzed DataFrame.
#:
#: What is cached is the *logical plan* (file index + inferred schema +
#: the ts normalization projection) — NEVER data or results: every
#: action on a cached DataFrame still scans the parquet files in full.
#: Why: ``spark.read.parquet`` pays ~100-300 ms of driver-side work per
#: call (Hadoop conf clone, file listing, footer schema inference), and
#: the engine re-loads the same handful of fixture tables for every
#: operator — measured at sf0.1, table loading was the single largest
#: slice of per-query plan-construction wall (OPTIMIZATION_r16.md §2).
#: This is the same lever as the guide's file-listing cache (§6): a
#: production deployment gets it from the metastore catalog; a
#: path-based engine has to memoize the resolved relation itself.
#: Keyed weakly by SparkSession so a stopped session's entries are
#: collected and a fresh session re-lists/re-infers (files may have
#: changed between sessions); ``invalidate_table_cache`` is the
#: explicit refresh hook for callers that rewrite a fixture dir
#: mid-session.
_TABLE_PLANS: WeakKeyDictionary = WeakKeyDictionary()


def invalidate_table_cache(spark: SparkSession | None = None) -> None:
    """Drop cached table plans — all sessions, or one session's."""
    if spark is None:
        _TABLE_PLANS.clear()
    else:
        _TABLE_PLANS.pop(spark, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes events.ts to a µs timestamp."""
    try:
        per_session = _TABLE_PLANS.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mock in tests)
        per_session = {}
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs losslessly (fixture emits whole microseconds); `div`
        # is integer division — `/` would round-trip through double
        # and wobble.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Newer Spark reads the fixtures' parquet timestamps (µs and
    # NANOS alike) as TIMESTAMP_NTZ — the nanosAsLong legacy conf no
    # longer applies. Under the UTC session tz the cast below is a
    # pure retype — same wall values — and keeps every downstream
    # unix_micros/window expression on the TIMESTAMP type the whole
    # engine (and the recorded driver hashes) were built against.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        # one select, not N withColumns: each withColumn call re-resolves
        # the whole projection (~70 ms of driver wall per call at this
        # plan size); a single select does it once.
        df = df.select(
            *[
                F.col(c).cast("timestamp").alias(c) if c in ntz_cols else F.col(c)
                for c in df.columns
            ]
        )
    per_session[(sf_dir, name)] = df
    return df


def parquet_data_files(path: str) -> list[str]:
    """The data files Spark's parquet reader reads at ``path``: the
    path itself, or every ``*.parquet`` file under a directory,
    partition subdirectories included, in path order. Like the
    reader's listing it skips names starting with a dot and names
    starting with an underscore unless they hold ``=`` (``_SUCCESS``,
    ``_temporary``, checksum and staging files). Driver-side listing,
    no Spark job."""
    if not os.path.isdir(path):
        return [path]

    def walk(d: str):
        for e in os.scandir(d):
            if e.name.startswith(".") or (e.name.startswith("_") and "=" not in e.name):
                continue
            if e.is_dir():
                yield from walk(e.path)
            elif e.is_file() and e.name.endswith(".parquet"):
                yield e.path

    return sorted(walk(path))


def parquet_footer_rows(path: str) -> int | None:
    """Row count of the parquet data at ``path`` (a file or a
    directory, partitioned or not) summed from the footers of
    ``parquet_data_files`` — driver-side pyarrow, no Spark job. This
    is what Spark's own column-less ``count()`` reads. None when the
    count cannot be established: pyarrow absent, or any file
    unreadable (a truncated file has no valid footer)."""
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows for f in parquet_data_files(path)
        )
    except Exception:
        return None


def table_rows_metadata(sf_dir: str, name: str) -> int | None:
    """Row count of one fixture table from parquet FOOTER metadata
    (``parquet_footer_rows``), no Spark job. Returns None when the
    count cannot be established (missing pyarrow, unreadable layout);
    callers use it only for scale-dispatch decisions (e.g.
    exact-baseline probe caps), so None must mean "take the exact
    path", never an error. Same plan-construction-side-effect-free
    discipline as analytics16's adaptive hot-share probe.
    """
    return parquet_footer_rows(os.path.join(sf_dir, f"{name}.parquet"))


def warn_probe_slice(
    key: str, table: str, n_rows: int, cap: int, mod: int
) -> None:
    """Runtime marker that a CALIBRATION-ONLY probe slice engaged.

    The exact-baseline keys (sim_knn_join, dedup_ngram_jaccard,
    sketch_recall_probe, dedup_containment, dedup_embedding_cosine,
    dedup_fuzzy_blocked) self-bound to a deterministic 1-in-``mod``
    slice past their footer-metadata row caps. The docstrings document
    the behavior; this warning makes a sliced run distinguishable AT
    RUN TIME — a consumer above the cap who expected the full exact
    baseline sees exactly which slice they got and why, instead of
    silently receiving 1/mod of the output. Routed through the stdlib
    ``warnings`` machinery (category ``RuntimeWarning``) so operators
    can escalate it to an error with -W error::RuntimeWarning, plus a
    mirrored ``logging`` record for log-aggregating deployments.
    """
    import logging
    import warnings

    msg = (
        f"{key}: {table} has {n_rows} rows > exact-baseline cap {cap}; "
        f"self-bounding to the deterministic 1-in-{mod} probe slice "
        f"(sliced rows keep exact full-result values; see the "
        f"registration docstring for the slice contract)"
    )
    # 1 = here, 2 = probe_slice_mod, 3 = the key, 4 = the key's caller
    warnings.warn(msg, RuntimeWarning, stacklevel=4)
    logging.getLogger("clickhousebackup_spark.bounds").warning(msg)


def probe_slice_mod(
    key: str, sf_dir: str, table: str, cap: int, mod: int
) -> int | None:
    """The exact-baseline keys' one self-bound decision: ``mod`` when
    ``table``'s footer row count (``table_rows_metadata``) exceeds
    ``cap``, announced through ``warn_probe_slice``; otherwise None,
    which means the full exact path, also when the count is unknown.
    Callers pass their module's cap and mod constants at call time,
    so tests can force them low with monkeypatch."""
    n_rows = table_rows_metadata(sf_dir, table)
    if n_rows is None or n_rows <= cap:
        return None
    warn_probe_slice(key, table, n_rows, cap, mod)
    return mod


#: Fixture columns whose domain is BOUNDED (a handful of distinct
#: values independent of row count). A keyed ``parallelize(by=...)``
#: on ONLY these columns is a structural straggler, not a fan-out:
#: ``repartition(target, keys)`` fills at most |domain| of the target
#: partitions AND converts the exchange from a few partial-agg rows
#: to every raw row (the round-16 agg_basic regression, driver-
#: measured 0.94 → 1.25 s on both core arms — VERDICT r16 item 2/3).
#: The same set drives the registry sweep's low-card window check and
#: its repartition-exchange check (tests/test_registry_sweep.py), so a
#: new call site repeating the shape fails the suite the day it is
#: written.
LOW_CARDINALITY_COLUMNS = frozenset(
    {
        "event_type", "o_orderstatus", "o_orderpriority", "l_returnflag",
        "l_linestatus", "l_shipmode", "lang", "source", "label",
        "r_name", "n_name", "p_brand", "p_type", "measure",
        # bounded key domains (keys of tables whose row count is a
        # constant of the schema, not of SF)
        "r_regionkey", "n_nationkey",
    }
)


def parallelize(
    df: DataFrame,
    min_parallelism: int | None = None,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Ensure a scan fans out to the full core count.

    The fixture files carry a single parquet row group, so Spark reads
    each in ONE task — a CPU-heavy expression downstream then runs on
    1 of 32 cores. This repartitions ONLY when the scan's input file
    count is below the session's parallelism; on production data (many
    files / row groups) the check is a no-op and no shuffle is added.

    ``by``: optional clustering columns for the fan-out. When the
    downstream operator groups/windows on these keys (or a superset),
    a HASH repartition on them is strictly better than round-robin:
    it skips round-robin's sort-before-repartition pass AND the
    aggregation reuses the exchange (ClusteredDistribution is
    satisfied by hash partitioning on a key subset), so the plan has
    the same single shuffle as the no-fan-out shape — just placed
    below the expensive map work instead of above it. Only meaningful
    under the same files < parallelism guard: at production file
    counts the call remains a no-op and the classic partial+final
    aggregate does the map-side reduction before the exchange.

    The probe is ``df.inputFiles()`` — a driver-side file listing —
    NOT ``df.rdd.getNumPartitions()``, which forces a full plan→RDD
    conversion on the driver per call. A single file larger than
    ``spark.sql.files.maxPartitionBytes`` still splits into multiple
    scan tasks, so the file-count heuristic only ever adds a shuffle
    for small single-file inputs, where it costs nothing.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if by and set(by) <= LOW_CARDINALITY_COLUMNS:
        # Cardinality guard (VERDICT r16 item 4): hash-repartitioning
        # on a bounded-domain key set fills at most |domain| partitions
        # — a structural straggler plus a raw-row exchange where a
        # partial+final agg would have shuffled a handful of rows.
        # This is a programming error at the call site, so fail loudly
        # instead of silently degrading.
        raise ValueError(
            f"parallelize(by={by!r}): every key is low-cardinality "
            f"(LOW_CARDINALITY_COLUMNS) — a keyed fan-out on a bounded "
            f"domain is a structural straggler; drop `by` (round-robin) "
            f"or key on a high-cardinality column the downstream "
            f"operator still reuses"
        )
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. in-memory fixture)
        return df
    if 0 < n_files < target:
        if by:
            return df.repartition(target, *by)
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so operators can use spark.sql(...) directly."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
