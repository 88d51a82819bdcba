"""Two-pass distributed global order scan — rank / running sum /
totals over a TOTAL order without a single-partition window.

The pattern (first shipped inline in ``sort_multi``,
operators/sorts.py): range-partition on the sort key so partition i
holds a contiguous key range, compute row numbers / running sums
WITHIN each partition (parallel, partitioned window), aggregate one
tiny per-partition summary table (n_partitions rows), turn it into
cumulative offsets with a window over that tiny table, and broadcast
the offsets back. Global position = partition offset + local
position; global running sum = partition prefix + local running sum.
Wall-clock and memory stay per-partition at any scale — this is the
plan MapReduce TeraSort and every distributed rank implementation
use, vs. ``Window.orderBy(...)`` which moves ALL rows to one
partition (the ``WindowExec: No Partition Defined`` warning).

The ranged subtree is materialized ONCE (localCheckpoint) before the
summary and detail branches read it: both MUST observe identical
partition boundaries, and RangePartitioner's sampling seed varies
with RDD id, so relying on exchange reuse to dedupe the two
evaluations would be a race, not a contract.

Cluster caveat — localCheckpoint truncates lineage with blocks that
are NOT replicated: on a multi-executor cluster an executor loss
after the checkpoint fails the job instead of recomputing. That is
the right trade on the single-JVM driver/test environment (no
executor to lose, no HDFS to write), but cluster deployments should
pass ``materialize=`` with a reliable strategy, e.g.::

    spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")
    global_order_scan(df, keys, pos="p",
                      materialize=lambda d: d.checkpoint(eager=True))

Callers that rank the SAME frame under several different key orders
(orders_rfm_segments' three quartile cuts) should use
``global_positions_multi`` — it melts the metrics into one long
narrow frame and pays ONE range shuffle + ONE materialization for
all key orders, instead of one full-frame materialization each.

The offsets table itself uses an unpartitioned window — over
n_shuffle_partitions rows, bounded by cluster config, not data;
tests/contracts.py allows exactly this shape per key.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "_distrank_pid"


def global_order_scan(
    df: DataFrame,
    keys: Sequence[Column],
    *,
    pos: str | None = None,
    cumsum: Mapping[str, Column] | None = None,
    totals: Mapping[str, Column] | None = None,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Return ``df`` (same columns, plus the requested ones) ordered
    observables computed over the total order defined by ``keys``:

    - ``pos``: 1-based global row number (long) — requires ``keys``
      to be a total order for determinism.
    - ``cumsum``: ``{out_name: expr}`` inclusive running sums of
      ``expr`` in key order (sum type follows Spark's sum of the
      expression's type, e.g. decimal stays decimal).
    - ``totals``: ``{out_name: expr}`` global sums of ``expr``
      attached to every row (computed on the tiny summary table —
      no second scan, no extra shuffle of the fact).
    - ``materialize``: how to pin the ranged frame so the summary and
      detail branches observe identical partition boundaries.
      Default ``localCheckpoint(eager=True)`` (fast, but lineage is
      truncated with non-replicated blocks — see the module
      docstring's cluster caveat); pass a reliable-checkpoint lambda
      for multi-executor deployments.
    """
    cumsum = dict(cumsum or {})
    totals = dict(totals or {})
    if pos is None and not cumsum and not totals:
        raise ValueError("request at least one of pos/cumsum/totals")
    if materialize is None:
        materialize = lambda d: d.localCheckpoint(eager=True)

    ranged = materialize(
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .withColumn(_PID, F.spark_partition_id())
    )

    sum_exprs = {**cumsum, **totals}
    per = ranged.groupBy(_PID).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(e).alias(f"_s_{name}") for name, e in sum_exprs.items()],
    )
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    off_cols = [
        F.col(_PID),
        F.coalesce(F.sum("_n").over(w_prev), F.lit(0)).alias("_off"),
    ]
    for name in cumsum:
        off_cols.append(
            F.coalesce(
                F.sum(f"_s_{name}").over(w_prev), F.lit(0)
            ).alias(f"_coff_{name}")
        )
    for name in totals:
        off_cols.append(F.sum(f"_s_{name}").over(w_all).alias(f"_tot_{name}"))
    offsets = per.select(*off_cols)

    w_local = Window.partitionBy(_PID).orderBy(*keys)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out_cols = [F.col(c) for c in df.columns]
    if pos is not None:
        out_cols.append(
            (F.col("_off") + F.row_number().over(w_local))
            .cast("long")
            .alias(pos)
        )
    for name, e in cumsum.items():
        out_cols.append(
            (F.col(f"_coff_{name}") + F.sum(e).over(w_run)).alias(name)
        )
    for name in totals:
        out_cols.append(F.col(f"_tot_{name}").alias(name))
    return ranged.join(F.broadcast(offsets), _PID).select(*out_cols)


def global_positions_multi(
    df: DataFrame,
    metrics: Mapping[str, Column],
    tiebreak: Sequence[str],
    *,
    total: str | None = None,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Global 1-based positions of every row under SEVERAL total
    orders over the SAME frame, with ONE range shuffle and ONE
    materialization for all of them (vs one ``global_order_scan``
    call — and one full-frame materialization — per order).

    ``metrics`` maps each output position column to a NUMERIC,
    non-null, order-preserving expression (dates must be pre-mapped,
    e.g. ``F.unix_date``; longs/doubles pass through — the melt casts
    to double, exact for integers up to 2^53). ``tiebreak`` names
    columns that uniquely identify a row; each order is
    ``(metric ASC, *tiebreak ASC)``. ``total`` optionally attaches
    the global row count to every row.

    Plan shape: melt the k metrics into a ``(metric_idx, value,
    tiebreak...)`` long frame (k·n NARROW rows, no shuffle), ONE
    two-pass distributed rank over ``(idx, value, tiebreak)``, then
    per-metric position = global position − idx·n in closed form,
    pivoted back per row (one hash agg) and joined to ``df`` on the
    tiebreak. Shuffled bytes stay ~k·n·row_narrow regardless of how
    wide ``df`` is; only one lineage-truncating materialization.
    """
    names = list(metrics)
    k = len(names)
    if k == 0:
        raise ValueError("metrics must be non-empty")
    melted = df.select(
        *tiebreak,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_m"),
                        metrics[name].cast("double").alias("_v"),
                    )
                    for i, name in enumerate(names)
                ]
            )
        ).alias("_mv"),
    ).select(*tiebreak, F.col("_mv._m").alias("_m"), F.col("_mv._v").alias("_v"))

    scanned = global_order_scan(
        melted,
        (F.col("_m"), F.col("_v"), *[F.col(c) for c in tiebreak]),
        pos="_gp",
        totals={"_cnt": F.lit(1)},
        materialize=materialize,
    )
    n_rows = F.floor(F.col("_cnt") / F.lit(k)).cast("long")
    local_pos = (F.col("_gp") - F.col("_m").cast("long") * n_rows).cast("long")
    agg_cols = [
        F.max(F.when(F.col("_m") == i, local_pos)).alias(name)
        for i, name in enumerate(names)
    ]
    if total is not None:
        agg_cols.append(F.max(n_rows).alias(total))
    posframe = scanned.groupBy(*tiebreak).agg(*agg_cols)
    return df.join(posframe, on=list(tiebreak))


def ntile_from_pos(pos: Column, n_rows: Column, k: int) -> Column:
    """SQL NTILE(k) bucket from a 1-based global position and the
    total row count — NTILE in closed form, so an equi-depth cut
    needs only the two-pass global position, never a global window.
    Standard semantics: the first ``n mod k`` buckets get
    ``ceil(n/k)`` rows, the rest ``floor(n/k)``."""
    p = pos - F.lit(1)  # 0-based
    q = F.floor(n_rows / F.lit(k))
    r = n_rows % F.lit(k)
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(p < big, F.floor(p / (q + 1)))
        .otherwise(r + F.floor((p - big) / F.greatest(q, F.lit(1))))
        + F.lit(1)
    ).cast("long")
