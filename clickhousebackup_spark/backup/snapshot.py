"""Snapshot write/verify/publish (A10/A11/A13).

The reference's one real operation — `BACKUP DATABASE … TO Disk(...)`
(`backup.sh:38-45`) followed by an existence check and an atomic move
into `last/` (`backup.sh:47-52`) — re-expressed as:

    write parquet to a staging path, counting the rows as they are
    written → verify: the observed write count must equal the row
    count in the staged files' parquet footers → rename to the final
    ts-named immutable path (staged-atomic publish, the `*-new` dir
    dance of backup.sh:67-89).

The source is evaluated once, by the write; the verify reads footers
only, driver-side, no Spark job.

Plain-filesystem renames of a directory are atomic on POSIX; on object
stores you'd swap this for a table-format commit (out of scope per
SURVEY.md §4.3).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from clickhousebackup_spark.tables import parquet_footer_rows


@dataclass(frozen=True)
class SnapshotResult:
    db: str
    table: str
    period_key: str
    path: str
    n_rows: int


def write_verified(
    df: DataFrame,
    staging: str,
    kind: str,
    name: str,
    partition_by: list[str] | None = None,
) -> int:
    """Write ``df`` as parquet to ``staging`` (replacing a leftover
    from an interrupted run) in one pass and verify the staged files
    (A11); returns the row count.

    The rows are counted by the write itself, through an
    ``Observation`` on the written plan, so the source is evaluated
    once. The staged files are counted from their parquet footers
    (``tables.parquet_footer_rows``, no Spark job), which is all
    Spark's own column-less ``count()`` of them would read. A lost
    part file, a truncated one (no readable footer) or any other
    mismatch removes ``staging`` and raises RuntimeError — the
    reference's ``[ ! -f … ] && exit 1`` strengthened from existence
    to cardinality."""
    if os.path.exists(staging):
        shutil.rmtree(staging)
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    expected = obs.get["n"]
    n = parquet_footer_rows(staging)
    if n != expected:
        shutil.rmtree(staging, ignore_errors=True)
        found = (
            "staged footers unreadable" if n is None else f"staged files hold {n} rows"
        )
        raise RuntimeError(
            f"{kind} verify failed for {name}: {found}, the write counted {expected}"
        )
    return n


def snapshot_table(
    df: DataFrame,
    base_dir: str,
    db: str,
    table: str,
    period_key: str,
    partition_by: list[str] | None = None,
) -> SnapshotResult:
    """Write one immutable snapshot with staged-atomic publish."""
    final = os.path.join(base_dir, db, f"{table}-{period_key}")
    staging = final + "-new"  # the `*-new` staging suffix, backup.sh:68-70
    n = write_verified(
        df, staging, "snapshot", f"{db}.{table}-{period_key}", partition_by
    )
    if os.path.exists(final):  # backup.sh:80: replace existing period artifact
        shutil.rmtree(final)
    os.rename(staging, final)
    return SnapshotResult(db=db, table=table, period_key=period_key, path=final, n_rows=n)
