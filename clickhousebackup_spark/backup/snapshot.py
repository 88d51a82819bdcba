"""Snapshot write/verify/publish (A10/A11/A13).

The reference's one real operation — `BACKUP DATABASE … TO Disk(...)`
(`backup.sh:38-45`) followed by an existence check and an atomic move
into `last/` (`backup.sh:47-52`) — re-expressed as:

    write parquet to a staging path → reread and verify → rename to
    the final ts-named immutable path (staged-atomic publish, the
    `*-new` dir dance of backup.sh:67-89).

Plain-filesystem renames of a directory are atomic on POSIX; on object
stores you'd swap this for a table-format commit (out of scope per
SURVEY.md §4.3).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class SnapshotResult:
    db: str
    table: str
    period_key: str
    path: str
    n_rows: int


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
    if os.path.exists(staging):
        shutil.rmtree(staging)
    expected = df.count()
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    # A11 verify: reread before publishing and compare against the
    # source row count; a missing/truncated artifact (e.g. a lost part
    # file that still parses) aborts the publish — the reference's
    # `[ ! -f … ] && exit 1` strengthened from existence to cardinality.
    n = df.sparkSession.read.parquet(staging).count()
    if n != expected:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"snapshot verify failed for {db}.{table}-{period_key}: "
            f"staged artifact has {n} rows, source has {expected}"
        )

    if os.path.exists(final):  # backup.sh:80: replace existing period artifact
        shutil.rmtree(final)
    os.rename(staging, final)
    return SnapshotResult(db=db, table=table, period_key=period_key, path=final, n_rows=n)
