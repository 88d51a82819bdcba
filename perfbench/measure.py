"""Summary statistics and host measurements the benchmark reports."""

from __future__ import annotations

import os
import stat
import statistics

#: A percentile is reported only when at least this many samples lie
#: beyond it, so one outlier cannot set it.
MIN_SAMPLES_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    values = list(values)
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def supports_percentile(n_samples: int, pct: float) -> bool:
    """True when ``n_samples`` leave at least MIN_SAMPLES_BEYOND samples
    above the ``pct``-th percentile (p90 needs 100 samples)."""
    return n_samples * (100.0 - pct) / 100.0 >= MIN_SAMPLES_BEYOND


def percentile(values, pct: float) -> float | None:
    """The ``pct``-th percentile (inclusive interpolation), or None when
    the sample is too small to support it."""
    values = sorted(values)
    if not supports_percentile(len(values), pct):
        return None
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(pct) - 1])


def tree_bytes(*roots: str) -> int:
    """Bytes of regular files under ``roots``, each inode counted once
    (hardlinked files share their storage) and symlinks not followed."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                st = os.lstat(os.path.join(dirpath, name))
                if not stat.S_ISREG(st.st_mode):
                    continue
                ident = (st.st_dev, st.st_ino)
                if ident not in seen:
                    seen.add(ident)
                    total += st.st_size
    return total


def file_count(root: str) -> int:
    """Regular files under ``root`` (symlinks not followed)."""
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        n += sum(
            1 for f in files if os.path.isfile(os.path.join(dirpath, f))
            and not os.path.islink(os.path.join(dirpath, f))
        )
    return n


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
