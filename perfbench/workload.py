"""Seeded workload plans: which keys run, in which order, over which rows.

Everything here is a pure function of the seed (and of the registry's
key set), so a run can be replayed and the tests can check it without
Spark.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

#: Scale factor of the generated tables, per workload.
SCALE = {"analytics-sf0.1": 0.1, "registry-sf0.01": 0.01, "backup-cycle": 0.1}

#: Keys in the registry-sf0.01 panel: one per latency stratum.
REGISTRY_PANEL = 12

#: Seconds one warm pass (backup cycle) takes on a 4-core x86 box, per
#: workload. A run makes ``--seconds`` worth of warm passes at this
#: pace, at least MIN_WARM_PASSES, whatever the box's speed that day.
PASS_S = {"analytics-sf0.1": 8.0, "registry-sf0.01": 6.0, "backup-cycle": 13.0}
MIN_WARM_PASSES = 1

#: The synthetic clock of backup-cycle: first cycle and step per cycle,
#: one nightly backup a cycle.
CLOCK_START = dt.datetime(2024, 1, 1)
CLOCK_STEP = dt.timedelta(days=1)
#: Retention of the pruned root, as RetentionPolicy fields: `last`
#: keeps 12 hours and the other generations keep no history, so from
#: the second cycle on every prune deletes the previous night's
#: snapshot (the rm side of backup.sh:119-122 runs every cycle).
RETENTION = {"keep_mins": 720, "keep_days": 0, "keep_weeks": 0, "keep_months": 0}


def registry_panel(ranked_keys: list[str], n: int = REGISTRY_PANEL) -> list[str]:
    """The middle key of each of ``n`` equal strata of ``ranked_keys``.

    ``ranked_keys`` is the pool ordered by reference warm latency
    (strata.json), so the panel spans the registry's latency range in
    equal steps. The panel is the same for every seed: seeded samples
    of 16 keys moved op_p50_s by up to a quarter from seed to seed,
    more than any bound worth gating on.
    """
    if len(ranked_keys) < n:
        raise ValueError(f"pool of {len(ranked_keys)} keys is smaller than the panel ({n})")
    bounds = [len(ranked_keys) * i // n for i in range(n + 1)]
    return [ranked_keys[(lo + hi) // 2] for lo, hi in zip(bounds, bounds[1:])]


def warm_passes(name: str, seconds: float) -> int:
    """Number of warm passes of a run of workload ``name``.

    A fixed count, not "until ``seconds`` have passed": on a slow box a
    timed rule ran fewer passes, and since ops still speed up from pass
    to pass (JIT), the box's speed then also changed which ops were
    measured.
    """
    return max(MIN_WARM_PASSES, round(seconds / PASS_S[name]))


def pass_order(keys: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of one pass over ``keys``: a fresh seeded shuffle per pass."""
    return random.Random(f"{seed}/order/{pass_no}").sample(list(keys), len(keys))


@dataclass(frozen=True)
class Slices:
    """Growing row slices of the orders/lineitem key space.

    Cycle ``c`` keeps the rows whose order key ``k`` satisfies
    ``(k - offset) mod modulus < base + c * step``: a seeded start and
    a fixed growth, so every slice holds the previous one and each
    incremental backup has exactly ``step`` orders of new rows.
    """

    offset: int
    modulus: int
    base: int
    step: int

    def bound(self, cycle: int) -> int:
        return min(self.modulus, self.base + cycle * self.step)

    def predicate(self, key_col: str, cycle: int) -> str:
        """Spark SQL predicate selecting cycle ``cycle``'s rows."""
        return f"pmod({key_col} - {self.offset}, {self.modulus}) < {self.bound(cycle)}"


def backup_slices(seed: int, n_orders: int) -> Slices:
    """A fiftieth of the orders to start with, growing by a 250th a cycle.

    Small slices keep every op bound by its fixed cost (jobs, catalog,
    files) rather than by hashing rows: with a tenth of the orders the
    incremental's row-hash diff took 7 to 15 s a warm cycle and set
    most of the run-to-run spread of the cycle's latency.
    """
    offset = random.Random(f"{seed}/slices").randrange(n_orders)
    return Slices(offset=offset, modulus=n_orders, base=n_orders // 50, step=n_orders // 250)


def clock(cycle: int) -> dt.datetime:
    return CLOCK_START + cycle * CLOCK_STEP
