"""The registry sweep: every registered key is checked against its
contract (tests/contracts.py) on ONE build of its DataFrame.

Per key, in this order:

1. plan — the executed-plan string is read once, before any action
   (an action lets AQE rewrite it in place). No CartesianProduct;
   BroadcastNestedLoopJoin, unpartitioned-window,
   low-cardinality-window and scaling-broadcast counts within the
   key's maxima; no user repartition keyed only on
   ``tables.LOW_CARDINALITY_COLUMNS``; the shuffle/broadcast budget,
   if one is pinned. A new key that drops a join predicate or sorts
   row-scaled input through one partition fails the day it is
   registered, not at 100 TB.
2. types — the int/float class of ``df.schema`` agrees with the
   oracle's DESCRIBE per output column (the driver hashes pandas
   renderings, where ``123`` and ``123.0`` differ).
3. parity — one collect, compared exactly with the DuckDB oracle
   (the local mirror of the driver's sf0.01 hash gate).
4. rerun — for ``rerun_stable`` keys, those rows are non-empty and
   equal the rows of a second, fresh build (partition-order
   nondeterminism: unsorted collects, tie-less keep-one, double-sum
   wobble). A key with ``rerun_sf`` is instead built twice at that
   fixture scale, where it returns rows.

Measured at sf0.001. Some builders eagerly materialize scratch
artifacts while constructing their DataFrame (sink roundtrips,
snapshot writers, localCheckpoint boundaries in the dedup/graph
fixpoints); those jobs run here too, so every key's FINAL plan is
inspected.

Each key's outcome is computed once per session and memoized;
``key_view`` / ``keys_view`` assert single clauses of it under the
per-round test ids that predate this sweep, and fail for a key the
clause does not apply to.
"""

from __future__ import annotations

import os

import pytest

from clickhousebackup_spark.plans import inspect
from clickhousebackup_spark.registry import all_specs
from clickhousebackup_spark.tables import LOW_CARDINALITY_COLUMNS
from tests.compare import _norm, assert_same_result, duck_class, spark_class
from tests.contracts import CONTRACTS, Contract

SPECS = all_specs()
CLAUSES = ("build", "plan", "types", "parity", "rerun")


#: key -> clause -> failure messages of that key's one build, for the
#: whole test session (the views below read it instead of rebuilding).
_OUTCOMES: dict[str, dict[str, list[str]]] = {}


def _plan_failures(df, c: Contract) -> list[str]:
    plan = inspect.physical_plan(df)
    out = []

    def at_most(n: int, limit: int, what: str, fix: str) -> None:
        if n > limit:
            out.append(f"{n} {what} (contract allows {limit}) — {fix}")

    if "CartesianProduct" in plan:
        out.append("CartesianProduct — a dropped join predicate")
    at_most(
        plan.count("BroadcastNestedLoopJoin"), c.nlj,
        "BroadcastNestedLoopJoin",
        "restore the equi-key or pin a constant-width probe in nlj",
    )
    at_most(
        inspect.count_unpartitioned_windows(plan), c.unpart_windows,
        "unpartitioned WindowExec",
        "use distrank.global_order_scan for total-order ranks/cumsums, "
        "or pin a bounded input in unpart_windows",
    )
    at_most(
        sum(
            1
            for p in inspect.window_partition_columns(plan)
            if p and p <= LOW_CARDINALITY_COLUMNS
        ),
        c.lowcard_windows,
        "low-cardinality-partitioned WindowExec",
        "the structural-straggler shape; bucket the partition "
        "(families 5-7) or justify it in lowcard_windows",
    )
    lce = inspect.lowcard_repartition_exchanges(plan, LOW_CARDINALITY_COLUMNS)
    if lce:
        out.append(
            f"{len(lce)} user-injected repartition exchange(s) keyed only "
            f"on bounded-domain columns ({lce[0]}) — the agg_basic-r16 "
            f"structural-straggler shape; drop the keyed fan-out or key it "
            f"on a high-cardinality column (never allowed)"
        )
    at_most(
        len(inspect.broadcast_hinted_scaling_tables(df)), c.scaling_bcast,
        "broadcast hint(s) over an SF-scaling table",
        "a forced OOM at scale-up; drop the hint (AQE sizes it) or "
        "justify a bounded frame in scaling_bcast",
    )
    if c.shuffles is not None:
        at_most(
            inspect.count_shuffles(plan), c.shuffles, "shuffle exchanges",
            "the plan budget",
        )
    if plan.count("BroadcastHashJoin") < c.bcast:
        out.append(f"fewer than {c.bcast} BroadcastHashJoin")
    return out + [plan] if out else out


def _type_failures(df, duck, oracle: str) -> list[str]:
    s_schema = {
        f.name: spark_class(f.dataType.typeName()) for f in df.schema.fields
    }
    d_schema = {
        c: duck_class(t)
        for c, t, *_ in duck.execute(f"DESCRIBE ({oracle})").fetchall()
    }
    out = []
    for col in sorted(s_schema.keys() & d_schema.keys()):
        # decimal↔float is tolerated: both sides render through
        # float() in the compare harness and existing driver-green
        # keys rely on it. int↔float (or HUGEINT) is the trap.
        pair = {s_schema[col], d_schema[col]}
        if "int" in pair and ("float" in pair or "HUGEINT" in pair):
            out.append(
                f"{col}: spark={s_schema[col]} duckdb={d_schema[col]}"
            )
    return out


def _rows(df, rows) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted([tuple(_norm(r[c]) for c in cols) for r in rows], key=repr)


def _check(spark, duck, sf_dir, key: str) -> dict[str, list[str]]:
    failures: dict[str, list[str]] = {c: [] for c in CLAUSES}

    def run(clause, fn):
        try:
            failures[clause].extend(fn() or [])
        except Exception as e:  # noqa: BLE001 — reported per clause
            failures[clause].append(f"{type(e).__name__}: {e}")

    spec = SPECS.get(key)
    if spec is None:
        failures["build"].append("not registered")
        return failures
    c = CONTRACTS.get(key, Contract())
    try:
        df = spec.fn(spark, sf_dir)
    except Exception as e:  # noqa: BLE001 — reported as the build clause
        failures["build"].append(f"{type(e).__name__}: {e}")
        return failures
    if spec.oracle is None:
        failures["parity"].append("no oracle registered")
        return failures
    run("plan", lambda: _plan_failures(df, c))
    run("types", lambda: _type_failures(df, duck, spec.oracle))
    rows: list = []

    def parity():
        rows.extend(df.collect())
        assert_same_result(df, duck, spec.oracle, name=key, raw_rows=rows)

    run("parity", parity)
    if c.rerun_stable:

        def rerun():
            if c.rerun_sf:
                d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), c.rerun_sf)
                first = spec.fn(spark, d)
                got = _rows(first, first.collect())
            else:
                d, got = sf_dir, _rows(df, rows)
            if not got:
                return ["no rows: a 0-row result passes every check vacuously"]
            again = spec.fn(spark, d)
            if got != _rows(again, again.collect()):
                return ["rows differ between two builds"]

        run("rerun", rerun)
    return failures


def _failures(spark, duck, sf_dir, key: str, clauses) -> dict[str, list[str]]:
    if key not in _OUTCOMES:
        _OUTCOMES[key] = _check(spark, duck, sf_dir, key)
    return {c: _OUTCOMES[key][c] for c in clauses if _OUTCOMES[key][c]}


@pytest.mark.slow
@pytest.mark.parametrize("key", sorted(SPECS))
def test_key(spark, duck, sf_dir, key):
    bad = _failures(spark, duck, sf_dir, key, CLAUSES)
    assert not bad, f"{key}: {bad}"


def test_contracts_name_registered_keys():
    stale = sorted(set(CONTRACTS) - set(SPECS))
    assert not stale, f"contracts for unregistered keys: {stale}"


def test_every_key_has_an_oracle():
    # Quick-tier guard for what the slow sweep needs first: a
    # registered key without an oracle fails its parity clause, and a
    # rerun_stable key without one is never rerun.
    rows_only = sorted(k for k, s in SPECS.items() if s.oracle is None)
    assert not rows_only, f"keys without an oracle: {rows_only}"


def _view_failures(spark, duck, sf_dir, key: str, clause: str):
    """One clause of ``key``'s sweep outcome. ``"budget"`` is the plan
    clause of a key with a pinned shuffle budget. A view over a key its
    clause does not apply to fails, so a frozen id list that drifts
    from CONTRACTS cannot pass with nothing checked."""
    c = CONTRACTS.get(key, Contract())
    if clause == "rerun" and not c.rerun_stable:
        return {"view": ["not rerun_stable in tests/contracts.py"]}
    if clause == "budget":
        if c.shuffles is None:
            return {"view": ["no shuffle budget in tests/contracts.py"]}
        clause = "plan"
    return _failures(spark, duck, sf_dir, key, ("build", clause))


def key_view(clause: str, keys):
    """A test parametrized over ``keys`` that asserts one clause of
    each key's sweep outcome (builds nothing the sweep does not)."""

    @pytest.mark.slow
    @pytest.mark.parametrize("key", list(keys))
    def view(spark, duck, sf_dir, key):
        bad = _view_failures(spark, duck, sf_dir, key, clause)
        assert not bad, f"{key}: {bad}"

    return view


def keys_view(clause: str, keys):
    """One test asserting one clause of the sweep outcome of every key
    in ``keys``."""
    keys = list(keys)

    @pytest.mark.slow
    def view(spark, duck, sf_dir):
        bad = {}
        for key in keys:
            if f := _view_failures(spark, duck, sf_dir, key, clause):
                bad[key] = f
        assert not bad, bad

    return view
