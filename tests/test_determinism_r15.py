"""Round-13 additions (operators/analytics2.py grid sibling):
registered+oracled coverage, rerun stability, non-vacuous evidence,
and crafted-fixture proofs for ``q1_pricing_summary_grid`` — the
exactness-at-ANY-scale rewrite of TPC-H Q1 whose micro-grid integer
aggregates stay hash-exact where q1's doubles picked up a 15th-digit
divergence at the sf1 slice's 971k-row groups.

Same contract as test_determinism_r5-r14; the keys sit at the tail of
``registry._CHECK_PRIORITY`` (round-13 queue, DEFERRED).

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

import math
from datetime import datetime

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    q1_pricing_summary_grid path_transitions_twostage win_running_sum_twostage
""".split()

test_r15_queue_keys_cover_the_round = keys_view("parity", _IDS)
test_r15_queue_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)

LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)


def _lineitem_dir(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(rows, LINEITEM_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{d}/lineitem.parquet")
    return d


def _li(ok, qty, price, disc, tax, rf, ls, ship):
    return (ok, 1, 1, 1, float(qty), float(price), float(disc), float(tax),
            rf, ls, ship)


def test_grid_sums_match_hand_computation(spark, tmp_path):
    """The checked strings are EXACTLY sum(floor(x * 1e6)) computed
    with the same IEEE-754 ops in plain Python — including a price
    whose discounted product carries more than 6 decimal places (the
    case where q1's double→DECIMAL(38,6) rounding is engine-sensitive
    and the floor grid is not)."""
    ship = datetime(2000, 1, 1)
    rows = [
        _li(1, 17, 33516.25, 0.04, 0.02, "N", "O", ship),
        _li(2, 36, 64412.4375, 0.09, 0.06, "N", "O", ship),
        # 0.1/0.3: classically unrepresentable doubles — the product
        # has a long binary tail; floor-grid must still be exact.
        _li(3, 1, 0.1, 0.3, 0.07, "N", "O", ship),
    ]
    d = _lineitem_dir(spark, tmp_path, rows)
    out = all_specs()["q1_pricing_summary_grid"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]

    def g(x):
        return math.floor(x * 1_000_000.0)

    qtys, prices, discs, taxes = zip(
        *[(row[4], row[5], row[6], row[7]) for row in rows]
    )
    revs = [p * (1 - dc) for p, dc in zip(prices, discs)]
    charges = [rv * (1 + tx) for rv, tx in zip(revs, taxes)]
    assert r["sum_qty_grid"] == str(sum(g(q) for q in qtys))
    assert r["sum_base_price_grid"] == str(sum(g(p) for p in prices))
    assert r["sum_disc_price_grid"] == str(sum(g(rv) for rv in revs))
    assert r["sum_charge_grid"] == str(sum(g(ch) for ch in charges))
    assert r["sum_disc_grid"] == str(sum(g(dc) for dc in discs))
    assert r["count_order"] == 3


def test_grid_shipdate_filter_boundary(spark, tmp_path):
    """The cutoff is inclusive at 2001-09-01 00:00:00 exactly (same
    predicate as q1); one microsecond later is excluded."""
    rows = [
        _li(1, 1, 100.0, 0.0, 0.0, "A", "F", datetime(2001, 9, 1)),
        _li(2, 1, 100.0, 0.0, 0.0, "A", "F",
            datetime(2001, 9, 1, 0, 0, 0, 1)),
    ]
    d = _lineitem_dir(spark, tmp_path, rows)
    out = all_specs()["q1_pricing_summary_grid"].fn(spark, d).collect()
    assert len(out) == 1 and out[0]["count_order"] == 1


def test_grid_is_sufficient_statistics_for_q1(spark, sf_dir):
    """On the real fixture the grid sums, descaled by 1e6, reproduce
    q1's decimal-sum doubles to the grid's truncation bound (one
    micro-unit per row), and the group keys + counts agree exactly —
    the sibling is a drop-in exactness upgrade, not a different
    query."""
    specs = all_specs()
    q1 = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in specs["q1_pricing_summary"].fn(spark, sf_dir).collect()
    }
    grid = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in specs["q1_pricing_summary_grid"].fn(spark, sf_dir).collect()
    }
    assert set(q1) == set(grid) and len(grid) > 0
    for k, g in grid.items():
        n = q1[k]["count_order"]
        assert g["count_order"] == n
        for gcol, qcol in [
            ("sum_qty_grid", "sum_qty"),
            ("sum_base_price_grid", "sum_base_price"),
            ("sum_disc_price_grid", "sum_disc_price"),
            ("sum_charge_grid", "sum_charge"),
        ]:
            descaled = int(g[gcol]) / 1_000_000.0
            # floor truncates < 1 micro-unit per row; decimal(38,6)
            # rounds half-up — the two differ by at most 1e-6 * n.
            assert abs(descaled - q1[k][qcol]) <= 1e-6 * n + 1e-9, (
                k, gcol, descaled, q1[k][qcol],
            )
