"""Round-11 batch-2 additions (operators/analytics14.py):
registered+oracled coverage, rerun stability, non-vacuous sf0.001
evidence, and crafted-fixture proofs — exact seasonal indexes on a
two-month corpus, the pushed-down min/max filter, all five
reconciliation bands, the waterfall's integer reconciliation, the
degenerate zero-difference permutation test, and independence lift.

Same contract as test_determinism_r5-r12; the keys sit at the tail
of ``registry._CHECK_PRIORITY`` (round-12 queue, DEFERRED).

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    orders_seasonal_index scan_minmax_pruned dq_orders_lineitem_reconcile
    lineitem_revenue_waterfall stats_permutation_test_hash
    path_transition_lift
""".split()

test_r13_queue_keys_cover_the_round = keys_view("parity", _IDS)
test_r13_queue_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


def test_seasonal_index_exact_on_two_month_corpus(spark, tmp_path):
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, 10, "O", 3.0, datetime(2024, 1, 5), "P"),
            (2, 10, "O", 3.0, datetime(2024, 1, 20), "P"),
            (3, 10, "O", 2.0, datetime(2024, 2, 10), "P"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {
        r["month"]: r
        for r in all_specs()["orders_seasonal_index"].fn(spark, d).collect()
    }
    # month 1: 600 of 800 cents -> 1000*12*600/800 = 9000
    assert out[1]["month_cents"] == 600 and out[1]["n_orders"] == 2
    assert out[1]["seasonal_index_permille"] == 9000
    assert out[2]["seasonal_index_permille"] == 3000


def test_minmax_scan_pushes_the_filter(spark, sf_dir):
    from clickhousebackup_spark.plans import inspect

    df = all_specs()["scan_minmax_pruned"].fn(spark, sf_dir)
    plan = inspect.physical_plan(df)
    # the band predicate must reach the parquet reader as a pushed
    # filter so footer min/max stats can skip files at scale
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters: [", 1)[1][:200]
    # and the pruned scan returns exactly the band
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n = df.count()
    assert 0 < n < total


def test_reconcile_bands_on_crafted_fixture(spark, tmp_path):
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, 1, "O", 100.00, datetime(2024, 1, 1), "P"),  # exact
            (2, 1, "O", 100.00, datetime(2024, 1, 1), "P"),  # +1% edge
            (3, 1, "O", 100.00, datetime(2024, 1, 1), "P"),  # beyond
            (4, 1, "O", 50.00, datetime(2024, 1, 1), "P"),   # no lines
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    # line totals (cents): order1 10000 (exact), order2 10100
    # (diff 100*100 == 10000*1 -> within, closed band edge),
    # order3 12000 (beyond), order9 orphan
    spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 100.00, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
            (2, 1, 1, 1, 1.0, 101.00, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
            (3, 1, 1, 1, 1.0, 120.00, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
            (9, 1, 1, 1, 1.0, 10.00, 0.0, 0.0, "N", "O", datetime(2024, 1, 2)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = all_specs()["dq_orders_lineitem_reconcile"].fn(spark, d).collect()[0]
    assert out["n_orders"] == 4
    assert out["n_orders_no_lines"] == 1
    assert out["n_exact"] == 1
    assert out["n_within_1pct"] == 1  # exactly 1% stays in the band
    assert out["n_beyond_1pct"] == 1
    assert out["n_orphan_lines"] == 1


def test_waterfall_reconciles_by_integer_arithmetic(spark, sf_dir):
    out = all_specs()["lineitem_revenue_waterfall"].fn(spark, sf_dir).collect()[0]
    assert out["net_cents"] == out["gross_cents"] - out["discount_cents"]
    assert out["charged_cents"] == out["net_cents"] + out["tax_cents"]
    assert out["gross_cents"] > out["discount_cents"] > 0


def test_permutation_test_degenerate_zero_difference(spark, tmp_path):
    """Identical click/view populations -> obs_diff == 0, so every
    valid permutation satisfies |diff_b| >= 0 and p must be exactly
    (1+64)/65 = 1.0."""
    rows = []
    for i in range(40):
        rows.append((i, datetime(2024, 1, 1), 1, "click", 5.0, ""))
        rows.append((100 + i, datetime(2024, 1, 1), 1, "view", 5.0, ""))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = all_specs()["stats_permutation_test_hash"].fn(spark, d).collect()[0]
    assert out["obs_diff"] == 0.0
    assert out["n_exceed"] == 64 and out["p_value"] == 1.0


def test_transition_lift_closed_form_on_alternating_chain(spark, tmp_path):
    """A strict a->b->a->b alternation concentrates ALL mass in the
    two off-diagonal cells, so each observed cell carries ~2x its
    independence expectation — the closed-form lifts below
    (1000*cnt*T/(src*dst)) are exact integer-arithmetic pins, NOT the
    independence identity (which would read 1000)."""
    rows = []
    for i in range(40):
        rows.append(
            (i, datetime(2024, 1, 1, 0, i % 60), 1, "a" if i % 2 == 0 else "b", 1.0, "")
        )
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        (r["src"], r["dst"]): r
        for r in all_specs()["path_transition_lift"].fn(spark, d).collect()
    }
    # 39 transitions: a->b x20, b->a x19; no a->a or b->b.
    ab = out[("a", "b")]
    assert ab["cnt"] == 20 and ab["src_total"] == 20 and ab["dst_total"] == 20
    # lift = 1000 * 20 * 39 / (20*20) = 1950
    assert ab["lift_permille"] == 1950
    ba = out[("b", "a")]
    assert ba["cnt"] == 19
    assert ba["lift_permille"] == (1000 * 19 * 39) // (19 * 19)
