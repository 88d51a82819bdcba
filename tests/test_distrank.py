"""distrank.global_order_scan / ntile_from_pos semantics, pinned
against Spark's own single-partition window functions on crafted
inputs (ties, skew, decimal sums, n<k and n%k!=0 tile cuts).

The six operators the round-8 audit graded `weak` (single-partition
total-order windows over row-scaled input) now route through these
helpers; the final plans no longer contain the offending WindowExec
(tests/test_registry_sweep.py pins that), and THIS file pins that the
distributed two-pass results are bit-identical to the global-window
formulation they replaced.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from clickhousebackup_spark.operators.distrank import (
    global_order_scan,
    global_positions_multi,
    ntile_from_pos,
)


@pytest.fixture(scope="module")
def crafted(spark):
    # ties in v (midrank-relevant), negative values, skewed key space,
    # 40 rows over 4+ shuffle partitions
    rows = [(i, (i * 7) % 10 - 3, Decimal(str((i * 13) % 50)) / 10)
            for i in range(40)]
    return spark.createDataFrame(
        rows, "id long, v long, rev decimal(10,1)"
    ).repartition(5)


def test_pos_matches_global_row_number(crafted):
    keys = (F.col("v").desc(), F.col("id"))
    got = {
        r["id"]: r["pos"]
        for r in global_order_scan(crafted, keys, pos="pos").collect()
    }
    want = {
        r["id"]: r["pos"]
        for r in crafted.select(
            "id", F.row_number().over(Window.orderBy(*keys)).alias("pos")
        ).collect()
    }
    assert got == want


def test_cumsum_and_totals_match_global_window(crafted):
    keys = (F.col("v"), F.col("id"))
    scanned = global_order_scan(
        crafted,
        keys,
        cumsum={"cum_rev": F.col("rev"), "cum_n": F.lit(1)},
        totals={"tot_rev": F.col("rev"), "n_rows": F.lit(1)},
    )
    w = Window.orderBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = crafted.select(
        "id",
        F.sum("rev").over(w).alias("cum_rev"),
        F.sum(F.lit(1)).over(w).alias("cum_n"),
    )
    got = {r["id"]: (r["cum_rev"], r["cum_n"]) for r in scanned.collect()}
    want = {r["id"]: (r["cum_rev"], r["cum_n"]) for r in ref.collect()}
    assert got == want
    tot = crafted.agg(F.sum("rev"), F.count(F.lit(1))).first()
    for r in scanned.collect():
        assert r["tot_rev"] == tot[0] and r["n_rows"] == tot[1]


def test_original_columns_preserved(crafted):
    out = global_order_scan(crafted, (F.col("id"),), pos="p")
    assert out.columns == ["id", "v", "rev", "p"]


@pytest.mark.parametrize("n,k", [(40, 8), (40, 7), (5, 8), (1, 4), (9, 3)])
def test_ntile_from_pos_matches_sql_ntile(spark, n, k):
    df = spark.range(n).select(F.col("id").alias("pos1"))
    want = {
        r["pos1"]: r["b"]
        for r in df.select(
            "pos1",
            F.ntile(k).over(Window.orderBy("pos1")).cast("long").alias("b"),
        ).collect()
    }
    got = {
        r["pos1"]: r["b"]
        for r in df.select(
            "pos1",
            ntile_from_pos(
                F.col("pos1") + 1, F.lit(n).cast("long"), k
            ).alias("b"),
        ).collect()
    }
    assert got == want


def test_requires_some_output():
    with pytest.raises(ValueError):
        global_order_scan(None, (F.col("x"),))


def test_global_positions_multi_matches_per_order_windows(crafted):
    got = global_positions_multi(
        crafted,
        {"p_v": F.col("v"), "p_rev": F.col("rev"), "p_id": -F.col("id")},
        ["id"],
        total="n",
    )
    rows = {r["id"]: r for r in got.collect()}
    for name, keys in [
        ("p_v", (F.col("v"), F.col("id"))),
        ("p_rev", (F.col("rev"), F.col("id"))),
        ("p_id", (F.col("id").desc(),)),
    ]:
        want = {
            r["id"]: r["p"]
            for r in crafted.select(
                "id", F.row_number().over(Window.orderBy(*keys)).alias("p")
            ).collect()
        }
        assert {i: rows[i][name] for i in want} == want, name
    assert {r["n"] for r in rows.values()} == {40}


def test_global_positions_multi_preserves_columns(crafted):
    out = global_positions_multi(crafted, {"p": F.col("v")}, ["id"])
    assert set(out.columns) == {"id", "v", "rev", "p"}
    assert out.count() == 40


def test_global_positions_multi_requires_metrics(crafted):
    with pytest.raises(ValueError):
        global_positions_multi(crafted, {}, ["id"])
