"""Regression tests for the comparison harness itself — specifically
the driver-canon gate added after CORRECTNESS_r04, where three keys
(agg_sum_map, array_cumsum, array_difference) passed the local
simulation but ERRed in the real driver because its canonicalizer
(pandas ``sort_values`` over all output columns) cannot factorize
list-valued cells. The gate makes the simulation bit-faithful: any
result whose cells would crash the driver's ``_canon`` must crash the
simulation too."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.compare import _assert_driver_canon, assert_same_result


def test_canon_gate_rejects_list_cells():
    pdf = pd.DataFrame({"k": [1, 2], "v": [[1.0, 2.0], [3.0]]})
    with pytest.raises(AssertionError, match="driver canonicalizer"):
        _assert_driver_canon(pdf, "synthetic", "spark")


def test_canon_gate_accepts_scalar_cells():
    pdf = pd.DataFrame({"k": [2, 1], "v": ["b,c", "a"]})
    _assert_driver_canon(pdf, "synthetic", "spark")


def test_canon_gate_accepts_empty_frame():
    _assert_driver_canon(pd.DataFrame({"k": [], "v": []}), "synthetic", "spark")


def test_assert_same_result_reproduces_r4_array_err(spark, duck):
    """The exact r4 failure shape: Spark and DuckDB agree perfectly on
    an ARRAY-typed result — the old comparator passed it — but the
    driver would die. The harness must now fail it."""
    df = spark.range(3).select(
        F.col("id").cast("long").alias("k"),
        F.array(F.col("id").cast("double")).alias("arr"),
    )
    oracle = """
        SELECT CAST(range AS BIGINT) AS k,
               [CAST(range AS DOUBLE)] AS arr
        FROM range(3)
    """
    with pytest.raises(AssertionError, match="driver canonicalizer"):
        assert_same_result(df, duck, oracle, "synthetic_array")


def test_assert_same_result_passes_csv_serialized_form(spark, duck):
    """The prescribed fix shape: the same data serialized to CSV scalar
    cells passes both the canon gate and exact-value compare."""
    df = spark.range(3).select(
        F.col("id").cast("long").alias("k"),
        F.array_join(
            F.array(F.col("id").cast("double").cast("string")), ","
        ).alias("arr_csv"),
    )
    oracle = """
        SELECT CAST(range AS BIGINT) AS k,
               array_to_string([CAST(CAST(range AS DOUBLE) AS VARCHAR)],
                               ',') AS arr_csv
        FROM range(3)
    """
    assert_same_result(df, duck, oracle, "synthetic_csv")


def test_fast_collect_falls_back_in_a_dst_zone(spark, monkeypatch):
    """fast_collect's timestamp fast path renders UTC wall times, which
    equals collect() only in a true UTC zone. A Europe/London-style
    zone (GMT, offset 0, with a BST summer hour) whose offset is 0
    today must still take the collect() fallback: collect() renders a
    BST instant one hour later. The BST months sit away from today, so
    the zone's current offset is 0 whenever this runs."""
    import time
    from datetime import datetime

    from tests.compare import fast_collect

    if datetime.now().month <= 6:
        zone, instant = "GMT0BST,M8.1.0,M11.1.0", "2021-09-15 12:00:00"
    else:
        zone, instant = "GMT0BST,M2.1.0,M5.1.0", "2021-03-15 12:00:00"
    df = spark.range(1).select(
        F.to_timestamp(F.lit(instant)).alias("ts"), F.col("id")
    )
    monkeypatch.setenv("TZ", zone)
    time.tzset()
    try:
        calls = []
        collect = type(df).collect

        def spy(self):
            calls.append(self)
            return collect(self)

        monkeypatch.setattr(type(df), "collect", spy)
        rows = fast_collect(df)
        assert calls, "fast path taken in a DST zone"
        assert rows[0]["ts"] == datetime(2021, int(instant[5:7]), 15, 13)
    finally:
        monkeypatch.undo()
        time.tzset()
