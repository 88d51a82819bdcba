"""Crafted-fixture proofs for the round-11 additions
(operators/analytics13.py), for the branches the fixture leaves
dormant — Kruskal-Wallis tie correction (heavy ties; the all-equal
degenerate that NULLs h_adjusted), the closed ABC band boundary, the
TF-IDF score-tie term order, the rolling-slope closed form on an exact
linear series, GROUPS-frame single-day partitions, and the peak-hour
smallest-hour tiebreak.

Oracle parity, non-empty rows and rerun stability of this round's
keys are clauses of ``tests/test_registry_sweep.py::test_key[key]``;
the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.registry import all_specs


def _events_dir(spark, tmp_path, rows):
    """Write a crafted events table (schema-compatible subset) and
    return the sf_dir it lives in."""
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_kruskal_wallis_ties_and_degenerate(spark, tmp_path):
    """Heavy ties: closed-form H on a 2-group fixture with one tied
    value; all-equal values NULL h_adjusted (C = 0)."""
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    # group a: values 1,2 ; group b: values 2,3  -> tie at 2 (t=2)
    rows = [
        (1, ts, 1, "a", 1.0, ""),
        (2, ts, 1, "a", 2.0, ""),
        (3, ts, 2, "b", 2.0, ""),
        (4, ts, 2, "b", 3.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = all_specs()["stats_kruskal_wallis"].fn(spark, d).collect()[0]
    # double-ranks: v=1 -> 2*0+1+1=2 (rank 1); v=2 -> 2*1+2+1=5
    # (midrank 2.5); v=3 -> 2*3+1+1=8 (rank 4).
    # S2_a = 2+5 = 7, S2_b = 5+8 = 13; N=4
    assert out["n"] == 4 and out["k"] == 2
    assert out["tie_sum"] == "6"  # 2^3-2
    ssq = (7 * 7 / 4.0) / 2.0 + (13 * 13 / 4.0) / 2.0
    h = 12.0 / (4.0 * 5.0) * ssq - 3.0 * 5.0
    assert out["h_stat"] == pytest.approx(h)
    assert out["h_adjusted"] == pytest.approx(h / (1 - 6.0 / 60.0))

    rows_eq = [(i, ts, 1, "a" if i % 2 else "b", 7.0, "") for i in range(6)]
    d2 = _events_dir(spark, tmp_path / "eq", rows_eq)
    out2 = all_specs()["stats_kruskal_wallis"].fn(spark, d2).collect()[0]
    assert out2["h_adjusted"] is None  # C = 1 - (n^3-n)/(n^3-n) = 0


def test_abc_boundary_is_closed_on_the_left(spark, tmp_path):
    """A customer whose cumulative share lands EXACTLY on 70.0%% (and
    one exactly on 90.0%%) stays in the lower band (<=)."""
    d = str(tmp_path)
    # revenues 70, 20, 10 -> cum shares exactly 700, 900, 1000 permille
    spark.createDataFrame(
        [(1, 10, 70.0), (2, 20, 20.0), (3, 30, 10.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {
        r["o_custkey"]: r["abc_class"]
        for r in all_specs()["orders_abc_analysis"].fn(spark, d).collect()
    }
    assert out == {10: "A", 20: "B", 30: "C"}


def test_tfidf_score_tie_breaks_on_term(spark, tmp_path):
    """Two terms with identical tf and df tie on score; rank order
    must be the ascending term string."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "zz aa zz aa", "en", "s", 11), (2, "qq", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = [
        (r["term"], r["rk"])
        for r in all_specs()["text_tfidf_topk"]
        .fn(spark, d)
        .filter(F.col("doc_id") == 1)
        .orderBy("rk")
        .collect()
    ]
    assert out == [("aa", 1), ("zz", 2)]


def test_rolling_slope_closed_form_and_short_users(spark, tmp_path):
    """value = 3 + 0.5*pos gives slope exactly 0.5 (all moments exact
    in decimal); a user with 7 events emits nothing."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), 1, "x", 3.0 + 0.5 * (i + 1), "")
        for i in range(10)
    ] + [
        (100 + i, t0 + timedelta(minutes=i), 2, "x", 1.0 * i, "")
        for i in range(7)
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = all_specs()["ts_rolling_slope"].fn(spark, d).collect()
    assert {r["user_id"] for r in out} == {1}
    assert len(out) == 3  # positions 8, 9, 10
    for r in out:
        assert r["slope"] == 0.5  # exact: decimal moments, IEEE slope


def test_groups_frame_single_day_partition(spark, tmp_path):
    """An event_type with ONE day has no neighbors: grp_cents equals
    its own day total; a 3-day type's middle day sums all three."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1), 1, "solo", 1.0, ""),
        (2, datetime(2024, 1, 1), 1, "solo", 2.0, ""),
        (10, datetime(2024, 1, 1), 1, "tri", 10.0, ""),
        (11, datetime(2024, 1, 2), 1, "tri", 20.0, ""),
        (12, datetime(2024, 1, 3), 1, "tri", 40.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["event_id"]: r["grp_cents"]
        for r in all_specs()["win_groups_frame_emulated"].fn(spark, d).collect()
    }
    assert out[1] == out[2] == 300  # solo day: own total only
    assert out[10] == 3000  # day1+day2
    assert out[11] == 7000  # all three days
    assert out[12] == 6000  # day2+day3


def test_peak_hour_tie_takes_smallest_hour(spark, tmp_path):
    from datetime import datetime

    # two events at 03h, two at 07h -> tie; peak_hour must be 3
    rows = [
        (1, datetime(2024, 1, 1, 3, 0), 1, "t", 1.0, ""),
        (2, datetime(2024, 1, 1, 3, 30), 1, "t", 1.0, ""),
        (3, datetime(2024, 1, 1, 7, 0), 1, "t", 1.0, ""),
        (4, datetime(2024, 1, 1, 7, 30), 1, "t", 1.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = all_specs()["events_peak_hour"].fn(spark, d).collect()[0]
    assert out["peak_hour"] == 3 and out["peak_count"] == 2
    assert out["total"] == 4 and out["share_permille"] == 500


def test_skyline_duplicate_points_collapse(spark, tmp_path):
    """r12 contract layer: exact duplicates of a skyline point
    collapse to the lowest orderkey in BOTH engines (the old
    NOT EXISTS oracle silently kept all of them — exposed by the
    sf1 arm's 10x clones, 13 vs 130 rows). Crafted: two identical
    Pareto-optimal orders + one dominated order."""
    import duckdb
    from datetime import date

    rows = [
        (5, 1, "O", 900.0, date(2024, 3, 9), "1-URGENT", "c", 0, ""),
        (3, 1, "O", 900.0, date(2024, 3, 9), "1-URGENT", "c", 0, ""),
        (9, 1, "O", 100.0, date(2024, 3, 1), "1-URGENT", "c", 0, ""),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority int, o_comment string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    spec = all_specs()["skyline_orders"]
    got = sorted(
        (r["o_orderkey"], r["o_totalprice"]) for r in spec.fn(spark, d).collect()
    )
    assert got == [(3, 900.0)]  # lowest orderkey survives, dup + dominated gone

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{d}/orders.parquet/*.parquet')"
    )
    oracle = sorted(
        (r[0], r[1])
        for r in con.execute(spec.oracle).fetchall()
    )
    assert oracle == [(3, 900.0)]
