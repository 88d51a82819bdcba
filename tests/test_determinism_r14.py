"""Round-11 batch-3 additions (operators/analytics15.py):
registered+oracled coverage, rerun stability, non-vacuous evidence,
and crafted-fixture proofs — the k=2 Welch-ANOVA/Welch-t identity,
WAU window membership and max-day clipping, the EXCLUDE frame's
single-row-partition NULL, and the -If matrix's live OrNull branch.

Same contract as test_determinism_r5-r13; the keys sit at the tail
of ``registry._CHECK_PRIORITY`` (round-12 queue, DEFERRED).

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    stats_welch_anova events_wau_rolling win_frame_exclude_current
    agg_combinators_if_matrix dedup_hierarchical_two_level
    intervals_peak_position str_has_subsequence ts_backtest_seasonal_naive
    scan_bloom_filter_lookup
""".split()

test_r14_queue_keys_cover_the_round = keys_view("parity", _IDS)
test_r14_queue_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


def _events_dir(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_welch_anova_k2_equals_welch_t_squared(spark, tmp_path):
    """For exactly two groups, Welch's F must equal the square of
    Welch's t statistic (textbook identity), and a singleton group
    must be excluded from k."""
    ts = datetime(2024, 1, 1)
    rows = (
        [(i, ts, 1, "a", float(v), "") for i, v in enumerate([1, 2, 3, 4, 10])]
        + [(10 + i, ts, 1, "b", float(v), "") for i, v in enumerate([5, 6, 9])]
        + [(99, ts, 1, "solo", 7.0, "")]  # n=1: weight undefined, dropped
    )
    d = _events_dir(spark, tmp_path, rows)
    out = all_specs()["stats_welch_anova"].fn(spark, d).collect()[0]
    assert out["k"] == 2
    a = [1.0, 2.0, 3.0, 4.0, 10.0]
    b = [5.0, 6.0, 9.0]

    def mv(x):
        n = len(x)
        m = sum(x) / n
        s2 = sum((v - m) ** 2 for v in x) / (n - 1)
        return n, m, s2

    na, ma, sa = mv(a)
    nb, mb, sb = mv(b)
    t2 = (ma - mb) ** 2 / (sa / na + sb / nb)
    assert out["f_welch"] == pytest.approx(t2, rel=1e-12)


def test_wau_membership_and_clipping(spark, tmp_path):
    """User active on day D contributes to windows D..D+6, clipped at
    the corpus max day."""
    rows = [
        (1, datetime(2024, 1, 1), 10, "t", 1.0, ""),
        (2, datetime(2024, 1, 5), 20, "t", 1.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["day"]: r["wau"]
        for r in all_specs()["events_wau_rolling"].fn(spark, d).collect()
    }
    # max day is Jan 5: windows beyond it are clipped
    assert set(out) == {f"2024-01-0{i}" for i in range(1, 6)}
    assert out["2024-01-01"] == 1
    assert out["2024-01-04"] == 1
    assert out["2024-01-05"] == 2  # user 10 (Jan 1 + <=6d) and user 20


def test_exclude_frame_null_on_single_row_partition(spark, tmp_path):
    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, "solo", 3.0, ""),
        (2, datetime(2024, 1, 1, 0, 0), 1, "pair", 1.0, ""),
        (3, datetime(2024, 1, 1, 0, 1), 1, "pair", 2.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["event_id"]: r["neighbor_cents"]
        for r in all_specs()["win_frame_exclude_current"].fn(spark, d).collect()
    }
    assert out[1] is None  # empty exclusion frame
    assert out[2] == 200 and out[3] == 100


def test_if_matrix_ornull_branch_fires(spark, tmp_path):
    rows = [
        (1, datetime(2024, 1, 1), 1, "hi", 950.0, ""),
        (2, datetime(2024, 1, 1), 2, "hi", 600.0, ""),
        (3, datetime(2024, 1, 1), 3, "lo", 100.0, ""),
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r["event_type"]: r
        for r in all_specs()["agg_combinators_if_matrix"].fn(spark, d).collect()
    }
    hi = out["hi"]
    assert hi["count_if_hi"] == 2 and hi["uniq_if_hi"] == 2
    assert hi["min_cents_if_very_hi_ornull"] == 95000
    lo = out["lo"]
    assert lo["count_if_hi"] == 0
    assert lo["avg_if_hi"] is None
    assert lo["min_cents_if_very_hi_ornull"] is None  # OrNull live


def test_hierarchical_dedup_equals_flat(spark, sf_dir, tmp_path):
    """The lossless-hierarchy property on a CRAFTED corpus with
    cross-shard duplicates: docs 3, 11, 19 (shards 3, 3, 3) and
    docs 5, 14 (shards 5, 6) share texts — per-shard dedup then merge
    must equal flat global dedup with summed copy counts."""
    import os

    d = str(tmp_path)
    rows = [
        (3, "same one", "en", "s", 8),
        (11, "same one", "en", "s", 8),   # same shard as 3
        (19, "same one", "en", "s", 8),   # same shard as 3
        (5, "same two", "en", "s", 8),
        (14, "same two", "en", "s", 8),   # DIFFERENT shard than 5
        (7, "unique", "en", "s", 6),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    prev = os.environ.get("CBS_SCRATCH_DIR")
    os.environ["CBS_SCRATCH_DIR"] = str(tmp_path / "scratch")
    try:
        out = {
            r["content_md5"]: r
            for r in all_specs()["dedup_hierarchical_two_level"]
            .fn(spark, d)
            .collect()
        }
    finally:
        # RESTORE, never delete: the sharded suite isolates scratch
        # per process through this variable (review finding)
        if prev is None:
            del os.environ["CBS_SCRATCH_DIR"]
        else:
            os.environ["CBS_SCRATCH_DIR"] = prev
    got = {(r["doc_id"], r["n_copies"]) for r in out.values()}
    assert got == {(3, 3), (5, 2), (7, 1)}


def test_peak_position_earliest_day_wins_ties(spark, tmp_path):
    """Two disjoint concurrency plateaus at the same peak height: the
    FIRST day must be reported (the (conc DESC, t) total order)."""
    d = str(tmp_path)
    # okey%30+1 = duration. Two overlapping pairs, both peak at 2:
    # pair A days 0-2 (okeys 1,31 -> dur 2), pair B days 10-12.
    spark.createDataFrame(
        [
            (1, 1, "O", 1.0, datetime(2024, 1, 1), "1-URGENT"),
            (31, 1, "O", 1.0, datetime(2024, 1, 1), "1-URGENT"),
            (61, 1, "O", 1.0, datetime(2024, 1, 11), "1-URGENT"),
            (91, 1, "O", 1.0, datetime(2024, 1, 11), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = all_specs()["intervals_peak_position"].fn(spark, d).collect()
    assert len(out) == 1
    assert out[0]["max_concurrent"] == 2
    assert out[0]["first_peak_day"] == "2024-01-01"


def test_has_subsequence_all_branches(spark, tmp_path):
    """Crafted names firing every stage of the greedy chain: full
    match, missing 'e', 't' never after the first 'e', 'l' never
    after the matched 't' — plus the greedy-is-optimal case where a
    LATER 'e' would also work but the leftmost anchor still
    succeeds."""
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "elephant tail"),   # e..t..l? e(1) t(8) -> 'ail' has l -> 1
            (2, "mosquito"),        # no e -> 0
            (3, "beet"),            # e then t, no l after -> 0
            (4, "ten"),             # e but no t AFTER e -> 0
            (5, "ee tl"),           # greedy: first e, t at 4, l at 5 -> 1
        ],
        "p_partkey long, p_name string",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    out = {
        r["p_partkey"]: r["has_etl"]
        for r in all_specs()["str_has_subsequence"].fn(spark, d).collect()
    }
    assert out == {1: 1, 2: 0, 3: 0, 4: 0, 5: 1}


def test_seasonal_naive_backtest_closed_form(spark, tmp_path):
    """Crafted 15-day daily series with known lag-7 errors; days 1-7
    have no 7-day-earlier pair and must not appear."""
    rows = []
    for i in range(15):
        # day i value: 10 + i  -> lag-7 abs err = |(10+i) - (10+i-7)| = 7
        rows.append((i, datetime(2024, 1, 1 + i), 1, "t", 10.0 + i, ""))
    d = _events_dir(spark, tmp_path, rows)
    out = all_specs()["ts_backtest_seasonal_naive"].fn(spark, d).collect()[0]
    assert out["n_pairs"] == 8  # days 8..15
    assert out["total_abs_err_cents"] == 8 * 700
    assert out["mae_cents_floor"] == 700


def test_bloom_filter_is_actually_written(spark, sf_dir):
    """Footer-level proof the bloom option took effect: the rewritten
    file carries a bloom filter for o_custkey (offset >= 0) and none
    for the unindexed o_orderkey — so the pruning claim can't rot
    into a silently ignored writer option."""
    import glob as _glob

    from clickhousebackup_spark.scratch import input_fingerprint, scratch_path

    # run the key once so the layout exists
    import os as _os

    assert all_specs()["scan_bloom_filter_lookup"].fn(spark, sf_dir).count() > 0
    fp = input_fingerprint(_os.path.join(sf_dir, "orders.parquet"))
    path = scratch_path(spark, f"bloom_layout_{fp}", sf_dir)
    part = sorted(_glob.glob(_os.path.join(path, "*.parquet")))[0]
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(part)
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        offsets = {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()
    assert offsets["o_custkey"] >= 0, offsets
    assert offsets["o_orderkey"] == -1, offsets
