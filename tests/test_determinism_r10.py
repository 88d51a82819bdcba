"""Continuation-session additions (batches 4-5): registered+oracled
coverage, rerun stability, and crafted-fixture proofs for branches
the fixture corpus leaves dormant — the degenerate-variance NULL arms
of the new test statistics, STL's not-enough-days arm, MATTR's
short-doc window degradation, the bigram join's empty-language drop,
and the schema profile's null accounting.

Same contract as test_determinism_r5-r9: every key registered in
these batches must be oracled and produce identical rows on
back-to-back runs; the keys sit at the tail of
``registry._CHECK_PRIORITY`` (round-10 queue).

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

import os

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    ts_stl_decompose stats_anova_oneway stats_jarque_bera ts_cusum_alarm
    token_bigram_entropy stats_linregress_multi dq_schema_profile
    stats_levene_bf stats_runs_test text_mattr_diversity date_business_days
    emb_pca2_deflation
""".split()

test_r10_session_keys_cover_the_round = keys_view("parity", _IDS)
test_r10_session_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    tmp = str(tmp_path / "ev")
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    return tmp


def _flat_events(spark, tmp_path):
    """Two event types, constant value per type, 10 days x 1 event."""
    from datetime import datetime

    rows = []
    eid = 0
    for t, val in (("flat_a", 5.0), ("flat_b", 9.0)):
        for day in range(1, 11):
            rows.append(
                (eid, datetime(2024, 1, day, 12, 0, 0), 1, t, val, "{}")
            )
            eid += 1
    return _write_events(spark, tmp_path, rows)


def test_degenerate_variance_null_arms(spark, tmp_path):
    # Fixture values are noisy, so the zero-variance NULL guards of
    # the four new statistics never fire at any driver grain. Prove
    # all of them on a constant-valued crafted corpus — and that the
    # exact integer/count columns stay correct around the NULLs.
    tmp = _flat_events(spark, tmp_path)
    specs = all_specs()

    anova = specs["stats_anova_oneway"].fn(spark, tmp).collect()[0]
    assert anova["n"] == 20 and anova["k"] == 2
    assert anova["f_stat"] is None  # SSW == 0 arm
    assert abs(anova["ss_within"]) < 1e-9

    jb = {
        r["event_type"]: r
        for r in specs["stats_jarque_bera"].fn(spark, tmp).collect()
    }
    assert all(r["jb_stat"] is None for r in jb.values())  # m2 == 0

    runs = {
        r["event_type"]: r
        for r in specs["stats_runs_test"].fn(spark, tmp).collect()
    }
    for r in runs.values():  # z == mu everywhere -> no 'above' days
        assert r["n_above"] == 0 and r["n_below"] == 10
        assert r["n_runs"] == 1
        assert r["z_runs"] is None

    lev = specs["stats_levene_bf"].fn(spark, tmp).collect()[0]
    assert lev["f_bf"] is None  # |x - med| == 0 everywhere

    cus = {
        r["event_type"]: r
        for r in specs["ts_cusum_alarm"].fn(spark, tmp).collect()
    }
    for r in cus.values():  # sigma == 0: filter stays quiet, no NaN
        assert r["sigma"] == 0.0
        assert r["cusum_pos"] == 0.0 and r["cusum_neg"] == 0.0
        assert r["n_alarms"] == 0


def test_stl_needs_seven_days(spark, tmp_path):
    # Types with under 7 days have no full centered window: the key
    # must emit ZERO rows for them, not partial-window garbage.
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1 + i, 8, 0, 0), 1, "short", 1.0, "{}")
        for i in range(5)
    ]
    tmp = _write_events(spark, tmp_path, rows)
    assert all_specs()["ts_stl_decompose"].fn(spark, tmp).count() == 0


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    tmp = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    return tmp


def test_mattr_short_doc_degrades_to_ttr(spark, tmp_path):
    # Docs under 25 tokens use one whole-doc window: MATTR == TTR.
    tmp = _write_docs(
        spark, tmp_path, [(1, "aa bb aa", "en", "s0", 8)]
    )
    row = all_specs()["text_mattr_diversity"].fn(spark, tmp).collect()[0]
    assert row["n_docs"] == 1 and row["n_tokens"] == 3
    assert row["sum_distinct"] == 2  # {aa, bb} in the single window
    assert row["mean_mattr_micro"] == 666666  # floor(1e6 * 2/3)


def test_bigram_entropy_empty_language_drops(spark, tmp_path):
    # A language whose docs all have <2 tokens contributes no bigrams
    # and must be ABSENT (inner join), not a zero/NULL row; a
    # deterministic chain has exactly zero conditional entropy.
    tmp = _write_docs(
        spark,
        tmp_path,
        [
            (1, "solo", "xx", "s0", 4),
            (2, "a b a b a b", "en", "s0", 11),
        ],
    )
    rows = {
        r["lang"]: r
        for r in all_specs()["token_bigram_entropy"].fn(spark, tmp).collect()
    }
    assert "xx" not in rows
    en = rows["en"]
    assert en["n_bigrams"] == 5 and en["n_contexts"] == 2
    assert en["cond_entropy_micro"] == 0  # every context: 1 successor


def test_schema_profile_counts_nulls(spark, tmp_path):
    # orders fixture has zero NULLs, so n_null and the per-side
    # pandas float-coercion path are dormant; prove the accounting.
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (1, 10, "O", 100.25, datetime(2024, 1, 1), "1-URGENT"),
            (2, None, "F", None, datetime(2024, 1, 2), "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    tmp = str(tmp_path / "orders")
    df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
    rows = {
        r["col_name"]: r
        for r in all_specs()["dq_schema_profile"].fn(spark, tmp).collect()
    }
    assert rows["o_custkey"]["n_null"] == 1
    assert rows["o_totalprice"]["n_null"] == 1
    assert rows["o_custkey"]["n_distinct"] == 1
    assert rows["o_orderkey"]["n_null"] == 0
    assert rows["o_totalprice"]["min_val"].lstrip("0") == "100250000"


def test_linregress_collinear_input_does_not_crash(spark, tmp_path):
    # det == 0 is documented as impossible on the fixture; prove the
    # failure MODE on crafted collinear input is a clean NULL row
    # (both engines guard on det <> 0), not NaN/inf or an engine
    # error.
    df = spark.createDataFrame(
        [(1, 1, 1, 1, 2.0, 100.0, 0.02, 0.0, "N", "O",
          __import__("datetime").datetime(2024, 1, 1))],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    tmp = str(tmp_path / "li")
    df.write.mode("overwrite").parquet(
        os.path.join(tmp, "lineitem.parquet")
    )
    row = all_specs()["stats_linregress_multi"].fn(spark, tmp).collect()[0]
    assert row["n_obs"] == 1
    for c in ("beta_quantity", "beta_discount", "intercept", "r_squared"):
        assert row[c] is None
