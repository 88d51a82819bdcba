"""Round-8 additions: registered+oracled coverage, rerun stability,
and crafted-fixture proofs for the two branches the fixture corpus
leaves dormant (Tukey's low fence; interleave's short-source
exhaustion).

Same contract as test_determinism_r5-r7: every key registered this
round must be oracled (or explicitly excused) and produce identical
rows on back-to-back runs — the cheap local guard before the driver's
sf0.01 hash gate. The keys here also appear at the tail of
``registry._CHECK_PRIORITY`` (2 in the round-8 window, the rest at
the round-9 head); tests/test_rotation.py enforces that coupling.

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    stats_corr_matrix stats_kendall_tau ts_outliers_tukey ts_holt_linear
    date_week_mode sql_unpivot_syntax sql_named_window sql_values_inline
    emb_hard_negatives corpus_interleave_round_robin merge_coalescing_final
    array_search_funcs ts_cumsum_reset graph_triangle_count scan_file_metadata
    multimodal_patch_budget date_timezone_convert emb_centroid_distances
    array_sort_funcs sql_nulls_ordering sql_distinct_on mergetree_ttl_rollup
    dq_histogram_drift corpus_shard_manifest ip_prefix_rollup sample_bottom_k
    agg_histogram_equi_depth sql_lateral_alias multimodal_interleaved_layout
""".split()

test_r8_keys_cover_the_round = keys_view("parity", _IDS)
test_r8_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


def test_tukey_low_fence_fires_on_crafted_series(spark):
    # The fixture's value distribution is bounded at 0 on the left, so
    # n_low is a corpus-truth zero (ALLOW'd in the degeneracy audit).
    # Prove the low-fence branch is live: a tight series with one
    # extreme point on EACH side must count 1 low and 1 high.
    from clickhousebackup_spark.operators.analytics7 import tukey_outliers

    rows = [("s", i, float(v)) for i, v in enumerate(
        [50, 51, 52, 53, 54, 55, 56, 57, -1000, 1000]
    )]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")
    out = tukey_outliers(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_low"] == 1 and r["n_high"] == 1
    assert r["lo_fence"] > -1000.0 and r["hi_fence"] < 1000.0
    # interior points stay inside the fences
    assert r["lo_fence"] < 50.0 and r["hi_fence"] > 57.0


def test_interleave_handles_unequal_sources(spark):
    # The fixture's 20 sources are equal-sized, so min(rank-1, m) sits
    # on its rank-1 branch throughout; prove the exhaustion branch:
    # sources of size 3/2/1 must interleave a,b,c,a,b,a — with the
    # size-1 and size-2 sources dropping out of later rounds.
    from clickhousebackup_spark.extensions.training import (
        interleave_positions,
    )

    rows = [
        (10, "a"), (11, "a"), (12, "a"),
        (20, "b"), (21, "b"),
        (30, "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        r["global_pos"]: (r["source"], r["rank_in_source"])
        for r in interleave_positions(df).collect()
    }
    assert got == {
        1: ("a", 1), 2: ("b", 1), 3: ("c", 1),
        4: ("a", 2), 5: ("b", 2),
        6: ("a", 3),
    }


def test_yearweek_mode0_matches_mysql_ground_truth(spark):
    # Both engines share the week formula, so oracle parity alone
    # cannot catch a semantic drift (the round-8 review's lesson) —
    # pin known MySQL YEARWEEK(d, 0) / WEEK(d, 0) values instead.
    # MySQL: YEARWEEK('2024-01-01',0)=202353 (week-0 rollback),
    # YEARWEEK('2024-01-07',0)=202401 (first Sunday),
    # YEARWEEK('2023-01-01',0)=202301 (Jan 1 IS a Sunday),
    # YEARWEEK('2023-12-31',0)=202353 (Sunday starting week 53),
    # YEARWEEK('2021-01-02',0)=202052 (prev year ends mid-week).
    from clickhousebackup_spark.operators.analytics7 import (
        week_mode0_col,
        yearweek_mode0_col,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-07",), ("2023-01-01",),
         ("2023-12-31",), ("2021-01-02",)],
        "ds string",
    ).select(
        "ds",
        week_mode0_col(F.to_date("ds")).alias("wk"),
        yearweek_mode0_col(F.to_date("ds")).alias("yw"),
    )
    got = {r["ds"]: (r["wk"], r["yw"]) for r in df.collect()}
    assert got == {
        "2024-01-01": (0, 202353),
        "2024-01-07": (1, 202401),
        "2023-01-01": (1, 202301),
        "2023-12-31": (53, 202353),
        "2021-01-02": (0, 202052),
    }


def test_triangle_count_survives_single_token_docs(spark):
    # sequence(1, 0) is DESCENDING in Spark and element_at(w, 2) on a
    # 1-element array throws under ANSI — a 1-token doc must not kill
    # the key (the fixture never has one; a real corpus will).
    import clickhousebackup_spark.operators.behavior  # noqa: F401
    from clickhousebackup_spark.registry import get_spec
    from unittest.mock import patch

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha beta gamma"), (3, "beta gamma alpha")],
        "doc_id long, text string",
    )
    with patch(
        "clickhousebackup_spark.operators.behavior.load_table",
        return_value=docs,
    ):
        rows = {
            r["word"]: (r["degree"], r["n_triangles"])
            for r in get_spec("graph_triangle_count").fn(spark, "ignored").collect()
        }
    # alpha-beta, beta-gamma, alpha-gamma all co-occur → one triangle
    assert rows == {
        "alpha": (2, 1),
        "beta": (2, 1),
        "gamma": (2, 1),
    }
