"""Round-9 additions: registered+oracled coverage, rerun stability,
and crafted-fixture proofs for branches the fixture corpus leaves
dormant (quantified-compare's empty-set arm at driver grain; the
best-effort parser's unparseable arm).

Same contract as test_determinism_r5-r8: every key registered this
round must be oracled and produce identical rows on back-to-back
runs — the cheap local guard before the driver's sf0.01 hash gate.
The keys also appear at the tail of ``registry._CHECK_PRIORITY``
(five in the round-9 window, the rest DEFERRED at the round-10
head); tests/test_rotation.py enforces that coupling.

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    stats_entropy stats_theils_u stats_contingency_coef stats_student_ttest
    stats_ab_min_sample seq_gaps_islands sql_quantified_compare
    date_parse_best_effort corpus_temperature_mix emb_power_iteration_pc1
    emb_random_projection sample_hash_consistent dq_benford_law
    events_markov_stationary stats_wilcoxon_signed corpus_datasheet
    text_zipf_fit ts_period_detect str_phonetic_soundex text_readability_fk
    seq_edit_distance sketch_countmin_freq ts_kalman_level
    events_burstiness_index ts_theil_sen_slope
""".split()

test_r9_session_keys_cover_the_round = keys_view("parity", _IDS)
test_r9_session_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


def test_quantified_compare_empty_set_arm(spark, tmp_path):
    # At the sf0.01 driver grain every probed nation has suppliers, so
    # the cnt=0 branches are dormant there (live at sf0.001). Prove
    # both empty-set arms on crafted input: no NATION_7 suppliers ->
    # gt_all TRUE for everyone; no NATION_3 suppliers -> lt_any FALSE.
    import os

    sup = spark.createDataFrame(
        [(1, "Supplier#1", 10.0, 0), (2, "Supplier#2", 99.0, 1)],
        "s_suppkey long, s_name string, s_acctbal double, s_nationkey long",
    )
    nat = spark.createDataFrame(
        [(0, "NATION_0"), (1, "NATION_1")],
        "n_nationkey long, n_name string",
    )
    tmp = str(tmp_path / "qc")
    sup.write.mode("overwrite").parquet(os.path.join(tmp, "supplier.parquet"))
    nat.write.mode("overwrite").parquet(os.path.join(tmp, "nation.parquet"))
    out = {
        r["s_suppkey"]: r
        for r in all_specs()["sql_quantified_compare"].fn(spark, tmp).collect()
    }
    assert all(r["gt_all_n7"] == 1 for r in out.values())
    assert all(r["lt_any_n3"] == 0 for r in out.values())


def test_parse_best_effort_unparseable_arm(spark):
    # Every fixture string parses under exactly its generating format,
    # so matched_fmt=-1 is dormant corpus-wide. Prove the cascade's
    # fall-through on a string no format accepts, via the same parse
    # expressions the operator builds.
    from pyspark.sql import functions as F

    from clickhousebackup_spark.operators.analytics9 import _TS_FORMATS

    df = spark.createDataFrame([("not a timestamp",)], ["raw"])
    parses = [
        F.try_to_timestamp(F.col("raw"), F.lit(sp)).alias(f"p{i}")
        for i, (sp, _) in enumerate(_TS_FORMATS)
    ]
    row = df.select(*parses).collect()[0]
    assert all(row[f"p{i}"] is None for i in range(len(_TS_FORMATS)))


def test_zipf_fit_short_vocabulary(spark, tmp_path):
    # The fixture vocabulary exceeds 20 words, so the k<20 slice
    # branch is dormant; prove the fit still works on a 3-word corpus.
    import os

    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc.", "en", "s0", 18)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = str(tmp_path / "zipf")
    docs.write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    row = all_specs()["text_zipf_fit"].fn(spark, tmp).collect()[0]
    assert row["vocab_size"] == 3  # aa, bb, cc.
    assert row["k_fit"] == row["vocab_size"]
    assert row["n_words"] == 6
    # frequencies 3,2,1,... in rank order -> strictly decreasing fit
    assert row["zipf_slope_micro"] < 0
