"""Round-10 additions (operators/analytics12.py + scan_dpp_join):
registered+oracled coverage, rerun stability, non-vacuous sf0.001
evidence, and crafted-corpus proofs for the branches the fixture
leaves dormant — the Gopher rules the word-soup corpus never fires
(short docs, no stopwords, symbol words), canonical-URL collapse
axes, argmax tie-breaking, and the session_window >= boundary.

Same contract as test_determinism_r5-r10; the keys sit at the tail
of ``registry._CHECK_PRIORITY`` (round-11 queue, DEFERRED).

The coverage, non-vacuity and rerun ids below are views of the
registry sweep (tests/test_registry_sweep.py), which builds each key
once; the ``rerun_stable`` flags live in tests/contracts.py.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from clickhousebackup_spark.registry import all_specs
from tests.test_registry_sweep import key_view, keys_view

_IDS = """
    agg_argmax_argmin stats_covariance win_session_window_builtin
    text_quality_gopher url_canonical_dedup scan_dpp_join math_round_families
    text_blocklist_filter
""".split()

test_r11_queue_keys_cover_the_round = keys_view("parity", _IDS)
test_r11_queue_keys_nonvacuous = keys_view("rerun", _IDS)
test_rerun_stable = key_view("rerun", _IDS)


# ---------------------------------------------------------------------------
# crafted-corpus proofs
# ---------------------------------------------------------------------------


def _docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    tmp = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_gopher_rules_fire_on_crafted_corpus(spark, tmp_path):
    """Every sub-rule must be able to FAIL a document (the word-soup
    fixture keeps several dormant: its words are all alphabetic,
    3-10 chars, no symbols)."""
    filler = " ".join(f"the and of to word{i} extra" for i in range(20))
    rows = [
        # 1: passes everything (>=50 words, normal lengths, stopwords)
        (1, filler, "en", "s", len(filler)),
        # 2: too short (< 50 words)
        (2, "the and of short doc", "en", "s", 20),
        # 3: long enough but ZERO stopwords
        (3, " ".join(f"word{i}" for i in range(60)), "en", "s", 300),
        # 4: symbol soup — no alphabetic character in most words
        (4, " ".join("123 ###" for _ in range(30)) + " the and", "en", "s", 200),
        # 5: mean word length out of range (>10 chars)
        (5, " ".join("x" * 15 for _ in range(60)) + " the and", "en", "s", 900),
    ]
    sf = _docs(spark, tmp_path, rows)
    got = {
        r["doc_id"]: r
        for r in all_specs()["text_quality_gopher"].fn(spark, sf).collect()
    }
    assert got[1]["gopher_pass"] == 1
    assert got[2]["gopher_pass"] == 0 and got[2]["n_words"] < 50
    assert got[3]["gopher_pass"] == 0 and got[3]["n_stopwords"] == 0
    assert got[4]["gopher_pass"] == 0 and got[4]["alpha_frac_permille"] < 800
    assert got[5]["gopher_pass"] == 0 and (
        got[5]["mean_word_len_permille"] > 10000
    )


def test_url_canonicalization_collapses_all_axes(spark, tmp_path):
    """doc_ids 0..59 with the same doc_id%50 path stem collapse across
    scheme case, host case, default port, trailing slash, utm params,
    and param order — doc 0 and doc 50 share lang/source so their five
    otherwise-different raw URLs land on ONE canonical URL."""
    rows = [
        (i, "t", "en", "src", 1) for i in range(0, 60, 10)
    ]  # doc_ids 0,10,20,30,40,50 — all path doc-0 ... doc-40, and 50→0
    sf = _docs(spark, tmp_path, rows)
    got = all_specs()["url_canonical_dedup"].fn(spark, sf).collect()
    by_url = {r["canonical_url"]: r for r in got}
    # doc 0 and doc 50 share path doc-0: one canonical group of 2
    g = [r for r in got if r["canonical_url"].endswith("doc-0?a=1&b=2")]
    assert len(g) == 1 and g[0]["n_docs"] == 2 and g[0]["keep_doc_id"] == 0
    # every canonical URL is fully normalized
    for u in by_url:
        assert u.startswith("https://src.example.com/")
        assert "WWW" not in u and ":443" not in u and "utm_" not in u
        assert u.endswith("?a=1&b=2")


def test_argmax_tiebreak_is_total_order(spark, tmp_path):
    """Equal values must resolve by (user_id, event_id) — the struct
    ordering key — not arrival order."""
    rows = [
        (1, datetime(2024, 1, 1), 7, "t", 5.0, "{}"),
        (2, datetime(2024, 1, 1), 9, "t", 5.0, "{}"),  # same value, higher uid
        (3, datetime(2024, 1, 1), 9, "t", 5.0, "{}"),  # same uid, higher eid
        (4, datetime(2024, 1, 1), 3, "t", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    tmp = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    r = all_specs()["agg_argmax_argmin"].fn(spark, tmp).collect()[0]
    assert (r["argmax_user"], r["argmax_event"]) == (9, 3)
    assert (r["argmin_user"], r["argmin_event"]) == (3, 4)


def test_session_window_boundary_merges_at_exact_gap(spark, tmp_path):
    """Spark's session merge is end-INCLUSIVE: an event at EXACTLY
    last + gap still merges and extends the session; only a strictly
    larger gap splits — the boundary the oracle mirrors with >."""
    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1, "t", 0.0, "{}"),
        # exactly +30:00 → still the SAME session (end-inclusive)
        (2, datetime(2024, 1, 1, 12, 30, 0), 1, "t", 0.0, "{}"),
        # +30:01 after event 2 → strictly past the gap → NEW session
        (3, datetime(2024, 1, 1, 13, 0, 1), 1, "t", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )
    tmp = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    got = sorted(
        all_specs()["win_session_window_builtin"].fn(spark, tmp).collect(),
        key=lambda r: r["start_us"],
    )
    assert [r["n_events"] for r in got] == [2, 1]
