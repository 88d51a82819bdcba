"""Slice-exactness proofs for the round-16 self-bounding dedup keys.

The four exact-baseline long-poles (dedup_ngram_jaccard,
dedup_containment, dedup_embedding_cosine, dedup_fuzzy_blocked)
self-bound past footer-metadata row caps to deterministic 1-in-mod
probe slices (VERDICT r15 item 1, the sim_knn_join pattern). The
contract these tests pin, with the caps FORCED low so the slice
engages at test scale:

1. every sliced row is byte-identical to the full result's row for
   that slice member (the probe side shrinks, the index/candidate
   side stays full — slicing can never change a kept value);
2. the sliced row SET is exactly the full result filtered by the
   documented slice predicate (nothing extra, nothing missing — the
   predicate the bounded-slice compare applies to the oracle);
3. the slice engagement is announced via RuntimeWarning
   (tables.warn_probe_slice — ADVICE r15: a consumer above the cap
   must be able to tell a sliced run from a full one at run time).

The mod is also forced (97 -> 3) so the slice keeps ~1/3 of rows at
sf0.001 and the set comparisons cannot pass vacuously.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from clickhousebackup_spark.extensions import dedup as dd
from clickhousebackup_spark.operators import analytics2 as a2

FORCED_MOD = 3


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run_sliced(monkeypatch, module, cap_attr, mod_attr, fn, spark, sf_dir):
    monkeypatch.setattr(module, cap_attr, 1)
    monkeypatch.setattr(module, mod_attr, FORCED_MOD)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = fn(spark, sf_dir)
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "probe slice" in str(w.message)
            for w in caught
        ), "slice engaged without its RuntimeWarning marker"
    return df


def test_ngram_jaccard_slice_exact(monkeypatch, spark, sf_dir):
    # collect the full-result slice BEFORE building the sliced plan:
    # the operators materialize through scratch_path parquet keyed by
    # (name, sf_dir), so the second build overwrites the first's files
    expect = _rows(
        dd.dedup_ngram_jaccard(spark, sf_dir).filter(
            F.col("a_id") % FORCED_MOD == 0
        )
    )
    sliced = _run_sliced(
        monkeypatch, dd, "DEDUP_PAIR_DOCS_CAP", "DEDUP_PAIR_PROBE_MOD",
        dd.dedup_ngram_jaccard, spark, sf_dir,
    )
    got = _rows(sliced)
    assert got == expect
    assert got, "vacuous slice — widen FORCED_MOD"


def test_embedding_cosine_slice_exact(monkeypatch, spark, sf_dir):
    expect = _rows(
        dd.dedup_embedding_cosine(spark, sf_dir).filter(
            F.col("a_id") % FORCED_MOD == 0
        )
    )
    sliced = _run_sliced(
        monkeypatch, dd, "DEDUP_PAIR_DOCS_CAP", "DEDUP_PAIR_PROBE_MOD",
        dd.dedup_embedding_cosine, spark, sf_dir,
    )
    got = _rows(sliced)
    assert got == expect
    assert got, "vacuous slice — widen FORCED_MOD"


def test_fuzzy_blocked_slice_exact(monkeypatch, spark, sf_dir):
    expect = _rows(
        a2.dedup_fuzzy_blocked(spark, sf_dir).filter(
            F.col("a_key") % FORCED_MOD == 0
        )
    )
    sliced = _run_sliced(
        monkeypatch, a2, "FUZZY_PART_ROWS_CAP", "FUZZY_PROBE_MOD",
        a2.dedup_fuzzy_blocked, spark, sf_dir,
    )
    got = _rows(sliced)
    assert got == expect
    assert got, "vacuous slice — widen FORCED_MOD"


def test_containment_slice_exact(monkeypatch, spark, sf_dir):
    """Containment's slice predicate lives on the pigeonhole-guaranteed
    endpoint (fewer grams, tie -> smaller id), which is not an output
    column — recompute per-doc distinct-bigram counts with the
    operator's own expression and apply the oracle's CASE to the full
    result."""
    from clickhousebackup_spark.tables import load_table

    full = dd.dedup_containment(spark, sf_dir)
    words = F.split(F.lower("text"), r"\s+")
    n = F.size(words)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
        )
    )
    sizes = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(grams).alias("ng")
    )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("ng").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("ng").alias("nb"))
    guaranteed = (
        F.when(F.col("na") < F.col("nb"), F.col("a_id"))
        .when(F.col("nb") < F.col("na"), F.col("b_id"))
        .otherwise(F.col("a_id"))
    )
    expect = _rows(
        full.join(na, "a_id")
        .join(nb, "b_id")
        .filter(guaranteed % FORCED_MOD == 0)
        .select(*full.columns)
    )
    sliced = _run_sliced(
        monkeypatch, dd, "DEDUP_PAIR_DOCS_CAP", "DEDUP_PAIR_PROBE_MOD",
        dd.dedup_containment, spark, sf_dir,
    )
    got = _rows(sliced)
    assert got == expect
    assert got, "vacuous slice — widen FORCED_MOD"


def test_below_cap_never_slices(spark, sf_dir):
    """At every driver/test scale the caps must NOT engage: no
    RuntimeWarning, full exact baselines (registered-oracle parity is
    checked by the registry sweep; this pins the dispatch side)."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for fn in (
            dd.dedup_ngram_jaccard,
            dd.dedup_containment,
            dd.dedup_embedding_cosine,
            a2.dedup_fuzzy_blocked,
        ):
            fn(spark, sf_dir)
        slice_warns = [
            w for w in caught
            if issubclass(w.category, RuntimeWarning)
            and "probe slice" in str(w.message)
        ]
    assert not slice_warns, [str(w.message) for w in slice_warns]
