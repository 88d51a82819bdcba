"""Driver-visible quality probe for the approximate sketch family
(VERDICT r2 item #4).

The ANN / sketch operators (`sim_topk_lsh`, `sim_topk_ivf`,
`dedup_simhash`, `dedup_minhash`) were rows-only in the driver until
round 9 (algorithm-specific xxhash buckets); they are now md5-grid
portable and exact-hash-checked, but exact parity still says nothing
about QUALITY: a recall regression would keep both engines agreeing.

This probe closes the gap: it computes each method's recall against
the exact in-engine baseline (`sim_topk_cosine` for ANN, the
oracle-verified `dedup_ngram_jaccard` pair set for near-dup) and emits
ONE ROW PER METHOD **only when that method's recall clears its
floor** — so this probe's own rows-only count (expected 4) is a
behavioral assertion: any recall regression drops a row. pytest
additionally pins the deterministic recall values (test_recall.py).

Scale note: the probe is strictly the union of its constituent queries
plus key-joins on ids — it inherits their plans (broadcast query
vector, bucket equi-joins, prefix-filtered candidate joins) and adds
four tiny aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import probe_slice_mod

#: Recall floors, set from measured behavior across sf0.001/0.01/0.1
#: (deterministic: fixed seeds, fixed data). They encode what each
#: algorithm honestly delivers on the quasi-random fixture embeddings:
#: exact-rerank methods (ivf, minhash) sit near 1.0; pure sign-sketches
#: (lsh 4-plane Hamming-1: 0.6/0.2/0.4 across the three sfs; simhash
#: Hamming<=3: ~0.5-0.6) are bounded by angular physics — the fixture's
#: true top-k neighbors are not angularly tight, which is exactly why
#: IVF (recall 0.9-1.0 probing 2/8 lists) is the production ANN path
#: and lsh stays as the textbook bucketed baseline. Floors sit just
#: under each method's worst measured value; a real regression (broken
#: banding, wrong probe set) lands near 0.0-0.05, far below any floor,
#: so every tripwire stays meaningful.
RECALL_FLOOR = {"ivf": 0.8, "lsh": 0.15, "minhash": 0.9, "simhash": 0.4}

#: Exact-truth scale cap: above this many document rows (footer
#: metadata count, no Spark job) the bigram-Jaccard pair truth is
#: computed only for pairs whose a_id % RECALL_PROBE_MOD == 0 — a
#: deterministic 1-in-29 probe slice of the quadratic-by-nature
#: ground truth. Sliced truth pairs keep their exact full-result
#: values (the slice shrinks the prefix join's A-SIDE only), so the
#: minhash/simhash rows become sliced-estimate recalls; the ANN rows
#: (single-query, linear) never slice. Every driver/test scale
#: (≤ 5000 documents) sits below the cap. Measured at the sf1 clone
#: arm (50k docs): 8589 sliced truth pairs, minhash recall 1.0000 /
#: simhash 0.9588 — both far above their floors, so the sliced
#: estimate keeps every tripwire meaningful.
RECALL_TRUTH_DOCS_CAP = 10_000
RECALL_PROBE_MOD = 29


def _recall_row(
    method: str, approx_ids: DataFrame, truth_ids: DataFrame
) -> DataFrame:
    """(method, recall, floor) with recall = |approx ∩ truth| / |truth|.

    Counted via a semi-join + 1-row aggregates — no collect. The
    cross-join composes two single-row frames (scalar algebra, not a
    data cross product).
    """
    n_truth = truth_ids.agg(F.count(F.lit(1)).alias("_n"))
    n_hit = truth_ids.join(approx_ids, truth_ids.columns, "left_semi").agg(
        F.count(F.lit(1)).alias("_hit")
    )
    return n_hit.crossJoin(n_truth).select(
        F.lit(method).alias("method"),
        (F.col("_hit") / F.col("_n")).alias("recall"),
        F.lit(RECALL_FLOOR[method]).alias("floor"),
    )


def _recall_oracle() -> str:
    """Composed DuckDB oracle (round 16, retiring the registry's last
    rows-only row): every candidate program the probe measures has
    been an exact-hash-checked SQL set since r9 — the approx sets
    (sim_topk_lsh / sim_topk_ivf / dedup_minhash / dedup_simhash) and
    both truths (sim_topk_cosine, dedup_ngram_jaccard's pair program)
    — so recall is a semi-join count over registered oracle texts,
    composed here verbatim (one source of truth per program; a change
    to any constituent's oracle flows into this one automatically).
    Floats are safe: recall = COUNT/COUNT (small-integer IEEE
    division, identical both engines); floors are shared decimal
    literals.
    """
    # registration side effects — idempotent when the registry already
    # imported the modules (the normal path: dedup and similarity
    # precede recall in registry._OPERATOR_MODULES)
    import clickhousebackup_spark.extensions.dedup  # noqa: F401
    import clickhousebackup_spark.extensions.similarity  # noqa: F401
    from clickhousebackup_spark.registry import oracle_text

    subs = (
        ("sim_truth", "sim_topk_cosine", "vec_id"),
        ("lsh_approx", "sim_topk_lsh", "vec_id"),
        ("ivf_approx", "sim_topk_ivf", "vec_id"),
        ("pair_truth", "dedup_ngram_jaccard", "a_id, b_id"),
        ("mh_approx", "dedup_minhash", "a_id, b_id"),
        ("sh_approx", "dedup_simhash", "a_id, b_id"),
    )
    ctes = ",\n".join(
        f"{name} AS (SELECT {cols} FROM (\n{oracle_text(key)}\n))"
        for name, key, cols in subs
    )

    def method_sql(method: str, approx: str, truth: str, cols: list[str]) -> str:
        on = " AND ".join(f"a.{c} = t.{c}" for c in cols)
        return (
            f"SELECT '{method}' AS method,\n"
            f"       CAST((SELECT COUNT(*) FROM {truth} t WHERE EXISTS\n"
            f"             (SELECT 1 FROM {approx} a WHERE {on}))\n"
            f"            AS DOUBLE)\n"
            f"       / (SELECT COUNT(*) FROM {truth}) AS recall,\n"
            f"       CAST({RECALL_FLOOR[method]} AS DOUBLE) AS \"floor\""
        )

    rows = "\nUNION ALL\n".join(
        (
            method_sql("ivf", "ivf_approx", "sim_truth", ["vec_id"]),
            method_sql("lsh", "lsh_approx", "sim_truth", ["vec_id"]),
            method_sql("minhash", "mh_approx", "pair_truth", ["a_id", "b_id"]),
            method_sql("simhash", "sh_approx", "pair_truth", ["a_id", "b_id"]),
        )
    )
    return (
        f"WITH {ctes},\n_rows AS (\n{rows}\n)\n"
        'SELECT method, recall, "floor" FROM _rows\n'
        "WHERE recall >= \"floor\" ORDER BY method"
    )


#: Bounded-slice compare spec for the sf1+ clone arms: the engine
#: self-bounds its pair TRUTH to the 1-in-RECALL_PROBE_MOD a_id slice
#: past RECALL_TRUTH_DOCS_CAP (see above), so the arm compare applies
#: the identical slice to the composed oracle's pair_truth CTE (the
#: jaccard program is the only place that WHERE clause appears in the
#: composed text). The output shape (≤ 4 method rows) never slices —
#: the engine_filter is the output's own tautology, kept so a
#: self-bound regression (unsliced truth vs sliced oracle) fails the
#: compare loudly instead of being masked.
SKETCH_RECALL_PROBE_BOUNDED = {
    "engine_filter": "recall >= `floor`",
    "oracle_replace": (
        "WHERE a.doc_id < b.doc_id",
        f"WHERE a.doc_id < b.doc_id\n"
        f"              AND a.doc_id % {RECALL_PROBE_MOD} = 0",
    ),
    "why": "the exact bigram-Jaccard pair truth is O(n^2/buckets); "
           "the engine self-bounds it to the 1-in-29 a_id slice past "
           "RECALL_TRUTH_DOCS_CAP and the oracle slices identically "
           "— recall rows compare exactly on the sliced truth",
}


@register(
    "sketch_recall_probe",
    oracle=_recall_oracle(),
    doc="Sketch-family quality probe: recall@k of sim_topk_lsh / "
    "sim_topk_ivf against exact sim_topk_cosine, and pair-recall of "
    "dedup_minhash / dedup_simhash against the exact bigram-Jaccard "
    ">= 0.8 pair set — one output row per method WITH recall >= its "
    "floor, so a recall regression in ANY of the four sketches removes "
    "a row. Exact-oracled since r16: every candidate program is an "
    "exact-checked SQL set, so the recall walk itself is a semi-join "
    "count composed from the constituents' registered oracle texts "
    "(_recall_oracle) and the driver hash-checks values, not just the "
    "row count. The probe remains the QUALITY gate (recall floors). "
    "CALIBRATION-ONLY at scale — the exact bigram-Jaccard pair truth "
    "is O(n^2/buckets) by nature: past RECALL_TRUTH_DOCS_CAP document "
    "rows the truth self-bounds to pairs whose a_id lands on the "
    "deterministic 1-in-RECALL_PROBE_MOD slice (sliced pairs keep "
    "their exact full-result values; pair recall is then the sliced "
    "estimate). Full-fidelity at every driver/test scale.",
)
def sketch_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.extensions.dedup import (
        dedup_minhash,
        dedup_ngram_jaccard,
        dedup_simhash,
    )
    from clickhousebackup_spark.extensions.similarity import (
        sim_topk_cosine,
        sim_topk_ivf,
        sim_topk_lsh,
    )

    sim_truth = materialize(sim_topk_cosine(spark, sf_dir).select("vec_id"))
    probe_mod = probe_slice_mod(
        "sketch_recall_probe", sf_dir, "documents",
        RECALL_TRUTH_DOCS_CAP, RECALL_PROBE_MOD,
    )
    pair_truth = materialize(
        dedup_ngram_jaccard(spark, sf_dir, probe_mod=probe_mod)
        .select("a_id", "b_id")
    )
    rows = [
        _recall_row("lsh", sim_topk_lsh(spark, sf_dir).select("vec_id"), sim_truth),
        _recall_row("ivf", sim_topk_ivf(spark, sf_dir).select("vec_id"), sim_truth),
        _recall_row(
            "minhash", dedup_minhash(spark, sf_dir).select("a_id", "b_id"), pair_truth
        ),
        _recall_row(
            "simhash", dedup_simhash(spark, sf_dir).select("a_id", "b_id"), pair_truth
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.filter(F.col("recall") >= F.col("floor")).orderBy("method")
