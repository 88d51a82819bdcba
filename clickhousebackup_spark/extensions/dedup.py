"""Deduplication operators (north-star extensions, `BASELINE.json:6`)
— exact and near-dup, the core of a pre-training data pipeline, built
on the reference's content-identity idea (hardlink dedup,
`backup.sh:77-96`) generalized from byte-equality to similarity.

Scale design:
- exact dedup: hash-groupBy — one shuffle on a 16-byte key, the
  at-scale canonical plan (never a pairwise compare);
- MinHash/LSH: shingles → K independent min-hashes (one map stage) →
  band buckets → self-join *within buckets only* → Jaccard verify.
  Pair work is bounded by bucket sizes, not n²; banding parameters
  (K=16, bands=4) trade recall vs bucket size exactly as in the
  Broder/LSH literature (PAPERS.md).
- SimHash: 64-bit signed-projection sketch; near-dups = signatures
  within small Hamming distance, bucketed by 16-bit chunks (pigeonhole:
  ≤3 differing bits → some chunk equal).
- embedding cosine near-dup: LSH-free exact variant at fixture scale,
  bucketed by coarse quantization for the 100 TB path.

Everything is deterministic: fixed hash seeds (xxhash64 with literal
salts), total-order tiebreaks, pair keys normalized a<b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import (
    load_table,
    parallelize,
    probe_slice_mod,
    table_rows_metadata,
)

N_MINHASH = 16
N_BANDS = 4  # rows-per-band = 4
SHINGLE_K = 3  # word 3-shingles


@register(
    "dedup_exact",
    oracle="""
        SELECT doc_id, content_md5 FROM (
            SELECT doc_id, md5(text) AS content_md5,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    doc="Exact dedup by content hash, keep lowest doc_id — the "
    "hardlink identity of backup.sh:77-96 as a hash-groupBy (one "
    "shuffle on the 16-byte key; no pairwise work).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    return (
        d.select("doc_id", F.md5("text").alias("content_md5"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_md5")
    )


def _shingles(text_col: str = "text"):
    """Word k-shingles as strings: deterministic, JVM-side."""
    words = F.split(F.lower(text_col), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (SHINGLE_K - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(words, i, SHINGLE_K)
        ),
    )


# Odd 31-bit multipliers + offsets for the affine permutation family
# h_k(x) = A_k·x + B_k over the 32-bit base hash — the standard
# one-hash MinHash: each shingle is hashed ONCE and the K
# "permutations" are arithmetic, ~K× cheaper than K salted hashes.
# The 32-bit base domain keeps every product below 2^63 (ANSI mode
# forbids silent long wraparound); 32-bit per-doc shingle collisions
# are noise for min(). The base hash is the PORTABLE 32-bit md5
# prefix (r9 conversion from xxhash64 — bit-identical in DuckDB, so
# the whole pair set is exact-hash-checkable); a production corpus
# would swap xxhash64 back in with zero plan change, the hash is a
# one-line parameter.
_MINHASH_A = [(0x9E3779B9 * (k + 1)) % (1 << 31) | 1 for k in range(N_MINHASH)]
_MINHASH_B = [(0x51E2D1FB * k) % (1 << 31) for k in range(N_MINHASH)]

_MERSENNE31 = (1 << 31) - 1

#: Corpus size above which dedup_minhash materializes the signature
#: sketch (``scratch.materialize``) before the band self-join.
#: Below it, the identical sig subplans on both join sides share one
#: exchange (Spark exchange reuse) and the checkpoint's extra job +
#: block registration are pure overhead (measured 1.39 s → 1.10 s at
#: sf0.1's 5k docs); above it, recomputing signatures per side would
#: be two full passes over the raw text, so the sketch is pinned.
#: Footer-metadata probe, no Spark job; unknown → checkpoint.
MINHASH_CKPT_DOCS_MIN = 25_000

#: DuckDB rendering of the same affine minhash family over the same
#: portable 32-bit md5-prefix base hash (column `h`).
_RT_MINS_SQL = ",\n               ".join(
    f"CAST(MIN((h * {_MINHASH_A[k]} + {_MINHASH_B[k]}) % {_MERSENNE31})"
    f" AS BIGINT) AS m{k}"
    for k in range(N_MINHASH)
)
_RT_BAND_PRED_SQL = " OR ".join(
    "("
    + " AND ".join(
        f"a.m{b * (N_MINHASH // N_BANDS) + r} = "
        f"b.m{b * (N_MINHASH // N_BANDS) + r}"
        for r in range(N_MINHASH // N_BANDS)
    )
    + ")"
    for b in range(N_BANDS)
)
_RT_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.m{k} = b.m{k} THEN 1 ELSE 0 END)"
    for k in range(N_MINHASH)
)


def _md5_long32(col):
    """Portable 32-bit integer hash: md5 hex 8-char prefix → BIGINT.

    Spark ``conv(substr(md5(x),1,8),16,10)`` ↔ DuckDB
    ``CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)`` — the 32-bit
    sibling of the repo's 60-bit md5-grid convention (``_md5_long``),
    sized so the affine minhash products stay below 2^63.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → array<long> of N_MINHASH min-hashes over word shingles.

    Deterministic across runs/cluster sizes: literal multiplier/offset
    constants, no RNG state (MinHash determinism, SURVEY.md §7).
    """
    # Explode shingle hashes to rows and take K plain MIN aggregates:
    # vectorized two-phase hash-agg with map-side combine (one partial
    # row per doc per partition), trivial codegen. This beats both the
    # K-unrolled array_min HOFs (seconds of Janino compile per query)
    # and nested HOF lambdas (which drop off the codegen path entirely)
    # — and it is the shape that scales: no per-doc array ever
    # materializes, and the shuffle carries K longs per doc.
    # The whole stage is built from SQL STRINGS (selectExpr), not the
    # Column API: the nested HOF + 16 affine expressions cost ~380 ms
    # of py4j round-trips per invocation through Column operators vs
    # ~110 ms as three parsed strings — pure driver-side plan-
    # construction wall, measured warm at sf0.1 (OPTIMIZATION_r16.md
    # §3). The parsed plan is expression-identical (verified
    # row-for-row against the Column build), so codegen/oracle parity
    # are untouched. array_distinct matches the oracle's DISTINCT
    # shingle set; min() is duplicate-insensitive, so values are
    # unchanged and the 16-permutation projection sees fewer rows.
    w = "split(lower(text), '\\\\s+')"
    hs = docs.selectExpr(
        "doc_id",
        f"explode(transform(array_distinct(transform("
        f"sequence(1, greatest(size({w}) - {SHINGLE_K - 1}, 1)), "
        f"i -> concat_ws(' ', slice({w}, i, {SHINGLE_K})))), "
        f"s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as long))) AS h",
    )
    # mod 2^31-1 (Mersenne prime) — without the reduction the affine map
    # is monotone and every permutation would share one argmin,
    # collapsing all K signatures into one. The affine transforms live
    # in a PROJECTION so the aggregate codegen sees 16 plain min(col)
    # updates — smaller generated aggregate code (Janino compile is the
    # dominant cold cost of this query, NOTES.md §4), same plan shape.
    projected = hs.selectExpr(
        "doc_id",
        *[
            f"pmod(h * {_MINHASH_A[k]}L + {_MINHASH_B[k]}L, "
            f"{_MERSENNE31}L) AS p{k}"
            for k in range(N_MINHASH)
        ],
    )
    return (
        projected.groupBy("doc_id")
        .agg(*[F.min(f"p{k}").alias(f"m{k}") for k in range(N_MINHASH)])
        .selectExpr(
            "doc_id",
            "array(" + ", ".join(f"m{k}" for k in range(N_MINHASH)) + ") AS sig",
        )
    )


@register(
    "dedup_minhash",
    # Round-9 conversion from rows-only (the dedup_clusters_neardup
    # round-6 precedent): the one-hash base moved to the portable
    # 32-bit md5 prefix, so the ENTIRE pair set + sim values are
    # bit-identical in DuckDB and the driver pins real pairs, not row
    # counts. The oracle replicates the banded candidate predicate
    # exactly: a qualifying pair missed by every band is (correctly)
    # absent in BOTH engines.
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' ')) AS shs
            FROM t
        ), sh AS (
            SELECT DISTINCT doc_id, unnest(shs) AS sh FROM s
        ), hs AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h
            FROM sh
        ), sigs AS (
            SELECT doc_id,
               {_RT_MINS_SQL}
            FROM hs GROUP BY doc_id
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ({_RT_MATCH_SQL}) / {N_MINHASH}.0 AS sim
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE ({_RT_BAND_PRED_SQL})
          AND ({_RT_MATCH_SQL}) / {N_MINHASH}.0 >= 0.5
    """,
    doc="Near-dup pairs via MinHash+LSH banding: shingle → one "
    "portable 32-bit hash → 16 affine-permutation min-hashes → 4 "
    "band buckets → join within buckets → verified signature "
    "similarity ≥ 0.5. Returns (a_id, b_id, sim), a<b. "
    "Exact-hash-checkable since r9: the base hash is the md5-grid "
    "32-bit prefix (bit-identical in DuckDB), the band key is the "
    "signature SLICE itself (tuple equality, no opaque bucket "
    "hash), and sim is an integer match-count / 16 — so the oracle "
    "reproduces candidate generation AND verification exactly.",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    # Materialize the sketch stage once ABOVE the corpus cap: the
    # self-join would otherwise recompute every signature per side —
    # at corpus scale that is two full passes over the raw text.
    # materialize stores the K-longs-per-doc signature blocks on
    # the executors — no filesystem committer in the loop (a parquet
    # roundtrip costs a full write job; see scratch.roundtrip_parquet
    # for the pattern when the artifact must outlive the query).
    # Executor loss → recompute-from-scratch, an acceptable trade for
    # a sketch ~1000× smaller than its input. (Not .persist():
    # InMemoryRelation builds fall back to interpreted expression
    # eval for this plan.) BELOW the cap the barrier costs more than
    # it saves: the two band sides are the identical subplan, so
    # Spark's exchange reuse computes the signature aggregate once
    # anyway, and skipping the checkpoint removes an eager job + the
    # executor block registration (1.39 s → 1.10 s at sf0.1). The
    # probe is parquet footer metadata — no Spark job; unknown size →
    # checkpoint (the conservative, scale-safe branch).
    sigs = minhash_signatures(d)
    n_docs = table_rows_metadata(sf_dir, "documents")
    if n_docs is None or n_docs > MINHASH_CKPT_DOCS_MIN:
        sigs = materialize(sigs)
    rows_per_band = N_MINHASH // N_BANDS
    # The band key is the signature SLICE itself (array<long> is a
    # valid hash-join key) — tuple equality the oracle replicates
    # verbatim, where an opaque bucket hash (the pre-r9 xxhash64 of
    # the slice) could not be cross-checked and could, with 2^-64
    # probability, admit a collision pair the oracle lacks.
    #
    # Band explode + join + verify are PARSED expression strings
    # (selectExpr / one spark.sql with DataFrame binding), the same
    # round-16/17 plan-construction lever as the signature stage:
    # construct wall for this tail 135 → 51 ms, optimized plan equal
    # to the Column build modulo expression ids and lambda-variable
    # NAMES (x_1/y_2 vs x/y — naming only; pinned in
    # tests/test_optimizations_r17.py), output verified identical
    # row-for-row. `first(sim) GROUP BY (a_id, b_id)` compiles to the
    # exact Aggregate that dropDuplicates([a_id, b_id]) did. Verify
    # still runs BEFORE dedup: sim is deterministic per pair, so the
    # distinct aggregates three scalar columns instead of
    # first()-buffering two signature arrays per pair.
    bands = sigs.selectExpr(
        "doc_id",
        "sig",
        "explode(array("
        + ", ".join(
            f"struct({b} AS band, slice(sig, {b * rows_per_band + 1}, "
            f"{rows_per_band}) AS bucket)"
            for b in range(N_BANDS)
        )
        + ")) AS bb",
    ).selectExpr("doc_id", "sig", "bb.band", "bb.bucket")
    sim_sql = (
        "CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> "
        "CAST(x = y AS INT)), e -> e = 1)) AS DOUBLE) / "
        f"{float(N_MINHASH)}"
    )
    return spark.sql(
        f"""
        SELECT a_id, b_id, first(sim) AS sim FROM (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, {sim_sql} AS sim
            FROM {{a}} a JOIN {{b}} b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
        ) WHERE sim >= 0.5
        GROUP BY a_id, b_id
        """,
        a=bands,
        b=bands,
    )


#: Bounded-slice compare spec for the clone arms (driver_sim
#: BOUNDED_SLICE, same contract as similarity.SIM_KNN_JOIN_BOUNDED):
#: the registered oracle's truth is an ALL-PAIRS banded join in
#: DuckDB — O(N^2) comparisons, ~2.5e11 at the sf10 arm's 500k docs —
#: so arms ≥ sf1 compare the engine's FULL banded output restricted
#: to pairs whose a_id sits on the deterministic 1-in-97 slice
#: against the same-sliced oracle (the slice is on the pair join's
#: a-side, so every compared pair keeps its exact full-result sim).
#: ``oracle_replace`` is applied to the registered oracle text by
#: driver_sim, keeping one source of truth for the banded predicate.
DEDUP_MINHASH_BOUNDED = {
    "engine_filter": "a_id % 97 = 0",
    "oracle_replace": (
        "ON a.doc_id < b.doc_id",
        "ON a.doc_id < b.doc_id AND a.doc_id % 97 = 0",
    ),
    "why": "DuckDB all-pairs banded truth is O(N^2) at clone-arm doc "
           "counts; 1-in-97 a_id pair slice, exact sims kept",
}

#: Exact-baseline scale cap shared by the three quadratic-class
#: document-pair keys (dedup_ngram_jaccard, dedup_containment) and
#: the embedding-pair key (dedup_embedding_cosine): above this many
#: rows (footer metadata count, no Spark job — tables.
#: table_rows_metadata) the key self-bounds to the deterministic
#: 1-in-DEDUP_PAIR_PROBE_MOD probe slice instead of the full exact
#: pair set. Every driver/test scale (≤ 5000 documents / ≤ 2000
#: embeddings at sf0.1) sits far below the cap, so registered-oracle
#: parity is untouched; the sf1+ clone arms compute exactly the rows
#: their bounded-slice compares check. The slice filters a PROBE
#: side only (prefix a-side / probe prefixes / exploded query side)
#: — the index/candidate side stays full, so every sliced pair keeps
#: its exact full-result values. The round-14/15 sim_knn_join
#: pattern (similarity.EXACT_KNN_ROWS_CAP) applied to the four
#: remaining exact-baseline long-poles (VERDICT r15 item 1).
DEDUP_PAIR_DOCS_CAP = 10_000
DEDUP_PAIR_PROBE_MOD = 97

#: Bounded-slice compare specs for the self-bounding pair keys: the
#: registered oracle restricted to the same deterministic slice the
#: engine computes past its cap. dedup_ngram_jaccard emits a_id <
#: b_id from the prefix join's a-side, so the slice predicate is in
#: the OUTPUT domain (pairs whose smaller doc_id lands on the 1-in-97
#: class) and the oracle restricts the same way.
DEDUP_NGRAM_JACCARD_BOUNDED = {
    "engine_filter": "a_id % 97 = 0",
    "oracle_replace": (
        "WHERE a.doc_id < b.doc_id",
        "WHERE a.doc_id < b.doc_id\n"
        "              AND a.doc_id % 97 = 0",
    ),
    "why": "exact pair verify is O(candidates) with quadratic-in-"
           "clones candidates at the arms; 1-in-97 a_id pair slice, "
           "exact jaccards kept (engine self-bounds past "
           "DEDUP_PAIR_DOCS_CAP to exactly this slice)",
}

#: dedup_containment's pigeonhole guarantee is one-sided — a
#: qualifying pair is caught when its FEWER-GRAMS doc probes (ties
#: broken to the smaller doc_id, which the engine emits as a_id), so
#: the slice predicate selects pairs whose guaranteed-probing doc
#: lands on the 1-in-97 class. The oracle has na/nb in scope and
#: restricts with the identical CASE.
DEDUP_CONTAINMENT_BOUNDED = {
    # The exact slice is "the pigeonhole-guaranteed doc (fewer grams,
    # tie -> smaller id) lands on the 1-in-97 class" — na/nb are not
    # output columns, so the filter below is the NECESSARY output-
    # level condition every sliced row satisfies (the guaranteed doc
    # is one of the two endpoints). It is idempotent on the
    # self-bounded output; if the self-bound ever regressed to the
    # full pair set, this keeps a strict superset of the oracle's
    # exact slice and the compare fails LOUDLY instead of masking.
    "engine_filter": "a_id % 97 = 0 OR b_id % 97 = 0",
    "oracle_replace": (
        "WHERE 10 * i >= 9 * least(na, nb)",
        "WHERE 10 * i >= 9 * least(na, nb)\n"
        "          AND (CASE WHEN na < nb THEN a_id\n"
        "                    WHEN nb < na THEN b_id\n"
        "                    ELSE a_id END) % 97 = 0",
    ),
    "why": "one-sided prefix probe is quadratic-in-clones at the "
           "arms; slice keeps pairs whose pigeonhole-guaranteed "
           "(fewer-grams, tie->smaller-id) doc is on the 1-in-97 "
           "class — exact integer outputs kept (engine self-bounds "
           "past DEDUP_PAIR_DOCS_CAP to exactly the oracle's CASE "
           "slice)",
}

DEDUP_EMBEDDING_COSINE_BOUNDED = {
    "engine_filter": "a_id % 97 = 0",
    "oracle_replace": (
        "ON a.vec_id < b.vec_id",
        "ON a.vec_id < b.vec_id AND a.vec_id % 97 = 0",
    ),
    "why": "blocked all-pairs verify is O(N^2/16) at the arms; "
           "1-in-97 a-side slice (smaller vec_id), exact cosines "
           "kept (engine self-bounds past DEDUP_PAIR_DOCS_CAP "
           "embeddings to exactly this slice)",
}

#: dedup_simhash's pair OUTPUT is quadratic in clone copies at the
#: arms (byte-identical texts -> identical signatures -> every clone
#: pair emits a Hamming-0 row: ~25M pairs at the sf10 arm), so the
#: full compare collect is the bound even though the banded engine
#: plan is fine. Same a-side slice as DEDUP_MINHASH_BOUNDED: the
#: chunk join keeps a.doc_id < b.doc_id, so the slice predicate is
#: output-level (smaller id on the 1-in-97 class) and the oracle
#: pushes it to the a-side scan.
DEDUP_SIMHASH_BOUNDED = {
    "engine_filter": "a_id % 97 = 0",
    "oracle_replace": (
        "ON a.doc_id < b.doc_id",
        "ON a.doc_id < b.doc_id AND a.doc_id % 97 = 0",
    ),
    "why": "clone-quadratic pair OUTPUT (~25M rows at the sf10 arm) "
           "makes the full collect-and-sort compare the bound; "
           "1-in-97 a_id pair slice, exact hammings kept",
}


#: Runtime simhash width: 60 bits — the full portable md5-grid hash
#: width (15 hex chars), split into 4 pigeonhole chunks of 15 bits
#: (any pair with Hamming ≤ 3 shares at least one chunk).
RT_SIMHASH_BITS = 60
RT_SIMHASH_CHUNKS = 4
_RT_CHUNK_BITS = RT_SIMHASH_BITS // RT_SIMHASH_CHUNKS
_RT_CHUNK_MASK = (1 << _RT_CHUNK_BITS) - 1

_RT_SIM_BITSUMS_SQL = ",\n                   ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(RT_SIMHASH_BITS)
)
_RT_SIM_VALUE_SQL = " + ".join(
    f"(CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END)"
    for b in range(RT_SIMHASH_BITS)
)
_RT_CHUNK_PRED_SQL = " OR ".join(
    f"((a.simhash >> {c * _RT_CHUNK_BITS}) & {_RT_CHUNK_MASK}) = "
    f"((b.simhash >> {c * _RT_CHUNK_BITS}) & {_RT_CHUNK_MASK})"
    for c in range(RT_SIMHASH_CHUNKS)
)


@register(
    "dedup_simhash",
    # Round-9 conversion from rows-only: the shingle hash is the
    # portable 60-bit md5 grid, so signatures, chunks, and the final
    # Hamming-verified pair set are bit-identical in DuckDB.
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' ')) AS shs
            FROM t
        ), sh AS (
            SELECT doc_id, unnest(shs) AS sh FROM s
        ), hs AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
            FROM sh
        ), bits AS (
            SELECT doc_id,
                   {_RT_SIM_BITSUMS_SQL}
            FROM hs GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id,
                   CAST({_RT_SIM_VALUE_SQL} AS BIGINT) AS simhash
            FROM bits
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE ({_RT_CHUNK_PRED_SQL})
          AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc=f"SimHash near-dup: {RT_SIMHASH_BITS}-bit signed-projection "
    "signature per doc (portable md5-grid shingle hash — "
    "exact-hash-checkable since r9, the full pair set reproduced in "
    f"DuckDB); candidate pairs share a {_RT_CHUNK_BITS}-bit chunk "
    "(pigeonhole for Hamming≤3) and verify popcount(xor) ≤ 3. "
    "Returns (a_id, b_id, hamming). A production corpus would swap "
    "xxhash64 back in for the shingle hash with zero plan change.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    # Explode shingle hashes to rows; each of the 60 bit-votes is a
    # plain SUM aggregate of ±1 (same explode+hash-agg shape as
    # minhash_signatures — vectorized, map-side combined, small codegen).
    hs = d.select(
        "doc_id",
        F.explode(F.transform(_shingles(), lambda s: _md5_long(s))).alias(
            "h"
        ),
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(RT_SIMHASH_BITS)
    ]
    voted = hs.groupBy("doc_id").agg(*votes)
    # signature bit i = (vote_i >= 0), valued 2^i — the same
    # sum-of-powers assembly the oracle states.
    sig = None
    for i in range(RT_SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        sig = term if sig is None else sig + term
    sigs = voted.select("doc_id", sig.cast("long").alias("simhash"))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", c * _RT_CHUNK_BITS)
                        .bitwiseAND(F.lit(_RT_CHUNK_MASK))
                        .alias("chunk"),
                    )
                    for c in range(RT_SIMHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk_id", "cc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])
        .filter(F.col("hamming") <= 3)
    )


@register(
    "dedup_ngram_jaccard",
    # r12 oracle rewrite: the original all-pairs nested join with
    # per-pair list_intersect/list_concat/list_distinct was 740 s of
    # pure oracle wall at sf0.1 (97-99% of the key's sweep cost,
    # PLANS_r11 §2); this statement returns the identical rows in
    # ~14 s. Exactness argument: grams are DISTINCT per doc, so the
    # equi-join on g counts |A∩B| exactly, pairs sharing zero grams
    # cannot reach Jaccard 0.8 (and are absent from the join), the
    # length filter 5·min >= 4·max is implied by J >= 0.8, the union
    # is na + nb - i by inclusion-exclusion over distinct sets, and
    # the integer predicate 9·i >= 4·(na+nb) is algebraically
    # i/(na+nb-i) >= 4/5 with no float boundary hazard (the emitted
    # double i/u equals the old expression's value bit-for-bit — the
    # same two integers divide). A prefix-filtered variant was tried
    # first and measured only 1.6x (the fixture's 31-word vocabulary
    # makes every gram frequent, so candidates barely prune); the
    # join-count shape wins because it never materializes pair lists.
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 1, 1) + 1),
                       i -> concat_ws(' ',
                            string_split_regex(lower(text), '\\s+')[i:i+1]))) AS gs
            FROM documents
        ), ex AS (
            SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
        ), shared AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.n AS na, b.n AS nb, COUNT(*) AS i
            FROM ex a JOIN ex b USING (g)
            WHERE a.doc_id < b.doc_id
              AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)
            GROUP BY 1, 2, 3, 4
        )
        SELECT a_id, b_id,
               CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
        FROM shared
        WHERE 9 * i >= 4 * (na + nb)
    """,
    doc="EXACT n-gram (word bigram) Jaccard near-dup pairs ≥ 0.8 via "
    "prefix filtering (PPJoin family): each doc indexes only its "
    "|G| - ceil(0.8·|G|) + 1 globally-rarest grams; two docs with "
    "Jaccard ≥ 0.8 MUST share a prefix gram (pigeonhole on the shared "
    "canonical rarity order), so candidates come from an equi-key "
    "self-join on prefix grams — never an all-pairs nested loop — and "
    "every candidate is verified with the exact set Jaccard. Same "
    "result as brute force (the oracle stays all-pairs), scale-safe "
    "plan: rare-gram prefixes keep candidate buckets small because "
    "frequent grams never enter the index. CALIBRATION-ONLY at scale "
    "— exact pair output is quadratic-in-duplicates by nature: past "
    "DEDUP_PAIR_DOCS_CAP document rows the key self-bounds to the "
    "deterministic 1-in-97 a_id probe slice (sliced pairs keep exact "
    "full-result jaccards; full-fidelity below the cap). The "
    "PRODUCTION near-dup path at 100 TB is dedup_minhash's banded "
    "LSH — this operator is its oracle-checkable exact truth.",
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, probe_mod: int | None = None
) -> DataFrame:
    """``probe_mod`` (keyword, calibration callers only — the registry
    always calls with 2 args): restrict the pair A-SIDE to
    ``a_id % probe_mod == 0`` INSIDE the prefix join, so the candidate
    count (and the exact verify) drops by ~probe_mod× while every
    emitted pair is byte-identical to the full result's pair for that
    a_id. sketch_recall_probe uses this to bound its exact pair truth
    at clone-arm scale. Past DEDUP_PAIR_DOCS_CAP document rows (footer
    metadata, no Spark job) the registered key itself self-bounds to
    probe_mod = DEDUP_PAIR_PROBE_MOD — the slice
    DEDUP_NGRAM_JACCARD_BOUNDED compares; full-fidelity at every
    driver/test scale."""
    t = 0.8
    if probe_mod is None:
        probe_mod = probe_slice_mod(
            "dedup_ngram_jaccard", sf_dir, "documents",
            DEDUP_PAIR_DOCS_CAP, DEDUP_PAIR_PROBE_MOD,
        )
    d = parallelize(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower("text"), r"\s+")
    n = F.size(words)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
        )
    )
    # The gram table feeds three consumers (df counts, prefix index,
    # exact verify) — materialize it ONCE; recomputing the array expr
    # per consumer tripled the operator's wall time.
    g = materialize(d.select("doc_id", grams.alias("gs")))
    toks = g.select("doc_id", F.explode("gs").alias("gram"))
    # global document frequency = the canonical rarity order (ties on
    # the gram string itself → total order, deterministic prefixes)
    freq = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        toks.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "gram"))).alias(
                "by_rarity"
            )
        )
    )
    ng = F.size("by_rarity")
    prefix_len = ng - F.ceil(ng * F.lit(t)).cast("int") + 1
    prefix = per_doc.select(
        "doc_id",
        ng.alias("sz"),
        F.explode(
            F.transform(
                F.slice("by_rarity", 1, prefix_len), lambda s: s["gram"]
            )
        ).alias("gram"),
    )
    # Length pruning (PPJoin's first filter): J(A,B) >= t forces
    # |A∩B| >= t·|A∪B| ⇒ min(|A|,|B|) >= t·max(|A|,|B|) — applied on
    # the candidate rows BEFORE the distinct and the array verify, it
    # removes the size-mismatched bulk of each prefix bucket for the
    # cost of one comparison per candidate row.
    prefix_a = prefix
    if probe_mod is not None:
        # calibration probe slice: shrink only the a-side; the b-side
        # stays full so kept pairs keep their exact full-result values
        prefix_a = prefix.filter(F.col("doc_id") % probe_mod == 0)
    cand = (
        prefix_a.alias("pa")
        .join(prefix.alias("pb"), "gram")
        .filter(
            (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (
                F.least(F.col("pa.sz"), F.col("pb.sz")).cast("double")
                >= F.lit(t) * F.greatest(F.col("pa.sz"), F.col("pb.sz"))
            )
        )
        .select(
            F.col("pa.doc_id").alias("a_id"),
            F.col("pb.doc_id").alias("b_id"),
        )
        .distinct()
        # Candidate rows are 16 bytes but each costs an O(|A|+|B|)
        # array verify — AQE's bytes-based coalescing would squeeze
        # them onto a handful of tasks and serialize the CPU-bound
        # stage. Explicit repartition pins verify parallelism to the
        # core count (2.4x wall on local[32]).
        .repartition(spark.sparkContext.defaultParallelism, "a_id")
    )
    a = g.select(F.col("doc_id").alias("a_id"), F.col("gs").alias("gs_a"))
    b = g.select(F.col("doc_id").alias("b_id"), F.col("gs").alias("gs_b"))
    # gs is array_distinct, so |A∪B| = |A|+|B|-|A∩B| — the union needs
    # no concat+distinct array build, and the intersect is evaluated
    # once in its own projection (integer arithmetic → the double
    # division is bit-identical to the oracle's set formulation).
    return (
        cand.join(a, "a_id")
        # explicit numPartitions → AQE won't coalesce this exchange;
        # the intersect below is evaluated in the stage this join
        # feeds, so ITS parallelism is what decides the wall time.
        .repartition(spark.sparkContext.defaultParallelism, "b_id")
        .join(b, "b_id")
        .withColumn("_i", F.size(F.array_intersect("gs_a", "gs_b")))
        .select(
            "a_id",
            "b_id",
            (
                F.col("_i").cast("double")
                / (F.size("gs_a") + F.size("gs_b") - F.col("_i")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH normed AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                           (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        FROM normed a JOIN normed b ON a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                          (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4
    """,
    doc="Embedding near-dup: EXACT pairs with cosine ≥ 0.4 (r6: was 0.99, which no fixture pair reaches — the synthetic embeddings are near-orthogonal Gaussians with max pair cosine ≈ 0.5, so the key returned vacuous 0 rows; production near-dup runs the same plan at τ ≈ 0.95). Candidate "
    "generation probes ALL 16 sign-LSH buckets (left side exploded "
    "×16, right side bucketed), so every pair is verified exactly once "
    "through a pure equi-key join — 16-way-parallel blocked all-pairs, "
    "never a nested-loop cartesian. Exact near-dup is inherently "
    "quadratic in verify count (a Hamming-1 probe would silently miss "
    "pairs whose signatures differ in ≥2 bits — both vectors near two "
    "hyperplanes); the sub-quadratic SCALE path is the approximate "
    "sketch family (dedup_simhash / sim_topk_lsh, exact-checked r9 + "
    "recall-tested), while this operator is the oracle-checkable exact "
    "baseline. Left-fold dot products match bitwise across engines. "
    "CALIBRATION-ONLY at scale: past DEDUP_PAIR_DOCS_CAP embedding "
    "rows the key self-bounds to the deterministic 1-in-97 probe "
    "slice (only the exploded query side shrinks — every candidate "
    "for a sliced probe is still verified, so sliced pairs keep "
    "exact full-result cosines; full-fidelity below the cap).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.extensions.similarity import lsh_bucket_expr
    from clickhousebackup_spark.scratch import roundtrip_parquet, scratch_path

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    # Materialize (vec, norm, bucket) once: the 4-plane projection is
    # the expensive expression and both join sides need it.
    normed = roundtrip_parquet(
        e.select(
            "vec_id",
            v.alias("v"),
            nrm.alias("nrm"),
            lsh_bucket_expr("embedding").alias("bucket"),
        ),
        scratch_path(spark, "emb_cosine_bucketed", sf_dir),
    )
    # Probe set = ALL 16 buckets, exploded on the left side only → the
    # join stays pure equi-key (shuffle hash / sort-merge, never a
    # nested-loop cartesian) and EVERY pair is verified exactly once —
    # the exactness contract. 4 sign bits → 16 buckets.
    n_buckets_bits = 4
    probes = F.array(
        *[F.lit(b).cast("long") for b in range(1 << n_buckets_bits)]
    )
    # CALIBRATION-ONLY self-bound (DEDUP_PAIR_DOCS_CAP): past the cap
    # only the exploded PROBE side shrinks to the 1-in-97 class — the
    # bucketed candidate side stays full, and the emitted pair keeps
    # a_id < b_id with a_id the probing vector, so kept pairs are
    # byte-identical to the full result's pairs whose smaller vec_id
    # is on the class (DEDUP_EMBEDDING_COSINE_BOUNDED's slice).
    probe_src = normed
    mod = probe_slice_mod(
        "dedup_embedding_cosine", sf_dir, "embeddings",
        DEDUP_PAIR_DOCS_CAP, DEDUP_PAIR_PROBE_MOD,
    )
    if mod is not None:
        probe_src = normed.filter(F.col("vec_id") % mod == 0)
    a = probe_src.select(
        "vec_id", "v", "nrm", F.explode(probes).alias("probe")
    ).alias("a")
    b = normed.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.probe") == F.col("b.bucket"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
        .dropDuplicates(["a_id", "b_id"])
    )


PASSAGE_WORDS = 16


@register(
    "dedup_passage",
    oracle=f"""
        WITH chunks AS (
            SELECT doc_id, ci.i AS chunk_idx,
                   array_to_string(
                       string_split_regex(lower(text), '\\s+')
                           [(ci.i * {PASSAGE_WORDS} + 1):
                            (ci.i * {PASSAGE_WORDS} + {PASSAGE_WORDS})],
                       ' ') AS chunk
            FROM documents
            CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ci
            WHERE ci.i * {PASSAGE_WORDS}
                  < len(string_split_regex(lower(text), '\\s+'))
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               md5(chunk) AS chunk_md5
        FROM (
            SELECT doc_id, chunk_idx, chunk,
                   ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks
        ) WHERE rn = 1
    """,
    doc=f"Passage-level dedup: split every document into fixed "
    f"{PASSAGE_WORDS}-word chunks (the training-pipeline passage unit "
    "— the fixture corpus has no sentence/newline structure) and keep "
    "the FIRST corpus-wide occurrence of each distinct chunk, ordered "
    "by (doc_id, chunk_idx). Catches boilerplate repeated inside "
    "otherwise-distinct documents, which document-level dedup can "
    "never see. Plan: one explode + one row_number over the 16-byte "
    "chunk hash — same single-shuffle shape as dedup_exact, row count "
    "scaled by chunks-per-doc.",
)
def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower("text"), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(PASSAGE_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS)
        ),
    )
    rows = d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


def _propagate_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by label propagation to fixpoint: cluster =
    min doc_id reachable over ``edges`` (src/dst, normalized a<b).
    Shared by the exact- and near-dup cluster operators."""
    # undirected adjacency + self-loops
    adj = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .unionByName(docs.select(F.col("doc_id").alias("u"), F.col("doc_id").alias("v")))
    )
    labels = docs.select(F.col("doc_id").alias("u"), F.col("doc_id").alias("cluster"))
    # The adjacency is reused by every round — materialize it once.
    adj = materialize(adj)
    # Run to FIXPOINT (the output is hash-checked against an exact
    # recursive-CTE oracle, so an unconverged return is a wrong
    # answer, not an approximation). Min-label propagation needs up to
    # graph-diameter rounds; transitive near-dup chains grow with
    # scale factor, so the bound is generous and RAISES instead of
    # silently returning partial labels.
    converged = False
    for _ in range(64):
        # propagate: new label = min label over neighborhood
        prop = (
            adj.join(labels, on="u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.min("cluster").alias("new_cluster"))
        )
        joined = labels.join(prop, on="u", how="left").select(
            "u",
            F.least(F.col("cluster"), F.coalesce("new_cluster", "cluster")).alias(
                "cluster"
            ),
        )
        # Materializing per round truncates lineage (otherwise the
        # plan doubles each iteration and the convergence probe below
        # re-executes the whole prefix) and materializes this round's
        # labels exactly once.
        joined = materialize(joined)
        changed = (
            joined.join(labels.withColumnRenamed("cluster", "old"), on="u")
            .filter(F.col("cluster") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = joined
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "_propagate_clusters: label propagation did not converge "
            "within 64 rounds — component diameter exceeds the safety "
            "cap; raise the cap or switch to pointer-doubling"
        )
    return labels.select(F.col("u").alias("doc_id"), "cluster")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # edges: exact-duplicate pairs (md5 identity — deterministic and
    # the dominant real-world near-dup source), normalized a<b
    hashed = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    return _propagate_clusters(docs, edges)


dedup_clusters = register(
    "dedup_clusters",
    # The edge set is md5-identity pairs, so the connected components
    # ARE the md5 groups — the iterative Spark fixpoint must converge
    # to a plain window-min over md5(text), which IS SQL-expressible.
    # (Converted from rows-only in round 6: the oracle states the
    # fixpoint, not the iteration.)
    oracle="""
        SELECT doc_id,
               CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT)
                   AS cluster
        FROM documents
    """,
    doc="Connected components over exact-dup (md5) pairs (label "
    "propagation to fixpoint, per-round localCheckpoint): each doc's "
    "cluster id = min doc_id reachable via dedup edges. The step "
    "every dedup pipeline needs after pair generation — pairs don't "
    "dedupe, clusters do (keep one per cluster). ≤ log2(longest "
    "chain) rounds; at 100 TB each round is one shuffle join (large-"
    "star/small-star would halve rounds, same primitive).",
)(dedup_clusters)


def _md5_long(col):
    """Portable 60-bit integer hash: md5 hex prefix → BIGINT.

    Identical in Spark (conv(substr(md5(x),1,15),16,10)) and DuckDB
    (CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)) — the repo's
    md5-grid convention (quality_linear_score precedent).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: Number of independent minhash functions exported per document.
MINHASH_K = 8

_MINHASH_MINS_SQL = ",\n               ".join(
    f"CAST(MIN(CAST(concat('0x', substr(md5(concat('{i}:', sh)), 1, 15))"
    f" AS BIGINT)) AS BIGINT) AS h{i}"
    for i in range(MINHASH_K)
)


#: Band layout for the PORTABLE (md5-grid) LSH used by
#: dedup_clusters_neardup: MINHASH_K=8 hashes → 4 bands × 2 rows;
#: a pair is a candidate iff some band matches entirely, and a
#: verified near-dup iff ≥ NEAR_MIN_MATCH of the 8 hashes agree
#: (estimated Jaccard ≥ 0.5).
NEAR_BANDS = 4
NEAR_MIN_MATCH = 4

_NEAR_BAND_PRED_SQL = " OR ".join(
    f"(a.h{2 * b} = b.h{2 * b} AND a.h{2 * b + 1} = b.h{2 * b + 1})"
    for b in range(NEAR_BANDS)
)
_NEAR_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(8)
)


@register(
    "dedup_clusters_neardup",
    # Round-6 conversion from rows-only: the near edges now come from
    # the PORTABLE md5-grid minhash (the text_minhash_export hash
    # family), so the edge set — and therefore the component
    # structure — is bit-identical in DuckDB, and the fixpoint is
    # stated as a recursive CTE (graph_bfs_hops precedent). The
    # oracle's banded candidate predicate replicates Spark's LSH
    # exactly: a qualifying pair missed by every band is (correctly)
    # absent in BOTH engines.
    oracle=f"""
        WITH RECURSIVE t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                        toks[i + 2]))
                        ELSE [array_to_string(toks, ' ')]
                   END AS shs
            FROM t
        ), shingle AS (
            SELECT DISTINCT doc_id, unnest(shs) AS sh FROM s
        ), sigs AS (
            SELECT doc_id,
                   {_MINHASH_MINS_SQL}
            FROM shingle GROUP BY doc_id
        ), near AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE ({_NEAR_BAND_PRED_SQL})
              AND ({_NEAR_MATCH_SQL}) >= {NEAR_MIN_MATCH}
        ), exact AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM (SELECT doc_id, md5(text) AS h FROM documents) a
            JOIN (SELECT doc_id, md5(text) AS h FROM documents) b
              ON a.h = b.h AND a.doc_id < b.doc_id
        ), edges AS (
            SELECT u, v FROM near UNION SELECT u, v FROM exact
            UNION SELECT v AS u, u AS v FROM near
            UNION SELECT v AS u, u AS v FROM exact
        ), cc(u, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, cc.lbl FROM cc JOIN edges e ON cc.u = e.u
        )
        SELECT u AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster
        FROM cc GROUP BY u
    """,
    doc="Connected components over the UNION of exact (md5) and "
    "near-dup (portable md5-grid MinHash-LSH, 4 bands × 2 rows, "
    "verified ≥ 4/8 matching hashes ⇒ est. Jaccard ≥ 0.5) edges — "
    "the cluster step a real dedup pipeline runs before "
    "keep-one-per-cluster: transitive near-duplicate chains collapse "
    "into one cluster even when the endpoints' similarity is below "
    "threshold. Same propagation machinery (checkpointed rounds) as "
    "dedup_clusters; the oracle states the fixpoint as a recursive "
    "CTE over the identical edge set (exact-hash-checkable since "
    "round 6 — the sketch is the portable grid, not xxhash).",
)
def dedup_clusters_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    docs = d.select("doc_id")
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    a, b = hashed.alias("a"), hashed.alias("b")
    exact = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    # Portable banded LSH over the md5-grid signatures: signature
    # stage materialized once (sketch ≪ input), candidates only
    # within (band, h_even, h_odd) buckets, then the ≥4/8 verify.
    sigs = materialize(md5_minhash_wide(d))
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(MINHASH_K)])
    bands = sigs.select(
        "doc_id",
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.col(f"h{2 * bi}").alias("x1"),
                        F.col(f"h{2 * bi + 1}").alias("x2"),
                    )
                    for bi in range(NEAR_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.x1", "bb.x2")
    ba, bb = bands.alias("a"), bands.alias("b")
    n_match = F.size(
        F.filter(
            F.zip_with(
                F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")
            ),
            lambda eq: eq == 1,
        )
    )
    near = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.x1") == F.col("b.x1"))
            & (F.col("a.x2") == F.col("b.x2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(n_match >= NEAR_MIN_MATCH)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    edges = exact.unionByName(near).distinct()
    return _propagate_clusters(docs, edges)


@register(
    "dedup_containment",
    # r12 oracle rewrite (same program as dedup_ngram_jaccard's):
    # the all-pairs join with per-pair list_intersect cost 234 s of
    # pure oracle wall at sf0.1. Grams are distinct per doc, so the
    # equi-join on g counts |A∩B| exactly and zero-overlap pairs
    # (absent from the join) cannot reach containment 0.9. NOTE: no
    # length filter here — containment has none (a 3-gram doc inside
    # a 300-gram doc qualifies). All outputs stay pure integers;
    # identical rows to the all-pairs statement.
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 1, 1) + 1),
                       i -> concat_ws(' ',
                            string_split_regex(lower(text), '\\s+')[i:i+1]))) AS gs
            FROM documents
        ), ex AS (
            SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
        ), shared AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.n AS na, b.n AS nb, COUNT(*) AS i
            FROM ex a JOIN ex b USING (g)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT a_id, b_id,
               CAST(i AS BIGINT) AS n_shared,
               CAST(least(na, nb) AS BIGINT) AS min_sz,
               CAST((i * 100) // least(na, nb) AS BIGINT) AS contain_pct
        FROM shared
        WHERE 10 * i >= 9 * least(na, nb)
    """,
    doc="EXACT n-gram containment pairs (|A∩B| / min(|A|,|B|) ≥ 0.9) "
    "— the asymmetric cousin of dedup_ngram_jaccard that catches "
    "QUOTE/SUBSET duplication: a short doc wholly embedded in a long "
    "one has high containment but low Jaccard, the case CCNet/Dolma "
    "handle separately from near-dup. Candidates via one-sided "
    "prefix filtering (Bayardo et al.'s containment variant): every "
    "doc PROBES with its |S| - ceil(0.9·|S|) + 1 globally-rarest "
    "grams, the index side holds ALL grams; if the smaller side's "
    "prefix misses B entirely then |S∩B| < 0.9·|S| (pigeonhole on "
    "the canonical rarity order), so every qualifying pair is "
    "caught when its smaller doc probes — equi-key join, never "
    "all-pairs, and frequent grams stay out of probe prefixes so "
    "bucket sizes remain df-bounded. Emitted columns are pure "
    "integers (count, min-size, floor percent) — no float hazard. "
    "The oracle is the brute-force all-pairs statement of the same "
    "predicate. CALIBRATION-ONLY at scale: past DEDUP_PAIR_DOCS_CAP "
    "document rows the key self-bounds to pairs whose pigeonhole-"
    "guaranteed (fewer-grams, tie->smaller-id) doc lands on the "
    "1-in-97 class — sliced pairs keep exact full-result values; "
    "full-fidelity below the cap.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = 0.9
    d = parallelize(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower("text"), r"\s+")
    n = F.size(words)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
        )
    )
    g = materialize(d.select("doc_id", grams.alias("gs")))
    toks = g.select("doc_id", F.explode("gs").alias("gram"))
    freq = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        toks.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "gram"))).alias(
                "by_rarity"
            )
        )
    )
    ng = F.size("by_rarity")
    prefix_len = ng - F.ceil(ng * F.lit(t)).cast("int") + 1
    probe = per_doc.select(
        F.col("doc_id").alias("p_id"),
        F.explode(
            F.transform(
                F.slice("by_rarity", 1, prefix_len), lambda s: s["gram"]
            )
        ).alias("gram"),
    )
    # CALIBRATION-ONLY self-bound (DEDUP_PAIR_DOCS_CAP): past the cap
    # only docs on the 1-in-97 class PROBE, and the output keeps only
    # pairs whose pigeonhole-guaranteed doc (fewer grams, tie ->
    # smaller id — the doc whose probe provably hits) is on that
    # class. Sliced pairs keep exact full-result values: the index
    # side (toks) and the verify arrays stay full. Full-fidelity at
    # every driver/test scale (≤ 5000 docs).
    slice_mod = probe_slice_mod(
        "dedup_containment", sf_dir, "documents",
        DEDUP_PAIR_DOCS_CAP, DEDUP_PAIR_PROBE_MOD,
    )
    if slice_mod is not None:
        probe = probe.filter(F.col("p_id") % slice_mod == 0)
    cand = (
        probe.join(toks.select(F.col("doc_id").alias("i_id"), "gram"), "gram")
        .filter(F.col("p_id") != F.col("i_id"))
        .select(
            F.least("p_id", "i_id").alias("a_id"),
            F.greatest("p_id", "i_id").alias("b_id"),
        )
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "a_id")
    )
    a = g.select(F.col("doc_id").alias("a_id"), F.col("gs").alias("gs_a"))
    b = g.select(F.col("doc_id").alias("b_id"), F.col("gs").alias("gs_b"))
    inter = F.size(F.array_intersect("gs_a", "gs_b"))
    min_sz = F.least(F.size("gs_a"), F.size("gs_b"))
    out = (
        cand.join(a, "a_id")
        .repartition(spark.sparkContext.defaultParallelism, "b_id")
        .join(b, "b_id")
    )
    if slice_mod is not None:
        # the guaranteed-probing doc: fewer grams, tie -> a_id (the
        # smaller id) — must land on the slice class. Matches the
        # DEDUP_CONTAINMENT_BOUNDED oracle CASE verbatim.
        guaranteed = (
            F.when(F.size("gs_a") < F.size("gs_b"), F.col("a_id"))
            .when(F.size("gs_b") < F.size("gs_a"), F.col("b_id"))
            .otherwise(F.col("a_id"))
        )
        out = out.filter(guaranteed % slice_mod == 0)
    return (
        out.select(
            "a_id",
            "b_id",
            inter.cast("long").alias("n_shared"),
            min_sz.cast("long").alias("min_sz"),
            F.expr(
                "CAST((size(array_intersect(gs_a, gs_b)) * 100) div "
                "least(size(gs_a), size(gs_b)) AS BIGINT)"
            ).alias("contain_pct"),
        )
        .filter(F.col("n_shared") * 10 >= F.col("min_sz") * 9)
    )


@register(
    "text_minhash_export",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                        toks[i + 2]))
                        ELSE [array_to_string(toks, ' ')]
                   END AS shs
            FROM t
        ), sh AS (
            SELECT DISTINCT doc_id, unnest(shs) AS sh FROM s
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               {_MINHASH_MINS_SQL}
        FROM sh GROUP BY doc_id
    """,
    doc=f"MinHash signature EXPORT: the {MINHASH_K}-function minhash "
    "of each document's distinct word 3-shingles, as exact integer "
    "columns — the artifact a cross-corpus dedup pipeline persists "
    "and joins on later (signatures computed once, banded many "
    "times). Hashes are the portable md5-hex-prefix 60-bit grid "
    "(bit-identical across engines) — the convention the runtime "
    "dedup_minhash key itself adopted in round 9, so the family is "
    "exact-hash-checked end to end: the driver pins signature "
    "values here AND the full pair set there. Plan: shingle explode + per-doc distinct + "
    "ONE two-phase agg computing all 8 mins (map-side combine; "
    f"state = {MINHASH_K} longs per doc, the CH "
    "minHash state). Docs under 3 tokens degrade to one "
    "whole-text shingle in both engines.",
)
def text_minhash_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    return md5_minhash_wide(d)


def md5_minhash_wide(d: DataFrame) -> DataFrame:
    """Per-doc portable minhash: (doc_id, n_shingles, h0..h{K-1}).

    The md5-grid signature shared by ``text_minhash_export`` (which
    exports it) and ``dedup_clusters_neardup`` (which bands it into
    LSH buckets) — bit-identical in Spark and DuckDB.
    """
    toks = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda x: x != ""
    )
    t = d.select("doc_id", toks.alias("toks"))
    shs = F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(1, size(toks) - 2),"
            " i -> concat(element_at(toks, i), ' ',"
            " element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
        ),
    ).otherwise(F.array(F.array_join("toks", " ")))
    sh = (
        t.select("doc_id", F.explode(shs.alias("shs")).alias("sh"))
        .distinct()
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_shingles")]
    for i in range(MINHASH_K):
        aggs.append(
            F.min(_md5_long(F.concat(F.lit(f"{i}:"), F.col("sh"))))
            .cast("long")
            .alias(f"h{i}")
        )
    return sh.groupBy("doc_id").agg(*aggs)


#: simhash width in bits.
SIMHASH_BITS = 16

_SIMHASH_BITSUMS_SQL = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN tf ELSE -tf END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_VALUE_SQL = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)


@register(
    "text_simhash_export",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents
        ), tf AS (
            SELECT doc_id, word, COUNT(*) AS tf
            FROM toks WHERE word <> '' GROUP BY doc_id, word
        ), hw AS (
            SELECT doc_id, tf,
                   CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT)
                       AS h
            FROM tf
        ), bits AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   {_SIMHASH_BITSUMS_SQL}
            FROM hw GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               CAST({_SIMHASH_VALUE_SQL} AS BIGINT) AS simhash
        FROM bits
    """,
    doc=f"SimHash signature EXPORT: the {SIMHASH_BITS}-bit "
    "tf-weighted simhash of each document's unigrams as an exact "
    "integer — the persisted fingerprint the pigeonhole-bucketed "
    "near-dup join (dedup_simhash, exact-hash-checked since r9) keys "
    "on. Same portable md5-grid hash as text_minhash_export, so "
    "the driver pins exact simhash VALUES here, completing the "
    "sketch family's exact evidence. Per-bit majority votes are "
    "integer tf sums (zero-sum ties deterministically vote 0); "
    "the whole signature is one (doc, word) tf agg + one per-doc "
    f"agg carrying {SIMHASH_BITS} integer columns — constant "
    "state per doc, two shuffles, no Python.",
)
def text_simhash_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    hw = tf.select("doc_id", "tf", _md5_long(F.col("word")).alias("h"))
    bit_aggs = [F.sum("tf").cast("long").alias("n_tokens")]
    for b in range(SIMHASH_BITS):
        vote = F.when(
            F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, F.col("tf")
        ).otherwise(-F.col("tf"))
        bit_aggs.append(F.sum(vote).alias(f"s{b}"))
    bits = hw.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select(
        "doc_id", "n_tokens", sim.cast("long").alias("simhash")
    )


@register(
    "dedup_incremental",
    oracle="""
        WITH h AS (
            SELECT doc_id, md5(text) AS h FROM documents
        ), old AS (
            SELECT h, CAST(MIN(doc_id) AS BIGINT) AS old_id
            FROM h WHERE doc_id % 2 = 0 GROUP BY h
        ), newd AS (
            SELECT doc_id, h FROM h WHERE doc_id % 2 = 1
        ), prev AS (
            SELECT a.doc_id, CAST(MIN(b.doc_id) AS BIGINT) AS prev_new
            FROM newd a JOIN newd b
              ON a.h = b.h AND b.doc_id < a.doc_id
            GROUP BY a.doc_id
        )
        SELECT n.doc_id,
               CASE WHEN o.old_id IS NOT NULL THEN 'dup_old'
                    WHEN p.prev_new IS NOT NULL THEN 'dup_new'
                    ELSE 'fresh' END AS status,
               CAST(COALESCE(o.old_id, p.prev_new, n.doc_id) AS BIGINT)
                   AS canonical_id
        FROM newd n
        LEFT JOIN old o ON n.h = o.h
        LEFT JOIN prev p ON n.doc_id = p.doc_id
    """,
    doc="Incremental (new-vs-old snapshot) dedup classification — "
    "the shape every recurring-crawl pipeline runs: only the NEW "
    "slice is checked, first against the accumulated OLD corpus "
    "(md5 identity → 'dup_old', canonical = oldest holder), then "
    "within itself ('dup_new', canonical = smallest new id — the "
    "min-id-wins total order), else 'fresh'. The old/new split here "
    "is doc_id parity (deterministic fixture halves); in production "
    "the old side is the persisted hash index, so the cost per "
    "increment is |new| + two equi-joins against a bucketed index, "
    "never a recheck of the full corpus — THE reason incremental "
    "beats full re-dedup at 100 TB. canonical_id is COALESCE'd "
    "(never a nullable int — pandas would float64 the column and "
    "break the driver hash).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    h = d.select("doc_id", F.md5("text").alias("h"))
    old = (
        h.filter(F.col("doc_id") % 2 == 0)
        .groupBy("h")
        .agg(F.min("doc_id").cast("long").alias("old_id"))
    )
    new = h.filter(F.col("doc_id") % 2 == 1)
    a, b = new.alias("a"), new.alias("b")
    prev = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("b.doc_id") < F.col("a.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.col("b.doc_id")).cast("long").alias("prev_new"))
    )
    return (
        new.join(old, "h", "left")
        .join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("old_id").isNotNull(), "dup_old")
            .when(F.col("prev_new").isNotNull(), "dup_new")
            .otherwise("fresh")
            .alias("status"),
            F.coalesce("old_id", "prev_new", "doc_id")
            .cast("long")
            .alias("canonical_id"),
        )
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
        WITH normed AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm
            FROM embeddings
        ), pairs AS (
            SELECT a.label,
                   list_reduce(list_transform(list_zip(a.v, b.v),
                        p -> p[1] * p[2]), (x, y) -> x + y)
                   / (a.nrm * b.nrm) AS cosine
            FROM normed a JOIN normed b
              ON a.label = b.label AND a.vec_id < b.vec_id
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(CASE WHEN cosine >= 0.2 THEN 1 END) AS BIGINT)
                   AS n_ge_20,
               CAST(COUNT(CASE WHEN cosine >= 0.3 THEN 1 END) AS BIGINT)
                   AS n_ge_30,
               CAST(COUNT(CASE WHEN cosine >= 0.4 THEN 1 END) AS BIGINT)
                   AS n_ge_40,
               CAST(COUNT(CASE WHEN cosine >= 0.5 THEN 1 END) AS BIGINT)
                   AS n_ge_50
        FROM pairs GROUP BY label
    """,
    doc="Near-dup threshold sweep: within-label pair counts at cosine "
    "thresholds 0.2/0.3/0.4/0.5 in ONE pass — the tuning curve every "
    "dedup deployment plots before committing to a τ (too low eats "
    "real data, too high leaves duplicates; SemDeDup §4 tunes "
    "exactly this). Pairs are label-blocked (the SemDeDup "
    "within-cluster scope — dedup_semantic's join shape), the "
    "cosine is one identical left-to-right IEEE fold per pair, and "
    "the four thresholds are CONDITIONAL COUNTS in the same "
    "aggregate — no re-scan per τ. Never checked doubles: outputs "
    "are pair counts. At 100 TB: cluster-id blocking bounds the "
    "quadratic verify exactly as the dedup pipeline itself does.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    normed = materialize(
        e.select("vec_id", "label", v.alias("v"), nrm.alias("nrm"))
    )
    a, b = normed.alias("a"), normed.alias("b")
    cos = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, p: acc + p,
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.label").alias("label"), cos.alias("cosine"))
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count(F.when(F.col("cosine") >= 0.2, 1)).cast("long").alias("n_ge_20"),
        F.count(F.when(F.col("cosine") >= 0.3, 1)).cast("long").alias("n_ge_30"),
        F.count(F.when(F.col("cosine") >= 0.4, 1)).cast("long").alias("n_ge_40"),
        F.count(F.when(F.col("cosine") >= 0.5, 1)).cast("long").alias("n_ge_50"),
    )


@register(
    "dedup_keep_best",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   CAST(MIN(doc_id) OVER (PARTITION BY md5(text))
                       AS BIGINT) AS cluster,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                       ORDER BY n_chars DESC, doc_id) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY md5(text))
                       AS BIGINT) AS n_members
            FROM documents
        )
        SELECT cluster,
               CAST(doc_id AS BIGINT) AS kept_doc_id,
               CAST(n_chars AS BIGINT) AS kept_n_chars,
               n_members
        FROM ranked WHERE rn = 1
    """,
    doc="Keep-BEST-of-cluster canonical selection: within each exact-"
    "dup cluster, survive the member with the highest quality score "
    "(n_chars as the proxy; production swaps in quality_linear_score "
    "— identical plan) under the (score DESC, doc_id) total order — "
    "the canonicalization policy real pipelines use instead of "
    "min-id-wins (dedup_exact): when near-identical pages differ in "
    "truncation or boilerplate, you keep the richest copy, not the "
    "lowest id. One window pass over the md5 partitioning computing "
    "cluster id, rank, and cluster size together (one shuffle). "
    "Returns one row per cluster: canonical doc, its score, member "
    "count.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    wp = Window.partitionBy(h)
    wr = Window.partitionBy(h).orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.min("doc_id").over(wp).cast("long").alias("cluster"),
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wp).cast("long").alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").cast("long").alias("kept_doc_id"),
            F.col("n_chars").cast("long").alias("kept_n_chars"),
            "n_members",
        )
    )


@register(
    "dedup_source_matrix",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                        toks[i + 2]))
                        ELSE [array_to_string(toks, ' ')]
                   END AS shs
            FROM t
        ), shingle AS (
            SELECT DISTINCT doc_id, unnest(shs) AS sh FROM s
        ), sigs AS (
            SELECT doc_id, {mins}
            FROM shingle GROUP BY doc_id
        ), src AS (
            SELECT doc_id, source FROM documents
        ), pairs AS (
            SELECT sa.source AS source_a, sb.source AS source_b,
                   a.doc_id AS a_id
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            JOIN src sa ON a.doc_id = sa.doc_id
            JOIN src sb ON b.doc_id = sb.doc_id
            WHERE ({band})
              AND ({match}) >= {minmatch}
        )
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
               CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_dup_docs
        FROM pairs GROUP BY source_a, source_b
    """.format(
        mins=_MINHASH_MINS_SQL,
        band=_NEAR_BAND_PRED_SQL,
        match=_NEAR_MATCH_SQL,
        minmatch=NEAR_MIN_MATCH,
    ),
    doc="Cross-source duplication provenance matrix: NEAR-dup pairs "
    "(the portable md5-grid MinHash-LSH of dedup_clusters_neardup — "
    "banded candidates, verified ≥4/8 matching hashes) grouped by "
    "the (source_a, source_b) pair — which feeds copy from which, "
    "the overlap census every multi-crawl corpus study runs "
    "(C4-vs-CommonCrawl-vs-Wiki overlap tables) before deciding "
    "source priorities and dedup ORDER (dedup_keep_best's policy "
    "input: survive the canonical source). Near-dup (not exact md5) "
    "identity, because real cross-source copies mutate in transit "
    "(and the fixture has ~zero byte-exact dups below sf0.1 — an "
    "exact matrix would be vacuous 0-row evidence). LSH-bucketed "
    "candidates only, never all-pairs; source vocabulary bounds the "
    "output. One banded self-join + one two-phase agg.",
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    src = d.select("doc_id", "source")
    sigs = materialize(md5_minhash_wide(d))
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(MINHASH_K)])
    bands = sigs.select(
        "doc_id",
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.col(f"h{2 * bi}").alias("x1"),
                        F.col(f"h{2 * bi + 1}").alias("x2"),
                    )
                    for bi in range(NEAR_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.x1", "bb.x2")
    ba, bb = bands.alias("a"), bands.alias("b")
    n_match = F.size(
        F.filter(
            F.zip_with(
                F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")
            ),
            lambda eq: eq == 1,
        )
    )
    near = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.x1") == F.col("b.x1"))
            & (F.col("a.x2") == F.col("b.x2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(n_match >= NEAR_MIN_MATCH)
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("source_b"))
    return (
        near.join(sa, "a_id")
        .join(sb, "b_id")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
            F.countDistinct("a_id").cast("long").alias("n_dup_docs"),
        )
    )


@register(
    "dedup_minhash_estimate_vs_truth",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                            i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                        toks[i + 2]))
                        ELSE [array_to_string(toks, ' ')]
                   END AS shs
            FROM t
        ), shingle AS (
            SELECT DISTINCT doc_id, unnest(shs) AS sh FROM s
        ), sigs AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   {mins}
            FROM shingle GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   ({match}) AS n_match,
                   a.n_shingles AS na, b.n_shingles AS nb
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            WHERE ({band})
        ), inter AS (
            SELECT p.a_id, p.b_id, CAST(COUNT(*) AS BIGINT) AS inter
            FROM pairs p
            JOIN shingle sa ON sa.doc_id = p.a_id
            JOIN shingle sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
            GROUP BY p.a_id, p.b_id
        )
        SELECT p.a_id, p.b_id,
               CAST(p.n_match AS BIGINT) AS est_matches,
               CAST(p.n_match * 1000 // 8 AS BIGINT) AS est_permille,
               CAST(COALESCE(i.inter, 0) AS BIGINT)
                   AS n_common_shingles,
               CAST(COALESCE(i.inter, 0) * 1000
                    // (p.na + p.nb - COALESCE(i.inter, 0)) AS BIGINT)
                   AS jac_permille,
               CAST(p.n_match * 1000 // 8
                    - COALESCE(i.inter, 0) * 1000
                      // (p.na + p.nb - COALESCE(i.inter, 0))
                   AS BIGINT) AS err_permille
        FROM pairs p LEFT JOIN inter i
            ON p.a_id = i.a_id AND p.b_id = i.b_id
    """.format(
        mins=_MINHASH_MINS_SQL,
        band=_NEAR_BAND_PRED_SQL,
        match=_NEAR_MATCH_SQL,
    ),
    doc="MinHash estimator CALIBRATION against ground truth — for "
    "every LSH-banded candidate pair, the sketch-estimated Jaccard "
    "(matching minhash positions / 8, integer permille) next to the "
    "EXACT shingle-set Jaccard (true intersection over union, "
    "computed only for the bucket-bounded candidates — never "
    "all-pairs) and the signed estimation error. This is the "
    "operator that justifies every τ threshold the dedup family "
    "uses (dedup_threshold_sweep picks τ on estimates; this key "
    "pins what those estimates MEAN), the per-pair sibling of the "
    "corpus-level recall floors in sketch_recall_probe. All "
    "integers on the portable md5 grid — the driver hash-checks "
    "actual estimator errors. Plan: signatures = one shingle "
    "distinct + one 8-min agg; candidates via the 4-band LSH "
    "self-join (bucket-equi keys, doc_id< dedup); truth = two "
    "md5-shingle joins RESTRICTED to candidate docs (broadcast of "
    "the candidate list prunes the shingle table before the "
    "intersection shuffle). At 100 TB truth-verification cost "
    "scales with candidate count — the LSH recall/cost dial — not "
    "with corpus size.",
)
def dedup_minhash_estimate_vs_truth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    sigs = materialize(md5_minhash_wide(d))
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(MINHASH_K)])
    bands = sigs.select(
        "doc_id",
        F.col("n_shingles"),
        sig_arr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.col(f"h{2 * bi}").alias("x1"),
                        F.col(f"h{2 * bi + 1}").alias("x2"),
                    )
                    for bi in range(NEAR_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "n_shingles", "sig", "bb.band", "bb.x1", "bb.x2")
    ba, bb = bands.alias("a"), bands.alias("b")
    n_match = F.size(
        F.filter(
            F.zip_with(
                F.col("a.sig"),
                F.col("b.sig"),
                lambda x, y: (x == y).cast("int"),
            ),
            lambda eq: eq == 1,
        )
    )
    pairs = materialize(
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.x1") == F.col("b.x1"))
            & (F.col("a.x2") == F.col("b.x2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            n_match.alias("n_match"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .distinct()
    )
    # exact truth, candidates only: md5-keyed shingle intersection
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    shs = F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(1, size(toks) - 2),"
            " i -> concat(element_at(toks, i), ' ',"
            " element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
        ),
    ).otherwise(F.array(F.array_join("toks", " ")))
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(shs).alias("sh"))
        .select("doc_id", F.md5("sh").alias("shm"))
        .distinct()
    )
    cand_docs = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .union(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(cand_docs, "doc_id", "semi")
    inter = (
        pairs.select("a_id", "b_id")
        .join(sh.alias("sa"), F.col("a_id") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("b_id") == F.col("sb.doc_id"))
            & (F.col("sa.shm") == F.col("sb.shm")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    j = pairs.join(inter, ["a_id", "b_id"], "left")
    i0 = F.coalesce(F.col("inter"), F.lit(0))
    union = F.col("na") + F.col("nb") - i0
    est = (F.col("n_match") * 1000).cast("long")
    return j.select(
        "a_id",
        "b_id",
        F.col("n_match").cast("long").alias("est_matches"),
        F.expr("CAST(n_match * 1000 div 8 AS LONG)").alias(
            "est_permille"
        ),
        i0.cast("long").alias("n_common_shingles"),
        F.expr(
            "CAST(coalesce(inter, 0) * 1000"
            " div (na + nb - coalesce(inter, 0)) AS LONG)"
        ).alias("jac_permille"),
        F.expr(
            "CAST(n_match * 1000 div 8 - coalesce(inter, 0) * 1000"
            " div (na + nb - coalesce(inter, 0)) AS LONG)"
        ).alias("err_permille"),
    )


@register(
    "text_dedup_span_removal",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x <> '') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, i,
                   md5(array_to_string(toks[i:i+7], ' ')) AS gm
            FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) u(i)
            WHERE len(toks) >= 8
        ), d AS (
            SELECT gm FROM g GROUP BY gm
            HAVING COUNT(DISTINCT doc_id) >= 2
        ), cov AS (
            SELECT DISTINCT g.doc_id, g.i + o.off AS p
            FROM g JOIN d USING (gm), unnest(range(0, 8)) o(off)
        ), n AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
            FROM t WHERE len(toks) >= 8
        ), c AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
            FROM cov GROUP BY doc_id
        )
        SELECT n.doc_id, n.n_tokens,
               CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
               CAST(COALESCE(c.n_covered, 0) * 1000 // n.n_tokens
                   AS BIGINT) AS removed_permille
        FROM n LEFT JOIN c ON n.doc_id = c.doc_id
    """,
    doc="Duplicated-span REMOVAL accounting — the apply step of "
    "'Deduplicating Training Data Makes Language Models Better' "
    "(Lee et al. 2022) downstream of corpus_dup_ngrams (which only "
    "MINES the spans): a token position is removed iff some "
    "cross-document-duplicated 8-gram covers it; per doc the key "
    "emits token count, covered-token count, and the exact permille "
    "of text that span-dedup would cut — the corpus-shrinkage "
    "number that decides whether span removal is worth running. "
    "Grams are md5-keyed; coverage = dup-gram occurrences exploded "
    "to their 8 positions and de-duplicated per (doc, position) — "
    "overlapping dup spans never double-count. Plan: gram build is "
    "map-side; the dup-gram set is one two-phase distinct-doc agg "
    "(partials absorb within-doc repetition); the coverage join is "
    "gram-keyed equi (never all-pairs); position dedup and the doc "
    "rollup ride narrow int keys. At 100 TB every exchange is "
    "bounded by gram/doc cardinality, and the dup-gram table is "
    "the SAME artifact the mining pass already materializes.",
)
def text_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallelize(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    t = materialize(
        d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 8)
    )
    g = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(toks) - 7),"
                " i -> md5(array_join(slice(toks, i, 8), ' ')))"
            )
        ).alias("i0", "gm"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "gm")
    dup = (
        g.groupBy("gm")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gm")
    )
    cov = (
        g.join(dup, "gm")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + 7)
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_covered"))
    )
    n = t.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    j = n.join(cov, "doc_id", "left")
    c0 = F.coalesce(F.col("n_covered"), F.lit(0).cast("long"))
    return j.select(
        "doc_id",
        "n_tokens",
        c0.alias("n_covered"),
        F.expr(
            "CAST(coalesce(n_covered, 0) * 1000 div n_tokens AS LONG)"
        ).alias("removed_permille"),
    )


@register(
    "dedup_hierarchical_two_level",
    oracle="""
        SELECT doc_id, content_md5, n_copies FROM (
            SELECT doc_id, md5(text) AS content_md5,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                       AS n_copies
            FROM documents
        ) WHERE rn = 1
    """,
    doc="Two-level hierarchical exact dedup — the 100 TB dedup "
    "TOPOLOGY made explicit: level 1 dedups WITHIN each ingest shard "
    "(pmod(doc_id, 8) stands in for the per-day/per-source shard "
    "boundary) and MATERIALIZES the per-shard survivor manifests "
    "(shard-partitioned parquet through the shared scratch — in "
    "production each shard writes its manifest the day it is "
    "ingested); level 2 merges only the manifests, exchanging "
    "~|unique| rows instead of the corpus. Keep-lowest-doc_id and "
    "copy counts are associative (min of per-shard mins, sum of "
    "per-shard counts), so the hierarchy is LOSSLESS — the oracle is "
    "the FLAT single-pass dedup, and the driver hash proves "
    "hierarchical == flat, the property that lets a real pipeline "
    "dedup incrementally per shard and merge later "
    "(dedup_incremental's batch sibling). Plan: one (shard, md5) "
    "agg, one manifest write+read, one md5 agg — no row-scaled "
    "window, no global shuffle of the corpus.",
)
def dedup_hierarchical_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from clickhousebackup_spark.scratch import input_fingerprint, scratch_path

    d = load_table(spark, sf_dir, "documents")
    s1 = (
        d.select(
            F.pmod("doc_id", F.lit(8)).alias("shard"),
            "doc_id",
            F.md5("text").alias("content_md5"),
        )
        .groupBy("shard", "content_md5")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    # fingerprint-keyed: regenerating documents.parquet in place
    # invalidates the cached manifests instead of silently serving
    # level-1 results for the old bytes
    fp = input_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    path = scratch_path(spark, f"dedup_shard_manifests_{fp}", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        s1.write.mode("overwrite").partitionBy("shard").parquet(path)
    manifests = spark.read.parquet(path)
    return manifests.groupBy("content_md5").agg(
        F.min("doc_id").alias("doc_id"),
        F.sum("c").cast("long").alias("n_copies"),
    ).select("doc_id", "content_md5", "n_copies")
