"""Similarity search over embeddings (north-star extension).

Two tiers, per SURVEY.md §4.3:

- ``sim_topk_cosine``: brute-force cosine top-k against a query vector
  — a *linear* scan (the query vector rides along as a 1-row broadcast,
  never collect()ed), finishing with TakeOrderedAndProject. This is
  the exact baseline and is already the right plan for one-off queries
  at any scale: it reads each vector once.
- ``sim_topk_lsh``: the sublinear path — random-hyperplane (sign) LSH
  buckets; the query probes only its own bucket. Recall is
  probabilistic; since round 9 its md5-grid buckets are portable and
  the whole candidate walk is exact-hash-checked; determinism comes
  from fixed literal hyperplane seeds via xxhash64.

Dot products fold left-to-right in both engines → bit-identical
doubles (see functions/arrays.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table, parallelize, probe_slice_mod

QUERY_VEC_ID = 0  # deterministic query: the embedding of vec_id 0
TOP_K = 10
# 4 hyperplanes → 16 buckets: at fixture dimensionality/correlation the
# recall of 8 planes with Hamming-1 probing collapses (weakly-correlated
# neighbors disagree on ≥2 signs); 16 buckets still prunes ~94% of
# candidates. At 100 TB you'd raise planes AND probe breadth together
# (multi-probe LSH), or switch to IVF centroids.
N_PLANES = 4


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


@register(
    "sim_topk_cosine",
    oracle=f"""
        WITH q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS qn
            FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT vec_id, label, cosine FROM (
            SELECT e.vec_id, e.label,
                   list_reduce(list_transform(
                        list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv),
                        p -> p[1] * p[2]), (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, b) -> a + b)) * q.qn) AS cosine,
                   ROW_NUMBER() OVER (ORDER BY
                       list_reduce(list_transform(
                            list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv),
                            p -> p[1] * p[2]), (x, y) -> x + y)
                       / (sqrt(list_reduce(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                              (a, b) -> a + b)) * q.qn) DESC,
                       e.vec_id) AS rn
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {QUERY_VEC_ID}
        ) WHERE rn <= {TOP_K}
    """,
    doc=f"Brute-force cosine top-{TOP_K} neighbors of vec {QUERY_VEC_ID}: "
    "broadcast 1-row query vector, linear scan, TakeOrderedAndProject.",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One parsed spark.sql statement (round-17 construction lever):
    # construct wall 163 → 65 ms; optimized plan equal to the former
    # Column build modulo expression ids and lambda-variable NAMES
    # (naming only — pinned in tests/test_optimizations_r17.py),
    # values verified identical. Same shape as before: broadcast
    # 1-row query vector, linear scan, TakeOrderedAndProject.
    norm = (
        "sqrt(aggregate({col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    dot = (
        "aggregate(zip_with(embedding, qv, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), "
        "(acc, p) -> acc + p)"
    )
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    q = e.where(f"vec_id = {QUERY_VEC_ID}").selectExpr(
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS qv",
        norm.format(col="embedding") + " AS qn",
    )
    return spark.sql(
        f"""
        SELECT vec_id, label,
               {dot} / ({norm.format(col="embedding")} * qn) AS cosine
        FROM {{e}} JOIN {{q}}
        WHERE vec_id != {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id
        LIMIT {TOP_K}
        """,
        e=e,
        q=F.broadcast(q),
    )


def lsh_bucket_expr(vec_col: str, n_planes: int = N_PLANES):
    """Sign-LSH bucket id: bit i = sign of <v, h_i> where hyperplane
    h_i's components are deterministic pseudo-uniforms in [-1, 1)
    from the portable 32-bit md5 grid of (plane, dim) — fixed
    literal salts, no RNG state, bit-identical in DuckDB (r9
    conversion from xxhash64, making the bucketing — and therefore
    sim_topk_lsh's whole candidate set — oracle-checkable)."""
    dim_idx = F.sequence(F.lit(1), F.size(vec_col))

    def plane_component(i: int):
        # closure factory — keeps the zip_with lambda exactly 2-ary
        def comp(x, d):
            m = (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), d.cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 1000
            )
            return x.cast("double") * (m.cast("double") / 500.0 - 1.0)

        return comp

    bucket = None
    for i in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec_col, dim_idx, plane_component(i)),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        term = F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("long")


def _sql_dot(vec: str) -> str:
    """DuckDB dot(vec, q.qv) with the proven left-to-right reduce."""
    return (
        f"list_reduce(list_transform(list_zip(list_transform({vec},"
        " x -> CAST(x AS DOUBLE)), q.qv), p -> p[1] * p[2]),"
        " (x, y) -> x + y)"
    )


def _sql_norm(vec: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({vec},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"
    )


def _sql_cos(vec: str) -> str:
    return f"{_sql_dot(vec)} / ({_sql_norm(vec)} * q.qn)"


def _sql_lsh_proj(i: int) -> str:
    """DuckDB rendering of plane i's projection — same md5-grid
    weights, same sequential double sum as lsh_bucket_expr."""
    return (
        "list_reduce(list_transform(list_zip(list_transform(embedding,"
        " x -> CAST(x AS DOUBLE)), generate_series(1, len(embedding))),"
        f" p -> p[1] * (CAST(CAST(concat('0x', substr(md5(concat('{i}:',"
        " CAST(p[2] AS VARCHAR))), 1, 8)) AS BIGINT) % 1000 AS DOUBLE)"
        " / 500.0 - 1.0)), (a, b) -> a + b)"
    )


_LSH_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {_sql_lsh_proj(i)} >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(N_PLANES)
)


@register(
    "sim_topk_lsh",
    # Round-9 conversion from rows-only: hyperplanes moved to the
    # portable md5 grid, so buckets, the Hamming-1 probe set, and
    # the re-ranked top-k are bit-identical in DuckDB.
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, embedding,
                   CAST({_LSH_BUCKET_SQL} AS BIGINT) AS bucket
            FROM embeddings
        ), q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   {_sql_norm('embedding')} AS qn,
                   bucket AS qbucket
            FROM b WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT vec_id, label, cosine FROM (
            SELECT e.vec_id, e.label,
                   {_sql_cos('e.embedding')} AS cosine,
                   ROW_NUMBER() OVER (ORDER BY
                       {_sql_cos('e.embedding')} DESC, e.vec_id) AS rn
            FROM b e CROSS JOIN q
            WHERE e.vec_id <> {QUERY_VEC_ID}
              AND (e.bucket = q.qbucket
                   OR bit_count(xor(e.bucket, q.qbucket)) = 1)
        ) WHERE rn <= {TOP_K}
    """,
    doc="Sign-LSH bucketed ANN: candidates share the query's bucket "
    "(probe widened by also matching Hamming-1 buckets), then exact "
    "cosine re-rank. The sublinear 100 TB path for repeated "
    "queries. Exact-hash-checkable since r9: hyperplane components "
    "are md5-grid pseudo-uniforms (not xxhash), so the oracle "
    "reproduces bucketing, probing, and re-rank exactly.",
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    bucketed = e.withColumn("bucket", lsh_bucket_expr("embedding"))
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        _norm("embedding").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    cand = bucketed.filter(F.col("vec_id") != QUERY_VEC_ID).join(F.broadcast(q))
    # probe query bucket ∪ Hamming-1 neighbors (xor is a power of two)
    xor = F.col("bucket").bitwiseXOR(F.col("qbucket"))
    probe = (xor == 0) | (F.bit_count(xor) == 1)
    cos = (_dot(F.col("embedding"), F.col("qv")) / (_norm("embedding") * F.col("qn")))
    return (
        cand.filter(probe)
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


N_CENTROIDS = 8
N_PROBE = 2


def ivf_assignments(e: DataFrame) -> DataFrame:
    """IVF coarse quantization with deterministic centroids.

    Production IVF runs k-means; for reproducibility (and because the
    driver re-runs this at different scale factors) the centroids are
    the first N_CENTROIDS vectors by vec_id — fixed, data-derived, no
    RNG. Assignment = argmax cosine against the broadcast centroid set;
    at 100 TB this is the standard two-level layout: a kB-sized
    centroid table broadcast to every executor, one linear pass to
    bucket, then queries probe N_PROBE inverted lists instead of the
    whole collection.
    """
    cents = (
        e.orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
            _norm("embedding").alias("cn"),
        )
    )
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "embedding",
        "cent_id",
        (_dot(F.col("embedding"), F.col("cv")) / (_norm("embedding") * F.col("cn"))).alias(
            "cent_cos"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cent_cos").desc(), F.col("cent_id")
    )
    return scored.withColumn("cent_rank", F.row_number().over(w))


_IVF_CENT_COS = f"{_sql_dot('e.embedding')} / ({_sql_norm('e.embedding')} * q.cn)"


@register(
    "sim_topk_ivf",
    # Round-9 conversion from rows-only: the whole pipeline is
    # deterministic float/integer arithmetic (no engine-specific
    # hash), so the oracle simply restates it in SQL — centroid
    # argmax and the final ranking are selection-only doubles over
    # identical expression trees (the sim_topk_cosine-proven safe
    # pattern). Also fixes a pre-r9 quirk: probe lists were derived
    # by re-running assignment on the query-ONLY frame, which
    # degenerates the centroid set to the query vector itself and
    # probed 1 list instead of the documented N_PROBE nearest.
    oracle=f"""
        WITH c AS (
            SELECT vec_id AS cent_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   {_sql_norm('embedding')} AS cn
            FROM embeddings ORDER BY vec_id LIMIT {N_CENTROIDS}
        ), scored AS (
            SELECT e.vec_id, e.label, e.embedding, q.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {_IVF_CENT_COS} DESC, q.cent_id) AS cent_rank
            FROM embeddings e CROSS JOIN c q
        ), probes AS (
            SELECT cent_id AS probe_cent FROM scored
            WHERE vec_id = {QUERY_VEC_ID} AND cent_rank <= {N_PROBE}
        ), q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   {_sql_norm('embedding')} AS qn
            FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT vec_id, label, cosine FROM (
            SELECT e.vec_id, e.label,
                   {_sql_cos('e.embedding')} AS cosine,
                   ROW_NUMBER() OVER (ORDER BY
                       {_sql_cos('e.embedding')} DESC, e.vec_id) AS rn
            FROM scored e
            JOIN probes p ON e.cent_id = p.probe_cent
            CROSS JOIN q
            WHERE e.cent_rank = 1 AND e.vec_id <> {QUERY_VEC_ID}
        ) WHERE rn <= {TOP_K}
    """,
    doc=f"IVF-bucketed ANN: vectors assigned to {N_CENTROIDS} "
    "deterministic centroids (argmax cosine, tie on cent_id); the "
    f"query probes its {N_PROBE} nearest lists then re-ranks with "
    "exact cosine. The two-level inverted-file layout that makes "
    "repeated similarity queries sublinear at 100 TB. "
    "Exact-hash-checkable since r9 (no engine-specific hash "
    "anywhere — the oracle restates the identical arithmetic).",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    assigned_all = ivf_assignments(e)
    assigned = assigned_all.filter(F.col("cent_rank") == 1).select(
        "vec_id", "label", "embedding", "cent_id"
    )
    q_lists = (
        assigned_all.filter(F.col("vec_id") == QUERY_VEC_ID)
        .filter(F.col("cent_rank") <= N_PROBE)
        .select(F.col("cent_id").alias("probe_cent"))
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        _norm("embedding").alias("qn"),
    )
    cand = (
        assigned.join(F.broadcast(q_lists), F.col("cent_id") == F.col("probe_cent"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
    )
    cos = _dot(F.col("embedding"), F.col("qv")) / (_norm("embedding") * F.col("qn"))
    return (
        cand.select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


KNN_K = 3


def _knn_oracle(pair_where: str = "") -> str:
    """The brute-force kNN truth, optionally restricted to a query
    slice BEFORE the ranking window (restricting queries ``a`` keeps
    every candidate ``b``, so the sliced rows are exactly the full
    result's rows for those queries)."""
    return f"""
        WITH normed AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm
            FROM embeddings
        )
        SELECT vec_id, nbr_id, cosine, rank_nbr FROM (
            SELECT a.vec_id, b.vec_id AS nbr_id,
                   list_reduce(list_transform(list_zip(a.v, b.v),
                        p -> p[1] * p[2]), (x, y) -> x + y)
                       / (a.nrm * b.nrm) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_reduce(list_transform(list_zip(a.v, b.v),
                                    p -> p[1] * p[2]), (x, y) -> x + y)
                                / (a.nrm * b.nrm) DESC,
                                b.vec_id) AS rank_nbr
            FROM normed a JOIN normed b ON a.vec_id <> b.vec_id
            {pair_where}
        ) WHERE rank_nbr <= {KNN_K}
    """


#: Bounded-slice compare spec for the sf1 clone arms (driver_sim
#: BOUNDED_SLICE): the SAME brute-force truth restricted to the
#: deterministic 1-in-97 query slice BEFORE the ranking window, so
#: DuckDB's pair count drops from N^2 (temp-spill IOException at the
#: 10x arm — the round-13 exclusion) to N^2/97 while every compared
#: row is still exact. The engine side is filtered to the same
#: queries AFTER its full computation — the slice bounds the COMPARE,
#: never the engine plan.
SIM_KNN_JOIN_BOUNDED = {
    "engine_filter": "vec_id % 97 = 0",
    "oracle_sql": _knn_oracle("WHERE a.vec_id % 97 = 0"),
    "why": "DuckDB O(N^2) kNN truth temp-spills past free disk at "
           "the 10x arm; 1-in-97 query slice, every candidate kept. "
           "Past EXACT_KNN_ROWS_CAP the engine self-bounds to the "
           "same slice, so the sweep's compute (not just its "
           "compare) is bounded at arm scale",
}

#: Exact-baseline scale cap: above this many embedding rows (footer
#: metadata count, no Spark job) sim_knn_join computes the
#: deterministic 1-in-KNN_PROBE_MOD probe slice instead of all
#: queries. Every driver/test scale (sf0.001-0.1 = 500-2000 vectors)
#: sits far below the cap, so registered-oracle parity is untouched;
#: the sf1+ clone arms (20k+ vectors, O(N^2/blocks) pairs) compute
#: exactly the rows SIM_KNN_JOIN_BOUNDED compares. The slice filters
#: the PROBE side before the block join — every candidate for a
#: sliced query is still examined, so sliced rows == the full
#: result's rows for those queries.
EXACT_KNN_ROWS_CAP = 10_000
KNN_PROBE_MOD = 97


@register(
    "sim_knn_join",
    oracle=_knn_oracle(),
    doc=f"Batch k-NN self-join: the top-{KNN_K} cosine neighbors of "
    "EVERY vector (the all-vectors shape behind near-dup clustering "
    "and retrieval eval, vs sim_topk_*'s single query). Exact "
    "baseline: candidate pairs stream through the 16-bucket blocked "
    "equi-key join (all pairs verified once, never a nested-loop "
    "cartesian), then one per-vector row_number keeps k. "
    "CALIBRATION-ONLY at scale — O(N^2/blocks) pair cost is inherent "
    "to being ground truth: past EXACT_KNN_ROWS_CAP embedding rows "
    "the key self-bounds to the deterministic 1-in-97 probe slice "
    "(the bounded-slice compare's slice; full-fidelity below the "
    "cap). At 100 TB the PRODUCTION form of this query is "
    "sim_topk_ivf's inverted lists — candidate generation changes, "
    "the rank-and-keep stays. Left-fold dot products → bit-exact "
    "doubles.",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    normed = materialize(
        e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            _norm("embedding").alias("nrm"),
            lsh_bucket_expr("embedding").alias("bucket"),
        )
    )
    probes = F.array(*[F.lit(x).cast("long") for x in range(1 << N_PLANES)])
    queries = normed
    mod = probe_slice_mod(
        "sim_knn_join", sf_dir, "embeddings", EXACT_KNN_ROWS_CAP, KNN_PROBE_MOD
    )
    if mod is not None:
        # calibration-only probe slice past the cap: ONLY the query
        # side shrinks — the candidate side stays full, so every kept
        # query's neighbors are byte-identical to the full result's.
        queries = normed.filter(F.col("vec_id") % mod == 0)
    a = queries.select(
        "vec_id", "v", "nrm", F.explode(probes).alias("probe")
    ).alias("a")
    b = normed.alias("b")
    cos = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, p: acc + p,
    ) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = (
        a.join(b, F.col("a.probe") == F.col("b.bucket"))
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id"))
    return (
        pairs.withColumn("rank_nbr", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_nbr") <= KNN_K)
        .select("vec_id", "nbr_id", "cosine", "rank_nbr")
    )


@register(
    "emb_label_centroids",
    oracle="""
        WITH dims AS (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS dim,
                   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
            FROM embeddings
        )
        SELECT label, CAST(dim AS BIGINT) AS dim,
               CAST(SUM(CAST(floor(val * 1099511627776.0) AS DECIMAL(38,0))) AS DOUBLE)
                   / (1099511627776.0 * COUNT(val)) AS centroid_val
        FROM dims GROUP BY label, dim
    """,
    doc="Per-label centroid, one row per (label, dim): posexplode the "
    "vector, exact decimal mean per dimension — the deterministic "
    "vector aggregate (a naive per-dim double sum would be partition-"
    "order nondeterministic). At 100 TB this is the same explode + "
    "two-phase agg shape as the sketches: map-side partial sums, one "
    "shuffle on (label, dim).",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    dims = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim0", "val_f")
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("val_f").cast("double").alias("val"),
    )
    # Embeddings are arbitrary binary floats — a decimal cast of the
    # VALUE would quantize the engines' differing decimal renderings
    # differently at the last digit. Scaling by 2^40 is EXACT for
    # doubles (power-of-two multiply), floor makes each term integer,
    # and the terms accumulate in DECIMAL(38,0) — a long sum would
    # ANSI-overflow at ~2^23 rows/group while the DuckDB side's
    # HUGEINT kept going (the linalg overflow-parity lesson). The
    # final double division is bit-identical in both engines.
    scale = F.lit(2.0**40)
    mean = F.sum(
        F.floor(F.col("val") * scale).cast("decimal(38,0)")
    ).cast("double") / (scale * F.count("val"))
    return dims.groupBy("label", "dim").agg(mean.alias("centroid_val"))


KMEANS_K = 8
KMEANS_ROUNDS = 3


_KM_GRID = "1000000000.0"  # 1e-9 input grid: floor(1e9 * x) per dim
_KM_DIM = 64


def _km_oracle_round(prev_c: str, idx: int, last: bool) -> str:
    """One unrolled Lloyd round in DuckDB SQL over the HUGEINT grid:
    assign each vector to the argmin-L2 centroid (tie on the lower
    cent_id), then rebuild every centroid as the per-dimension
    trunc-div integer mean. The last round skips the (unused) update,
    mirroring the engine loop."""
    assign = f"""
        a{idx} AS (
            SELECT vec_id, xg, cent_id FROM (
                SELECT e.vec_id, e.xg, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_reduce(list_transform(
                                       list_zip(e.xg, c.cv),
                                       p -> (p[1] - p[2]) * (p[1] - p[2])),
                                       (u, v) -> u + v),
                                    c.cent_id
                       ) AS rn
                FROM e, {prev_c} c
            ) WHERE rn = 1
        )"""
    if last:
        return assign
    return assign + f""", c{idx} AS (
            SELECT cent_id, list(m ORDER BY dim) AS cv FROM (
                SELECT cent_id, t.d AS dim,
                       (SUM(xg[t.d]) - SUM(xg[t.d]) % COUNT(*))
                           // COUNT(*) AS m
                FROM a{idx}, unnest(generate_series(1, {_KM_DIM})) AS t(d)
                GROUP BY cent_id, t.d
            ) GROUP BY cent_id
        )"""


@register(
    "emb_kmeans",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x ->
                       CAST(FLOOR({_KM_GRID} * CAST(x AS DOUBLE))
                            AS HUGEINT)) AS xg
            FROM embeddings
        ), c0 AS (
            SELECT cent_id, xg AS cv FROM (
                SELECT vec_id, xg,
                       ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id
                FROM e
            ) WHERE cent_id < {KMEANS_K}
        ),{_km_oracle_round("c0", 1, False)},
        {_km_oracle_round("c1", 2, False)},
        {_km_oracle_round("c2", 3, True)}
        SELECT vec_id, CAST(cent_id AS BIGINT) AS cent_id FROM a3
    """,
    doc=f"Deterministic integer-exact k-means (k={KMEANS_K}, exactly "
    f"{KMEANS_ROUNDS} Lloyd rounds, no RNG): each input dim is gridded "
    "once to floor(1e9*x) (one double multiply — bit-identical in "
    "both engines), init = first k gridded vectors by vec_id "
    "re-labelled 0..k-1, assign = argmin of the INTEGER squared L2 "
    "(decimal(38,0) fold — no float accumulation anywhere) against "
    "the BROADCAST centroid table with ties on the lower cent_id, "
    "update = per-dimension trunc-div integer mean "
    "((s - s % n) / n, identical trunc semantics in Spark % and "
    "DuckDB %). Every round is therefore exact integer arithmetic, "
    "which is what converts this from a rows-only probe to a full "
    "driver-hash contract (VERDICT r9 item 3). The production layout "
    "for IVF/clustering at 100 TB is unchanged: centroids are kBs "
    "broadcast everywhere, each round is one linear pass + one "
    "(cluster, dim) shuffle, and only the k-row CENTROID table is "
    "localCheckpointed between rounds (that alone keeps lineage "
    "flat — each round's assignment is consumed exactly once, so "
    "materializing it never saved a recompute); the 1e-9 grid "
    "changes centroids "
    "by <1e-9 per dim vs exact means, far below any real cluster "
    "geometry.",
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec0 = F.lit(0).cast("decimal(38,0)")
    e = parallelize(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(F.lit(float(_KM_GRID)) * x.cast("double"))
            .cast("decimal(38,0)"),
        ).alias("xg"),
    )
    from pyspark.sql import Window as _W

    # init: first k gridded vectors by vec_id, re-labelled 0..k-1 (the
    # k-row window is trivially single-partition — it IS the broadcast
    # table)
    centroids = (
        e.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(_W.orderBy("vec_id")) - 1).alias("cent_id"),
            F.col("xg").alias("cv"),
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("xg"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        dec0,
        lambda acc, x: acc + x,
    )
    # Only the CENTROIDS are checkpointed per round: that alone
    # truncates the iterative lineage (assigned derives from e +
    # checkpointed centroids, two hops). The per-round `assigned`
    # checkpoint that used to sit here was pure overhead at every
    # scale — each round's assignment is consumed exactly once (by the
    # centroid update, or by the final return), so materializing the
    # full (vec_id, gridded-vector, cent_id) table to executor blocks
    # never saved a recompute; dropping it removes one eager job per
    # round (2.25 s → 1.97 s at sf0.1, output identical).
    assigned = None
    for rnd in range(KMEANS_ROUNDS):
        w = _W.partitionBy("vec_id").orderBy(F.col("d"), F.col("cent_id"))
        assigned = (
            e.join(F.broadcast(centroids))
            .select("vec_id", "xg", "cent_id", dist.alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "xg", "cent_id")
        )
        if rnd == KMEANS_ROUNDS - 1:
            break  # final update is unused — don't materialize it
        dims = assigned.select(
            "cent_id", F.posexplode("xg").alias("dim", "val")
        )
        trunc_mean = (
            (F.sum("val") - F.sum("val") % F.count(F.lit(1)))
            / F.count(F.lit(1))
        ).cast("decimal(38,0)")
        new_cents = (
            dims.groupBy("cent_id", "dim")
            .agg(trunc_mean.alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )
        centroids = materialize(new_cents)
    return assigned.select("vec_id", F.col("cent_id").cast("long").alias("cent_id"))


@register(
    "emb_normalize_quantize",
    oracle="""
        WITH prep AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm,
                   greatest(CAST(list_aggregate(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE),
                        1e-12) / 127.0 AS scale
            FROM embeddings
        )
        SELECT vec_id, nrm, scale,
               array_to_string(list_transform(v,
                   x -> CAST(CAST(floor(x / scale) AS BIGINT) AS VARCHAR)),
                   ',') AS q_csv
        FROM prep
    """,
    doc="Embedding storage prep: L2 norm + symmetric int8 quantization "
    "(per-vector max-abs scale, floor to integer grid) — the step "
    "that shrinks an ANN index 4× before serving. All arithmetic is "
    "engine-agnostic (power-free double ops + floor); quantized "
    "values emitted as CSV (driver hashes scalar cells only).",
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = _norm("embedding")
    scale = (
        F.greatest(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
            F.lit(1e-12),
        )
        / F.lit(127.0)
    )
    prep = e.select(
        "vec_id", v.alias("v"), nrm.alias("nrm"), scale.alias("scale")
    )
    q = F.transform(
        "v", lambda x: F.floor(x / F.col("scale")).cast("long").cast("string")
    )
    return prep.select(
        "vec_id", "nrm", "scale", F.array_join(q, ",").alias("q_csv")
    )


@register(
    "emb_dim_slice_search",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   list_transform(list_slice(embedding, 1, 8),
                       x -> CAST(x AS DOUBLE)) AS qv8
            FROM embeddings WHERE vec_id < 5
        ), pairs AS (
            SELECT q.qid, e.vec_id,
                   list_reduce(list_transform(
                       list_zip(list_transform(e.embedding,
                           x -> CAST(x AS DOUBLE)), q.qv),
                       p -> p[1] * p[2]), (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, b) -> a + b))
                      * sqrt(list_reduce(list_transform(q.qv,
                          x -> x * x), (a, b) -> a + b))) AS cos_full,
                   list_reduce(list_transform(
                       list_zip(list_transform(list_slice(e.embedding, 1, 8),
                           x -> CAST(x AS DOUBLE)), q.qv8),
                       p -> p[1] * p[2]), (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(
                          list_slice(e.embedding, 1, 8),
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, b) -> a + b))
                      * sqrt(list_reduce(list_transform(q.qv8,
                          x -> x * x), (a, b) -> a + b))) AS cos8
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.qid
        ), ranked AS (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos_full DESC, vec_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cos8 DESC, vec_id) AS r8
            FROM pairs
        )
        SELECT qid,
               CAST(MAX(CASE WHEN rf = 1 THEN vec_id END) AS BIGINT)
                   AS top_full_id,
               CAST(MAX(CASE WHEN r8 = 1 THEN vec_id END) AS BIGINT)
                   AS top_trunc_id,
               CAST(CASE WHEN MAX(CASE WHEN rf = 1 THEN vec_id END)
                          = MAX(CASE WHEN r8 = 1 THEN vec_id END)
                    THEN 1 ELSE 0 END AS BIGINT) AS agree
        FROM ranked GROUP BY qid
    """,
    doc="Matryoshka-style truncated-dimension retrieval probe: for "
    "each of 5 query vectors, the top-1 cosine neighbor using the "
    "FULL 64-dim embedding vs using only the FIRST 8 dims (the MRL "
    "prefix-dim trick every embedding service uses to cut ANN cost "
    "8x), plus an agreement flag — the measurement that tells you "
    "whether the cheap prefix index can serve as the candidate "
    "stage. Query block broadcasts (5 rows); both cosines fold "
    "left-to-right over the array in both engines (registry "
    "convention — bit-identical doubles); both ranks share ONE "
    "qid-partitioned window shuffle. At 100 TB the full-dim rank "
    "becomes the re-rank stage over prefix-dim candidates — "
    "sim_topk_ivf's exact shape.",
)
def emb_dim_slice_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        F.transform(
            F.slice("embedding", 1, 8), lambda x: x.cast("double")
        ).alias("qv8"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                _dot(F.col("embedding"), F.col("qv"))
                / (
                    _norm("embedding")
                    * F.sqrt(
                        F.aggregate(
                            F.col("qv"),
                            F.lit(0.0),
                            lambda acc, x: acc + x * x,
                        )
                    )
                )
            ).alias("cos_full"),
            (
                _dot(F.slice("embedding", 1, 8), F.col("qv8"))
                / (
                    _norm(F.slice("embedding", 1, 8))
                    * F.sqrt(
                        F.aggregate(
                            F.col("qv8"),
                            F.lit(0.0),
                            lambda acc, x: acc + x * x,
                        )
                    )
                )
            ).alias("cos8"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    )
    w8 = Window.partitionBy("qid").orderBy(
        F.col("cos8").desc(), F.col("vec_id")
    )
    ranked = pairs.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(w8).alias("r8"),
    )
    top_f = F.max(F.when(F.col("rf") == 1, F.col("vec_id")))
    top_8 = F.max(F.when(F.col("r8") == 1, F.col("vec_id")))
    return ranked.groupBy("qid").agg(
        top_f.cast("long").alias("top_full_id"),
        top_8.cast("long").alias("top_trunc_id"),
        F.when(top_f == top_8, 1).otherwise(0).cast("long").alias("agree"),
    )


@register(
    "emb_vector_distances",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        )
        SELECT a.vec_id,
               list_reduce(list_transform(list_zip(a.e, b.e),
                   p -> p[1] * p[2]), (x, y) -> x + y) AS dot,
               list_reduce(list_transform(list_zip(a.e, b.e),
                   p -> ABS(p[1] - p[2])), (x, y) -> x + y) AS l1,
               sqrt(list_reduce(list_transform(list_zip(a.e, b.e),
                   p -> (p[1] - p[2]) * (p[1] - p[2])),
                   (x, y) -> x + y)) AS l2,
               list_max(list_transform(list_zip(a.e, b.e),
                   p -> ABS(p[1] - p[2]))) AS linf
        FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
    """,
    doc="ClickHouse arrayDotProduct / arrayL1Distance / "
    "arrayL2Distance / arrayLinfDistance: the vector-math function "
    "family between each embedding and its successor. Every "
    "distance folds LEFT-TO-RIGHT over the zipped arrays in both "
    "engines (registry convention: identical IEEE sequences — "
    "0.0+d1 = d1 exactly, so Spark's init-accumulator fold and "
    "DuckDB's first-element list_reduce produce the same rounding "
    "chain), and Linf is an array_max over identical elements. "
    "Successor join broadcasts the shifted dimension-sized copy; "
    "map-only otherwise — the per-row primitive under every "
    "distance-based dedup/search key.",
)
def emb_vector_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(load_table(spark, sf_dir, "embeddings"))
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    b = v.select(
        (F.col("vec_id") - 1).alias("join_key"), F.col("e").alias("eb")
    )
    j = v.join(b, F.col("vec_id") == F.col("join_key"))
    diffs = F.zip_with("e", "eb", lambda x, y: x - y)
    absd = F.transform(diffs, F.abs)
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    return j.select(
        "vec_id",
        fold(F.zip_with("e", "eb", lambda x, y: x * y)).alias("dot"),
        fold(absd).alias("l1"),
        F.sqrt(fold(F.transform(diffs, lambda d: d * d))).alias("l2"),
        F.array_max(absd).alias("linf"),
    )


#: Product-quantization layout: 64-dim vectors → 4 subspaces × 16
#: dims; codebook = the subvectors of the first PQ_K vectors
#: (deterministic, the emb_kmeans/IVF seeding convention — production
#: would k-means each subspace, same assignment plan).
PQ_SUBS = 4
PQ_SUBDIM = 16
PQ_K = 8

_PQ_SUBDIST_SQL = """
    list_reduce(list_transform(
        list_zip(e.embedding[{a}:{b}], c.embedding[{a}:{b}]),
        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
             * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
        (x, y) -> x + y)
"""


def _pq_union_sql() -> str:
    """Long-format (vec_id, sub, cent_id, dist) rows — one identical
    squared-L2 expression per subspace slice."""
    parts = []
    for s in range(PQ_SUBS):
        a, b = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        d = _PQ_SUBDIST_SQL.format(a=a, b=b)
        parts.append(
            f"SELECT e.vec_id, {s} AS sub, c.cent_id, {d} AS dist "
            f"FROM embeddings e CROSS JOIN cents c"
        )
    return " UNION ALL ".join(parts)


@register(
    "emb_pq_codes",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cent_id, embedding
            FROM embeddings WHERE vec_id < {PQ_K}
        ), dists AS (
            {{union}}
        ), ranked AS (
            SELECT vec_id, sub, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                       ORDER BY dist, cent_id) AS rn
            FROM dists
        )
        SELECT vec_id,
               CAST(MAX(CASE WHEN sub = 0 THEN cent_id END) AS BIGINT)
                   AS code0,
               CAST(MAX(CASE WHEN sub = 1 THEN cent_id END) AS BIGINT)
                   AS code1,
               CAST(MAX(CASE WHEN sub = 2 THEN cent_id END) AS BIGINT)
                   AS code2,
               CAST(MAX(CASE WHEN sub = 3 THEN cent_id END) AS BIGINT)
                   AS code3
        FROM ranked WHERE rn = 1 GROUP BY vec_id
    """.replace("{union}", _pq_union_sql()),
    doc=f"Product-quantization code assignment (Jégou et al. 2011, "
    f"the workhorse of billion-scale ANN): each 64-dim vector splits "
    f"into {PQ_SUBS} subspaces of {PQ_SUBDIM} dims, and each "
    f"subvector is assigned its nearest of {PQ_K} deterministic "
    "codebook centroids (the first vectors' subvectors — the "
    "emb_kmeans seeding convention; production k-means refines the "
    "codebook, the assignment plan is identical). The per-(vector, "
    "centroid, subspace) squared-L2 is ONE identical left-to-right "
    "IEEE fold in both engines, and the argmin is SELECTION-ONLY "
    "(rank over (dist, cent_id) — the ts_lttb_downsample precedent): "
    "checked outputs are the integer codes, never the doubles. "
    f"Spark plan: the {PQ_K}-row codebook is folded into ONE array "
    "row (collect_list of (cent_id, subvector) structs) and "
    "broadcast, so each fact row computes all 4 codes map-side via "
    "array_min over (dist, cent_id) structs — struct ordering IS the "
    "(dist ASC, cent_id ASC) argmin tiebreak, selection-only doubles. "
    "ONE fact scan, ZERO exchanges on the fact path (round 6 shipped "
    "a 4-branch union that rescanned embeddings per subspace and "
    "shuffled fact×32 rows through a window; at 100 TB that is 4 "
    "full scans and a 32×-amplified exchange where none is needed — "
    "PQ encoding is embarrassingly parallel).",
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    codebook = (
        e.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cemb"))
        .agg(F.sort_array(F.collect_list(F.struct("cent_id", "cemb"))).alias("cb"))
    )
    joined = e.select("vec_id", "embedding").join(F.broadcast(codebook))

    def code(s: int):
        a = s * PQ_SUBDIM + 1

        def dist(cemb):
            return F.aggregate(
                F.zip_with(
                    F.slice("embedding", a, PQ_SUBDIM),
                    F.slice(cemb, a, PQ_SUBDIM),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, p: acc + p,
            )

        best = F.array_min(
            F.transform(
                "cb",
                lambda c: F.struct(
                    dist(c["cemb"]).alias("dist"), c["cent_id"].alias("cent_id")
                ),
            )
        )
        return best["cent_id"].cast("long").alias(f"code{s}")

    return joined.select("vec_id", *[code(s) for s in range(PQ_SUBS)])


#: Range-search threshold (the synthetic embeddings are near-
#: orthogonal Gaussians; 0.2 yields a meaningful neighbor set).
RANGE_TAU = 0.2
RANGE_QUERY_IDS = (0, 1, 2)


@register(
    "sim_range_search",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS qn
            FROM embeddings WHERE vec_id IN {RANGE_QUERY_IDS}
        )
        SELECT q.qid, e.vec_id, e.label,
               list_reduce(list_transform(
                    list_zip(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE)), q.qv),
                    p -> p[1] * p[2]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (a, b) -> a + b)) * q.qn) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
          AND list_reduce(list_transform(
                    list_zip(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE)), q.qv),
                    p -> p[1] * p[2]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (a, b) -> a + b)) * q.qn) >= {RANGE_TAU}
    """,
    doc=f"Cosine RANGE search (all neighbors with sim ≥ {RANGE_TAU}, "
    "not top-k) for a broadcast probe set of "
    f"{len(RANGE_QUERY_IDS)} query vectors — the retrieval mode "
    "dedup/contamination pipelines need (every match matters, "
    "however many there are) where top-k would silently truncate. "
    "Same exact-fold cosine machinery as sim_topk_cosine (identical "
    "left-to-right IEEE folds both engines; the threshold compare "
    "and the emitted cosine share one expression tree). Plan: "
    "3-row probe broadcast × linear scan — no shuffle on the fact "
    "side at all; at 100 TB the probe side is the query batch and "
    "the scan parallelizes per-partition (the LSH/IVF keys are the "
    "pruned variants of this same contract).",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id").isin(*RANGE_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        _norm("embedding").alias("qn"),
    )
    cand = e.join(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm("embedding") * F.col("qn")
    )
    return (
        cand.select("qid", "vec_id", "label", cos.alias("cosine"))
        .filter(F.col("cosine") >= RANGE_TAU)
    )


#: Binary quantization width: 63 sign bits (bit 63 would flip the
#: BIGINT sign and break the additive mask construction; dropping one
#: dim costs ~1/64th of the signal — standard when packing into a
#: signed word).
BQ_BITS = 63

_BQ_MASK_SQL = (
    "list_reduce(list_transform(range(0, 63), "
    "i -> CASE WHEN embedding[i + 1] > 0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END), "
    "(a, b) -> a + b)"
)


@register(
    "emb_binary_quantize",
    oracle=f"""
        WITH masks AS (
            SELECT vec_id, label, {_BQ_MASK_SQL} AS mask
            FROM embeddings
        ), q AS (
            SELECT mask AS qmask FROM masks WHERE vec_id = 0
        )
        SELECT vec_id, label, CAST(mask AS BIGINT) AS mask,
               CAST(hamming AS BIGINT) AS hamming
        FROM (
            SELECT m.vec_id, m.label, m.mask,
                   bit_count(xor(m.mask, q.qmask)) AS hamming,
                   ROW_NUMBER() OVER (ORDER BY
                       bit_count(xor(m.mask, q.qmask)), m.vec_id) AS rn
            FROM masks m CROSS JOIN q
            WHERE m.vec_id <> 0
        ) WHERE rn <= 10
    """,
    doc=f"Binary quantization retrieval: each vector collapses to "
    f"{BQ_BITS} SIGN BITS packed into one BIGINT (bit i = dim i > 0) "
    "and retrieval is top-10 by Hamming distance (bit_count of XOR) "
    "to the query's mask — the 1-bit compression every "
    "billion-vector first-stage retriever runs (32× smaller than "
    "float32, distance = one popcount instruction) before exact "
    "re-ranking (sim_topk_cosine / emb_pq_codes are the re-rank "
    "stages). EVERYTHING is integer: sign tests, shifts, XOR, "
    "popcount — no float leaves the scan, so the driver hash pins "
    "exact masks and distances. Plan: mask is map-only; the 1-row "
    "query mask broadcasts; top-10 is TakeOrderedAndProject under "
    "the (hamming, vec_id) total order.",
)
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    mask = F.expr(
        "aggregate(transform(sequence(0, 62),"
        " i -> IF(element_at(embedding, i + 1) > 0,"
        " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    masks = e.select("vec_id", "label", mask.alias("mask"))
    q = masks.filter(F.col("vec_id") == 0).select(
        F.col("mask").alias("qmask")
    )
    joined = masks.filter(F.col("vec_id") != 0).join(F.broadcast(q))
    hamming = F.bit_count(
        F.col("mask").bitwiseXOR(F.col("qmask"))
    ).cast("long")
    return (
        joined.select(
            "vec_id",
            "label",
            F.col("mask").cast("long").alias("mask"),
            hamming.alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


def _pq_query_union_sql() -> str:
    """Query→centroid LUT rows (sub, cent_id, qdist) — the q CTE is
    aliased ``e`` so the shared subspace-distance template applies
    verbatim (identical IEEE fold on both engines)."""
    parts = []
    for s in range(PQ_SUBS):
        a, b = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        d = _PQ_SUBDIST_SQL.format(a=a, b=b)
        parts.append(
            f"SELECT {s} AS sub, c.cent_id, {d} AS qdist "
            f"FROM q e CROSS JOIN cents c"
        )
    return " UNION ALL ".join(parts)


@register(
    "sim_pq_adc_topk",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cent_id, embedding
            FROM embeddings WHERE vec_id < {PQ_K}
        ), q AS (
            SELECT embedding FROM embeddings WHERE vec_id = 0
        ), dists AS (
            {{fact_union}}
        ), codes AS (
            SELECT vec_id, sub, cent_id FROM (
                SELECT vec_id, sub, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                           ORDER BY dist, cent_id) AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS (
            {{query_union}}
        ), adc AS (
            SELECT co.vec_id,
                   MAX(CASE WHEN co.sub = 0 THEN co.cent_id END) AS code0,
                   MAX(CASE WHEN co.sub = 1 THEN co.cent_id END) AS code1,
                   MAX(CASE WHEN co.sub = 2 THEN co.cent_id END) AS code2,
                   MAX(CASE WHEN co.sub = 3 THEN co.cent_id END) AS code3,
                   MAX(CASE WHEN co.sub = 0 THEN l.qdist END) AS d0,
                   MAX(CASE WHEN co.sub = 1 THEN l.qdist END) AS d1,
                   MAX(CASE WHEN co.sub = 2 THEN l.qdist END) AS d2,
                   MAX(CASE WHEN co.sub = 3 THEN l.qdist END) AS d3
            FROM codes co JOIN lut l
                ON co.sub = l.sub AND co.cent_id = l.cent_id
            GROUP BY co.vec_id
        ), stage1 AS (
            SELECT vec_id, code0, code1, code2, code3
            FROM adc
            ORDER BY (((d0 + d1) + d2) + d3), vec_id
            LIMIT 50
        ), rerank AS (
            SELECT s.vec_id, s.code0, s.code1, s.code2, s.code3,
                   list_reduce(list_transform(
                       list_zip(e.embedding, q.embedding),
                       p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                            * (CAST(p[1] AS DOUBLE)
                               - CAST(p[2] AS DOUBLE))),
                       (x, y) -> x + y) AS l2sq
            FROM stage1 s
            JOIN embeddings e ON s.vec_id = e.vec_id
            CROSS JOIN q
        )
        SELECT rank, vec_id,
               CAST(code0 AS BIGINT) AS code0,
               CAST(code1 AS BIGINT) AS code1,
               CAST(code2 AS BIGINT) AS code2,
               CAST(code3 AS BIGINT) AS code3
        FROM (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY l2sq, vec_id)
                       AS BIGINT) AS rank,
                   vec_id, code0, code1, code2, code3
            FROM rerank
        ) WHERE rank <= 5
    """.replace("{fact_union}", _pq_union_sql())
       .replace("{query_union}", _pq_query_union_sql()),
    doc="PQ asymmetric-distance (ADC) retrieval with exact re-rank — "
    "the complete billion-scale ANN serving pattern (Jégou et al. "
    "2011) downstream of emb_pq_codes: stage 1 scores EVERY vector "
    "through its 4 PQ codes via a 4×8-entry query LUT (one "
    "query-to-centroid table, broadcast; distance = 4 array lookups "
    "+ 3 adds per row — the fact embeddings are conceptually "
    "replaced by 4-byte codes), takes the top-50 ADC candidates "
    "under a (dist, vec_id) total order, and stage 2 re-ranks ONLY "
    "those candidates against the raw vectors for the final top-5. "
    "All doubles are identical left-to-right IEEE folds with "
    "explicit (((d0+d1)+d2)+d3) association and full vec_id "
    "tiebreaks — selection-only; checked columns are integers "
    "(rank, vec_id, codes). Spark plan: codes+ADC are computed "
    "MAP-SIDE in one embeddings scan (1-row codebook and LUT "
    "broadcast; the 1×1 codebook-LUT build joins are "
    "constant-width NLJ probes), stage-1 top-50 is "
    "TakeOrderedAndProject (no global sort), and the re-rank scan "
    "touches candidates only via a broadcast semi-pattern join — "
    "at 100 TB stage 1 reads a codes table ~64× smaller than the "
    "vectors and stage 2 reads 50 rows.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    cb = (
        e.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cemb"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("cent_id", "cemb"))
            ).alias("cb")
        )
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )

    def subdist(vec_col, cemb, s: int):
        a = s * PQ_SUBDIM + 1
        return F.aggregate(
            F.zip_with(
                F.slice(vec_col, a, PQ_SUBDIM),
                F.slice(cemb, a, PQ_SUBDIM),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )

    def lut_col(s: int):
        return F.transform(
            "cb", lambda c: subdist(F.col("qe"), c["cemb"], s)
        ).alias(f"lut{s}")

    lut = q.join(F.broadcast(cb)).select(
        *[lut_col(s) for s in range(PQ_SUBS)]
    )

    fact = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cb))
        .join(F.broadcast(lut))
    )

    def best(s: int):
        return F.array_min(
            F.transform(
                "cb",
                lambda c: F.struct(
                    subdist(F.col("embedding"), c["cemb"], s).alias(
                        "dist"
                    ),
                    c["cent_id"].alias("cent_id"),
                ),
            )
        )["cent_id"]

    coded = fact.select(
        "vec_id",
        *[best(s).cast("long").alias(f"code{s}") for s in range(PQ_SUBS)],
        *[
            F.element_at(
                f"lut{s}", (F.col(f"code{s}") + 1).cast("int")
            ).alias(f"d{s}")
            for s in range(PQ_SUBS)
        ],
    )
    # NB: d{s} columns reference code{s} aliases from the same select —
    # Spark resolves lateral column aliases left-to-right (Spark 3.4+).
    stage1 = (
        coded.select(
            "vec_id",
            "code0",
            "code1",
            "code2",
            "code3",
            (
                (
                    (F.col("d0") + F.col("d1")) + F.col("d2")
                )
                + F.col("d3")
            ).alias("adc"),
        )
        .orderBy("adc", "vec_id")
        .limit(50)
    )
    e2 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cand = e2.join(
        F.broadcast(stage1.drop("adc")), "vec_id"
    ).join(F.broadcast(q))
    l2sq = F.aggregate(
        F.zip_with(
            "embedding",
            "qe",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )
    top = (
        cand.select(
            "vec_id", "code0", "code1", "code2", "code3",
            l2sq.alias("l2sq"),
        )
        .orderBy("l2sq", "vec_id")
        .limit(5)
    )
    w = Window.orderBy("l2sq", "vec_id")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "vec_id",
        "code0",
        "code1",
        "code2",
        "code3",
    )


def _mrl_cos_sql(lo: int, hi: int) -> str:
    """Identical-fold cosine between e.embedding[lo:hi] and the query
    prefix — the emb_dim_slice_search expression family."""
    def f(e: str) -> str:
        return (
            f"list_transform(list_slice({e}, {lo}, {hi}),"
            " x -> CAST(x AS DOUBLE))"
        )

    dot = (
        f"list_reduce(list_transform(list_zip({f('e.embedding')},"
        f" {f('q.embedding')}), p -> p[1] * p[2]), (x, y) -> x + y)"
    )
    na = (
        f"sqrt(list_reduce(list_transform(list_slice(e.embedding,"
        f" {lo}, {hi}), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " (a, b) -> a + b))"
    )
    nb = (
        f"sqrt(list_reduce(list_transform(list_slice(q.embedding,"
        f" {lo}, {hi}), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " (a, b) -> a + b))"
    )
    return f"{dot} / ({na} * {nb})"


@register(
    "emb_mrl_overlap_curve",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding
            FROM embeddings WHERE vec_id < 5
        ), p AS (
            SELECT q.qid, e.vec_id,
                   {_mrl_cos_sql(1, 64)} AS cf,
                   {_mrl_cos_sql(1, 8)} AS c8,
                   {_mrl_cos_sql(1, 16)} AS c16,
                   {_mrl_cos_sql(1, 32)} AS c32
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.qid
        ), r AS (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cf DESC, vec_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY c8 DESC, vec_id) AS r8,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY c16 DESC, vec_id) AS r16,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY c32 DESC, vec_id) AS r32
            FROM p
        )
        SELECT qid,
               CAST(COUNT(*) FILTER (WHERE rf <= 20 AND r8 <= 20)
                   AS BIGINT) AS overlap20_d8,
               CAST(COUNT(*) FILTER (WHERE rf <= 20 AND r16 <= 20)
                   AS BIGINT) AS overlap20_d16,
               CAST(COUNT(*) FILTER (WHERE rf <= 20 AND r32 <= 20)
                   AS BIGINT) AS overlap20_d32
        FROM r GROUP BY qid
    """,
    doc="Matryoshka retrieval-quality CURVE: per query, the top-20 "
    "overlap between prefix-dimension search (8/16/32 of 64 dims) "
    "and full-dimension exact search — the dial every MRL deployment "
    "reads before picking its serving dimension (Kusupati et al. "
    "2022). Complements emb_dim_slice_search (whose top-1 agreement "
    "at 8 dims is legitimately 0 on these near-orthogonal synthetic "
    "vectors — the round-7 audit's 'informative zero'): overlap@20 "
    "is the statistically stable version, and the fixture yields a "
    "clean monotone curve (≈1-5 → ≈2-8 → ≈9-10 of 20). All cosines "
    "are identical left-to-right IEEE folds; ranks carry vec_id "
    "tiebreaks; checked outputs are integer overlap counts. Plan: "
    "ONE fact scan computes all four cosines against the 5-query "
    "broadcast, one qid exchange serves all four rank windows, one "
    "conditional agg emits the curve — the 4-metric eval costs one "
    "pass, not four.",
)
def emb_mrl_overlap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def cos(lo: int, n: int):
        dot = F.aggregate(
            F.zip_with(
                F.slice("embedding", lo, n),
                F.slice("qe", lo, n),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )

        def norm(col: str):
            return F.sqrt(
                F.aggregate(
                    F.transform(
                        F.slice(col, lo, n),
                        lambda x: x.cast("double") * x.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, p: acc + p,
                )
            )

        return dot / (norm("embedding") * norm("qe"))

    p = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cos(1, 64).alias("cf"),
            cos(1, 8).alias("c8"),
            cos(1, 16).alias("c16"),
            cos(1, 32).alias("c32"),
        )
    )

    def rank(col: str):
        return F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col(col).desc(), F.col("vec_id")
            )
        )

    r = p.select(
        "qid",
        rank("cf").alias("rf"),
        rank("c8").alias("r8"),
        rank("c16").alias("r16"),
        rank("c32").alias("r32"),
    )

    def ov(col: str):
        return F.count(
            F.when((F.col("rf") <= 20) & (F.col(col) <= 20), 1)
        ).cast("long")

    return r.groupBy("qid").agg(
        ov("r8").alias("overlap20_d8"),
        ov("r16").alias("overlap20_d16"),
        ov("r32").alias("overlap20_d32"),
    )


@register(
    "emb_hard_negatives",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, label AS qlabel,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                   sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                        (a, b) -> a + b)) AS qn
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.qid, q.qlabel, e.vec_id, e.label,
                   list_reduce(list_transform(
                        list_zip(list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE)), q.qv),
                        p -> p[1] * p[2]), (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, b) -> a + b)) * q.qn) AS cosine
            FROM embeddings e CROSS JOIN q
            WHERE e.label <> q.qlabel
        )
        SELECT qid, CAST(qlabel AS BIGINT) AS qlabel,
               CAST(rnk AS BIGINT) AS rnk,
               vec_id AS neg_id, CAST(label AS BIGINT) AS neg_label,
               cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    doc="Hard-negative mining for contrastive training: per query "
    "embedding (vec_id < 5), the top-3 MOST similar vectors with a "
    "DIFFERENT label — the near-miss negatives that dominate "
    "InfoNCE/triplet gradients (semi-hard mining, Schroff et al. "
    "2015). Exact brute force: the 5-row query set broadcasts, ONE "
    "linear scan computes every cosine as the identical "
    "left-to-right IEEE fold both engines share, the label "
    "exclusion rides the scan predicate, and one qid-partitioned "
    "rank window (WindowGroupLimit prunes to 3 per query before "
    "the sort spills) emits the negatives with (cosine, vec_id) "
    "total order. At 100 TB the same plan holds per query batch "
    "— mining is embarrassingly parallel over the fact scan; the "
    "sublinear variants (sim_topk_lsh / sim_topk_ivf) drop in when "
    "the query set itself is corpus-sized.",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
        _norm("embedding").alias("qn"),
    )
    cos = _dot(
        F.transform("embedding", lambda x: x.cast("double")), F.col("qv")
    ) / (_norm("embedding") * F.col("qn"))
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            cos.alias("cosine"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 3)
        .select(
            "qid",
            F.col("qlabel").cast("long").alias("qlabel"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("vec_id").alias("neg_id"),
            F.col("label").cast("long").alias("neg_label"),
            "cosine",
        )
    )


@register(
    "emb_centroid_distances",
    oracle="""
        WITH dims AS (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS dim,
                   unnest(list_transform(embedding,
                          x -> CAST(x AS DOUBLE))) AS val
            FROM embeddings
        ), cent AS (
            SELECT label, dim,
                   CAST(SUM(CAST(floor(val * 1099511627776.0)
                             AS DECIMAL(38,0))) AS DOUBLE) / (1099511627776.0 * COUNT(val)) AS m
            FROM dims GROUP BY label, dim
        ), vecs AS (
            SELECT label,
                   list_transform(list_sort(list(struct_pack(
                       dim := dim, m := m))), s -> s.m) AS v
            FROM cent GROUP BY label
        )
        SELECT CAST(a.label AS BIGINT) AS label_a,
               CAST(b.label AS BIGINT) AS label_b,
               sqrt(list_reduce(list_transform(list_zip(a.v, b.v),
                    p -> (p[1] - p[2]) * (p[1] - p[2])),
                    (x, y) -> x + y)) AS dist
        FROM vecs a JOIN vecs b ON a.label < b.label
    """,
    doc="Inter-class separation matrix: Euclidean distance between "
    "every pair of label centroids — the embedding-quality "
    "diagnostic (are classes separable? which pairs confuse?) read "
    "before mining hard negatives (emb_hard_negatives probes "
    "instances; this audits the class geometry). Centroids reuse "
    "emb_label_centroids' exact per-dim mean (2^40 floor-grid "
    "integer sums — order-free), the pairwise distance is a "
    "left-to-right fold over the dim-sorted centroid arrays, and "
    "sqrt is exact IEEE — every double bit-identical across "
    "engines. Plan: one explode + (label, dim) agg over the fact "
    "scan; everything after runs on the |labels|x|dims| table, and "
    "the pair join is a broadcast of |labels| rows at any scale.",
)
def emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings"))
    dims = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim0", "val_f")
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("val_f").cast("double").alias("val"),
    )
    scale = F.lit(2.0**40)
    mean = F.sum(
        F.floor(F.col("val") * scale).cast("decimal(38,0)")
    ).cast("double") / (scale * F.count("val"))
    cent = dims.groupBy("label", "dim").agg(mean.alias("m"))
    # the centroid table self-joins; materialize the |labels| rows
    # once or Spark replays the whole posexplode+agg chain (a second
    # full fact scan) for the broadcast side — the same
    # multi-consumer lesson as graph_triangle_count's edge set
    vecs = materialize(
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("v")
        )
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
    )
    return a.join(
        F.broadcast(b), F.col("a.label") < F.col("b.label")
    ).select(
        F.col("a.label").cast("long").alias("label_a"),
        F.col("b.label").cast("long").alias("label_b"),
        dist.alias("dist"),
    )
