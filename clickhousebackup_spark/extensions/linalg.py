"""Distributed linear algebra over embedding columns — the PCA
primitive an embedding-curation pipeline needs (dominant component
for whitening checks, dedup-space visualization, drift monitoring).

Reference anchor: the reference (backup.sh) delegates analytics to
ClickHouse; ClickHouse exposes no distributed eigensolver, so this is
engine-breadth beyond the reference, built the Spark-first way: the
Gram-vector product X'(Xv) as two hash aggregations per iteration,
never materializing the covariance matrix and never collecting the
fact table.

Determinism contract (why this is oracle-checkable at all): within a
row, dot products fold LEFT-TO-RIGHT over the array in both engines
(registry convention — bit-identical doubles); ACROSS rows, every sum
crosses an integer grid (floor(1e9 * contribution) summed in
DECIMAL(38,0)) — exact and order-free, and since the gridded double
is bit-identical in both engines, the floor is too (no boundary risk,
unlike gridding two independently-computed approximations). The
64-element intermediate vectors are rebuilt as dim-sorted arrays so
their norms also fold left-to-right.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table, parallelize

#: Embedding width of the fixture corpus (embeddings.parquet).
_DIM = 64
#: Contribution grid: floor(1e9 * x_id * s_i) per (row, dim).
_GRID = 1000000000.0
#: Power-iteration steps — enough to separate the dominant component
#: on the fixture spectrum; fixed so both engines run the same math.
_ITERS = 3


def _fold_dot(xs: Column, v: Column) -> Column:
    """Left-to-right dot product of two equal-length arrays."""
    return F.aggregate(
        F.zip_with(xs, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _fold_sq(xs: Column) -> Column:
    """Left-to-right sum of squares of an array."""
    return F.aggregate(xs, F.lit(0.0), lambda acc, t: acc + t * t)


def _oracle_iter(prev_v_cte: str, idx: int) -> str:
    """One unrolled power-iteration step in DuckDB SQL: score every
    row against v (left-to-right fold), grid the per-(row,dim)
    contributions to BIGINT, sum exactly in DECIMAL(38,0), rebuild
    the dim-sorted u array, and normalize."""
    return f"""
        s{idx} AS (
            SELECT e.x,
                   list_reduce(list_transform(list_zip(e.x, v.v),
                       p -> p[1] * p[2]), (a, b) -> a + b) AS s
            FROM e, {prev_v_cte} v
        ), u{idx} AS (
            SELECT d,
                   SUM(CAST(FLOOR({_GRID} * x[d] * s)
                        AS DECIMAL(38,0))) AS ui
            FROM s{idx}, unnest(generate_series(1, {_DIM})) AS t(d)
            GROUP BY d
        ), a{idx} AS (
            SELECT list(CAST(ui AS DOUBLE) / {_GRID} ORDER BY d) AS u
            FROM u{idx}
        ), v{idx} AS (
            SELECT list_transform(u, t -> t /
                       sqrt(list_reduce(list_transform(u, t -> t * t),
                            (a, b) -> a + b))) AS v,
                   sqrt(list_reduce(list_transform(u, t -> t * t),
                        (a, b) -> a + b)) AS lam
            FROM a{idx}
        )"""


@register(
    "emb_power_iteration_pc1",
    oracle=f"""
        WITH e AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
            FROM embeddings
        ), v0 AS (
            SELECT list_transform(generate_series(1, {_DIM}),
                       t -> 0.125) AS v
        ),{_oracle_iter("v0", 1)},{_oracle_iter("v1", 2)},{_oracle_iter("v2", 3)}
        SELECT CAST(t.d AS BIGINT) AS dim,
               v3.v[t.d] AS loading,
               v3.lam AS eigenvalue
        FROM v3, unnest(generate_series(1, {_DIM})) AS t(d)
    """,
    doc="Distributed power iteration toward the dominant principal "
    "component of the embedding corpus: v <- normalize(X'(Xv)), "
    f"{_ITERS} fixed steps from the uniform start 1/sqrt({_DIM}). "
    "The contract is the FIXED-STEP iterate + its Rayleigh-quotient "
    "eigenvalue lower bound (monotone non-decreasing per step, "
    "bounded by the true lambda_1 — pinned vs numpy in "
    "tests/test_props_r9b.py), NOT a converged eigenvector: the "
    "synthetic fixture is near-isotropic (lambda2/lambda1 ~ 0.98, "
    "measured), where no fixed step count separates PC1; on a real "
    "anisotropic corpus the same plan converges at the spectral-gap "
    "rate. "
    "The Gram-vector product never materializes X'X: scoring "
    "s_i = <x_i, v> is a per-row fold against the broadcast "
    "64-float vector (pinned 1-row NLJ per step), and the reduce "
    "u_d = sum_i x_id s_i is posexplode + ONE map-side-combined "
    "hash agg whose shuffle is 64 x n_partitions rows regardless "
    "of corpus size — textbook distributed PCA, linear scans, no "
    "collect. Cross-row sums ride the floor(1e9 .)-BIGINT grid in "
    "DECIMAL(38,0) (exact, order-free; the gridded double is "
    "bit-identical in both engines so the floor is too); "
    "within-row folds are left-to-right per the registry "
    "convention, so loadings and the Rayleigh-quotient eigenvalue "
    "hash raw. Each step's 1-row v frame is localCheckpointed so "
    "step k+1 rescans the corpus exactly once.",
)
def emb_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings")).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )

    v_frame: DataFrame | None = None  # 1-row: v array<double>, lam
    for _ in range(_ITERS):
        if v_frame is None:
            scored = e.select(
                "x",
                F.aggregate(
                    "x", F.lit(0.0), lambda acc, t: acc + t * F.lit(0.125)
                ).alias("s"),
            )
        else:
            scored = e.crossJoin(F.broadcast(v_frame.select("v"))).select(
                "x", _fold_dot(F.col("x"), F.col("v")).alias("s")
            )
        u = (
            scored.select(
                F.posexplode("x").alias("d0", "xv"), F.col("s")
            )
            .groupBy((F.col("d0") + 1).alias("d"))
            .agg(
                F.sum(
                    F.floor(F.lit(_GRID) * F.col("xv") * F.col("s"))
                    .cast("long")
                    .cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .alias("ui")
            )
        )
        arr = u.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("ui")))
                ),
                lambda st: st["ui"].cast("double") / F.lit(_GRID),
            ).alias("u")
        )
        v_frame = materialize(
            arr.select(
                F.transform(
                    "u", lambda t: t / F.sqrt(_fold_sq(F.col("u")))
                ).alias("v"),
                F.sqrt(_fold_sq(F.col("u"))).alias("lam"),
            )
        )

    return v_frame.select(
        F.posexplode("v").alias("d0", "loading"), F.col("lam")
    ).select(
        (F.col("d0") + 1).cast("long").alias("dim"),
        F.col("loading"),
        F.col("lam").alias("eigenvalue"),
    )


#: Johnson-Lindenstrauss target dimensionality; 1/sqrt(16) = 0.25 is
#: an exact binary scale, so the Rademacher entries are +-0.25 with
#: no rounding.
_JL_K = 16


@register(
    "emb_random_projection",
    oracle=f"""
        WITH mat AS (
            SELECT list_transform(generate_series(0, {_JL_K - 1}), j ->
                       list_transform(generate_series(0, {_DIM - 1}), d ->
                           CASE WHEN CAST(concat('0x',
                                    substr(md5(concat(j, ':', d)), 32, 1))
                                    AS BIGINT) % 2 = 0
                                THEN 0.25 ELSE -0.25 END)) AS m
        ), proj AS (
            SELECT e.vec_id,
                   list_transform(e.x, t -> t) AS x,
                   list_transform(mat.m, r ->
                       list_reduce(list_transform(list_zip(e.x, r),
                           p -> p[1] * p[2]), (a, b) -> a + b)) AS y
            FROM (SELECT vec_id,
                         list_transform(embedding, t -> CAST(t AS DOUBLE))
                             AS x
                  FROM embeddings) e, mat
        )
        SELECT vec_id,
               CAST(j AS BIGINT) AS j,
               y[j] AS y_val,
               list_reduce(list_transform(x, t -> t * t),
                   (a, b) -> a + b) AS norm2_orig,
               list_reduce(list_transform(y, t -> t * t),
                   (a, b) -> a + b) AS norm2_proj,
               list_reduce(list_transform(y, t -> t * t),
                   (a, b) -> a + b)
                   / list_reduce(list_transform(x, t -> t * t),
                       (a, b) -> a + b) AS distortion
        FROM proj, unnest(generate_series(1, {_JL_K})) AS u(j)
    """,
    doc="Johnson-Lindenstrauss random projection of the embedding "
    f"corpus from {_DIM} to {_JL_K} dims with a Rademacher matrix "
    "(+-1/sqrt(k) entries — Achlioptas' database-friendly "
    "construction), plus each vector's norm distortion "
    "||y||^2/||x||^2, the JL quality measure (concentrates around "
    "1). The matrix entry sign is the md5-grid parity of 'j:d' — "
    "reproducible on any engine and cluster layout, no RNG state "
    "to ship; 1/sqrt(16) = 0.25 is exact binary so entries carry "
    "no rounding. Plan: the k x d matrix is ONE broadcast row "
    "(pinned 1-row NLJ); projection and both norms are per-row "
    "left-to-right folds (bit-identical doubles, hashed raw); the "
    "long-format explode is k rows per vector. Nothing shuffles — "
    "the whole key is a single codegen'd scan at any corpus size.",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parallelize(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    mat = spark.range(1).select(
        F.expr(
            f"""transform(sequence(0, {_JL_K - 1}), j ->
                    transform(sequence(0, {_DIM - 1}), d ->
                        CASE WHEN CAST(conv(substr(
                                 md5(concat(j, ':', d)), 32, 1), 16, 10)
                                 AS BIGINT) % 2 = 0
                             THEN cast(0.25 as double)
                             ELSE cast(-0.25 as double) END))"""
        ).alias("m")
    )
    proj = e.crossJoin(F.broadcast(mat)).select(
        "vec_id",
        "x",
        F.transform("m", lambda r: _fold_dot(F.col("x"), r)).alias("y"),
    )
    n2x = _fold_sq(F.col("x"))
    n2y = _fold_sq(F.col("y"))
    return proj.select(
        "vec_id",
        F.posexplode("y").alias("j0", "y_val"),
        n2x.alias("norm2_orig"),
        n2y.alias("norm2_proj"),
        (n2y / n2x).alias("distortion"),
    ).select(
        "vec_id",
        (F.col("j0") + 1).cast("long").alias("j"),
        "y_val",
        "norm2_orig",
        "norm2_proj",
        "distortion",
    )


def _mv_sql(mat: str, vec: str) -> str:
    """DuckDB matvec: left-to-right row dots (pc1's normalize shape —
    single-level reduce inside transform, NOT reduce-in-reduce)."""
    return (
        f"list_transform({mat}, row -> list_reduce("
        f"list_transform(list_zip(row, {vec}), p -> p[1] * p[2]), "
        "(a, b) -> a + b))"
    )


def _norm_sql(vec: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({vec}, t -> t * t), "
        "(a, b) -> a + b))"
    )


def _pca2_steps(mat_col: str, carry: str, prefix: str) -> str:
    """Three unrolled power-iteration CTE pairs over the in-row
    matrix ``mat_col``, carrying ``carry`` columns through."""
    out = []
    prev = f"{prefix}0"
    for k in (1, 2, 3):
        out.append(
            f""", {prefix}u{k} AS (
            SELECT {mat_col}, {carry}{_mv_sql(mat_col, "v")} AS u
            FROM {prev}
        ), {prefix}{k} AS (
            SELECT {mat_col}, {carry}
                   list_transform(u, t -> t / {_norm_sql("u")}) AS v,
                   {_norm_sql("u")} AS lam
            FROM {prefix}u{k}
        )"""
        )
        prev = f"{prefix}{k}"
    return "".join(out)


@register(
    "emb_pca2_deflation",
    oracle=f"""
        WITH e AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                AS x
            FROM embeddings
        ), cells AS (
            SELECT ti.i AS i, tj.j AS j,
                   SUM(CAST(FLOOR(CAST(1000000000 AS DOUBLE)
                        * x[ti.i] * x[tj.j]) AS DECIMAL(38,0))) AS gg
            FROM e, unnest(generate_series(1, {_DIM})) AS ti(i),
                    unnest(generate_series(1, {_DIM})) AS tj(j)
            GROUP BY ti.i, tj.j
        ), gmat AS (
            SELECT list_transform(generate_series(1, {_DIM}), i ->
                       list_transform(generate_series(1, {_DIM}), j ->
                           flat[(i - 1) * {_DIM} + j])) AS G
            FROM (SELECT list(CAST(gg AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE)
                              ORDER BY i, j) AS flat
                  FROM cells)
        ), g0 AS (
            SELECT G, list_transform(generate_series(1, {_DIM}),
                       t -> CAST(0.125 AS DOUBLE)) AS v
            FROM gmat
        ){_pca2_steps("G", "", "g")}, defl AS (
            SELECT list_transform(generate_series(1, {_DIM}), i ->
                       list_transform(generate_series(1, {_DIM}), j ->
                           G[i][j] - lam * v[i] * v[j])) AS B,
                   v AS v1, lam AS lam1
            FROM g3
        ), d0 AS (
            SELECT B, v1, lam1,
                   list_transform(generate_series(1, {_DIM}),
                       t -> CAST(0.125 AS DOUBLE)) AS v
            FROM defl
        ){_pca2_steps("B", "v1, lam1,", "d")}
        SELECT CAST(t.d AS BIGINT) AS dim,
               d3.v1[t.d] AS pc1_loading,
               d3.v[t.d] AS pc2_loading,
               d3.lam1 AS eigenvalue1,
               d3.lam AS eigenvalue2,
               CAST(FLOOR(CAST(1000000 AS DOUBLE) * abs(
                   list_reduce(list_transform(
                       list_zip(d3.v1, d3.v), p -> p[1] * p[2]),
                       (a, b) -> a + b))) AS BIGINT) AS ortho_dot_micro
        FROM d3, unnest(generate_series(1, {_DIM})) AS t(d)
    """,
    doc="Top-TWO principal components via Gram-matrix power iteration "
    "with Hotelling deflation — the at-scale upgrade of "
    "emb_power_iteration_pc1: ONE corpus pass builds the 64x64 Gram "
    "matrix (per-row outer products on the floor(1e9.)-BIGINT grid, "
    "summed exactly in DECIMAL(38,0), map-side combined — shuffle is "
    "dim^2 x n_partitions rows at ANY corpus size), then all "
    f"{_ITERS}+{_ITERS} fixed iteration steps and the rank-1 "
    "deflation B = G - lam1 v1 v1' run DRIVER-SIDE on the collected "
    "64x64 constant (pure-Python left-to-right folds, bit-identical "
    "to the engine/oracle expression shapes — the same move as "
    "collecting a range partitioner's boundaries; zero extra data "
    "passes, and none of the per-step one-row Spark jobs whose "
    "Catalyst analysis used to dominate wall at every scale. pc1 by "
    "contrast rescans the corpus every step, which is the right "
    "trade only when dim^2 outgrows driver memory). The contract is "
    "the fixed-step iterate (near-isotropic "
    "fixture spectrum — see pc1's note), pinned against numpy in "
    "tests/test_props_r10.py; loadings/eigenvalues are pure IEEE "
    "left-to-right folds of the identical gridded Gram and hash "
    "raw; |v1.v2| lands on the floor-micro grid as a CONVERGENCE "
    "DIAGNOSTIC — ~0.19 on the near-isotropic fixture (fixed-step "
    "iterates are not yet orthogonal), shrinking with the spectral "
    "gap on a real corpus.",
)
def emb_pca2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = parallelize(load_table(spark, sf_dir, "embeddings")).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    a = e.select(F.posexplode("x").alias("i0", "xi"), F.col("x"))
    cells = a.select(
        (F.col("i0") + 1).alias("i"),
        F.col("xi"),
        F.posexplode("x").alias("j0", "xj"),
    )
    g = cells.groupBy("i", (F.col("j0") + 1).alias("j")).agg(
        F.sum(
            F.floor(F.lit(_GRID) * F.col("xi") * F.col("xj"))
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("gg")
    )
    # The Gram is the ONLY data-scale object here; everything after is
    # O(d^2) arithmetic on a 64x64 constant. Collecting it is the same
    # move as collecting a range-partitioner's boundaries — and doing
    # the fixed-step iterations in driver Python (replicating the
    # engine fold shapes EXACTLY: left-to-right accumulation, same
    # association order, math.sqrt = IEEE sqrt) replaces 2*ITERS
    # checkpointed one-row Spark jobs and their 4096-node Catalyst
    # expression trees, which dominated wall at every scale (~26 s of
    # driver-side analysis for a 64-dim corpus, flat from sf0.1 to
    # sf1). The DuckDB oracle's unrolled CTE iterations see identical
    # doubles, so the contract is unchanged.
    G = [[0.0] * _DIM for _ in range(_DIM)]
    for r in g.collect():
        G[r["i"] - 1][r["j"] - 1] = float(int(r["gg"])) / _GRID

    def fold_dot(xs, v):
        acc = 0.0
        for k in range(_DIM):
            acc = acc + xs[k] * v[k]
        return acc

    def fold_sq(xs):
        acc = 0.0
        for t in xs:
            acc = acc + t * t
        return acc

    def iterate(mat):
        v = [0.125] * _DIM
        lam = 0.0
        for _ in range(_ITERS):
            u = [fold_dot(row, v) for row in mat]
            lam = math.sqrt(fold_sq(u))
            v = [t / lam for t in u]
        return v, lam

    v1, lam1 = iterate(G)
    # Hotelling deflation: B = G - lam1 * v1 v1^T, left-assoc products
    # to mirror the engine/oracle expression shape
    B = [
        [G[i][j] - lam1 * v1[i] * v1[j] for j in range(_DIM)]
        for i in range(_DIM)
    ]
    v2, lam2 = iterate(B)
    dot12 = fold_dot(v1, v2)
    rows = [
        (
            d + 1,
            v1[d],
            v2[d],
            lam1,
            lam2,
            int(math.floor(1000000.0 * abs(dot12))),
        )
        for d in range(_DIM)
    ]
    return spark.createDataFrame(
        rows,
        "dim long, pc1_loading double, pc2_loading double, "
        "eigenvalue1 double, eigenvalue2 double, ortho_dot_micro long",
    )
