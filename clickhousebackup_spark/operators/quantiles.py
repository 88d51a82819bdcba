"""Quantiles, ordered collections, correlation, positional explode
(wave 3 — rounding out the aggregate vocabulary).

``agg_percentile_exact`` computes interpolated quantiles from explicit
row_number arithmetic, identically in both engines — engine-native
``percentile``/``quantile_cont`` interpolate with different FMA
groupings ((1-g)a+gb vs a+(b-a)g) and can differ in the last ulp,
which the value-hash would catch. ``agg_percentile_approx`` is the
at-scale variant (fixed-size sketch, single pass) and rows-only.

``agg_corr`` uses the decimal-sum covariance formula for the same
reason: engine-native CORR folds doubles in partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import (
    DEC,
    dsum,
    exact_floor_decimal,
    gsum,
    ogsum,
    osum,
)
from clickhousebackup_spark.operators.distrank import global_order_scan
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

QS = (0.25, 0.5, 0.75)


def _quantile_cols_sql() -> str:
    parts = []
    for q in QS:
        name = f"q{int(q * 100)}"
        lo = (
            f"MAX(CASE WHEN rn = CAST(floor((n - 1) * {q}) AS BIGINT) + 1 "
            f"THEN value END)"
        )
        hi = (
            f"MAX(CASE WHEN rn = least(CAST(floor((n - 1) * {q}) AS BIGINT) + 2, n) "
            f"THEN value END)"
        )
        g = f"(((MAX(n) - 1) * {q}) - floor((MAX(n) - 1) * {q}))"
        parts.append(f"{lo} + {g} * ({hi} - {lo}) AS {name}")
    return ",".join(parts)


#: ONE oracle object shared by the flat key and its two-stage sibling
#: (operators/analytics18.py) — the skew-playbook convention: the
#: rewrite must be oracle-identical, and a shared constant cannot
#: drift the way a copied string can (round-12 advice).
PERCENTILE_EXACT_ORACLE = f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type, {_quantile_cols_sql()}
    FROM ranked GROUP BY event_type
"""


@register(
    "agg_percentile_exact",
    oracle=PERCENTILE_EXACT_ORACLE,
    doc="Exact interpolated quartiles of value per event_type via "
    "shared row_number arithmetic (bit-identical across engines).",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # the interpolation weight g is constant per group but must be
    # aggregate-legal, hence the max(n) identity wrapper
    out_aggs = []
    for q in QS:
        pos = (F.max("n") - 1) * F.lit(q)
        lo_rn = F.floor(pos).cast("long") + 1
        hi_rn = F.least(lo_rn + 1, F.max("n"))
        g = pos - F.floor(pos)
        lo = F.max(F.when(F.col("rn") == F.floor((F.col("n") - 1) * F.lit(q)).cast("long") + 1, F.col("value")))
        hi = F.max(
            F.when(
                F.col("rn")
                == F.least(
                    F.floor((F.col("n") - 1) * F.lit(q)).cast("long") + 2,
                    F.col("n"),
                ),
                F.col("value"),
            )
        )
        out_aggs.append((lo + g * (hi - lo)).alias(f"q{int(q * 100)}"))
    return ranked.groupBy("event_type").agg(*out_aggs)


#: rank half-width of the accuracy band the approx flags pin: the
#: GK sketch at accuracy=10000 guarantees rank error <= n/10000, so a
#: +/-0.5-percentile band is a 50x margin — tight enough that a broken
#: sketch fails, loose enough that it can never flip spuriously.
_APPROX_BAND = 0.005


@register(
    "agg_percentile_approx",
    oracle="""
        WITH ranked AS (
            SELECT event_type,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM events
        )
        SELECT event_type, MAX(n) AS n_rows,
               CAST(1 AS BIGINT) AS q25_in_band,
               CAST(1 AS BIGINT) AS q50_in_band,
               CAST(1 AS BIGINT) AS q75_in_band
        FROM ranked GROUP BY event_type
    """,
    doc="approx_percentile — the single-pass fixed-memory quantile "
    "for 100 TB (KLL/GK sketch). Converted from rows-only to "
    "exact-checkable (r9, the agg_hll_merge pattern): the sketch "
    "values are engine-specific so they stay OUT of the hashed "
    "surface; the checked columns are the group row count plus one "
    "flag per quartile pinning the sketch value INSIDE the exact "
    "order-statistics band [value@rank(q-0.005), "
    "value@rank(q+0.005)] — a 50x margin on the accuracy=10000 "
    "rank-error guarantee (eps <= 1e-4), computed from the same "
    "shared row_number arithmetic agg_percentile_exact hashes. "
    "approx_percentile returns a real data element, so the band "
    "containment is exact-value comparable; a degraded sketch "
    "fails the hash.",
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    aggs = [
        F.max("n").cast("long").alias("n_rows"),
        F.percentile_approx("value", list(QS), 10000).alias("_qs"),
    ]
    for q in QS:
        lo_rn = (
            F.floor((F.col("n") - 1) * F.lit(q - _APPROX_BAND)).cast("long")
            + 1
        )
        hi_rn = F.least(
            F.floor((F.col("n") - 1) * F.lit(q + _APPROX_BAND)).cast("long")
            + 2,
            F.col("n"),
        )
        aggs.append(
            F.max(F.when(F.col("rn") == lo_rn, F.col("value"))).alias(
                f"_lo{int(q * 100)}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("rn") == hi_rn, F.col("value"))).alias(
                f"_hi{int(q * 100)}"
            )
        )
    g = ranked.groupBy("event_type").agg(*aggs)
    out = [F.col("event_type"), F.col("n_rows")]
    for i, q in enumerate(QS):
        tag = int(q * 100)
        est = F.element_at("_qs", i + 1)
        out.append(
            F.when(
                (est >= F.col(f"_lo{tag}")) & (est <= F.col(f"_hi{tag}")), 1
            )
            .otherwise(0)
            .cast("long")
            .alias(f"q{tag}_in_band")
        )
    return g.select(*out)


@register(
    "agg_collect_sorted",
    oracle="""
        SELECT o_custkey,
               len(list(o_orderkey)) AS n_orders,
               string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
                   AS order_keys_csv
        FROM orders
        WHERE o_totalprice > 150000
        GROUP BY o_custkey
    """,
    doc="Ordered collection aggregates: array_sort(collect_list) joined "
    "to a CSV string (collect order is shuffle-nondeterministic, so the "
    "sort IS the determinism discipline). Scalar output only — the "
    "driver canonicalizer can't hash array cells.",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    keys = F.array_sort(F.collect_list("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.size(keys).cast("long").alias("n_orders"),
        F.array_join(
            F.transform(keys, lambda x: x.cast("string")), ","
        ).alias("order_keys_csv"),
    )


@register(
    "agg_corr",
    oracle=f"""
        WITH raw AS (
        SELECT l_returnflag,
               ({osum('l_quantity * l_extendedprice')}
                - {osum('l_quantity')} * {osum('l_extendedprice')} / COUNT(*))
               / sqrt(({osum('l_quantity * l_quantity')}
                       - {osum('l_quantity')} * {osum('l_quantity')} / COUNT(*))
                      * ({osum('l_extendedprice * l_extendedprice')}
                         - {osum('l_extendedprice')} * {osum('l_extendedprice')} / COUNT(*)))
                   AS corr_raw
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(CAST(corr_raw AS DECIMAL(20,12)) AS DOUBLE) AS corr_qty_price
    FROM raw
    """,
    doc="Pearson correlation from exact decimal sums (native CORR "
    "folds doubles in partition order — nondeterministic). The final "
    "value crosses a DECIMAL(20,12) bridge: the two engines' compilers "
    "group the divide/sqrt chain differently (FMA), which flips the "
    "last ulp; quantizing at 1e-12 absorbs it.",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count(F.lit(1))
    sq, sp = dsum(q), dsum(p)
    sqp = dsum(q * p)
    sqq, spp = dsum(q * q), dsum(p * p)
    corr = (sqp - sq * sp / n) / F.sqrt(
        (sqq - sq * sq / n) * (spp - sp * sp / n)
    )
    return li.groupBy("l_returnflag").agg(
        corr.cast("decimal(20,12)").cast("double").alias("corr_qty_price")
    )


@register(
    "posexplode_words",
    oracle="""
        SELECT doc_id,
               unnest(range(0, least(len(string_split_regex(lower(text), '\\s+')), 5))) AS pos,
               unnest(string_split_regex(lower(text), '\\s+')[1:5]) AS word
        FROM documents
    """,
    doc="Positional explode (posexplode) of the first 5 tokens — "
    "DuckDB's lockstep multi-unnest as the oracle.",
)
def posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.slice(F.split(F.lower("text"), r"\s+"), 1, 5)
    return (
        d.select("doc_id", F.posexplode(words).alias("pos", "word"))
        # posexplode's ordinal is int32; the oracle's range() is int64 —
        # pin the driver-visible type.
        .withColumn("pos", F.col("pos").cast("long"))
    )


@register(
    "agg_mode",
    oracle="""
        SELECT o_orderstatus, o_orderpriority AS mode_priority,
               CAST(n AS BIGINT) AS n
        FROM (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderstatus
                       ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        ) WHERE rn = 1
    """,
    doc="Mode (most frequent value) per group with a total-order "
    "tiebreak (count desc, value asc) — two-phase count then a "
    "group-limit window; never a collect-and-count.",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").cast("long").alias("n"),
        )
    )


@register(
    "agg_skew_kurtosis",
    oracle=f"""
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {ogsum('value')} AS s1,
                   {ogsum('value * value')} AS s2,
                   {ogsum('value * value * value')} AS s3,
                   {ogsum('value * value * value * value')} AS s4
            FROM events GROUP BY event_type
        ), c AS (
            SELECT event_type, n, s1 / n AS mu,
                   (s2 / n) - ((s1 / n) * (s1 / n)) AS m2,
                   (s3 / n) - (3.0 * (s1 / n) * (s2 / n))
                       + (2.0 * (s1 / n) * (s1 / n) * (s1 / n)) AS m3,
                   (s4 / n) - (4.0 * (s1 / n) * (s3 / n))
                       + (6.0 * (s1 / n) * (s1 / n) * (s2 / n))
                       - (3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                       AS m4
            FROM m
        )
        SELECT event_type, CAST(n AS BIGINT) AS n, mu, m2 AS variance_pop,
               m3 / (m2 * sqrt(m2)) AS skewness,
               (m4 / (m2 * m2)) - 3.0 AS excess_kurtosis
        FROM c
    """,
    doc="Higher-moment statistics (ClickHouse skewPop/kurtPop): "
    "population skewness and excess kurtosis per event type from "
    "RAW moment sums, combined with the standard central-moment "
    "identities. ALL four moments are summed on the exact FLOOR grid "
    "(exprs.gsum: floor(v^k * 1e6) in DECIMAL(38,0), rendered to "
    "double through a VARCHAR) — the round-14 migration off "
    "DECIMAL(38,6), whose per-row ROUND at 1e-6 of computed doubles "
    "and whose hugeint->double double-rounding in DuckDB were the "
    "two mechanisms of this key's sf1 float-frontier divergence. "
    "Every post-agg step is plain IEEE +,-,*,/ and sqrt on identical "
    "doubles — pow() is deliberately written as m2*sqrt(m2), since "
    "pow itself is a libm call engines may round differently. One "
    "two-phase hash agg; moment sums are the mergeable state (shards "
    "combine by addition, same contract as merge_aggregating_shards).",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        gsum(v).alias("s1"),
        gsum(v * v).alias("s2"),
        gsum(v * v * v).alias("s3"),
        gsum(v * v * v * v).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = (F.col("s2") / F.col("n")) - (mu * mu)
    m3 = (F.col("s3") / F.col("n")) - (F.lit(3.0) * mu * (F.col("s2") / F.col("n"))) + (
        F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        (F.col("s4") / F.col("n"))
        - (F.lit(4.0) * mu * (F.col("s3") / F.col("n")))
        + (F.lit(6.0) * mu * mu * (F.col("s2") / F.col("n")))
        - (F.lit(3.0) * mu * mu * mu * mu)
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        mu.alias("mu"),
        m2.alias("variance_pop"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        ((m4 / (m2 * m2)) - F.lit(3.0)).alias("excess_kurtosis"),
    )


#: Shared with exprs.py — kept under the historical private name so
#: existing call sites and tests keep working.
_exact_floor_decimal = exact_floor_decimal


def _moment_grid_sum(k: int):
    """SUM(floor(value^k * 1e6)) in DECIMAL(38,0) — the exact,
    order-free, mergeable raw-moment accumulator. value^k is ONE
    chain of IEEE multiplies on identical parquet doubles (both
    engines produce the same double), the 1e6 scale is one more, and
    floor is exact — the q1_pricing_summary_grid determinism argument
    applied to each power.

    Floor domain: Spark's floor(DOUBLE) returns LONG, so a bare floor
    would silently wrap (non-ANSI) once |value^k·1e6| exceeds int64 —
    |value| ≳ 1742 at k=4 — while the DuckDB oracle floors to double
    and casts to decimal binary-exactly. _exact_floor_decimal extends
    the per-row bound to the decimal's 38 digits (~1e38), same as the
    documented sum headroom, not int64."""
    v = F.col("value")
    p = v
    for _ in range(k - 1):
        p = p * v
    return F.sum(_exact_floor_decimal(p * F.lit(1000000.0)))


def _moment_ogrid_sum(k: int) -> str:
    expr = " * ".join(["value"] * k)
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1000000.0) AS DECIMAL(38,0))) "
        f"AS VARCHAR)"
    )


@register(
    "stats_moments_grid",
    oracle=f"""
        SELECT event_type, COUNT(*) AS n,
               {_moment_ogrid_sum(1)} AS s1_grid,
               {_moment_ogrid_sum(2)} AS s2_grid,
               {_moment_ogrid_sum(3)} AS s3_grid,
               {_moment_ogrid_sum(4)} AS s4_grid
        FROM events GROUP BY event_type
    """,
    doc="The moment family's exactness-at-ANY-scale anchor (the "
    "q1_pricing_summary_grid convention applied to raw moments): "
    "count plus the four micro-grid power sums floor(value^k * 1e6) "
    "per event_type, accumulated order-free in DECIMAL(38,0) and "
    "emitted as VARCHAR — never cast to DOUBLE, which is exactly "
    "where the flat moment/t-stat family's sf1-arm frontier lives "
    "(a DECIMAL(38,0) sum past 2^53 renders through double "
    "differently per engine in the 13th-17th significant digit; the "
    "11 allowlisted KNOWN_LIMIT_FAILS rows). These five columns are "
    "the complete mergeable sufficient statistics for mean, "
    "variance, skewness, and kurtosis of the gridded values — "
    "agg_stats / agg_skew_kurtosis / the t-stat battery are all "
    "derivable downstream — and they stay hash-exact to ~1e21 rows "
    "at the fixture's value domain (value^4 * 1e6 < 6e16 raw units "
    "per row against 38 digits of headroom). Plan: one partial+final "
    "hash agg over 5 groups, single exchange, map-side combined — an "
    "agg, not a window, so the low-cardinality group key is NOT a "
    "straggler here (contrast agg_percentile_exact_twostage's "
    "docstring).",
)
def stats_moments_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _moment_grid_sum(1).cast("string").alias("s1_grid"),
        _moment_grid_sum(2).cast("string").alias("s2_grid"),
        _moment_grid_sum(3).cast("string").alias("s3_grid"),
        _moment_grid_sum(4).cast("string").alias("s4_grid"),
    )


@register(
    "stats_welch_ttest",
    oracle=f"""
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {ogsum('value')} AS s1,
                   {ogsum('value * value')} AS s2
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY event_type
        ), st AS (
            SELECT event_type, n, s1 / n AS mean,
                   ((s2 - ((s1 / n) * s1)) / (n - 1.0)) / n AS sem2
            FROM g
        )
        SELECT a.mean AS mean_click, b.mean AS mean_view,
               CAST(a.n AS BIGINT) AS n_click, CAST(b.n AS BIGINT) AS n_view,
               (a.mean - b.mean) / sqrt(a.sem2 + b.sem2) AS t_stat,
               ((a.sem2 + b.sem2) * (a.sem2 + b.sem2))
                   / ((a.sem2 * a.sem2) / (a.n - 1.0)
                      + (b.sem2 * b.sem2) / (b.n - 1.0)) AS df_welch
        FROM (SELECT * FROM st WHERE event_type = 'click') a
        CROSS JOIN (SELECT * FROM st WHERE event_type = 'view') b
    """,
    doc="Welch two-sample t-test (ClickHouse welchTTest): click vs "
    "view values — sample means and squared standard errors from "
    "exact floor-grid sums (round-14: exprs.gsum, DECIMAL(38,0) "
    "integers rendered to double through a VARCHAR), t statistic and Welch-Satterthwaite degrees "
    "of freedom as pure IEEE arithmetic (no pow, no distribution "
    "lookup — the p-value belongs client-side). One filtered "
    "two-group agg + a 1x1 cross of the two stat rows; at any scale "
    "the heavy work is the same mergeable moment-sum state as the "
    "other stats operators.",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    v = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        gsum(v).alias("s1"),
        gsum(v * v).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    sem2 = ((F.col("s2") - (mean * F.col("s1"))) / (F.col("n") - F.lit(1.0))) / F.col(
        "n"
    )
    st = g.select("event_type", "n", mean.alias("mean"), sem2.alias("sem2"))
    a = st.filter(F.col("event_type") == "click").alias("a")
    b = st.filter(F.col("event_type") == "view").alias("b")
    num = F.col("a.sem2") + F.col("b.sem2")
    return a.crossJoin(b).select(
        F.col("a.mean").alias("mean_click"),
        F.col("b.mean").alias("mean_view"),
        F.col("a.n").cast("long").alias("n_click"),
        F.col("b.n").cast("long").alias("n_view"),
        ((F.col("a.mean") - F.col("b.mean")) / F.sqrt(num)).alias("t_stat"),
        (
            (num * num)
            / (
                (F.col("a.sem2") * F.col("a.sem2")) / (F.col("a.n") - F.lit(1.0))
                + (F.col("b.sem2") * F.col("b.sem2")) / (F.col("b.n") - F.lit(1.0))
            )
        ).alias("df_welch"),
    )


@register(
    "stats_mannwhitney_u",
    oracle="""
        WITH pooled AS (
            SELECT event_type, value,
                   RANK() OVER (ORDER BY value) AS rmin,
                   RANK() OVER (ORDER BY value)
                       + COUNT(*) OVER (PARTITION BY value) - 1 AS rmax
            FROM events WHERE event_type IN ('click', 'view')
        ), ranked AS (
            SELECT event_type,
                   (CAST(rmin AS DOUBLE) + CAST(rmax AS DOUBLE)) / 2.0
                       AS avg_rank
            FROM pooled
        ), agg AS (
            SELECT CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                        AS DOUBLE) AS n1,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                        AS DOUBLE) AS n2,
                   SUM(avg_rank * 2.0)
                       FILTER (WHERE event_type = 'click') AS r1_doubled
            FROM ranked
        )
        SELECT CAST(n1 AS BIGINT) AS n_click,
               CAST(n2 AS BIGINT) AS n_view,
               (r1_doubled / 2.0) AS rank_sum_click,
               ((r1_doubled / 2.0) - (n1 * (n1 + 1.0) / 2.0)) AS u_click
        FROM agg
    """,
    doc="Mann-Whitney U (ClickHouse mannWhitneyUTest): rank-sum of "
    "the click sample over the pooled click/view values with "
    "midrank tie handling. Midranks depend only on the VALUE (ties "
    "share one midrank), so the whole statistic reduces to the "
    "distinct-value histogram: for value v with n_all(v) pooled "
    "rows of which n_click(v) are clicks, rmin+rmax = "
    "2*cum_all(v) - n_all(v) + 1 (cum_all = inclusive running row "
    "count in value order), and the doubled rank sum is "
    "sum(n_click * (2*cum_all - n_all + 1)) — every term an exact "
    "integer, one halving at the end. The running count comes from "
    "the two-pass distributed prefix sum (distrank.global_order_scan "
    "— sort_multi's shape), so no single-partition window touches "
    "row-scaled data and the histogram grain replaces the old "
    "row-grain global RANK entirely; summed in DECIMAL(38,0) so the "
    "partial order never matters.",
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select("event_type", "value")
    hist = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
    )
    scanned = global_order_scan(
        hist, (F.col("value"),), cumsum={"cum_all": F.col("n_all")}
    )
    avg2 = (
        F.lit(2) * F.col("cum_all") - F.col("n_all") + F.lit(1)
    )  # rmin + rmax, exact integer per distinct value
    agg = scanned.agg(
        F.sum("n_click").cast("double").alias("n1"),
        F.sum(F.col("n_all") - F.col("n_click")).cast("double").alias("n2"),
        F.sum((F.col("n_click") * avg2).cast("decimal(38,0)"))
        .cast("double")
        .alias("r1_doubled"),
    )
    r1 = F.col("r1_doubled") / F.lit(2.0)
    return agg.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
        r1.alias("rank_sum_click"),
        (r1 - (F.col("n1") * (F.col("n1") + F.lit(1.0)) / F.lit(2.0))).alias(
            "u_click"
        ),
    )


@register(
    "stats_cramers_v",
    oracle="""
        WITH obs AS (
            SELECT event_type, CAST(user_id % 4 AS BIGINT) AS ub,
                   CAST(COUNT(*) AS DOUBLE) AS o
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT SUM(o) AS n,
                   COUNT(DISTINCT event_type) AS kr,
                   COUNT(DISTINCT ub) AS kc
            FROM obs
        ), rows_ AS (
            SELECT event_type, SUM(o) AS ro FROM obs GROUP BY event_type
        ), cols_ AS (
            SELECT ub, SUM(o) AS co FROM obs GROUP BY ub
        ), chi AS (
            SELECT (CAST(SUM(CAST(floor(
                       ((obs.o - (rows_.ro * cols_.co / tot.n))
                        * (obs.o - (rows_.ro * cols_.co / tot.n)))
                       / (rows_.ro * cols_.co / tot.n)
                       * 1000000000000.0)
                       AS DECIMAL(38,0))) AS DOUBLE)
                    / 1000000000000.0) AS chi2,
                   min(tot.n) AS n, min(tot.kr) AS kr, min(tot.kc) AS kc
            FROM obs
            JOIN rows_ ON obs.event_type = rows_.event_type
            JOIN cols_ ON obs.ub = cols_.ub
            CROSS JOIN tot
        )
        SELECT chi2,
               sqrt(chi2 / (n * (CAST(least(kr, kc) AS DOUBLE) - 1.0)))
                   AS cramers_v
        FROM chi
    """,
    doc="Cramer's V (ClickHouse cramersV): association strength "
    "between event_type and a user bucket from the chi-squared "
    "statistic over the contingency table. Observed and expected "
    "counts are ratios of exact integer counts, per-cell chi2 terms "
    "sum on a 1e-12 floor grid (exact 64-bit adds, order-free — the "
    "same grid pagerank uses), and the sum runs "
    "over at most |types|x|buckets| cells (vocabulary-sized, never "
    "row-scaled), and the only non-arithmetic op is one final sqrt "
    "— deterministic to the bit. Plan: one (type,bucket) count agg, "
    "two marginal re-aggs of the CELL table, broadcast joins back.",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(4)).cast("long").alias("ub")
    )
    # the cell table is vocabulary-sized and has FOUR consumers
    # (totals, two marginals, the chi join) — materialize it once or
    # every consumer rescans the event table.
    obs = materialize(
        ev.groupBy("event_type", "ub")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("kr"),
        F.countDistinct("ub").alias("kc"),
    )
    rows_ = obs.groupBy("event_type").agg(F.sum("o").alias("ro"))
    cols_ = obs.groupBy("ub").agg(F.sum("o").alias("co"))
    cell = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "ub")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("ro") * F.col("co") / F.col("n")
    term = ((F.col("o") - e) * (F.col("o") - e)) / e
    chi = cell.agg(
        (
            F.sum(
                F.floor(term * F.lit(1000000000000.0)).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1000000000000.0)
        ).alias("chi2"),
        F.min("n").alias("n"),
        F.min("kr").alias("kr"),
        F.min("kc").alias("kc"),
    )
    return chi.select(
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (F.col("n") * (F.least("kr", "kc").cast("double") - F.lit(1.0)))
        ).alias("cramers_v"),
    )


@register(
    "quantile_timing_grid",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0),
                         30000) AS ms,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, ms,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY ms)
                       AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM g
        )
        SELECT event_type,
               CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT)
                             THEN ms END) AS BIGINT) AS p50_ms,
               CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT)
                             THEN ms END) AS BIGINT) AS p90_ms,
               CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.99 * n) AS BIGINT)
                             THEN ms END) AS BIGINT) AS p99_ms
        FROM t GROUP BY event_type
    """,
    doc="ClickHouse quantileTiming: latency quantiles over a BOUNDED "
    "integer millisecond grid (values clamped to [0, 30000]; CH "
    "widens the grid resolution above 1024 ms — the fixed-grid "
    "simplification here keeps the same state bound with exact "
    "grid-value results). The point vs agg_percentile_exact: state "
    "per group is the OCCUPIED GRID CELLS (≤ 30k counters), never "
    "the row count — the reason CH serves p99 dashboards over "
    "billions of rows. Plan: two-phase count agg on (group, cell) — "
    "map-side combine absorbs repeats — then a cumulative window "
    "over the ≤30k cells per group picks the smallest cell covering "
    "each rank. Integer counts, integer cells, ceil of an exact "
    "product: every compared value is engine-identical.",
)
def quantile_timing_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ms = F.least(
        F.greatest(F.floor("value").cast("long"), F.lit(0)), F.lit(30000)
    )
    g = ev.groupBy("event_type", ms.alias("ms")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    t = g.select(
        "event_type",
        "ms",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    def pick(q: float):
        rank = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.min(F.when(F.col("cum") >= rank, F.col("ms")))
    return t.groupBy("event_type").agg(
        pick(0.5).cast("long").alias("p50_ms"),
        pick(0.9).cast("long").alias("p90_ms"),
        pick(0.99).cast("long").alias("p99_ms"),
    )


# ---- round-7 additions ----


@register(
    "quantile_exact_weighted_grid",
    oracle="""
        WITH t AS (
            SELECT l_returnflag,
                   CAST(floor(l_extendedprice * 100.0) AS BIGINT)
                       AS cents,
                   CAST(floor(l_quantity) AS BIGINT) AS w,
                   l_orderkey, l_linenumber
            FROM lineitem
        ), c AS (
            SELECT l_returnflag, cents, w,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag
                       ORDER BY cents, l_orderkey, l_linenumber)
                       AS BIGINT) AS cumw,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag)
                       AS BIGINT) AS total_w
            FROM t
        )
        SELECT l_returnflag,
               CAST(MAX(total_w) AS BIGINT) AS total_w,
               CAST(MIN(CASE WHEN cumw * 4 >= total_w * 1
                    THEN cents END) AS BIGINT) AS wq25_cents,
               CAST(MIN(CASE WHEN cumw * 4 >= total_w * 2
                    THEN cents END) AS BIGINT) AS wq50_cents,
               CAST(MIN(CASE WHEN cumw * 4 >= total_w * 3
                    THEN cents END) AS BIGINT) AS wq75_cents
        FROM c GROUP BY l_returnflag
    """,
    doc="Exact WEIGHTED quantile grid — ClickHouse "
    "quantileExactWeighted(0.25/0.5/0.75)(price, quantity) per "
    "return flag: the smallest value whose cumulative weight reaches "
    "q·W, all on integers (cents, integer weights, and the "
    "threshold test cleared of division: cumw·4 ≥ W·qnum — no "
    "float quantile arithmetic anywhere). The within-ties cumsum "
    "order is pinned by the (orderkey, linenumber) total order, and "
    "the selected value is provably order-insensitive across ties "
    "(only block-final cumulative weights decide the crossing "
    "block). Plan: ONE l_returnflag exchange serves both windows "
    "(cumsum and group total — same partitioning, the second window "
    "is sort-free) and the final aggregate; three quantiles cost no "
    "more than one. At 100 TB this is the weighted-percentile "
    "pattern that avoids quantile sketches when exactness is "
    "contractual (billing SLAs).",
)
def quantile_exact_weighted_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0)
        .cast("long")
        .alias("cents"),
        F.floor("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    w_all = Window.partitionBy("l_returnflag")
    c = t.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).cast("long").alias("cumw"),
        F.sum("w").over(w_all).cast("long").alias("total_w"),
    )

    def pick(qnum: int):
        return F.min(
            F.when(
                F.col("cumw") * 4 >= F.col("total_w") * qnum,
                F.col("cents"),
            )
        )

    return c.groupBy("l_returnflag").agg(
        F.max("total_w").cast("long").alias("total_w"),
        pick(1).cast("long").alias("wq25_cents"),
        pick(2).cast("long").alias("wq50_cents"),
        pick(3).cast("long").alias("wq75_cents"),
    )


@register(
    "win_first_last_ignore_nulls",
    oracle="""
        WITH t AS (
            SELECT user_id, epoch_us(ts) AS us, event_id,
                   CASE WHEN event_type <> 'error'
                        THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                   END AS ok_cents
            FROM events
        ), w AS (
            SELECT user_id,
                   FIRST_VALUE(ok_cents IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)
                       AS first_ok_cents,
                   LAST_VALUE(ok_cents IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)
                       AS last_ok_cents,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY us, event_id) AS rn
            FROM t
        )
        SELECT user_id, first_ok_cents, last_ok_cents
        FROM w WHERE rn = 1
    """,
    doc="FIRST_VALUE / LAST_VALUE with IGNORE NULLS — the window "
    "variant ClickHouse (anyLast + -If), ANSI, and DuckDB all "
    "support and that trips engines up at partition edges: per user "
    "(event-time order, full-frame), the first and last non-error "
    "measurement, with error events contributing NULL. Users whose "
    "events are ALL errors yield NULL/NULL — the nullable-int "
    "column class the compare harness models explicitly. One "
    "user_id exchange serves both full-frame windows and the "
    "rn=1 representative filter; money on the cent grid.",
)
def win_first_last_ignore_nulls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(
            F.col("event_type") != "error",
            F.floor(F.col("value") * 100.0 + 0.5).cast("long"),
        ).alias("ok_cents"),
    )
    frame = Window.partitionBy("user_id").orderBy("us", "event_id")
    full = frame.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = e.select(
        "user_id",
        F.first("ok_cents", ignorenulls=True)
        .over(full)
        .alias("first_ok_cents"),
        F.last("ok_cents", ignorenulls=True)
        .over(full)
        .alias("last_ok_cents"),
        F.row_number().over(frame).alias("rn"),
    )
    return w.filter(F.col("rn") == 1).drop("rn")


@register(
    "agg_combinators_array",
    oracle="""
        WITH x AS (
            SELECT label, vec_id,
                   CAST(floor(CAST(u.e AS DOUBLE) * 1000000.0) AS BIGINT)
                       AS micro
            FROM embeddings, unnest(embedding) u(e)
        )
        SELECT label,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) AS BIGINT) AS n_elems,
               CAST(SUM(micro) AS BIGINT) AS sum_micro,
               CAST(COUNT(DISTINCT micro) AS BIGINT) AS uniq_micro,
               CAST(MIN(micro) AS BIGINT) AS min_micro,
               CAST(MAX(micro) AS BIGINT) AS max_micro
        FROM x GROUP BY label
    """,
    doc="ClickHouse -Array aggregate combinators (sumArray / "
    "uniqArray / minArray / maxArray): aggregate over every ELEMENT "
    "of an array column per group, not over the arrays — per label, "
    "element count, exact element sum, distinct-element "
    "cardinality, and extrema over the embeddings vectors, all on "
    "the integer µ-grid (floor(x·1e6) of the float32 read as "
    "double, identical in both engines). Spark spells the "
    "combinator as a map-side explode feeding ONE two-phase hash "
    "agg — the explode multiplies rows 64× but never shuffles "
    "un-aggregated elements: partials absorb them per task, so the "
    "exchange carries label-bounded rows only. The distinct "
    "cardinality adds Spark's expand-based second exchange "
    "(count-distinct canonical form).",
)
def agg_combinators_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        "vec_id",
        F.explode(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1000000.0).cast(
                    "long"
                ),
            )
        ).alias("micro"),
    )
    return x.groupBy("label").agg(
        F.countDistinct("vec_id").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("n_elems"),
        F.sum("micro").cast("long").alias("sum_micro"),
        F.countDistinct("micro").cast("long").alias("uniq_micro"),
        F.min("micro").cast("long").alias("min_micro"),
        F.max("micro").cast("long").alias("max_micro"),
    )
