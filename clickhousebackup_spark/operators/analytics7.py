"""Round-8 operator additions: correlation matrix, Kendall's tau-b,
Tukey-fence series outliers, Holt linear (double exponential)
smoothing, MySQL/ClickHouse week modes, and three SQL-surface parity
keys (UNPIVOT clause, named WINDOW clause, inline VALUES table).

ClickHouse parity targets: `corrMatrix` (`stats_corr_matrix` — all
pairwise Pearson r in ONE aggregation pass), `kendallTau`/`rankCorr`
(`stats_kendall_tau` — tau-b with tie correction from pure integer
pair counts), `seriesOutliersDetectTukey` (`ts_outliers_tukey` —
1.5-IQR fences per series), `exponentialMovingAverage`'s trend-aware
sibling Holt linear smoothing (`ts_holt_linear` — deterministic
left-fold recursion, the same both-engines fold sim/dedup use),
`toWeek`/`toYearWeek` mode arithmetic (`date_week_mode` — MySQL mode
0 weeks vs ISO weeks from integer day-of-year arithmetic), and the
modern SQL surface ClickHouse/DuckDB/Spark all grew: UNPIVOT
(`sql_unpivot_syntax`), the named WINDOW clause (`sql_named_window`),
and inline VALUES derived tables (`sql_values_inline`).

Reference mapping: the reference (backup.sh:38-45) delegates all
query execution to the ClickHouse server; each key re-expresses one
server-side capability as a first-class Spark DataFrame plan.

Float-determinism rules (registry docstring): doubles come from
exact DECIMAL(38,6) sums, exact IEEE +,-,*,/ and sqrt over them, or
left-to-right folds with identical expression trees in both engines;
the corr chain crosses the DECIMAL(20,12) bridge agg_corr
established (FMA regrouping flips the last ulp). Window/integer SUMs
CAST to BIGINT in oracles (HUGEINT trap); every rank carries a
total-order tiebreak; no per-row Python anywhere.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import dsum, osum
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

#: Numeric lineitem columns entering the correlation matrix.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: Holt linear smoothing constants (level / trend). Written as the
#: literals 0.5 / 0.3 / 0.7 in BOTH engines' fold expressions so the
#: parsed doubles are identical.
HOLT_ALPHA = "0.5"
HOLT_BETA = "0.3"
HOLT_ONE_MINUS_BETA = "0.7"


def _corr_sql(a: str, b: str) -> str:
    """DuckDB Pearson r of (a, b) from exact decimal moments, through
    the DECIMAL(20,12) bridge (same formulation as agg_corr)."""
    return f"""CAST(CAST(
        ({osum(f'{a} * {b}')} - {osum(a)} * {osum(b)} / COUNT(*))
        / sqrt(({osum(f'{a} * {a}')} - {osum(a)} * {osum(a)} / COUNT(*))
               * ({osum(f'{b} * {b}')} - {osum(b)} * {osum(b)} / COUNT(*)))
        AS DECIMAL(20,12)) AS DOUBLE)"""


@register(
    "stats_corr_matrix",
    oracle="SELECT * FROM ("
    + "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, {_corr_sql(a, b)} AS corr "
        "FROM lineitem"
        for a, b in combinations(CORR_COLS, 2)
    )
    + ")",
    doc="Pairwise Pearson correlation matrix over the four numeric "
    "lineitem measures (ClickHouse corrMatrix), emitted long-format "
    "(col_a, col_b, corr). ALL 14 moments (4 sums, 4 square sums, 6 "
    "cross sums) come out of ONE partial+final hash aggregation over "
    "ONE table scan — the single-pass shape corrMatrix exists for; "
    "the 6 output rows are a 1-row explode afterwards. The oracle "
    "necessarily rescans per pair (plain SQL), but values match "
    "because every moment is an order-free exact decimal sum and "
    "the r chain crosses agg_corr's DECIMAL(20,12) bridge.",
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).alias("n")
    aggs = [n]
    for c in CORR_COLS:
        aggs.append(dsum(F.col(c)).alias(f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for a, b in combinations(CORR_COLS, 2):
        aggs.append(dsum(F.col(a) * F.col(b)).alias(f"sx_{a}_{b}"))
    m = li.agg(*aggs)

    def corr(a: str, b: str):
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        saa, sbb = F.col(f"ss_{a}"), F.col(f"ss_{b}")
        sab = F.col(f"sx_{a}_{b}")
        nn = F.col("n")
        r = (sab - sa * sb / nn) / F.sqrt(
            (saa - sa * sa / nn) * (sbb - sb * sb / nn)
        )
        return r.cast("decimal(20,12)").cast("double")

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr(a, b).alias("corr"),
            )
            for a, b in combinations(CORR_COLS, 2)
        ]
    )
    return m.select(F.explode(pairs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


@register(
    "stats_kendall_tau",
    oracle="""
        WITH cells AS (
            SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(COUNT(*) AS BIGINT) AS x,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS y
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type,
                   CASE WHEN (a.x < b.x AND a.y < b.y)
                          OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
                   CASE WHEN (a.x < b.x AND a.y > b.y)
                          OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS d,
                   CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
                   CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
            FROM cells a JOIN cells b
              ON a.event_type = b.event_type AND a.day < b.day
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(c) AS BIGINT) AS concordant,
               CAST(SUM(d) AS BIGINT) AS discordant,
               (CAST(SUM(c) AS DOUBLE) - CAST(SUM(d) AS DOUBLE))
                   / sqrt(NULLIF(
                       (CAST(COUNT(*) AS DOUBLE) - CAST(SUM(tx) AS DOUBLE))
                       * (CAST(COUNT(*) AS DOUBLE) - CAST(SUM(ty) AS DOUBLE)),
                       0)) AS tau_b
        FROM pairs GROUP BY event_type
    """,
    doc="Kendall's tau-b between a series' daily VOLUME and its daily "
    "VALUE SUM, per event_type (ClickHouse kendallTau / the rankCorr "
    "family): do days with more events also move more value? "
    "Concordant/discordant/tie counts are PURE INTEGER comparisons "
    "over all day pairs (y is an exact decimal day-sum, so even the "
    "double equality in the tie term is deterministic), and tau_b = "
    "(C-D)/sqrt((n0-tx)(n0-ty)) is exact arithmetic + one sqrt. The "
    "O(days^2) pair join is quadratic in the BOUNDED calendar, not "
    "in rows — the cell table is |types|x|days| regardless of scale, "
    "so at 100 TB the cost stays in the one day-cell aggregation "
    "scan and the pair join is a broadcast of a vocabulary-sized "
    "table. A series whose day cells ALL tie in x (or y) zeroes a "
    "tie-corrected term; tau_b is NULL then (both engines via the "
    "same guard) instead of NaN-vs-error divergence.",
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the day-cell table self-joins; materialize the |types|x|days|
    # rows once or both join sides replay the full events scan + agg
    cells = materialize(
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            dsum(F.col("value")).alias("y"),
        )
    )
    a, b = cells.alias("a"), cells.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1)
        .otherwise(0)
        .alias("c"),
        F.when(((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1)
        .otherwise(0)
        .alias("d"),
        F.when(ax == bx, 1).otherwise(0).alias("tx"),
        F.when(ay == by, 1).otherwise(0).alias("ty"),
    )
    n0 = F.count(F.lit(1)).cast("double")
    sc, sd = F.sum("c").cast("double"), F.sum("d").cast("double")
    stx, sty = F.sum("tx").cast("double"), F.sum("ty").cast("double")
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("c").cast("long").alias("concordant"),
        F.sum("d").cast("long").alias("discordant"),
        F.when(
            (n0 - stx) * (n0 - sty) > 0,
            (sc - sd) / F.sqrt((n0 - stx) * (n0 - sty)),
        ).alias("tau_b"),
    )


def _q_sql(q: str) -> str:
    """DuckDB exact interpolated quantile of `value` from shared
    row_number arithmetic (agg_percentile_exact's formulation)."""
    return f"""(MAX(CASE WHEN rn = CAST(floor((n - 1) * {q}) AS BIGINT) + 1
                    THEN value END)
        + ((MAX(n) - 1) * {q} - floor((MAX(n) - 1) * {q}))
          * (MAX(CASE WHEN rn = least(CAST(floor((n - 1) * {q}) AS BIGINT) + 2, n)
                 THEN value END)
             - MAX(CASE WHEN rn = CAST(floor((n - 1) * {q}) AS BIGINT) + 1
                   THEN value END)))"""


@register(
    "ts_outliers_tukey",
    oracle=f"""
        WITH ranked AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ), fences AS (
            SELECT event_type,
                   CAST(MAX(n) AS BIGINT) AS n,
                   {_q_sql('0.25')} AS q1,
                   {_q_sql('0.75')} AS q3
            FROM ranked GROUP BY event_type
        )
        SELECT f.event_type, f.n, f.q1, f.q3,
               f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
               f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence,
               CAST(SUM(CASE WHEN e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM events e JOIN fences f ON e.event_type = f.event_type
        GROUP BY f.event_type, f.n, f.q1, f.q3
    """,
    doc="Tukey-fence outlier detection per series (ClickHouse "
    "seriesOutliersDetectTukey): exact interpolated Q1/Q3 of value "
    "per event_type via agg_percentile_exact's shared row_number "
    "arithmetic, 1.5-IQR fences, and the count of points beyond "
    "each fence. Every double is stored values + exact IEEE "
    "+,-,*,/ — no float hazard; fence counts are integers. Plan: "
    "one per-type rank window (the per-key sort CH gets free from "
    "MergeTree order), one vocabulary-sized fence aggregate "
    "broadcast back onto a second scan for the beyond-fence "
    "counts. The fixture's value distribution is right-skewed, so "
    "n_high genuinely fires (n_low = 0 is corpus truth: the "
    "distribution is bounded at 0 on the left, nothing sits "
    "1.5 IQR below Q1 — the unit test pins both branches on a "
    "crafted series).",
)
def ts_outliers_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tukey_outliers(load_table(spark, sf_dir, "events"))


def tukey_outliers(ev: DataFrame) -> DataFrame:
    """Tukey-fence outliers over any (event_type, event_id, value)
    frame — factored out so the unit test can drive a crafted series
    through BOTH fence branches (the fixture only fires n_high)."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def qcol(q: float):
        pos = (F.max("n") - 1) * F.lit(q)
        g = pos - F.floor(pos)
        lo = F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n") - 1) * F.lit(q)).cast("long") + 1,
                F.col("value"),
            )
        )
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
        return lo + g * (hi - lo)

    fences = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        qcol(0.25).alias("q1"),
        qcol(0.75).alias("q3"),
    )
    lo_f = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi_f = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.select("event_type", "value")
        .join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "n", "q1", "q3")
        .agg(
            F.max(lo_f).alias("lo_fence"),
            F.max(hi_f).alias("hi_fence"),
            F.sum(F.when(F.col("value") < lo_f, 1).otherwise(0))
            .cast("long")
            .alias("n_low"),
            F.sum(F.when(F.col("value") > hi_f, 1).otherwise(0))
            .cast("long")
            .alias("n_high"),
        )
    )


@register(
    "ts_holt_linear",
    oracle=f"""
        WITH cells AS (
            SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   {osum('value')} / COUNT(*) AS ym
            FROM events GROUP BY 1, 2
        ), series AS (
            SELECT event_type,
                   list_transform(
                       list_sort(list(struct_pack(day := day, ym := ym))),
                       s -> [s.ym, 0.0]) AS seq
            FROM cells GROUP BY event_type
        ), folded AS (
            SELECT event_type, len(seq) AS n_days,
                   list_reduce(seq, (acc, x) ->
                       [{HOLT_ALPHA} * x[1]
                            + {HOLT_ALPHA} * (acc[1] + acc[2]),
                        {HOLT_BETA} * (({HOLT_ALPHA} * x[1]
                            + {HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
                            + {HOLT_ONE_MINUS_BETA} * acc[2]]
                   ) AS st
            FROM series
        )
        SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
               st[1] AS level, st[2] AS trend,
               st[1] + st[2] AS forecast_next
        FROM folded
    """,
    doc="Holt linear (double exponential) smoothing of the daily "
    "mean-value series per event_type — the trend-aware sibling of "
    "agg_ema / ClickHouse exponentialMovingAverage: level l = "
    "0.5*y + 0.5*(l+b), trend b = 0.3*(l'-l) + 0.7*b, seeded at "
    "(y_1, 0). The recursion is a LEFT-TO-RIGHT FOLD over the "
    "day-sorted series with textually identical literals in both "
    "engines (Spark aggregate() over slice(2..) seeded with element "
    "1 == DuckDB list_reduce's first-element seed), so every double "
    "is bit-identical; day means are exact decimal sums / counts. "
    "The fold is over the BOUNDED calendar (|days| per type), "
    "collected AFTER the day-cell aggregation — at 100 TB the scan "
    "aggregates down to |types|x|days| cells first and the "
    "sequential recursion (inherently serial, like any EMA) runs "
    "per-type on vocabulary-sized arrays.",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg((dsum(F.col("value")) / F.count(F.lit(1))).alias("ym"))
    series = cells.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "ym"))),
            lambda s: F.array(s["ym"], F.lit(0.0)),
        ).alias("seq")
    )
    fold = F.aggregate(
        F.slice(F.col("seq"), 2, F.size("seq") - 1),
        F.element_at(F.col("seq"), 1),
        lambda acc, x: F.array(
            F.lit(0.5) * x[0] + F.lit(0.5) * (acc[0] + acc[1]),
            F.lit(0.3)
            * (
                (F.lit(0.5) * x[0] + F.lit(0.5) * (acc[0] + acc[1]))
                - acc[0]
            )
            + F.lit(0.7) * acc[1],
        ),
    )
    return series.select(
        "event_type",
        F.size("seq").cast("long").alias("n_days"),
        fold[0].alias("level"),
        fold[1].alias("trend"),
        (fold[0] + fold[1]).alias("forecast_next"),
    )


def week_mode0_col(d):
    """MySQL/ClickHouse toWeek(d, 0): weeks start Sunday; days before
    the year's first Sunday are week 0. Pure integer arithmetic."""
    doy = F.dayofyear(d).cast("long")
    jan1_dow = (F.dayofweek(F.trunc(d, "year")) - 1).cast("long")
    offset = (7 - jan1_dow) % 7
    return F.when(doy - 1 < offset, F.lit(0).cast("long")).otherwise(
        F.floor((doy - 1 - offset) / 7).cast("long") + 1
    )


def yearweek_mode0_col(d):
    """MySQL YEARWEEK(d, 0) / ClickHouse toYearWeek(d): never emits
    week 00 — days before the year's first Sunday belong to the
    PREVIOUS year's last week (YEARWEEK('2024-01-01') = 202353, not
    202400). The rollback recomputes mode-0 week for Dec 31 of the
    prior year (never itself week 0: its doy >= 365 > any offset)."""
    yr = F.year(d).cast("long")
    py = (yr - 1).cast("int")
    p_jan1_dow = (F.dayofweek(F.make_date(py, F.lit(1), F.lit(1))) - 1).cast(
        "long"
    )
    p_offset = (7 - p_jan1_dow) % 7
    p_dec31_doy = F.dayofyear(F.make_date(py, F.lit(12), F.lit(31))).cast(
        "long"
    )
    p_week = F.floor((p_dec31_doy - 1 - p_offset) / 7).cast("long") + 1
    wk = week_mode0_col(d)
    return F.when(wk == 0, (yr - 1) * 100 + p_week).otherwise(
        yr * 100 + wk
    )


@register(
    "date_week_mode",
    oracle="""
        WITH days AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ), parts AS (
            SELECT d,
                   CAST(dayofyear(d) AS BIGINT) AS doy,
                   CAST(dayofweek(d) AS BIGINT) AS dow_sun0,
                   CAST(dayofweek(date_trunc('year', d)) AS BIGINT)
                       AS jan1_dow,
                   CAST(isoyear(d) AS BIGINT) AS iso_year,
                   CAST(weekofyear(d) AS BIGINT) AS week_iso,
                   CAST(year(d) AS BIGINT) AS yr,
                   CAST(dayofweek(make_date(CAST(year(d) AS INT) - 1, 1, 1))
                       AS BIGINT) AS p_jan1_dow,
                   CAST(dayofyear(make_date(CAST(year(d) AS INT) - 1, 12, 31))
                       AS BIGINT) AS p_dec31_doy
            FROM days
        ), weeks AS (
            SELECT *,
                   CASE WHEN doy - 1 < (7 - jan1_dow) % 7 THEN 0
                        ELSE (doy - 1 - (7 - jan1_dow) % 7) // 7 + 1 END
                       AS week_mode0,
                   (p_dec31_doy - 1 - (7 - p_jan1_dow) % 7) // 7 + 1
                       AS p_week
            FROM parts
        )
        SELECT strftime(d, '%Y-%m-%d') AS day, doy, dow_sun0, week_mode0,
               week_iso, iso_year,
               CASE WHEN week_mode0 = 0 THEN (yr - 1) * 100 + p_week
                    ELSE yr * 100 + week_mode0 END AS yearweek_mode0
        FROM weeks
    """,
    doc="toWeek / toYearWeek mode arithmetic (ClickHouse inherits "
    "MySQL's week modes): mode 0 (weeks start Sunday, days before "
    "the year's first Sunday are week 0) derived from PURE INTEGER "
    "day-of-year / day-of-week arithmetic — identical in both "
    "engines once Spark's Sunday=1 dayofweek is normalized to "
    "DuckDB's Sunday=0 — next to the ISO week/isoyear builtins "
    "(mode 3) both engines share. toYearWeek NEVER emits week 00: "
    "week-0 days roll back to the previous year's last week "
    "(YEARWEEK('2024-01-01') = 202353), which the fixture's Jan 1-6 "
    "days exercise; the known-value contract is pinned against "
    "MySQL ground truth in tests/test_determinism_r8.py (both "
    "engines share this formula, so parity alone could not catch a "
    "semantic drift — the round-8 review's lesson). One distinct "
    "over the calendar-bounded day set; constant-time expressions "
    "after that.",
)
def date_week_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct the calendar-bounded day set FIRST (one agg over the
    # scan), then the week arithmetic is constant work per day row.
    days = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.dayofyear("d").cast("long").alias("doy"),
        (F.dayofweek("d") - 1).cast("long").alias("dow_sun0"),
        week_mode0_col(F.col("d")).alias("week_mode0"),
        F.weekofyear("d").cast("long").alias("week_iso"),
        F.expr("extract(YEAROFWEEK FROM d)").cast("long").alias("iso_year"),
        yearweek_mode0_col(F.col("d")).alias("yearweek_mode0"),
    )


@register(
    "sql_unpivot_syntax",
    oracle=f"""
        SELECT l_returnflag, measure, val FROM (
            SELECT l_returnflag,
                   {osum('l_quantity')} AS sum_qty,
                   {osum('l_extendedprice')} AS sum_price,
                   {osum('l_discount')} AS sum_disc
            FROM lineitem GROUP BY l_returnflag
        ) UNPIVOT (val FOR measure IN (sum_qty, sum_price, sum_disc))
    """,
    doc="The SQL-standard UNPIVOT clause (Spark 3.4+, DuckDB, "
    "ClickHouse via ARRAY JOIN): three per-flag decimal-exact "
    "measure sums rotated to (measure, val) rows. Both engines run "
    "the same UNPIVOT text — proving the clause itself, not a "
    "stack()/unnest desugaring, matches. Wide-to-long after "
    "aggregation is a projection over the vocabulary-sized result; "
    "the one hash agg is the whole cost at any scale "
    "(unpivot_measures covers the pre-aggregation stack() form).",
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_unpv_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag, measure, val FROM (
            SELECT l_returnflag,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       AS sum_qty,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       AS sum_price,
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       AS sum_disc
            FROM lineitem_unpv_v GROUP BY l_returnflag
        ) UNPIVOT (val FOR measure IN (sum_qty, sum_price, sum_disc))
        """
    )


@register(
    "sql_named_window",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CAST(rank() OVER w AS BIGINT) AS price_rank,
               CAST(SUM(cents) OVER w2 AS BIGINT) AS run_cents
        FROM (
            SELECT o_orderkey, o_orderstatus, o_orderdate,
                   CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
            FROM orders
        )
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY cents DESC, o_orderkey),
               w2 AS (PARTITION BY o_orderstatus
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="The named WINDOW clause (SQL standard; Spark, DuckDB and "
    "ClickHouse all support it): one window reused by rank() and a "
    "second for a running cent sum, defined once after FROM instead "
    "of inline per expression. Both engines run the same WINDOW "
    "text. Money on the integer cent grid, both window SUM/rank "
    "outputs CAST BIGINT (HUGEINT trap), (cents, o_orderkey) and "
    "(o_orderdate, o_orderkey) total orders. Plan: both windows "
    "share the o_orderstatus partitioning — ONE exchange, two "
    "window operators over the same sort.",
)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_nw_v"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus,
               CAST(rank() OVER w AS LONG) AS price_rank,
               CAST(SUM(cents) OVER w2 AS LONG) AS run_cents
        FROM (
            SELECT o_orderkey, o_orderstatus, o_orderdate,
                   CAST(floor(o_totalprice * 100.0) AS LONG) AS cents
            FROM orders_nw_v
        )
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY cents DESC, o_orderkey),
               w2 AS (PARTITION BY o_orderstatus
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "sql_values_inline",
    oracle="""
        SELECT t.prio, t.weight,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) * t.weight AS BIGINT) AS weighted_n
        FROM orders o
        JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                     ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
             AS t(prio, weight)
          ON o.o_orderpriority = t.prio
        GROUP BY t.prio, t.weight
    """,
    doc="Inline VALUES derived table (the literal lookup-table "
    "pattern ClickHouse writes as VALUES/transform and every SQL "
    "dialect supports): a 5-row priority->weight map joined to "
    "orders, weighted counts per priority. Both engines run the "
    "same VALUES text; weights are integers so weighted_n is pure "
    "integer arithmetic (CAST BIGINT for the HUGEINT trap). Spark "
    "auto-broadcasts the LocalRelation — the join is a "
    "BroadcastHashJoin on the equi-key, one scan, one agg.",
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_vi_v"
    )
    return spark.sql(
        """
        SELECT t.prio, t.weight,
               CAST(COUNT(*) AS LONG) AS n,
               CAST(COUNT(*) * t.weight AS LONG) AS weighted_n
        FROM orders_vi_v o
        JOIN (SELECT * FROM VALUES
                  ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                  ('4-NOT SPECIFIED', 2), ('5-LOW', 1)
              AS t(prio, weight)) t
          ON o.o_orderpriority = t.prio
        GROUP BY t.prio, t.weight
        """
    )


@register(
    "ts_cumsum_reset",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                   CAST(floor(value * 100.0) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END
                       AS is_reset
            FROM events
        ), seg AS (
            SELECT user_id, event_id, event_type, us, cents,
                   CAST(SUM(is_reset) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS seg
            FROM e
        )
        SELECT user_id, event_id, seg,
               CAST(SUM(cents) OVER (PARTITION BY user_id, seg
                   ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS run_cents
        FROM seg
    """,
    doc="Resetting running sum (the runningAccumulate-with-reset / "
    "resettable-counter pattern CH metric pipelines build): a "
    "per-user cumulative cent sum that restarts at every 'signup' "
    "event. Segment id = cumsum of reset flags, running sum within "
    "(user, segment) — the same two-window trick sessionize_gap "
    "uses, and like there BOTH windows and the segment sum share "
    "the ONE user_id exchange (ClusteredDistribution(user, seg) is "
    "satisfied by hash(user): same-user rows are co-located, Spark "
    "only re-sorts). Money on the integer cent grid, (us, event_id) "
    "total order, window SUMs CAST BIGINT in the oracle (HUGEINT "
    "trap).",
)
def ts_cumsum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias(
            "is_reset"
        ),
    )
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.withColumn(
        "seg", F.sum("is_reset").over(w_seg).cast("long")
    )
    w_run = (
        Window.partitionBy("user_id", "seg")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "user_id",
        "event_id",
        "seg",
        F.sum("cents").over(w_run).cast("long").alias("run_cents"),
    )


@register(
    "sql_nulls_ordering",
    oracle="""
        SELECT user_id, event_id, sparse_cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY sparse_cents ASC NULLS LAST, event_id)
                   AS BIGINT) AS rn_nl,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY sparse_cents DESC NULLS FIRST, event_id)
                   AS BIGINT) AS rn_nf
        FROM (
            SELECT user_id, event_id,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE CAST(floor(value * 100.0) AS BIGINT)
                   END AS sparse_cents
            FROM events
        )
    """,
    doc="Explicit NULLS FIRST/LAST ordering parity — the dialect trap "
    "made first-class: Spark's default ASC is NULLS FIRST, DuckDB's "
    "is NULLS LAST, so any rank over a nullable key silently "
    "disagrees unless the placement is explicit. Both engines run "
    "the same explicit NULLS LAST (asc) and NULLS FIRST (desc) "
    "window text over a deterministically sparsified cent column; "
    "the ranks are the checked evidence that null placement "
    "matches. (event_id) tiebreak gives a total order among the "
    "NULL rows too. One user exchange serves both windows.",
)
def sql_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_no_v"
    )
    return spark.sql(
        """
        SELECT user_id, event_id, sparse_cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY sparse_cents ASC NULLS LAST, event_id)
                   AS LONG) AS rn_nl,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY sparse_cents DESC NULLS FIRST, event_id)
                   AS LONG) AS rn_nf
        FROM (
            SELECT user_id, event_id,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE CAST(floor(value * 100.0) AS LONG)
                   END AS sparse_cents
            FROM events_no_v
        )
        """
    )


@register(
    "sql_distinct_on",
    oracle="""
        SELECT DISTINCT ON (user_id)
               user_id, event_id, event_type,
               CAST(epoch_us(ts) AS BIGINT) AS us
        FROM events
        ORDER BY user_id, epoch_us(ts) DESC, event_id DESC
    """,
    doc="DISTINCT ON parity (DuckDB/Postgres syntax; ClickHouse "
    "spells it LIMIT 1 BY): latest event per user. The oracle runs "
    "NATIVE DISTINCT ON text; Spark has neither keyword, so the "
    "engine provides the canonical desugaring — row_number over the "
    "(ts, event_id) DESC total order, keep rn=1 — and the hash gate "
    "proves the desugar IS DISTINCT ON. Same WindowGroupLimit-"
    "pruned single-exchange shape as limit_by/win_keep_newest; this "
    "key pins the cross-dialect equivalence itself.",
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "dq_histogram_drift",
    oracle="""
        WITH binned AS (
            SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS b
            FROM events WHERE event_type IN ('click', 'error')
        ), cells AS (
            SELECT bin, CAST(SUM(a) AS BIGINT) AS n_a,
                   CAST(SUM(b) AS BIGINT) AS n_b
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM cells
        )
        SELECT bin, n_a, n_b,
               CAST(n_a * 1000 // NULLIF(ta, 0) AS BIGINT) AS share_a_pm,
               CAST(n_b * 1000 // NULLIF(tb, 0) AS BIGINT) AS share_b_pm,
               CAST(abs(n_a * 1000 // NULLIF(ta, 0)
                        - n_b * 1000 // NULLIF(tb, 0)) AS BIGINT)
                   AS gap_pm
        FROM cells CROSS JOIN tot
    """,
    doc="Distribution-drift check between two series (the "
    "data-quality sibling of dq_volume_anomaly: volume watches row "
    "COUNTS, this watches the value DISTRIBUTION — the first thing "
    "that silently shifts when an upstream schema or unit changes): "
    "10 fixed-width value bins, per-bin share in permille for each "
    "series, and the per-bin absolute gap whose sum is the L1 "
    "(total-variation x2) drift score. Shares are integer permille "
    "(n*1000 // total — no float division), bins are "
    "floor-arithmetic on the NON-NEGATIVE value domain (no "
    "negative-division dialect trap). One conditional two-counter "
    "agg over the scan + a 1-row totals broadcast; the cell table "
    "is 10 rows at any scale.",
)
def dq_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    binned = ev.select(
        F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")).alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("b"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
    )
    tot = cells.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    # NULL shares (not NaN-vs-error divergence) if a series is absent
    share_a = F.floor(
        F.col("n_a") * 1000 / F.nullif(F.col("ta"), F.lit(0))
    ).cast("long")
    share_b = F.floor(
        F.col("n_b") * 1000 / F.nullif(F.col("tb"), F.lit(0))
    ).cast("long")
    return cells.join(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        share_a.alias("share_a_pm"),
        share_b.alias("share_b_pm"),
        F.abs(share_a - share_b).cast("long").alias("gap_pm"),
    )


@register(
    "sql_lateral_alias",
    oracle="""
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents,
               cents // 100 AS dollars,
               dollars // 1000 AS kilo,
               CASE WHEN kilo >= 100 THEN 'big' ELSE 'small' END AS band
        FROM orders
    """,
    doc="Lateral column aliases (Spark 3.4+/DuckDB/ClickHouse all "
    "resolve a SELECT-list alias inside later items of the same "
    "SELECT): a 3-deep alias chain (cents -> dollars -> kilo -> "
    "band) both engines run as the same text — no subquery "
    "nesting, proving the resolution order matches. Integer "
    "division only (`//` / DIV); map-only projection at any scale.",
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_la_v"
    )
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100.0) AS LONG) AS cents,
               cents DIV 100 AS dollars,
               dollars DIV 1000 AS kilo,
               CASE WHEN kilo >= 100 THEN 'big' ELSE 'small' END AS band
        FROM orders_la_v
        """
    )
