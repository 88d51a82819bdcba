"""Round-9 operator batch 2: information-theoretic association
statistics, experiment-design helpers, gaps-and-islands sequence
analysis, quantified-comparison SQL surface, best-effort timestamp
parsing, and temperature-scaled corpus mixing.

Reference anchor: the reference (backup.sh, a shell orchestrator)
delegates every query to ClickHouse; these keys map the ClickHouse
functions its users reach for next — ``entropy``, ``theilsU``,
``contingency``, ``studentTTest``, ``minSampleSizeConversion``,
``parseDateTimeBestEffort`` — plus the gaps/islands ingestion-hole
audit a backup operator runs on sequence keys, all as Spark-first
plans following the registry hash-stability conventions.

Float discipline (NOTES.md float traps): anything transcendental
(ln, pow) is emitted through the floor-micro grid
(``floor(1e6 * x) AS BIGINT``) — both engines compute x from the
same exact integer counts, so the doubles agree to ~1 ulp and the
grid absorbs the library difference; sums over per-cell doubles go
through DECIMAL(38,12) so partition order can't reorder the fold.
Pure-IEEE chains (+,-,*,/,sqrt of deterministic doubles) are hashed
raw, same as stats_welch_ttest / stats_cramers_v.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.operators.distrank import global_order_scan
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

#: Order-free accumulator type for sums of per-cell doubles.
DEC12 = "decimal(38,12)"


def _micro(col: Column) -> Column:
    """floor(1e6 * x) as BIGINT — the transcendental-safe grid."""
    return F.floor(F.lit(1000000.0) * col).cast("long")


@register(
    "stats_entropy",
    oracle="""
        WITH cells AS (
            SELECT event_type, EXTRACT(hour FROM ts) AS hr,
                   CAST(COUNT(*) AS DOUBLE) AS c
            FROM events GROUP BY event_type, hr
        ), agg AS (
            SELECT event_type,
                   CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,12)))
                        AS DOUBLE) AS clogc
            FROM cells GROUP BY event_type
        )
        SELECT event_type, n_events, n_hours,
               CAST(FLOOR(1000000.0 * (ln(CAST(n_events AS DOUBLE))
                    - clogc / CAST(n_events AS DOUBLE))) AS BIGINT)
                   AS entropy_micro,
               CAST(FLOOR(1000000.0 * ((ln(CAST(n_events AS DOUBLE))
                    - clogc / CAST(n_events AS DOUBLE))
                    / ln(CAST(n_hours AS DOUBLE)))) AS BIGINT)
                   AS entropy_norm_micro
        FROM agg WHERE n_hours > 1
    """,
    doc="Shannon entropy of each event type's hour-of-day histogram "
    "(ClickHouse `entropy()`): H = ln(n) - sum(c*ln c)/n in nats, "
    "plus the max-entropy-normalized ratio H/ln(n_cells) — the "
    "diurnal-concentration diagnostic (entropy ~ln(24) = uniform "
    "traffic; low = burst-concentrated). Emitted on the floor-micro "
    "grid (ln is library-dependent in the last ulp); the cell-sum "
    "crosses DECIMAL(38,12) so the fold is order-free. Plan: two "
    "hash aggregations, cells grain = |types| x 24 (vocabulary-"
    "bounded at any corpus size) — map-side partials do all the "
    "data-scale work.",
)
def stats_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    c = F.col("c")
    agg = cells.groupBy("event_type").agg(
        F.sum(c.cast("long")).cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum((c * F.log(c)).cast(DEC12)).cast("double").alias("clogc"),
    )
    n_d = F.col("n_events").cast("double")
    h = F.log(n_d) - F.col("clogc") / n_d
    return (
        agg.filter(F.col("n_hours") > 1)
        .select(
            "event_type",
            "n_events",
            "n_hours",
            _micro(h).alias("entropy_micro"),
            _micro(h / F.log(F.col("n_hours").cast("double"))).alias(
                "entropy_norm_micro"
            ),
        )
    )


@register(
    "stats_theils_u",
    oracle="""
        WITH cxy AS (
            SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS c
            FROM documents GROUP BY lang, source
        ), ax AS (
            SELECT CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,12)))
                        AS DOUBLE) AS sx
            FROM (SELECT lang, SUM(c) AS c FROM cxy GROUP BY lang)
        ), ay AS (
            SELECT CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,12)))
                        AS DOUBLE) AS sy
            FROM (SELECT source, SUM(c) AS c FROM cxy GROUP BY source)
        ), axy AS (
            SELECT CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxy
            FROM cxy
        )
        SELECT n_docs,
               CAST(FLOOR(1000000.0 * (ln(CAST(n_docs AS DOUBLE))
                    - sx / n_docs)) AS BIGINT) AS h_lang_micro,
               CAST(FLOOR(1000000.0 * ((sy - sxy) / n_docs))
                    AS BIGINT) AS h_lang_given_source_micro,
               CAST(FLOOR(1000000.0 *
                    (((ln(CAST(n_docs AS DOUBLE)) - sx / n_docs)
                      - (sy - sxy) / n_docs)
                     / (ln(CAST(n_docs AS DOUBLE)) - sx / n_docs)))
                    AS BIGINT) AS theils_u_micro
        FROM ax, ay, axy
    """,
    doc="Theil's uncertainty coefficient U(lang | source) on the "
    "document corpus (ClickHouse `theilsU`): how much knowing the "
    "source reduces language uncertainty — H(X), the conditional "
    "H(X|Y) = (sum c_y ln c_y - sum c_xy ln c_xy)/N, and "
    "U = (H(X)-H(X|Y))/H(X), all from exact contingency counts and "
    "emitted on the floor-micro grid. Plan: one cells aggregation "
    "(|lang| x |source| grain, vocabulary-bounded) re-aggregated "
    "three ways into 1-row frames joined by two pinned 1-row "
    "broadcast cross joins — zero row-scale shuffles beyond the "
    "first hash agg.",
)
def stats_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cxy = materialize(
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    c = F.col("c")
    clogc = F.sum((c * F.log(c)).cast(DEC12)).cast("double")
    ax = (
        cxy.groupBy("lang")
        .agg(F.sum("c").alias("c"))
        .agg(
            F.sum(c.cast("long")).cast("long").alias("n_docs"),
            clogc.alias("sx"),
        )
    )
    ay = (
        cxy.groupBy("source")
        .agg(F.sum("c").alias("c"))
        .agg(clogc.alias("sy"))
    )
    axy = cxy.agg(clogc.alias("sxy"))
    j = ax.crossJoin(F.broadcast(ay)).crossJoin(F.broadcast(axy))
    n_d = F.col("n_docs").cast("double")
    hx = F.log(n_d) - F.col("sx") / n_d
    hxy = (F.col("sy") - F.col("sxy")) / n_d
    return j.select(
        "n_docs",
        _micro(hx).alias("h_lang_micro"),
        _micro(hxy).alias("h_lang_given_source_micro"),
        _micro((hx - hxy) / hx).alias("theils_u_micro"),
    )


@register(
    "stats_contingency_coef",
    oracle="""
        WITH obs AS (
            SELECT event_type, dayname(ts) AS dow,
                   CAST(COUNT(*) AS DOUBLE) AS o
            FROM events GROUP BY event_type, dow
        ), rn AS (
            SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type
        ), cn AS (
            SELECT dow, SUM(o) AS cc FROM obs GROUP BY dow
        ), tot AS (
            SELECT SUM(o) AS n,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc
            FROM obs
        ), cells AS (
            SELECT rn.event_type, cn.dow,
                   COALESCE(obs.o, 0.0) AS o,
                   rn.r * cn.cc / tot.n AS e,
                   tot.n AS n, tot.nr AS nr, tot.nc AS nc
            FROM rn CROSS JOIN cn CROSS JOIN tot
            LEFT JOIN obs ON obs.event_type = rn.event_type
                         AND obs.dow = cn.dow
        )
        SELECT CAST(CAST(MAX(n) AS BIGINT) AS BIGINT) AS n_events,
               MAX(nr) AS n_rows, MAX(nc) AS n_cols,
               CAST(SUM(CAST((o - e) * (o - e) / e AS DECIMAL(38,12)))
                    AS DOUBLE) AS chi2,
               CAST(SUM(CAST((o - e) * (o - e) / e AS DECIMAL(38,12)))
                    AS DOUBLE) / MAX(n) AS phi2,
               sqrt(CAST(SUM(CAST((o - e) * (o - e) / e
                        AS DECIMAL(38,12))) AS DOUBLE)
                    / (CAST(SUM(CAST((o - e) * (o - e) / e
                        AS DECIMAL(38,12))) AS DOUBLE) + MAX(n)))
                   AS contingency_coef,
               sqrt((CAST(SUM(CAST((o - e) * (o - e) / e
                        AS DECIMAL(38,12))) AS DOUBLE) / MAX(n))
                    / sqrt(CAST((MAX(nr) - 1) * (MAX(nc) - 1)
                        AS DOUBLE))) AS tschuprow_t
        FROM cells
    """,
    doc="Pearson contingency coefficient + Tschuprow's T between "
    "event type and day-of-week (ClickHouse `contingency`, the "
    "sibling of `cramersV`): chi-squared over the FULL r x c grid "
    "(absent cells contribute e, built by crossing the two marginal "
    "tables), C = sqrt(chi2/(chi2+n)), T = sqrt(phi2/sqrt((r-1) "
    "(c-1))). Every input to the doubles is an exact integer count, "
    "so the IEEE chain is engine-identical and hashed raw; the "
    "cell-sum crosses DECIMAL(38,12). Plan: one data-scale hash agg "
    "to the |types| x 7 grid; the marginal crosses are pinned "
    "vocabulary-sized broadcast NLJs.",
)
def stats_contingency_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    obs = materialize(
        e.groupBy("event_type", F.date_format("ts", "EEEE").alias("dow"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    rn = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cn = obs.groupBy("dow").agg(F.sum("o").alias("cc"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("dow").cast("long").alias("nc"),
    )
    cells = (
        rn.crossJoin(F.broadcast(cn))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["event_type", "dow"], "left")
        .select(
            F.coalesce(F.col("o"), F.lit(0.0)).alias("o"),
            (F.col("r") * F.col("cc") / F.col("n")).alias("e"),
            "n",
            "nr",
            "nc",
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    agg = cells.agg(
        F.max("n").alias("n"),
        F.max("nr").alias("nr"),
        F.max("nc").alias("nc"),
        F.sum(term.cast(DEC12)).cast("double").alias("chi2"),
    )
    chi2, n = F.col("chi2"), F.col("n")
    phi2 = chi2 / n
    return agg.select(
        n.cast("long").alias("n_events"),
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        chi2.alias("chi2"),
        phi2.alias("phi2"),
        F.sqrt(chi2 / (chi2 + n)).alias("contingency_coef"),
        F.sqrt(
            phi2
            / F.sqrt(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("double"))
        ).alias("tschuprow_t"),
    )


@register(
    "stats_student_ttest",
    oracle="""
        WITH m AS (
            SELECT
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n2,
                (CAST(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(floor((value) * 1000000.0) AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) / 1000000.0) AS s1,
                (CAST(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(floor((value) * 1000000.0) AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) / 1000000.0) AS s2,
                (CAST(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(floor((value * value) * 1000000.0) AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) / 1000000.0) AS q1,
                (CAST(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(floor((value * value) * 1000000.0) AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE) / 1000000.0) AS q2
            FROM events WHERE event_type IN ('click', 'view')
        )
        SELECT n1, n2,
               s1 / n1 AS mean_click,
               s2 / n2 AS mean_view,
               ((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2))
                   / (n1 + n2 - 2) AS pooled_var,
               (s1 / n1 - s2 / n2)
                   / sqrt((((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2))
                           / (n1 + n2 - 2))
                          * (1.0 / n1 + 1.0 / n2)) AS t_stat,
               CAST(n1 + n2 - 2 AS BIGINT) AS df
        FROM m
    """,
    doc="Two-sample pooled-variance Student t-test, click vs view "
    "value (ClickHouse `studentTTest`; the equal-variance sibling "
    "of stats_welch_ttest): sp2 = (ss1 + ss2)/(n1+n2-2), "
    "t = (m1-m2)/sqrt(sp2 (1/n1 + 1/n2)). All moments come from "
    "exact floor-grid DECIMAL(38,0) sums (round-14 migration off "
    "DECIMAL(38,6); rendered to double through a VARCHAR — the "
    "exact-at-any-scale exprs.gsum discipline) in ONE "
    "conditional-aggregation pass (no join, no second scan); the "
    "downstream chain is pure IEEE on deterministic doubles, hashed "
    "raw. Single map-side-combined aggregation — nothing in the "
    "plan grows with data.",
)
def stats_student_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.exprs import exact_floor_decimal

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is1 = F.col("event_type") == "click"
    v = F.col("value")
    mio = F.lit(1000000.0)

    def cgsum(cond, col):
        return (
            F.sum(F.when(cond, exact_floor_decimal(col * mio)))
            .cast("string")
            .cast("double")
            / mio
        )

    m = e.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~is1, 1).otherwise(0)).cast("long").alias("n2"),
        cgsum(is1, v).alias("s1"),
        cgsum(~is1, v).alias("s2"),
        cgsum(is1, v * v).alias("q1"),
        cgsum(~is1, v * v).alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2, q1, q2 = F.col("s1"), F.col("s2"), F.col("q1"), F.col("q2")
    sp2 = ((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (n1 + n2 - 2)
    return m.select(
        "n1",
        "n2",
        (s1 / n1).alias("mean_click"),
        (s2 / n2).alias("mean_view"),
        sp2.alias("pooled_var"),
        (
            (s1 / n1 - s2 / n2)
            / F.sqrt(sp2 * (F.lit(1.0) / n1 + F.lit(1.0) / n2))
        ).alias("t_stat"),
        (n1 + n2 - 2).cast("long").alias("df"),
    )


#: z_{0.975} and z_{0.80} — fixed design constants (alpha=0.05
#: two-sided, power=0.80), the same literals ClickHouse's
#: minSampleSizeConversion docs use.
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143
_MDE = 0.02


@register(
    "stats_ab_min_sample",
    oracle=f"""
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos
            FROM events GROUP BY event_type
        )
        SELECT event_type, n_obs,
               CAST(n_pos AS DOUBLE) / n_obs AS conv_rate,
               CAST(CEIL(
                   ({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
                   * ((CAST(n_pos AS DOUBLE) / n_obs)
                      * (1.0 - CAST(n_pos AS DOUBLE) / n_obs)
                      + (CAST(n_pos AS DOUBLE) / n_obs + {_MDE})
                      * (1.0 - (CAST(n_pos AS DOUBLE) / n_obs + {_MDE})))
                   / ({_MDE} * {_MDE})) AS BIGINT) AS n_required_per_arm
        FROM m
    """,
    doc="A/B-test sample-size planner (ClickHouse "
    "`minSampleSizeConversion`): per event type, the observed "
    "conversion rate (share of value>100) is the baseline p1, the "
    "treatment arm is p2 = p1 + 0.02 (absolute MDE), and the "
    "required per-arm n is the standard two-proportion formula at "
    "alpha=0.05 / power=0.80 with the z quantiles as design "
    "literals. conv_rate is one exact-integer division (hashed "
    "raw); the ceil chain is IEEE-deterministic. Plan: one "
    "conditional hash aggregation, |types| output rows.",
)
def stats_ab_min_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    p1 = F.col("n_pos").cast("double") / F.col("n_obs")
    p2 = p1 + F.lit(_MDE)
    z2 = F.lit((_Z_ALPHA + _Z_BETA)) * F.lit((_Z_ALPHA + _Z_BETA))
    n_req = F.ceil(
        z2 * (p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
        / F.lit(_MDE * _MDE)
    ).cast("long")
    return m.select(
        "event_type",
        "n_obs",
        p1.alias("conv_rate"),
        n_req.alias("n_required_per_arm"),
    )


@register(
    "seq_gaps_islands",
    oracle="""
        WITH k AS (
            SELECT DISTINCT o_orderkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ), isl AS (
            SELECT key - ROW_NUMBER() OVER (ORDER BY key) AS isl_id,
                   key
            FROM k
        ), islands AS (
            SELECT MIN(key) AS island_start, MAX(key) AS island_end,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM isl GROUP BY isl_id
        ), nxt AS (
            SELECT island_end, n_keys,
                   LEAD(island_start) OVER (ORDER BY island_start)
                       AS next_start
            FROM islands
        )
        SELECT CAST(island_end + 1 AS BIGINT) AS gap_start,
               CAST(next_start - 1 AS BIGINT) AS gap_end,
               CAST(next_start - 1 - island_end AS BIGINT) AS gap_len,
               n_keys AS prev_island_n
        FROM nxt
        WHERE next_start IS NOT NULL
        ORDER BY gap_len DESC, gap_start ASC
        LIMIT 20
    """,
    doc="Gaps-and-islands over the URGENT-priority order-key "
    "sequence — the ingestion-hole audit a backup operator runs "
    "before trusting one partition's snapshot range (the filtered "
    "stream's keys are genuinely sparse; the full fixture sequence "
    "is dense, which would make the key degenerate — caught by "
    "scripts/degeneracy_audit.py): islands of consecutive keys via "
    "the key-minus-rank trick, then the top-20 widest gaps between "
    "adjacent islands. Both total-order ranks use "
    "distrank.global_order_scan (range-partition + local rank + "
    "broadcast offsets) — the oracle's two global windows NEVER "
    "appear in the engine plan; the two pinned unpartitioned "
    "windows are the n_shuffle_partitions-row offset tables. "
    "Adjacent-island pairing is an equi-join on rank+1. Total-order "
    "tiebreak: (gap_len DESC, gap_start ASC).",
)
def seq_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    ranked = global_order_scan(keys, [F.col("key").asc()], pos="pos")
    islands = (
        ranked.groupBy((F.col("key") - F.col("pos")).alias("isl_id"))
        .agg(
            F.min("key").alias("island_start"),
            F.max("key").alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
        .drop("isl_id")
    )
    seq = global_order_scan(
        islands, [F.col("island_start").asc()], pos="ipos"
    )
    nxt = seq.select(
        (F.col("ipos") - 1).alias("ipos"),
        F.col("island_start").alias("next_start"),
    )
    return (
        seq.join(nxt, "ipos")
        .select(
            (F.col("island_end") + 1).cast("long").alias("gap_start"),
            (F.col("next_start") - 1).cast("long").alias("gap_end"),
            (F.col("next_start") - 1 - F.col("island_end"))
            .cast("long")
            .alias("gap_len"),
            F.col("n_keys").alias("prev_island_n"),
        )
        .filter(F.col("gap_len") > 0)
        .orderBy(F.col("gap_len").desc(), F.col("gap_start").asc())
        .limit(20)
    )


@register(
    "sql_quantified_compare",
    oracle="""
        SELECT s.s_suppkey, s.s_name, s.s_acctbal,
               CAST(s.s_acctbal > ALL (
                   SELECT s2.s_acctbal FROM supplier s2
                   JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                   WHERE n2.n_name = 'NATION_7'
               ) AS INTEGER) AS gt_all_n7,
               CAST(s.s_acctbal < ANY (
                   SELECT s2.s_acctbal FROM supplier s2
                   JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                   WHERE n2.n_name = 'NATION_3'
               ) AS INTEGER) AS lt_any_n3
        FROM supplier s
    """,
    doc="Quantified comparison subqueries (`> ALL`, `< ANY`) — a SQL "
    "surface ClickHouse and DuckDB parse natively but Spark SQL "
    "does not; the engine desugars to the scalar extrema (x > ALL S "
    "<=> S empty OR x > max(S); x < ANY S <=> S nonempty AND "
    "x < max(S)), which is also the scalable plan: one conditional "
    "aggregation over the two nation slices collapses to a 1-row "
    "frame broadcast onto the fact (pinned 1-row NLJ) — no "
    "correlated re-execution per row. Account balances are "
    "non-null, so the three-valued ALL/ANY null cases can't arise.",
)
def sql_quantified_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(
        F.broadcast(n),
        s.s_nationkey == n.n_nationkey,
    ).select("s_acctbal", "n_name")
    is7 = F.col("n_name") == "NATION_7"
    is3 = F.col("n_name") == "NATION_3"
    scal = sn.agg(
        F.max(F.when(is7, F.col("s_acctbal"))).alias("max7"),
        F.sum(F.when(is7, 1).otherwise(0)).alias("cnt7"),
        F.max(F.when(is3, F.col("s_acctbal"))).alias("max3"),
        F.sum(F.when(is3, 1).otherwise(0)).alias("cnt3"),
    )
    return s.crossJoin(F.broadcast(scal)).select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.when(
            (F.col("cnt7") == 0) | (F.col("s_acctbal") > F.col("max7")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("gt_all_n7"),
        F.when(
            (F.col("cnt3") > 0) & (F.col("s_acctbal") < F.col("max3")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("lt_any_n3"),
    )


#: (spark pattern, duckdb pattern) per style; index = event_id % 4.
_TS_FORMATS = (
    ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
    ("dd/MM/yyyy HH:mm:ss", "%d/%m/%Y %H:%M:%S"),
    ("yyyyMMdd'T'HHmmss", "%Y%m%dT%H%M%S"),
    ("MMM dd yyyy HH:mm:ss", "%b %d %Y %H:%M:%S"),
)


@register(
    "date_parse_best_effort",
    oracle=f"""
        WITH s AS (
            SELECT event_id, date_trunc('second', ts) AS ts_sec,
                   CAST(event_id % 4 AS BIGINT) AS fmt_idx,
                   CASE CAST(event_id % 4 AS INTEGER)
                       WHEN 0 THEN strftime(ts, '{_TS_FORMATS[0][1]}')
                       WHEN 1 THEN strftime(ts, '{_TS_FORMATS[1][1]}')
                       WHEN 2 THEN strftime(ts, '{_TS_FORMATS[2][1]}')
                       ELSE strftime(ts, '{_TS_FORMATS[3][1]}')
                   END AS raw
            FROM events
        ), p AS (
            SELECT event_id, ts_sec, fmt_idx, raw,
                   try_strptime(raw, '{_TS_FORMATS[0][1]}') AS p0,
                   try_strptime(raw, '{_TS_FORMATS[1][1]}') AS p1,
                   try_strptime(raw, '{_TS_FORMATS[2][1]}') AS p2,
                   try_strptime(raw, '{_TS_FORMATS[3][1]}') AS p3
            FROM s
        )
        SELECT event_id, fmt_idx,
               COALESCE(p0, p1, p2, p3) AS parsed_ts,
               CAST(CASE WHEN p0 IS NOT NULL THEN 0
                         WHEN p1 IS NOT NULL THEN 1
                         WHEN p2 IS NOT NULL THEN 2
                         WHEN p3 IS NOT NULL THEN 3
                         ELSE -1 END AS BIGINT) AS matched_fmt,
               CAST(CASE WHEN COALESCE(p0, p1, p2, p3) = ts_sec
                         THEN 1 ELSE 0 END AS INTEGER) AS roundtrip_ok
        FROM p
    """,
    doc="Best-effort timestamp parsing (ClickHouse "
    "`parseDateTimeBestEffort`): each event's timestamp is rendered "
    "in one of four wire formats (ISO, EU slash, compact ISO, "
    "English month-name) chosen by event_id, then recovered by a "
    "TRY-parse cascade — first matching format wins, and the "
    "roundtrip is verified against the second-truncated original. "
    "The four formats are mutually non-parsing (separator and "
    "alphabet disjoint), so matched_fmt == fmt_idx is a checked "
    "invariant, not luck. Plan: pure per-row expressions, zero "
    "shuffles — whole-stage codegen end to end.",
)
def date_parse_best_effort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fmt_idx = (F.col("event_id") % 4).cast("long")
    raw = (
        F.when(fmt_idx == 0, F.date_format("ts", _TS_FORMATS[0][0]))
        .when(fmt_idx == 1, F.date_format("ts", _TS_FORMATS[1][0]))
        .when(fmt_idx == 2, F.date_format("ts", _TS_FORMATS[2][0]))
        .otherwise(F.date_format("ts", _TS_FORMATS[3][0]))
    )
    s = e.select(
        "event_id",
        F.date_trunc("second", "ts").alias("ts_sec"),
        fmt_idx.alias("fmt_idx"),
        raw.alias("raw"),
    )
    parses = [
        F.try_to_timestamp(F.col("raw"), F.lit(sp)).alias(f"p{i}")
        for i, (sp, _) in enumerate(_TS_FORMATS)
    ]
    p = s.select("event_id", "ts_sec", "fmt_idx", *parses)
    parsed = F.coalesce("p0", "p1", "p2", "p3")
    matched = (
        F.when(F.col("p0").isNotNull(), 0)
        .when(F.col("p1").isNotNull(), 1)
        .when(F.col("p2").isNotNull(), 2)
        .when(F.col("p3").isNotNull(), 3)
        .otherwise(-1)
        .cast("long")
    )
    return p.select(
        "event_id",
        "fmt_idx",
        parsed.alias("parsed_ts"),
        matched.alias("matched_fmt"),
        F.when(parsed == F.col("ts_sec"), 1)
        .otherwise(0)
        .cast("int")
        .alias("roundtrip_ok"),
    )


@register(
    "corpus_temperature_mix",
    oracle="""
        WITH m AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                   CAST(SUM(CAST(POWER(CAST(n_docs AS DOUBLE), 0.7)
                        AS DECIMAL(38,12))) AS DOUBLE) AS z07,
                   CAST(SUM(CAST(POWER(CAST(n_docs AS DOUBLE), 0.3)
                        AS DECIMAL(38,12))) AS DOUBLE) AS z03
            FROM m
        )
        SELECT lang, n_docs,
               CAST(FLOOR(1000000.0 * CAST(n_docs AS DOUBLE) / n_total)
                    AS BIGINT) AS share_micro,
               CAST(FLOOR(1000000.0
                    * POWER(CAST(n_docs AS DOUBLE), 0.7) / z07)
                    AS BIGINT) AS w07_micro,
               CAST(FLOOR(1000000.0
                    * POWER(CAST(n_docs AS DOUBLE), 0.3) / z03)
                    AS BIGINT) AS w03_micro,
               CAST(FLOOR(100000.0
                    * POWER(CAST(n_docs AS DOUBLE), 0.7) / z07)
                    AS BIGINT) AS alloc07_100k
        FROM m CROSS JOIN tot
    """,
    doc="Temperature-scaled multilingual sampling mix (the "
    "mBERT/XLM-R exponential-smoothing recipe, alpha in {0.7, "
    "0.3}): per language, w = n^alpha / sum(n^alpha) — alpha<1 "
    "upsamples the tail languages relative to raw share — plus the "
    "resulting document allocation for a 100k-draw budget. pow() "
    "differs between libm implementations in the last ulp, so "
    "every weight crosses the floor-micro grid; the normalizer sum "
    "crosses DECIMAL(38,12). Plan: one hash agg to |lang| rows, "
    "one pinned 1-row broadcast cross join — nothing downstream of "
    "the first aggregation scales with the corpus.",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_d = F.col("n_docs").cast("double")
    tot = m.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum(F.pow(n_d, F.lit(0.7)).cast(DEC12))
        .cast("double")
        .alias("z07"),
        F.sum(F.pow(n_d, F.lit(0.3)).cast(DEC12))
        .cast("double")
        .alias("z03"),
    )
    j = m.crossJoin(F.broadcast(tot))
    return j.select(
        "lang",
        "n_docs",
        _micro(n_d / F.col("n_total")).alias("share_micro"),
        _micro(F.pow(n_d, F.lit(0.7)) / F.col("z07")).alias("w07_micro"),
        _micro(F.pow(n_d, F.lit(0.3)) / F.col("z03")).alias("w03_micro"),
        F.floor(
            F.lit(100000.0) * F.pow(n_d, F.lit(0.7)) / F.col("z07")
        )
        .cast("long")
        .alias("alloc07_100k"),
    )


@register(
    "sample_hash_consistent",
    oracle="""
        WITH flagged AS (
            SELECT event_type, user_id,
                   CASE WHEN CAST(concat('0x',
                            substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 100 < 10
                        THEN 1 ELSE 0 END AS in_sample
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(in_sample) AS BIGINT) AS n_sampled,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_total,
               CAST(COUNT(DISTINCT CASE WHEN in_sample = 1
                    THEN user_id END) AS BIGINT) AS n_users_sampled
        FROM flagged GROUP BY event_type
    """,
    doc="Consistent hash sampling (ClickHouse `SAMPLE BY "
    "intHash32(UserID)`): the 10% sample is a deterministic USER "
    "subset — every event of a sampled user is kept, none of an "
    "unsampled user's — so per-user funnels/retention computed on "
    "the sample are unbiased, unlike row-level Bernoulli sampling. "
    "Bucket = md5-grid(user_id) % 100 < 10 (portable across "
    "engines and cluster layouts; a production corpus swaps "
    "xxhash64 with no plan change). Emits per-type total vs "
    "sampled event and user counts so the sampling ratio is "
    "driver-checked evidence, not a claim. Plan: one scan, one "
    "conditional hash agg with two distinct-counts (two-phase "
    "partial aggregation — no row ever leaves its partition "
    "unaggregated).",
)
def sample_hash_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    flagged = e.select(
        "event_type",
        "user_id",
        F.when(bucket < 10, 1).otherwise(0).alias("in_sample"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("in_sample").cast("long").alias("n_sampled"),
        F.countDistinct("user_id").cast("long").alias("n_users_total"),
        F.countDistinct(
            F.when(F.col("in_sample") == 1, F.col("user_id"))
        )
        .cast("long")
        .alias("n_users_sampled"),
    )


#: Benford expected share of first digit d is log10(1 + 1/d) — the
#: only transcendental in the key; it crosses the floor-micro grid.
@register(
    "dq_benford_law",
    oracle="""
        WITH digits AS (
            SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                       AS VARCHAR), 1, 1) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM digits
        )
        SELECT d.digit, d.n_obs,
               CAST(FLOOR(1000000.0 * d.n_obs / t.n) AS BIGINT)
                   AS observed_micro,
               CAST(FLOOR(1000000.0 *
                    log10(1.0 + 1.0 / CAST(d.digit AS BIGINT)))
                    AS BIGINT) AS benford_micro,
               CAST(FLOOR(1000000.0 *
                    (d.n_obs - t.n * log10(1.0 + 1.0 / CAST(d.digit AS BIGINT)))
                    * (d.n_obs - t.n * log10(1.0 + 1.0 / CAST(d.digit AS BIGINT)))
                    / (t.n * log10(1.0 + 1.0 / CAST(d.digit AS BIGINT))))
                    AS BIGINT) AS chi2_contrib_micro
        FROM digits d CROSS JOIN tot t
    """,
    doc="Benford's-law first-digit audit on order totals — the "
    "fraud/synthetic-data screen auditors run on financial "
    "columns: observed first-significant-digit shares vs the "
    "Benford expectation log10(1+1/d), with the per-digit "
    "chi-squared contribution. The digit is extracted exactly "
    "(floor -> BIGINT -> leading character; totals are >= 1, and "
    "floor avoids DuckDB's round-on-cast vs Spark's truncate-on-"
    "cast divergence); shares and the log10-based columns cross "
    "the floor-micro grid. Plan: one scan to a 9-row digit "
    "histogram + a pinned 1-row totals broadcast.",
)
def dq_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digits = (
        o.select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    j = digits.crossJoin(F.broadcast(tot))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("long"))
    dev = F.col("n_obs") - F.col("n") * p
    return j.select(
        "digit",
        "n_obs",
        _micro(F.col("n_obs") / F.col("n")).alias("observed_micro"),
        _micro(p).alias("benford_micro"),
        _micro(dev * dev / (F.col("n") * p)).alias("chi2_contrib_micro"),
    )


#: Fixed Markov power-iteration step count (pi <- pi P); the chain
#: mixes fast (every state reachable), 8 steps pin the distribution
#: to well past the micro grid on the fixture spectrum.
_MARKOV_ITERS = 8


def _markov_oracle_iter(idx: int) -> str:
    """One unrolled pi <- pi P step over the flattened k x k matrix."""
    return f"""
        it{idx} AS (
            SELECT tlist, k, pflat, rcl, tot,
                   list_transform(generate_series(1, k), j ->
                       list_reduce(list_transform(generate_series(1, k),
                           i -> pi[i] * pflat[(i - 1) * k + j]),
                           (a, b) -> a + b)) AS pi
            FROM it{idx - 1}
        )"""


@register(
    "events_markov_stationary",
    oracle=f"""
        WITH tr AS (
            SELECT event_type AS cur,
                   LEAD(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events
        ), cells AS (
            SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
            FROM tr WHERE nxt IS NOT NULL GROUP BY cur, nxt
        ), types AS (
            SELECT DISTINCT event_type AS t FROM events
        ), grid AS (
            SELECT a.t AS ti, b.t AS tj, COALESCE(c.c, 0) AS c
            FROM types a CROSS JOIN types b
            LEFT JOIN cells c ON c.cur = a.t AND c.nxt = b.t
        ), rows_ AS (
            SELECT ti, CAST(SUM(c) AS BIGINT) AS rc FROM grid GROUP BY ti
        ), base AS (
            SELECT (SELECT list(t ORDER BY t) FROM types) AS tlist,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM types) AS k,
                   (SELECT list(CAST(g.c AS DOUBLE) / r.rc
                                ORDER BY g.ti, g.tj)
                    FROM grid g JOIN rows_ r ON g.ti = r.ti) AS pflat,
                   (SELECT list(rc ORDER BY ti) FROM rows_) AS rcl,
                   (SELECT CAST(SUM(rc) AS BIGINT) FROM rows_) AS tot
        ), it0 AS (
            SELECT tlist, k, pflat, rcl, tot,
                   list_transform(tlist, x -> 1.0 / k) AS pi
            FROM base
        ),{",".join(_markov_oracle_iter(i) for i in range(1, _MARKOV_ITERS + 1))}
        SELECT tlist[j] AS event_type,
               rcl[j] AS n_transitions,
               CAST(rcl[j] AS DOUBLE) / tot AS empirical_share,
               pi[j] AS stationary_prob
        FROM it{_MARKOV_ITERS}, unnest(generate_series(1, k)) AS u(j)
    """,
    doc="Stationary distribution of the user event-type Markov chain "
    "(the steady-state mix funnel owners compare against the "
    "empirical mix to find absorbing states): transition counts "
    "from per-user LEAD pairs, row-normalized to P, then "
    f"{_MARKOV_ITERS} fixed pi <- pi P steps from uniform. The "
    "matrix is |types| x |types| (vocabulary-bounded), so the whole "
    "iteration lives in ONE collected row as flattened arrays — "
    "left-to-right folds both engines, bit-identical doubles, "
    "hashed raw. The data-scale work is one partitioned LEAD "
    "window + one hash agg; the pinned NLJ is the |types|^2 "
    "marginal cross. A type with no outgoing transitions would "
    "zero its P row (mass leak) — asserted absent in "
    "tests/test_props_r9c.py as a corpus-truth invariant.",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = tr.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    types = e.select(F.col("event_type").alias("t")).distinct()
    grid = (
        types.select(F.col("t").alias("ti"))
        .crossJoin(F.broadcast(types.select(F.col("t").alias("tj"))))
        .join(
            cells,
            (F.col("cur") == F.col("ti")) & (F.col("nxt") == F.col("tj")),
            "left",
        )
        .select("ti", "tj", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    # Row sums as a WINDOW over the |types|^2-bounded grid, not a
    # grid ⋈ groupBy(grid) self-join: the join recomputed the whole
    # grid subtree per side AND planned as a SortMergeJoin — a shape
    # the repo bans registry-wide; it was invisible before r17 only
    # because the per-step checkpoints truncated the returned plan.
    # The window costs one exchange over ≤|types|^2 rows at any
    # scale (8 → 4 shuffles total, SMJ gone, output bit-identical).
    grid2 = grid.select(
        "ti",
        "tj",
        "c",
        F.sum("c").over(Window.partitionBy("ti")).cast("long").alias("rc"),
    ).select(
        "ti",
        "tj",
        (F.col("c").cast("double") / F.col("rc")).alias("p"),
        "rc",
    )
    one = grid2.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("ti"), F.col("tj"), F.col("p")))
            ),
            lambda st: st["p"],
        ).alias("pflat"),
        F.array_sort(F.collect_set("ti")).alias("tlist"),
        F.transform(
            F.array_sort(
                F.collect_set(F.struct(F.col("ti"), F.col("rc")))
            ),
            lambda st: st["rc"],
        ).alias("rcl"),
    ).withColumn("k", F.size("tlist")).withColumn(
        "tot",
        F.aggregate(
            "rcl", F.lit(0).cast("long"), lambda acc, t: acc + t
        ),
    )
    # All _MARKOV_ITERS pi <- pi P steps as ONE array fold: the outer
    # aggregate's accumulator IS the pi vector, so each step
    # references the previous pi as a lambda variable — no k^iters
    # expression blowup, and no per-step eager localCheckpoint (the
    # round-16 shape ran 8 checkpoint JOBS per invocation purely for
    # lineage management; removing them cut the key 1.31 → 0.81 s at
    # sf0.1 with BIT-IDENTICAL output — same left-to-right fold
    # arithmetic, r17). The nested-HOF lambda falls back to
    # interpreted eval, which is irrelevant here: it runs once, over
    # one row, on a |types|-bounded array — at any corpus scale.
    iter_expr = (
        f"aggregate(sequence(1, {_MARKOV_ITERS}), "
        "transform(sequence(1, k), j -> cast(1.0 as double) / k), "
        "(pi, s) -> transform(sequence(1, k), j -> "
        "aggregate(sequence(1, k), cast(0.0 as double), "
        "(acc, i) -> acc + element_at(pi, i)"
        " * element_at(pflat, (i - 1) * k + j))))"
    )
    one = one.select(
        "tlist", "k", "pflat", "rcl", "tot", F.expr(iter_expr).alias("pi")
    )
    return one.select(
        F.posexplode("tlist").alias("j0", "event_type"),
        F.col("rcl"),
        F.col("tot"),
        F.col("pi"),
    ).select(
        "event_type",
        F.element_at("rcl", F.col("j0") + 1).alias("n_transitions"),
        (
            F.element_at("rcl", F.col("j0") + 1).cast("double")
            / F.col("tot")
        ).alias("empirical_share"),
        F.element_at("pi", F.col("j0") + 1).alias("stationary_prob"),
    )


@register(
    "stats_wilcoxon_signed",
    oracle="""
        WITH pairs AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                       / SUM(CASE WHEN event_type = 'click' THEN 1 END)
                   - CAST(SUM(CASE WHEN event_type = 'view'
                        THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                       / SUM(CASE WHEN event_type = 'view' THEN 1 END)
                       AS d
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY user_id
            HAVING SUM(CASE WHEN event_type = 'click' THEN 1 END) > 0
               AND SUM(CASE WHEN event_type = 'view' THEN 1 END) > 0
        ), hist AS (
            SELECT abs(d) AS ad,
                   CAST(COUNT(*) AS BIGINT) AS n_v,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos
            FROM pairs WHERE d <> 0 GROUP BY abs(d)
        ), scanned AS (
            SELECT n_v, n_pos,
                   SUM(n_v) OVER (ORDER BY ad
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM hist
        ), agg AS (
            SELECT CAST(SUM(n_v) AS BIGINT) AS n,
                   CAST(SUM(CAST(n_pos * (2 * cum - n_v + 1)
                        AS DECIMAL(38,0))) AS DOUBLE) AS wp2,
                   CAST(SUM(CAST(n_v * n_v * n_v - n_v AS DECIMAL(38,0)))
                        AS DOUBLE) AS ties
            FROM scanned
        )
        SELECT n AS n_pairs,
               wp2 / 2.0 AS w_plus,
               (CAST(n AS DOUBLE) * (n + 1.0) / 2.0) - wp2 / 2.0
                   AS w_minus,
               (wp2 / 2.0 - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)
                   / sqrt(CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0)
                          / 24.0 - ties / 48.0) AS z_stat
        FROM agg
    """,
    doc="Wilcoxon signed-rank test (paired, the within-subject "
    "sibling of stats_mannwhitney_u): per user, d = mean click "
    "value - mean view value (decimal-exact means, bit-identical "
    "doubles), zero-diff pairs dropped; ranks of |d| with midrank "
    "ties reduce to the |d|-histogram identity rmin + rmax = "
    "2*cum - n_v + 1, so W+ doubles to an exact-integer sum in "
    "DECIMAL(38,0). The running count comes from "
    "distrank.global_order_scan — the oracle's global cumsum window "
    "never appears in the engine plan (pinned offsets window). "
    "z uses the normal approximation with the standard tie "
    "correction sum(t^3 - t)/48 — exact integers into IEEE sqrt, "
    "hashed raw. Plan: one conditional agg to user grain, one hash "
    "agg to the |d| histogram, one two-pass prefix scan.",
)
def stats_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.exprs import DEC

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    is_c = F.col("event_type") == "click"
    v = F.col("value")
    pairs = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(is_c, v.cast(DEC))).cast("double").alias("sc"),
            F.sum(F.when(is_c, 1)).alias("nc"),
            F.sum(F.when(~is_c, v.cast(DEC))).cast("double").alias("sv"),
            F.sum(F.when(~is_c, 1)).alias("nv"),
        )
        .filter((F.col("nc") > 0) & (F.col("nv") > 0))
        .select(
            (F.col("sc") / F.col("nc") - F.col("sv") / F.col("nv")).alias(
                "d"
            )
        )
        .filter(F.col("d") != 0)
    )
    hist = pairs.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("n_v"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    scanned = global_order_scan(
        hist, (F.col("ad"),), cumsum={"cum": F.col("n_v")}
    )
    agg = scanned.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum(
            (
                F.col("n_pos")
                * (F.lit(2) * F.col("cum") - F.col("n_v") + F.lit(1))
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("wp2"),
        F.sum(
            (
                F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v")
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ties"),
    )
    n_d = F.col("n").cast("double")
    wp = F.col("wp2") / F.lit(2.0)
    return agg.select(
        F.col("n").alias("n_pairs"),
        wp.alias("w_plus"),
        (n_d * (n_d + F.lit(1.0)) / F.lit(2.0) - wp).alias("w_minus"),
        (
            (wp - n_d * (n_d + F.lit(1.0)) / F.lit(4.0))
            / F.sqrt(
                n_d
                * (n_d + F.lit(1.0))
                * (F.lit(2.0) * n_d + F.lit(1.0))
                / F.lit(24.0)
                - F.col("ties") / F.lit(48.0)
            )
        ).alias("z_stat"),
    )


@register(
    "corpus_datasheet",
    oracle="""
        WITH per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                       AS n_exact_dups
            FROM documents GROUP BY source
        ), toplang AS (
            SELECT source, lang AS top_lang FROM (
                SELECT source, lang,
                       ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY COUNT(*) DESC, lang ASC) AS rn
                FROM documents GROUP BY source, lang
            ) WHERE rn = 1
        ), tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM per
        )
        SELECT p.source, p.n_docs, p.n_chars, p.n_langs, t.top_lang,
               p.n_exact_dups,
               CAST(p.n_chars AS DOUBLE) / p.n_docs AS mean_chars,
               CAST(FLOOR(1000000.0 * p.n_docs / tot.total_docs)
                    AS BIGINT) AS share_micro
        FROM per p JOIN toplang t ON p.source = t.source
        CROSS JOIN tot
    """,
    doc="Per-source dataset datasheet — the 'datasheets for datasets' "
    "summary card a corpus release ships: document and character "
    "volume, language breadth, dominant language (count-desc, "
    "lang-asc tiebreak), exact-duplicate count (docs minus distinct "
    "md5), mean document length, and corpus share. One scan feeds "
    "two hash aggregations (source grain and source x lang grain — "
    "both vocabulary-bounded outputs); the dominant language is a "
    "partitioned window over the tiny source x lang table and the "
    "share denominator is a pinned 1-row broadcast.",
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dups"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("lang").asc()
    )
    toplang = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("total_docs"))
    return (
        per.join(toplang, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_langs",
            "top_lang",
            "n_exact_dups",
            (F.col("n_chars").cast("double") / F.col("n_docs")).alias(
                "mean_chars"
            ),
            _micro(
                F.col("n_docs").cast("double") / F.col("total_docs")
            ).alias("share_micro"),
        )
    )


@register(
    "text_zipf_fit",
    oracle="""
        WITH words AS (
            SELECT lower(w) AS word FROM documents,
                 unnest(string_split_regex(text, '\\s+')) AS t(w)
            WHERE w <> ''
        ), counts AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM words GROUP BY word
        ), stats AS (
            SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
                   CAST(COUNT(*) AS BIGINT) AS vocab_size
            FROM counts
        ), arr AS (
            SELECT list(freq ORDER BY freq DESC, word ASC)[
                       1 : LEAST(20, (SELECT CAST(vocab_size AS INTEGER)
                                      FROM stats))] AS f
            FROM counts
        ), fit AS (
            SELECT CAST(len(f) AS BIGINT) AS k,
                   list_reduce(list_transform(generate_series(1, len(f)),
                       i -> ln(CAST(i AS DOUBLE))), (a, b) -> a + b) AS sx,
                   list_reduce(list_transform(generate_series(1, len(f)),
                       i -> ln(CAST(f[i] AS DOUBLE))), (a, b) -> a + b)
                       AS sy,
                   list_reduce(list_transform(generate_series(1, len(f)),
                       i -> ln(CAST(i AS DOUBLE))
                            * ln(CAST(i AS DOUBLE))), (a, b) -> a + b)
                       AS sxx,
                   list_reduce(list_transform(generate_series(1, len(f)),
                       i -> ln(CAST(i AS DOUBLE))
                            * ln(CAST(f[i] AS DOUBLE))), (a, b) -> a + b)
                       AS sxy
            FROM arr
        )
        SELECT s.n_words, s.vocab_size, f.k AS k_fit,
               CAST(FLOOR(1000000.0 *
                    ((f.k * f.sxy - f.sx * f.sy)
                     / (f.k * f.sxx - f.sx * f.sx))) AS BIGINT)
                   AS zipf_slope_micro,
               CAST(FLOOR(1000000.0 *
                    ((f.sy - ((f.k * f.sxy - f.sx * f.sy)
                              / (f.k * f.sxx - f.sx * f.sx)) * f.sx)
                     / f.k)) AS BIGINT) AS intercept_micro
        FROM stats s, fit f
    """,
    doc="Zipf's-law fit over the corpus vocabulary: least-squares "
    "slope of ln(freq) vs ln(rank) on the top-20 words (freq-desc, "
    "word-asc tiebreak) — the distributional sanity check that "
    "separates natural text (slope ~ -1) from synthetic or "
    "boilerplate-heavy corpora. The top-k list collapses to ONE "
    "sorted bounded array (TakeOrdered-class, never a row-scale "
    "window); all four regression sums are in-row left-to-right "
    "folds; ln outputs cross the floor-micro grid. The word "
    "histogram is the only data-scale aggregation.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    stats = counts.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    # TakeOrdered bounds the candidate set BEFORE any collect — the
    # vocabulary itself can be millions of rows at corpus scale
    arr = (
        counts.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(20)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("freq")).alias("nf"), F.col("word"))
                    )
                ),
                lambda st: -st["nf"],
            ).alias("f")
        )
    )
    fit = arr.select(
        F.size("f").cast("long").alias("k"),
        F.expr(
            "aggregate(sequence(1, size(f)), cast(0.0 as double),"
            " (acc, i) -> acc + ln(cast(i as double)))"
        ).alias("sx"),
        F.expr(
            "aggregate(sequence(1, size(f)), cast(0.0 as double),"
            " (acc, i) -> acc + ln(cast(element_at(f, i) as double)))"
        ).alias("sy"),
        F.expr(
            "aggregate(sequence(1, size(f)), cast(0.0 as double),"
            " (acc, i) -> acc + ln(cast(i as double))"
            " * ln(cast(i as double)))"
        ).alias("sxx"),
        F.expr(
            "aggregate(sequence(1, size(f)), cast(0.0 as double),"
            " (acc, i) -> acc + ln(cast(i as double))"
            " * ln(cast(element_at(f, i) as double)))"
        ).alias("sxy"),
    )
    k_d = F.col("k").cast("double")
    slope = (k_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / k_d
    return stats.crossJoin(F.broadcast(fit)).select(
        "n_words",
        "vocab_size",
        F.col("k").alias("k_fit"),
        _micro(slope).alias("zipf_slope_micro"),
        _micro(intercept).alias("intercept_micro"),
    )


#: Candidate periods for the spectral probe, in microseconds.
_PERIODS = (
    ("8h", 8 * 3600 * 1_000_000),
    ("24h", 24 * 3600 * 1_000_000),
    ("7d", 7 * 24 * 3600 * 1_000_000),
)
_TWO_PI = 6.283185307179586


def _period_oracle_arm(label: str, p_us: int) -> str:
    """One candidate-period DFT arm: per-row gridded cos/sin weights
    against mean-centered integer values, exact DECIMAL sums."""
    return f"""
        SELECT '{label}' AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(FLOOR(1000000.0 * cos({_TWO_PI}
                    * CAST(epoch_us(ts) % {p_us} AS DOUBLE) / {p_us}))
                    AS BIGINT) * dev AS DECIMAL(38,0))) AS DOUBLE) AS sc,
               CAST(SUM(CAST(CAST(FLOOR(1000000.0 * sin({_TWO_PI}
                    * CAST(epoch_us(ts) % {p_us} AS DOUBLE) / {p_us}))
                    AS BIGINT) * dev AS DECIMAL(38,0))) AS DOUBLE) AS ss
        FROM centered"""


@register(
    "ts_period_detect",
    oracle=f"""
        WITH g AS (
            SELECT SUM(CAST(FLOOR(1000000.0 * value)
                        AS HUGEINT)) AS tot,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
        ), centered AS (
            SELECT e.ts,
                   CAST(FLOOR(1000000.0 * e.value) AS BIGINT)
                       - (g.tot // g.n) AS dev
            FROM events e, g
        ), arms AS (
            {_period_oracle_arm(*_PERIODS[0])}
            UNION ALL {_period_oracle_arm(*_PERIODS[1])}
            UNION ALL {_period_oracle_arm(*_PERIODS[2])}
        )
        SELECT period, n,
               CAST(FLOOR(sqrt(sc * sc + ss * ss) / n) AS BIGINT)
                   AS amplitude_micro,
               CAST(CASE WHEN ROW_NUMBER() OVER (
                        ORDER BY sqrt(sc * sc + ss * ss) DESC, period)
                        = 1 THEN 1 ELSE 0 END AS INTEGER) AS dominant
        FROM arms
    """,
    doc="Spectral period probe (ClickHouse `seriesPeriodDetectFFT`, "
    "probe form): the DFT amplitude of the mean-centered event "
    "values at three candidate periods (8h / 24h / 7d), plus the "
    "dominant-period flag. Per-row cos/sin weights are gridded to "
    "integers BEFORE the cross-row sum (libm sin/cos differ in the "
    "last ulp per row; the 1e-6 grid absorbs that at ~1e-10 "
    "boundary risk per row), values are mean-centered on an exact "
    "integer grid (kills the DC leak), and both component sums ride "
    "DECIMAL(38,0) — exact, order-free, overflow-proof at any row "
    "count. Plan: one totals pass + one scan with three "
    "conditional-sum arms (the union collapses to ONE aggregation "
    "per arm over the same broadcast-centered scan); the final "
    "window orders 3 rows. Fixture truth: synthetic values carry no "
    "real cycle, so amplitudes are small vs the value scale — "
    "pinned as an invariant, not an accident, in "
    "tests/test_props_r9c.py.",
)
def ts_period_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    g = e.agg(
        # decimal accumulation: a long sum of 1e6-gridded values
        # overflows near 1e11 rows (the linalg overflow-parity lesson)
        F.sum(
            F.floor(F.lit(1000000.0) * F.col("value")).cast("decimal(38,0)")
        ).alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    centered = e.crossJoin(F.broadcast(g)).select(
        F.unix_micros("ts").alias("us"),
        (
            F.floor(F.lit(1000000.0) * F.col("value")).cast("long")
            # trunc-div (%, not pmod): DuckDB's integer // truncates
            # toward zero, so a negative corpus total would diverge
            # by one grid unit under floor-div pmod
            - (F.col("tot") - F.col("tot") % F.col("n"))
            / F.col("n")
        )
        .cast("long")
        .alias("dev"),
    )
    # ALL arm sums in one aggregation pass — the naive per-arm agg
    # would rescan the fact (and replay the 1-row broadcast) once per
    # candidate period
    sum_cols = [F.count(F.lit(1)).cast("long").alias("n")]
    for label, p_us in _PERIODS:
        theta = (
            F.lit(_TWO_PI)
            * F.pmod(F.col("us"), F.lit(p_us)).cast("double")
            / F.lit(float(p_us))
        )
        wc = F.floor(F.lit(1000000.0) * F.cos(theta)).cast("long")
        ws = F.floor(F.lit(1000000.0) * F.sin(theta)).cast("long")
        sum_cols.append(
            F.sum((wc * F.col("dev")).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"sc_{label}")
        )
        sum_cols.append(
            F.sum((ws * F.col("dev")).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"ss_{label}")
        )
    one = materialize(centered.agg(*sum_cols))
    arms = [
        one.select(
            F.lit(label).alias("period"),
            F.col("n"),
            F.col(f"sc_{label}").alias("sc"),
            F.col(f"ss_{label}").alias("ss"),
        )
        for label, _ in _PERIODS
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    amp = F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
    w = Window.orderBy(amp.desc(), F.col("period"))
    return out.select(
        "period",
        "n",
        F.floor(amp / F.col("n")).cast("long").alias("amplitude_micro"),
        F.when(F.row_number().over(w) == 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("dominant"),
    )


#: a-z -> soundex digit map (Apache commons / Hive / Spark / ClickHouse
#: all share it): vowels+y->0, bfpv->1, cgjkqsxz->2, dt->3, l->4,
#: mn->5, r->6. H and W are handled by RULE (skipped entirely), not by
#: the map.
_SOUNDEX_MAP = "01230120022455012623010202"


@register(
    "str_phonetic_soundex",
    oracle=f"""
        WITH words AS (
            SELECT DISTINCT lower(w) AS w
            FROM part, unnest(string_split(p_name, ' ')) AS t(w)
            WHERE regexp_matches(lower(w), '^[a-z]+$')
        ), coded AS (
            SELECT w,
                   rpad((list_reduce(
                       list_transform(generate_series(1, len(w)), i ->
                           CASE WHEN i = 1 THEN struct_pack(
                                    o := upper(w[i]),
                                    l := translate(upper(w[i]),
                                        'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                        '{_SOUNDEX_MAP}'))
                                ELSE struct_pack(
                                    o := upper(w[i]),
                                    l := translate(upper(w[i]),
                                        'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                        '{_SOUNDEX_MAP}'))
                           END),
                       (acc, x) -> CASE
                           WHEN len(acc.o) >= 4 THEN acc
                           WHEN x.o IN ('H', 'W') THEN acc
                           WHEN x.l = '0' THEN
                               struct_pack(o := acc.o, l := '0')
                           WHEN x.l = acc.l THEN acc
                           ELSE struct_pack(o := acc.o || x.l, l := x.l)
                       END)).o, 4, '0') AS sx
            FROM words
        )
        SELECT sx AS soundex_code,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               MIN(w) AS example_word,
               CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END
                    AS INTEGER) AS is_collision
        FROM coded GROUP BY sx
    """,
    doc="Phonetic blocking via Soundex (ClickHouse `soundex`, added "
    "23.4; the classic entity-resolution blocking key): the part-name "
    "vocabulary grouped by code — EVERY code emitted with its word "
    "count, deterministic example, and collision flag, so the driver "
    "pins the full code assignment, not just the collision groups. "
    "The engine uses Spark's "
    "JVM soundex built-in; the oracle REIMPLEMENTS the full "
    "algorithm (commons mapping + the H/W skip rule + vowel reset + "
    "adjacent-dup collapse + rpad-4) as a DuckDB list fold, and "
    "tests/test_props_r9c.py pins both against a third python "
    "implementation on the classic test vectors (ashcraft->A261, "
    "tymczak->T522, pfister->P236) and the whole fixture vocabulary. "
    "Plan: explode + two hash aggs over the vocabulary grain — the "
    "fact-scale work is one scan; blocking-key joins downstream "
    "shuffle on the 4-char code exactly like dedup_fuzzy_blocked.",
)
def str_phonetic_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    # Soundex is defined on LETTERS; the contract restricts the
    # vocabulary to purely alphabetic tokens because the two engines'
    # out-of-domain behaviors legitimately differ (Spark/Commons skips
    # interior digits and returns a non-letter-led string UNCHANGED;
    # the oracle's translate-fold would append digit chars verbatim).
    # The round-13 sf1 arm's hex filler tokens exposed exactly that —
    # 551 vs 536 code groups; on alphabetic input both sides are
    # pinned identical by tests/test_props_r9c.py.
    words = (
        p.select(F.explode(F.split("p_name", " ")).alias("w"))
        .select(F.lower("w").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .distinct()
    )
    coded = words.select("w", F.soundex("w").alias("sx"))
    return coded.groupBy(F.col("sx").alias("soundex_code")).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.min("w").alias("example_word"),
        F.when(F.count(F.lit(1)) > 1, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_collision"),
    )


@register(
    "text_readability_fk",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                        w -> w <> '')) AS BIGINT) AS n_words,
                   CAST(GREATEST(len(list_filter(
                        string_split_regex(text, '[.!?]+'),
                        s -> trim(s) <> '')), 1) AS BIGINT) AS n_sentences,
                   CAST(list_reduce(list_transform(
                        list_filter(string_split_regex(text, '\\s+'),
                            w -> w <> ''),
                        w -> CAST(GREATEST(len(regexp_extract_all(
                             lower(w), '[aeiouy]+')), 1) AS BIGINT)),
                        (a, b) -> a + b) AS BIGINT) AS n_syllables
            FROM documents
            WHERE len(list_filter(string_split_regex(text, '\\s+'),
                      w -> w <> '')) > 0
        )
        SELECT doc_id, lang, n_words, n_sentences, n_syllables,
               CAST(FLOOR(1000000.0 *
                    (0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                     + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                     - 15.59)) AS BIGINT) AS fk_grade_micro,
               CAST(FLOOR(1000000.0 *
                    (206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)))
                    AS BIGINT) AS flesch_ease_micro
        FROM scored
    """,
    doc="Flesch-Kincaid grade level + Flesch reading ease per "
    "document — the readability gate real curation pipelines run "
    "next to the C4/Gopher battery (too-easy = boilerplate lists, "
    "too-hard = OCR noise): words by whitespace, sentences by "
    "terminal punctuation (floored at 1), syllables as vowel-group "
    "runs (floored at 1 per word — the standard heuristic). All "
    "three counts are exact integers; the two scores are IEEE "
    "chains of exact ratios emitted on the floor-micro grid (the "
    "0.39/11.8/... constants are decimal literals whose double "
    "values are identical in both engines). Plan: pure per-row "
    "expressions with in-row folds — one codegen'd scan, zero "
    "shuffles at any corpus size.",
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split("text", r"\s+"), lambda w: w != F.lit("")
    )
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split("text", r"[.!?]+"),
                lambda s: F.trim(s) != F.lit(""),
            )
        ),
        F.lit(1),
    )
    syllables = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.size(
                    F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)
                ),
                F.lit(1),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    scored = d.select(
        "doc_id",
        "lang",
        F.size(words).cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return scored.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        _micro(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
        ).alias("fk_grade_micro"),
        _micro(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch_ease_micro"),
    )


#: Sequence prefix length for the edit-distance comparison.
_ED_K = 12


def _ed_oracle_step(j: int) -> str:
    """One unrolled Wagner-Fischer row update (user char j vs the
    whole reference row) — a SINGLE-level list_reduce. Nesting the
    row update inside an outer list_reduce over the user sequence
    mis-binds captured columns in this DuckDB build past ~150 rows
    (verified: distances collapse toward 0 from row 157 on at sf0.1
    while the identical nested fold is correct on one row) — the
    unrolled form avoids reduce-inside-reduce entirely."""
    return f"""
        it{j} AS (
            SELECT user_id, seq, a,
                   CASE WHEN len(seq) >= {j} THEN
                       list_reduce(
                           list_prepend([CAST({j} AS BIGINT)],
                               list_transform(
                                   generate_series(1, len(a)), i -> [i])),
                           (cur, xi) -> list_append(cur, least(
                               dprow[xi[1] + 1] + 1,
                               cur[len(cur)] + 1,
                               dprow[xi[1]]
                               + CASE WHEN a[xi[1]] = seq[{j}]
                                      THEN 0 ELSE 1 END)))
                   ELSE dprow END AS dprow
            FROM it{j - 1}
        )"""


@register(
    "seq_edit_distance",
    oracle=f"""
        WITH seqs AS (
            SELECT user_id,
                   list(event_type ORDER BY ts, event_id)[1 : {_ED_K}]
                       AS seq
            FROM events GROUP BY user_id
        ), pos AS (
            SELECT p, seq[p] AS t, CAST(COUNT(*) AS BIGINT) AS c
            FROM seqs, unnest(generate_series(1, len(seq))) AS u(p)
            GROUP BY p, t
        ), ref AS (
            SELECT list(t ORDER BY p) AS a FROM (
                SELECT p, t,
                       ROW_NUMBER() OVER (PARTITION BY p
                           ORDER BY c DESC, t ASC) AS rn
                FROM pos
            ) WHERE rn = 1
        ), it0 AS (
            SELECT s.user_id, s.seq, r.a,
                   list_transform(generate_series(0, len(r.a)),
                       x -> CAST(x AS BIGINT)) AS dprow
            FROM seqs s, ref r
        ),{",".join(_ed_oracle_step(j) for j in range(1, _ED_K + 1))}
        SELECT user_id,
               CAST(len(seq) AS BIGINT) AS seq_len,
               CAST(len(a) AS BIGINT) AS ref_len,
               CAST(dprow[len(a) + 1] AS BIGINT) AS edit_distance,
               CAST(FLOOR(1000000.0 * dprow[len(a) + 1]
                    / GREATEST(len(seq), len(a))) AS BIGINT)
                   AS normalized_micro
        FROM it{_ED_K}
    """,
    doc="Sequence edit distance as a PURE SQL dynamic program "
    "(ClickHouse `arrayLevenshtein`, 24.x): each user\'s first "
    f"{_ED_K} event types vs the corpus-modal reference sequence "
    "(per-position most-frequent type, count-desc/type-asc "
    "tiebreak), via the Wagner-Fischer DP expressed as folds — the "
    "accumulator carries the previous DP row as an array and each "
    "step applies the classic min(delete, insert, substitute) "
    "recurrence. No UDF, no collect: Spark runs the full nested "
    "fold in one `aggregate` expression; the DuckDB oracle unrolls "
    f"the outer fold into {_ED_K} CTE steps because this DuckDB "
    "build mis-binds captured columns in reduce-inside-reduce past "
    "~150 rows (measured; single-level reduces are exact — see "
    "_ed_oracle_step). O(K^2) integer ops per row, whole-stage "
    "codegen. The reference is a 1-row broadcast from a "
    "vocabulary-bounded (K x |types|) position histogram; the "
    "normalized distance is one exact ratio on the micro grid.",
)
def seq_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    seqs = materialize(
        e.groupBy("user_id")
        .agg(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"),
                                F.col("event_type"),
                            )
                        )
                    ),
                    lambda st: st["event_type"],
                ),
                1,
                _ED_K,
            ).alias("seq")
        )
    )
    pos = (
        seqs.select(F.posexplode("seq").alias("p0", "t"))
        .groupBy((F.col("p0") + 1).alias("p"), "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p").orderBy(F.col("c").desc(), F.col("t").asc())
    ref = (
        pos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("t")))),
                lambda st: st["t"],
            ).alias("a")
        )
    )
    dp = F.expr(
        """
        element_at(aggregate(
            seq,
            struct(sequence(0, size(a)) AS r, 0 AS j),
            (acc, ch) -> struct(
                aggregate(
                    sequence(1, size(a)),
                    array(acc.j + 1),
                    (cur, i) -> array_append(cur, least(
                        element_at(acc.r, i + 1) + 1,
                        element_at(cur, i) + 1,
                        element_at(acc.r, i)
                        + CASE WHEN element_at(a, i) = ch
                               THEN 0 ELSE 1 END))
                ) AS r,
                acc.j + 1 AS j),
            acc -> acc.r), size(a) + 1)
        """
    )
    return seqs.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.size("seq").cast("long").alias("seq_len"),
        F.size("a").cast("long").alias("ref_len"),
        dp.cast("long").alias("edit_distance"),
        F.floor(
            F.lit(1000000.0)
            * dp
            / F.greatest(F.size("seq"), F.size("a")).cast("double")
        )
        .cast("long")
        .alias("normalized_micro"),
    )


#: Count-min sketch geometry: 4 hash rows x 32 buckets (md5 grid).
#: Width 32 keeps collisions LIVE at the sf0.01 driver grain (150
#: users -> nonzero overestimates the driver hash-checks; at 256 the
#: probe set collided only from sf0.1 up — degeneracy audit finding).
#: Width is the precision knob; the plan is identical at any w.
_CMS_D = 4
_CMS_W = 32


@register(
    "sketch_countmin_freq",
    oracle=f"""
        WITH cells AS (
            SELECT d,
                   CAST(concat('0x', substr(md5(concat(d, ':', user_id)),
                        1, 15)) AS BIGINT) % {_CMS_W} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events, unnest(generate_series(0, {_CMS_D - 1})) AS h(d)
            GROUP BY d, bucket
        ), exact AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM events GROUP BY user_id
        ), tot AS (
            SELECT CAST(SUM(exact_n) AS BIGINT) AS n FROM exact
        ), probes AS (
            SELECT user_id, exact_n FROM exact
            ORDER BY exact_n DESC, user_id ASC LIMIT 10
        ), est AS (
            SELECT p.user_id, p.exact_n,
                   MIN(cells.c) AS cms_estimate
            FROM probes p, unnest(generate_series(0, {_CMS_D - 1})) AS h(d)
            JOIN cells ON cells.d = h.d
                      AND cells.bucket = CAST(concat('0x',
                          substr(md5(concat(h.d, ':', p.user_id)), 1, 15))
                          AS BIGINT) % {_CMS_W}
            GROUP BY p.user_id, p.exact_n
        )
        SELECT e.user_id, e.exact_n,
               CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
               CAST(e.cms_estimate - e.exact_n AS BIGINT) AS overestimate,
               CAST(CASE WHEN e.cms_estimate - e.exact_n
                         <= 2 * t.n / {_CMS_W}
                    THEN 1 ELSE 0 END AS INTEGER) AS within_bound
        FROM est e CROSS JOIN tot t
    """,
    doc="Count-min sketch frequency estimation (the Cormode-"
    f"Muthukrishnan heavy-hitter sketch): {_CMS_D} x {_CMS_W} "
    "counter grid over md5-grid buckets of user_id, probed at the "
    "top-10 exact-count users. Deterministic end to end — both "
    "engines build IDENTICAL counters, so the driver hash-checks "
    "the estimates themselves, plus the two CMS contracts as "
    "checked columns: overestimate >= 0 always (min of upper "
    "bounds), and within the 2N/w Markov bound (the 1/2-probability "
    "bound holds per row; the min over 4 rows makes violations "
    "vanishingly rare — flag hashed, not assumed). Plan: one "
    "explode(4) + hash agg to the 1024-cell grid (vocabulary-"
    "bounded broadcast at any scale), exact counts via one "
    "grouped agg, TakeOrdered probes, a broadcast lookup join — "
    "the sketch path never shuffles more than the cell grid.",
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ds = F.explode(
        F.sequence(F.lit(0), F.lit(_CMS_D - 1))
    ).alias("d")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("d").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )
    cells = materialize(
        e.select("user_id", ds)
        .select("d", bucket.alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    tot = exact.agg(F.sum("exact_n").cast("long").alias("n"))
    probes = (
        exact.orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(10)
        .select("user_id", "exact_n", ds)
        .select("user_id", "exact_n", "d", bucket.alias("bucket"))
    )
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
    )
    return est.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_n"))
        .cast("long")
        .alias("overestimate"),
        F.when(
            F.col("cms_estimate") - F.col("exact_n")
            <= F.lit(2) * F.col("n") / F.lit(_CMS_W),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("within_bound"),
    )


#: Kalman random-walk filter constants: observation noise R (value
#: variance scale) and process noise Q, both exact binary doubles.
_KAL_R = 128.0
_KAL_Q = 1.0


@register(
    "ts_kalman_level",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       / COUNT(*) AS z
            FROM events GROUP BY event_type, day
        ), series AS (
            SELECT event_type,
                   list(z ORDER BY day) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days,
               s[len(s)] AS last_obs,
               (list_reduce(
                   list_transform(generate_series(1, len(s)), i ->
                       struct_pack(x := s[i],
                                   p := CASE WHEN i = 1
                                        THEN CAST({_KAL_R} AS DOUBLE)
                                        ELSE CAST(-1.0 AS DOUBLE) END)),
                   (acc, e) -> struct_pack(
                       x := acc.x + ((acc.p + CAST({_KAL_Q} AS DOUBLE))
                            / (acc.p + {_KAL_Q} + CAST({_KAL_R} AS DOUBLE)))
                            * (e.x - acc.x),
                       p := (acc.p + CAST({_KAL_Q} AS DOUBLE))
                            * (CAST(1.0 AS DOUBLE) - (acc.p + CAST({_KAL_Q} AS DOUBLE))
                               / (acc.p + {_KAL_Q} + CAST({_KAL_R} AS DOUBLE))))
               ).x) AS kalman_level,
               (list_reduce(
                   list_transform(generate_series(1, len(s)), i ->
                       struct_pack(x := s[i],
                                   p := CASE WHEN i = 1
                                        THEN CAST({_KAL_R} AS DOUBLE)
                                        ELSE CAST(-1.0 AS DOUBLE) END)),
                   (acc, e) -> struct_pack(
                       x := acc.x + ((acc.p + CAST({_KAL_Q} AS DOUBLE))
                            / (acc.p + {_KAL_Q} + CAST({_KAL_R} AS DOUBLE)))
                            * (e.x - acc.x),
                       p := (acc.p + CAST({_KAL_Q} AS DOUBLE))
                            * (CAST(1.0 AS DOUBLE) - (acc.p + CAST({_KAL_Q} AS DOUBLE))
                               / (acc.p + {_KAL_Q} + CAST({_KAL_R} AS DOUBLE))))
               ).p) AS error_var
        FROM series
    """,
    doc="Scalar random-walk Kalman filter over each event type's "
    "daily-mean series — the streaming-friendly level estimator "
    "(exponential-ish smoothing with a principled, data-adaptive "
    "gain) monitoring pipelines run on noisy metrics: predict "
    "p+Q, gain k=(p+Q)/(p+Q+R), update x+=k(z-x). Observations are "
    "decimal-exact daily means (bit-identical doubles); the filter "
    "is a single-level left-to-right fold over the day-sorted "
    "array with a struct accumulator (single-level reduce — safe "
    "in both engines, unlike the nested shape seq_edit_distance "
    "documents), so level and error variance hash raw. Series "
    "length is calendar-bounded (days in window), not row-scaled — "
    "the data-scale work is one daily hash agg. R=128, Q=1 are "
    "exact binary literals.",
)
def ts_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.exprs import DEC

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("z")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("day"), F.col("z")))),
            lambda st: st["z"],
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    upd = (
        "(acc, z) -> struct("
        f"acc.x + ((acc.p + {_KAL_Q}D) / (acc.p + {_KAL_Q}D + {_KAL_R}D))"
        " * (z - acc.x) AS x, "
        f"(acc.p + {_KAL_Q}D) * (1.0D - (acc.p + {_KAL_Q}D)"
        f" / (acc.p + {_KAL_Q}D + {_KAL_R}D)) AS p)"
    )
    fold = F.expr(
        "aggregate(slice(s, 2, size(s) - 1), "
        f"struct(element_at(s, 1) AS x, {_KAL_R}D AS p), {upd})"
    )
    return series.select(
        "event_type",
        "n_days",
        F.element_at("s", -1).alias("last_obs"),
        fold["x"].alias("kalman_level"),
        fold["p"].alias("error_var"),
    )


@register(
    "events_burstiness_index",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id)
                       AS gap_us
            FROM events
        ), m AS (
            SELECT event_type,
                   CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
                   CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
                       AS s1,
                   CAST(SUM(CAST(gap_us AS DECIMAL(19,0))
                        * CAST(gap_us AS DECIMAL(19,0))) AS DOUBLE) AS s2
            FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
        )
        SELECT event_type, n_gaps,
               CAST(FLOOR(s1 / n_gaps) AS BIGINT) AS mean_gap_us_trunc,
               (sqrt((s2 - s1 * s1 / n_gaps) / n_gaps) - s1 / n_gaps)
                   / (sqrt((s2 - s1 * s1 / n_gaps) / n_gaps) + s1 / n_gaps)
                   AS burstiness,
               (s2 - s1 * s1 / n_gaps) / n_gaps / (s1 / n_gaps)
                   AS fano_factor
        FROM m
    """,
    doc="Burstiness index of each event type's inter-arrival process "
    "(Goh-Barabasi B = (sigma - mu)/(sigma + mu): -1 = periodic, 0 = "
    "Poisson, ->1 = bursty) plus the Fano factor — the temporal-"
    "clustering diagnostics behind rate-limiter and anomaly tuning. "
    "Gaps are exact integer microseconds from a PARTITIONED lag "
    "window; both moment sums ride DECIMAL(38,0) (gap^2 reaches "
    "~1e19 and would overflow int64 sums at scale), and the "
    "population sigma/mu chain is pure IEEE on deterministic "
    "doubles, hashed raw. Plan: one partitioned window + one "
    "two-phase hash agg — per-type state is 3 mergeable numbers.",
)
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(19,0)")
            * F.col("gap_us").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n_gaps")
    mu = F.col("s1") / n
    sigma = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / n) / n)
    return m.select(
        "event_type",
        "n_gaps",
        F.floor(mu).cast("long").alias("mean_gap_us_trunc"),
        ((sigma - mu) / (sigma + mu)).alias("burstiness"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / n) / n / mu
        ).alias("fano_factor"),
    )


@register(
    "ts_theil_sen_slope",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                       / COUNT(*) AS z
            FROM events GROUP BY event_type, day
        ), series AS (
            SELECT event_type,
                   list(z ORDER BY day) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        ), slopes AS (
            SELECT event_type, n_days,
                   list_sort(flatten(list_transform(
                       generate_series(1, len(s) - 1), i ->
                       list_transform(generate_series(i + 1, len(s)), j ->
                           (s[j] - s[i]) / CAST(j - i AS DOUBLE)))))
                       AS sl
            FROM series
        )
        SELECT event_type, n_days,
               CAST(len(sl) AS BIGINT) AS n_pairs,
               CASE WHEN len(sl) % 2 = 1
                    THEN sl[(len(sl) + 1) // 2]
                    ELSE (sl[len(sl) // 2] + sl[len(sl) // 2 + 1]) / 2.0
               END AS theil_sen_slope,
               sl[1] AS min_slope,
               sl[len(sl)] AS max_slope
        FROM slopes
    """,
    doc="Theil-Sen robust trend estimator over each type's daily-mean "
    "series: the median of ALL pairwise slopes (z_j - z_i)/(j - i) — "
    "breakdown point 29%, the standard outlier-proof alternative to "
    "least squares for monitoring trends. The pair set is "
    "calendar-bounded (days-in-window choose 2, ~435 for a month), "
    "built and sorted entirely IN-ROW with nested transforms — "
    "each slope is one IEEE division of bit-identical doubles, the "
    "sort is exact, and the median selection is deterministic "
    "(even-count median averages two identical-both-engines "
    "doubles), so the estimate hashes raw. Plan: one daily hash "
    "agg + one per-type collect — nothing scales with row count, "
    "only with the calendar window.",
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.exprs import DEC

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("z")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("day"), F.col("z")))),
            lambda st: st["z"],
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    slopes = series.select(
        "event_type",
        "n_days",
        F.expr(
            "array_sort(flatten(transform(sequence(1, size(s) - 1), i ->"
            " transform(sequence(i + 1, size(s)), j ->"
            " (element_at(s, j) - element_at(s, i))"
            " / cast(j - i as double)))))"
        ).alias("sl"),
    )
    n = F.size("sl")
    med = F.expr(
        "CASE WHEN size(sl) % 2 = 1"
        " THEN element_at(sl, cast((size(sl) + 1) div 2 as int))"
        " ELSE (element_at(sl, cast(size(sl) div 2 as int))"
        "       + element_at(sl, cast(size(sl) div 2 + 1 as int)))"
        " / 2.0 END"
    )
    return slopes.select(
        "event_type",
        "n_days",
        n.cast("long").alias("n_pairs"),
        med.alias("theil_sen_slope"),
        F.element_at("sl", 1).alias("min_slope"),
        F.element_at("sl", -1).alias("max_slope"),
    )
