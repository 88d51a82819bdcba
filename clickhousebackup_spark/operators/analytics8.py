"""Round-9 operator batch: data-quality auditing, sequence runs,
graph degree profiles, backlog aging, and the bias-corrected
association statistic.

Reference anchor: the reference (a shell backup orchestrator,
backup.sh) delegates all query work to ClickHouse; these map the
ClickHouse-side surfaces a user of that stack leans on —
referential-integrity checks before a backup is declared consistent,
`cramersVBiasCorrected`, run/streak sequence analysis — onto
Spark-first plans. Every key follows the round-8 ground-truth
discipline: oracled in DuckDB AND pinned against an independent
recompute in tests/test_props_r9.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhousebackup_spark.exprs import DEC
from clickhousebackup_spark.registry import register
from clickhousebackup_spark.scratch import materialize
from clickhousebackup_spark.tables import load_table

#: (name, child table, fk col, parent table, pk col) — the TPC-H
#: foreign-key spine this engine's joins assume. An orphan here means
#: a join silently drops rows; the audit makes that a checked fact.
_FK_RELATIONS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


@register(
    "dq_referential_integrity",
    oracle="""
        SELECT 'lineitem.l_orderkey->orders' AS relation,
               CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(SUM(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphan,
               CAST(CASE WHEN SUM(CASE WHEN p.o_orderkey IS NULL
                                  THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS ok
        FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(CASE WHEN SUM(CASE WHEN p.c_custkey IS NULL
                                  THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM orders c LEFT JOIN customer p ON c.o_custkey = p.c_custkey
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(CASE WHEN SUM(CASE WHEN p.n_nationkey IS NULL
                                  THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM customer c LEFT JOIN nation p ON c.c_nationkey = p.n_nationkey
        UNION ALL
        SELECT 'supplier.s_nationkey->nation',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(CASE WHEN SUM(CASE WHEN p.n_nationkey IS NULL
                                  THEN 1 ELSE 0 END) = 0
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM supplier c LEFT JOIN nation p ON c.s_nationkey = p.n_nationkey
    """,
    doc="Referential-integrity audit over the TPC-H FK spine (the "
    "data-quality gate a backup/restore pipeline runs before "
    "declaring a snapshot consistent — the engine-side analog of "
    "backup_verify_integrity's file-level checks): per relation, "
    "child row count, orphan count (child key with no parent), and "
    "a pass flag. Plan: one LEFT join + two-counter agg per "
    "relation (parent side deduplicated to its PK; Catalyst "
    "broadcasts the small dims), unioned — each relation "
    "independent, so at 100 TB the audits run as four parallel "
    "joins with no cross-relation shuffle.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, child_t, fk, parent_t, pk in _FK_RELATIONS:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(fk).alias("_k")
        )
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("_k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        n_orphan = F.sum(
            F.when(F.col("_hit").isNull(), 1).otherwise(0)
        ).cast("long")
        outs.append(
            child.join(parent, "_k", "left").agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).cast("long").alias("n_child"),
                n_orphan.alias("n_orphan"),
                F.when(n_orphan == 0, 1).otherwise(0).cast("long").alias("ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "seq_longest_increase",
    oracle="""
        WITH lagged AS (
            SELECT user_id, value, ts, event_id,
                   LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
            FROM events
        ), grp AS (
            SELECT user_id,
                   SUM(CASE WHEN prev IS NULL OR value <= prev
                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS g
            FROM lagged
        ), runs AS (
            SELECT user_id, g, COUNT(*) AS run_len
            FROM grp GROUP BY user_id, g
        ), best AS (
            SELECT user_id, MAX(run_len) AS best_run FROM runs
            GROUP BY user_id
        )
        SELECT CAST(best_run AS BIGINT) AS best_run,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM best GROUP BY best_run
    """,
    doc="Longest strictly-increasing value run per user (the "
    "sequence/streak analysis ClickHouse users build from "
    "runningDifference + arraySplit), reported as a histogram "
    "(best_run → user count) so the output is distribution-sized. "
    "Gaps-and-islands: per-user LAG flags run breaks (strict <= — "
    "double comparisons of identical values are deterministic), a "
    "partitioned running sum numbers the runs, two hash aggs finish. "
    "Every window is partitioned by user — no global order, "
    "scale-safe as-is at 100 TB.",
)
def seq_longest_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two stages: LAG first, then the running sum over its result —
    # a window function cannot nest inside another window aggregate
    lagged = ev.select(
        "user_id", "ts", "event_id", "value",
        F.lag("value").over(w).alias("prev"),
    )
    brk = F.when(
        F.col("prev").isNull() | (F.col("value") <= F.col("prev")), 1
    ).otherwise(0)
    grp = lagged.select(
        "user_id", F.sum(brk).over(wrun).alias("g")
    )
    runs = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    best = runs.groupBy("user_id").agg(F.max("run_len").alias("best_run"))
    return best.groupBy(F.col("best_run").cast("long").alias("best_run")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@register(
    "graph_degree_histogram",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
        ), deg AS (
            SELECT l_suppkey, COUNT(*) AS degree FROM edges
            GROUP BY l_suppkey
        )
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM deg GROUP BY degree
    """,
    doc="Degree distribution of the supplier–part bipartite graph "
    "observed in lineitem (the first profile of any interaction "
    "graph — skew here is what decides the salting strategy for "
    "joins downstream): distinct (supp, part) edges → per-supplier "
    "degree → histogram. Two two-phase hash aggs over the fact "
    "scan, output bounded by the supplier dimension; no windows, "
    "no joins — linear at any scale.",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    deg = (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers")
    )


@register(
    "orders_backlog_aging",
    oracle="""
        WITH ref AS (
            SELECT MAX(o_orderdate) AS maxd FROM orders
        )
        SELECT o_orderpriority,
               CAST(least(date_diff('day', o_orderdate, ref.maxd) // 180, 4)
                    AS BIGINT) AS age_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
                   AS backlog_value
        FROM orders CROSS JOIN ref
        WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority, age_bucket
    """,
    doc="Backlog aging report: unfinished orders (status <> 'F') "
    "bucketed by half-year age bands relative to the dataset's "
    "latest order date, per priority — counts plus decimal-exact "
    "backlog value. Age is integer day arithmetic (date_diff // "
    "180, capped at bucket 4) — no calendar-month dialect "
    "divergence; the reference date is a 1-row broadcast (the "
    "pinned-NLJ scalar pattern). One scan + one two-phase agg at "
    "any scale.",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("maxd"))
    open_o = o.filter(F.col("o_orderstatus") != "F").crossJoin(
        F.broadcast(ref)
    )
    bucket = F.least(
        F.floor(F.datediff(F.col("maxd"), F.col("o_orderdate")) / 180),
        F.lit(4),
    ).cast("long")
    return open_o.groupBy(
        "o_orderpriority", bucket.alias("age_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC))
        .cast("double")
        .alias("backlog_value"),
    )


@register(
    "stats_cramers_v_corrected",
    oracle="""
        WITH obs AS (
            SELECT event_type, CAST(user_id % 4 AS BIGINT) AS ub,
                   CAST(COUNT(*) AS DOUBLE) AS o
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT SUM(o) AS n,
                   CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS kr,
                   CAST(COUNT(DISTINCT ub) AS DOUBLE) AS kc
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
               greatest(chi2 / n - (kr - 1.0) * (kc - 1.0) / (n - 1.0), 0.0)
                   AS phi2_corr,
               sqrt(
                   greatest(chi2 / n - (kr - 1.0) * (kc - 1.0) / (n - 1.0),
                            0.0)
                   / least(kr - (kr - 1.0) * (kr - 1.0) / (n - 1.0) - 1.0,
                           kc - (kc - 1.0) * (kc - 1.0) / (n - 1.0) - 1.0)
               ) AS cramers_v_corr
        FROM chi
    """,
    doc="Bias-corrected Cramer's V (ClickHouse "
    "cramersVBiasCorrected, the Bergsma correction): phi2 minus its "
    "small-sample expectation and V = sqrt(phi2~/min(kr~-1, kc~-1)) "
    "with Bergsma-corrected category counts — "
    "the statistic that stays comparable across differently-sized "
    "slices. Same vocabulary-sized contingency machinery as "
    "stats_cramers_v (whose chi2 term it re-states: per-cell terms "
    "on the exact 1e-12 floor grid), then ONLY +,-,*,/, greatest/"
    "least and one sqrt on identical doubles — deterministic to "
    "the bit in both engines.",
)
def stats_cramers_v_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(4)).cast("long").alias("ub"),
    )
    obs = materialize(
        ev.groupBy("event_type", "ub")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").cast("double").alias("kr"),
        F.countDistinct("ub").cast("double").alias("kc"),
    )
    rows_ = obs.groupBy("event_type").agg(F.sum("o").alias("ro"))
    cols_ = obs.groupBy("ub").agg(F.sum("o").alias("co"))
    cell = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "ub")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("ro") * F.col("co") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    chi = cell.agg(
        (
            F.sum(F.floor(term * F.lit(1e12)).cast("decimal(38,0)")).cast(
                "double"
            )
            / F.lit(1e12)
        ).alias("chi2"),
        F.min("n").alias("n"),
        F.min("kr").alias("kr"),
        F.min("kc").alias("kc"),
    )
    n, kr, kc = F.col("n"), F.col("kr"), F.col("kc")
    phi2_corr = F.greatest(
        F.col("chi2") / n - (kr - 1.0) * (kc - 1.0) / (n - 1.0), F.lit(0.0)
    )
    kr_corr = kr - (kr - 1.0) * (kr - 1.0) / (n - 1.0)
    kc_corr = kc - (kc - 1.0) * (kc - 1.0) / (n - 1.0)
    return chi.select(
        "chi2",
        phi2_corr.alias("phi2_corr"),
        F.sqrt(phi2_corr / F.least(kr_corr - 1.0, kc_corr - 1.0)).alias(
            "cramers_v_corr"
        ),
    )


#: bucket-bitset width for the runtime-filter pattern keys: 2^16
#: buckets ≈ the size class where the filter broadcast stays KBs
#: while the exact key set may not.
_BITSET_BUCKETS = 65536


@register(
    "join_bitset_prefilter",
    # The bitset prefilter is semantics-preserving (false positives
    # are removed by the exact join), so the oracle is the PLAIN
    # semi-join aggregate — equality proves the filter dropped
    # nothing it shouldn't.
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders
            WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY l_returnflag
    """,
    doc="Runtime-filter join pattern (what Spark's AQE bloom/runtime "
    "filters and ClickHouse's JOIN set lookups do under the hood, "
    "stated explicitly): the urgent-orders key set is summarized as "
    "a 2^16-bucket BITSET (portable md5 bucket per key, distinct — "
    "KBs however many keys there are), broadcast, and the fact scan "
    "is pre-filtered by bucket membership BEFORE the exact semi "
    "join removes the bucket-collision false positives. At 100 TB "
    "the bitset broadcast prunes most of the shuffle the exact join "
    "would otherwise pay; at fixture scale both joins broadcast — "
    "same answer either way, which is what the oracle checks.",
)
def join_bitset_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhousebackup_spark.extensions.dedup import _md5_long32

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bucket_of = lambda c: (  # noqa: E731 — tiny local expr factory
        _md5_long32(F.col(c).cast("string")) % _BITSET_BUCKETS
    )
    bitset = (
        urgent.select(bucket_of("o_orderkey").alias("_b")).distinct()
    )
    prefiltered = li.withColumn("_b", bucket_of("l_orderkey")).join(
        F.broadcast(bitset), "_b"
    )
    exact = prefiltered.join(
        urgent,
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast(DEC))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "contamination_bitset",
    oracle=f"""
        WITH ev AS (
            SELECT md5(text) AS h,
                   CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
                       % {_BITSET_BUCKETS} AS b
            FROM documents WHERE doc_id % 20 = 0
        ), train AS (
            SELECT doc_id, md5(text) AS h,
                   CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
                       % {_BITSET_BUCKETS} AS b
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN t.b IN (SELECT DISTINCT b FROM ev)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               CAST(SUM(CASE WHEN t.h IN (SELECT DISTINCT h FROM ev)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN t.b IN (SELECT DISTINCT b FROM ev)
                        THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN t.h IN (SELECT DISTINCT h FROM ev)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM train t
    """,
    doc="Contamination screening at bloom-filter cost, with its error "
    "EXACTLY accounted: the eval set (every 20th doc — drawn FROM "
    "the corpus, i.e. the leak is real by construction, so the key "
    "is never vacuously zero) is summarized as a 2^16-bucket bitset "
    "of md5 buckets; every corpus doc is flagged by bucket "
    "membership (the broadcast-filter scan a 100 TB decontam pass "
    "runs FIRST), and the exact md5-identity hit count plus the "
    "bucket-collision false-positive count are emitted alongside — "
    "all four counts deterministic and hash-checked, so the driver "
    "pins the estimator AND its exact overcount (n_flagged ⊇ "
    "n_exact: same text ⇒ same bucket). The exact-verify second "
    "pass only ever runs on the flagged subset — the two-stage "
    "shape contamination_overlap (n-gram grain) scales by.",
)
def contamination_bitset(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # bucket = md5_32(text) % buckets — matches the oracle's arithmetic
    withb = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        (
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
            % _BITSET_BUCKETS
        ).alias("b"),
    )
    ev = withb.filter(F.pmod("doc_id", F.lit(20)) == 0)
    train = withb  # the full corpus — the eval docs ARE leaked into it
    bitset = ev.select("b").distinct().withColumn("_inb", F.lit(1))
    exact_set = ev.select("h").distinct().withColumn("_inh", F.lit(1))
    joined = (
        train.join(F.broadcast(bitset), "b", "left")
        .join(F.broadcast(exact_set), "h", "left")
    )
    n_flagged = F.sum(
        F.when(F.col("_inb").isNotNull(), 1).otherwise(0)
    ).cast("long")
    n_exact = F.sum(
        F.when(F.col("_inh").isNotNull(), 1).otherwise(0)
    ).cast("long")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        n_flagged.alias("n_flagged"),
        n_exact.alias("n_exact"),
        (n_flagged - n_exact).alias("n_false_pos"),
    )


@register(
    "agg_combinators_ornull",
    oracle="""
        SELECT event_type,
               CAST(SUM(CASE WHEN value > 400
                    THEN CAST(floor(value * 100) AS BIGINT) END)
                    AS BIGINT) AS sum_cents_ornull,
               CAST(COALESCE(SUM(CASE WHEN value > 400
                    THEN CAST(floor(value * 100) AS BIGINT) END), 0)
                    AS BIGINT) AS sum_cents_ordefault,
               CAST(MIN(CASE WHEN value > 400
                    THEN CAST(floor(value * 100) AS BIGINT) END)
                    AS BIGINT) AS min_cents_ornull,
               CAST(NULLIF(COUNT(CASE WHEN value > 400 THEN 1 END), 0)
                    AS BIGINT) AS count_ornull
        FROM events GROUP BY event_type
    """,
    doc="ClickHouse -OrNull / -OrDefault aggregate combinators "
    "(sumOrNull, sumOrDefault, minOrNull, countOrNull): when the "
    "conditional input set is EMPTY for a group, -OrNull yields NULL "
    "where the default aggregate yields 0 (count) or NULL-vs-0 "
    "ambiguity (sum) — the semantics that make 'no data' "
    "distinguishable from 'sums to zero' in rollup tables. SQL "
    "aggregates over a filtered CASE input reproduce all four "
    "exactly (Spark sum/min of an all-NULL column are already NULL; "
    "countOrNull = NULLIF(count, 0)); the value grid is integer "
    "cents so every checked number is exact. One two-phase hash "
    "agg.",
)
def agg_combinators_ornull(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.when(
        F.col("value") > 400, F.floor(F.col("value") * 100).cast("long")
    )
    cnt = F.count(cents)
    return ev.groupBy("event_type").agg(
        F.sum(cents).cast("long").alias("sum_cents_ornull"),
        F.coalesce(F.sum(cents), F.lit(0))
        .cast("long")
        .alias("sum_cents_ordefault"),
        F.min(cents).cast("long").alias("min_cents_ornull"),
        F.nullif(cnt, F.lit(0)).cast("long").alias("count_ornull"),
    )


@register(
    "dq_uniqueness_audit",
    oracle="""
        SELECT 'orders.o_orderkey' AS key_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS n_dup_rows,
               CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey)
                    THEN 1 ELSE 0 END AS BIGINT) AS unique_ok
        FROM orders
        UNION ALL
        SELECT 'customer.c_custkey', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
               CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT),
               CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT c_custkey)
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'lineitem.(l_orderkey,l_linenumber)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
                    AS BIGINT),
               CAST(COUNT(*)
                    - COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
                    AS BIGINT),
               CAST(CASE WHEN COUNT(*) =
                         COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events.user_id (expected non-unique)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(COUNT(*) - COUNT(DISTINCT user_id) AS BIGINT),
               CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT user_id)
                    THEN 1 ELSE 0 END AS BIGINT)
        FROM events
    """,
    doc="Primary-key uniqueness audit (the sister gate to "
    "dq_referential_integrity — together they are the consistency "
    "contract a snapshot must pass before backup_verify_integrity "
    "blesses the files): per declared key, row count, distinct-key "
    "count, duplicate-row count, and the uniqueness flag. The "
    "lineitem composite key packs into one integer "
    "(l_linenumber < 16 — a checked fixture invariant, "
    "tests/test_props_r9.py) so the audit stays a plain "
    "count-distinct; events.user_id is audited as a deliberately "
    "NON-unique column proving the counter counts (n_dup_rows > 0 "
    "there, 0 on the real PKs). One two-phase count-distinct agg "
    "per table, mutually independent — parallel at any scale.",
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(name, df, key_expr):
        return df.agg(
            F.lit(name).alias("key_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(key_expr).cast("long").alias("n_keys"),
            (F.count(F.lit(1)) - F.countDistinct(key_expr))
            .cast("long")
            .alias("n_dup_rows"),
            F.when(F.count(F.lit(1)) == F.countDistinct(key_expr), 1)
            .otherwise(0)
            .cast("long")
            .alias("unique_ok"),
        )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    parts = [
        audit("orders.o_orderkey", o, F.col("o_orderkey")),
        audit("customer.c_custkey", c, F.col("c_custkey")),
        audit(
            "lineitem.(l_orderkey,l_linenumber)",
            li,
            F.col("l_orderkey") * 16 + F.col("l_linenumber"),
        ),
        audit(
            "events.user_id (expected non-unique)", ev, F.col("user_id")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "orders_fulfillment_latency",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MIN(date_diff('day', o.o_orderdate, l.l_shipdate))
                    AS BIGINT) AS min_days,
               CAST(MAX(date_diff('day', o.o_orderdate, l.l_shipdate))
                    AS BIGINT) AS max_days,
               CAST(SUM(date_diff('day', o.o_orderdate, l.l_shipdate))
                    AS BIGINT) AS total_days,
               CAST(SUM(CASE WHEN
                        date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_over_90d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc="Order-to-ship fulfillment latency per priority class: per "
    "line, days from order date to ship date — min/max/total (the "
    "exact integer sufficient statistics for the mean) and the "
    "90-day SLA breach count. Pure integer day arithmetic (no "
    "calendar-month dialect drift), one fact-fact equi-join + one "
    "two-phase agg; at 100 TB the join shuffles on l_orderkey/"
    "o_orderkey — the co-location the bucketed-sink keys "
    "(sink_bucketed_sorted) exist to pre-pay.",
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.min(days).cast("long").alias("min_days"),
        F.max(days).cast("long").alias("max_days"),
        F.sum(days).cast("long").alias("total_days"),
        F.sum(F.when(days > 90, 1).otherwise(0))
        .cast("long")
        .alias("n_over_90d"),
    )
