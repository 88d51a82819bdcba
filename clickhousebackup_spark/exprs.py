"""Shared expression builders enforcing the hash-stability conventions.

Why decimal sums (registry.py docstring has the short form): Spark's
``SUM(double)`` folds in partition order, which is nondeterministic
run-to-run, and DuckDB's fold order differs again — so a double sum of
60k values can disagree in the last few ulps and break the driver's
value-hash. ``SUM(CAST(x AS DECIMAL(38,6)))`` is exact (order-free) in
both engines; the final DECIMAL→DOUBLE cast is IEEE round-to-nearest
in both. Averages are written as that sum divided by a COUNT — two
bit-identical doubles divide bit-identically.

The same logic says: never ``ROUND(double, n)`` in a checked result
(Spark rounds the shortest decimal repr HALF_UP, DuckDB rounds via C
arithmetic — they disagree on boundary values), but ``floor/ceil/abs/
sqrt/pmod`` and +,-,*,/ are exact IEEE functions of their inputs and
therefore safe.

At scale these conventions are free: decimal hash-aggregation is still
a single partial+final hash agg (map-side combine), and Spark's
Decimal(38,x) is a 16-byte unscaled long — no plan-shape change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent double sum: exact decimal sum, emitted as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def sql_dsum(sql_expr: str) -> str:
    """Spark-SQL twin of :func:`dsum`, for one-call ``spark.sql``
    construction. Must stay expression-identical to ``dsum``: the
    canonicalized-plan tests in tests/test_optimizations_r17.py pin
    the equivalence."""
    return f"CAST(SUM(CAST({sql_expr} AS DECIMAL(38,6))) AS DOUBLE)"


def davg(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum / count, double division."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def row_hash(df: DataFrame, cols: list[str]) -> Column:
    """Row identity: md5 of the JSON row struct over ``cols`` with
    explicit nulls. Not concat_ws, which skips NULL columns, so
    (a, NULL, b) and (a, b, NULL) would collide; JSON field names and
    escaping make the hash injective per row. A column of ``cols``
    absent from ``df`` hashes as null, so rows of a snapshot taken
    before a column was added compare against rows taken after."""
    fields = [
        (F.col(c) if c in df.columns else F.lit(None)).alias(c) for c in cols
    ]
    return F.md5(F.to_json(F.struct(*fields), {"ignoreNullFields": "false"}))


def osum(sql_expr: str) -> str:
    """DuckDB oracle twin of :func:`dsum` — rendered to DOUBLE through
    a VARCHAR, the same route :func:`ogsum` uses: DuckDB's direct
    DECIMAL→DOUBLE double-rounds through hugeint limbs once the
    internal integer passes ~2^53 (measured at the sf10 arm:
    SUM = 738594256915.000000 exactly, direct cast rendered
    ...915.0001 — an integer < 2^53 whose double is exact), while
    DuckDB's decimal→string→strtod is correctly rounded and matches
    Spark's correctly-rounded DECIMAL→DOUBLE bit for bit. At driver
    scales the two routes agree (the band starts ~18 significant
    digits), so every recorded driver hash is unchanged."""
    # STRING, not VARCHAR: some keys parse this same text through
    # Spark SQL (with_totals, agg_grouping_sets), where bare VARCHAR
    # needs a length; DuckDB treats STRING as a VARCHAR alias.
    return (
        f"CAST(CAST(SUM(CAST({sql_expr} AS DECIMAL(38,6)))"
        " AS STRING) AS DOUBLE)"
    )


def oavg(sql_expr: str) -> str:
    """DuckDB oracle twin of :func:`davg`."""
    return f"({osum(sql_expr)} / COUNT({sql_expr}))"


def exact_floor_decimal(x: Column) -> Column:
    """floor(x) of a DOUBLE column as a binary-exact DECIMAL(38,0) —
    matching DuckDB's ``CAST(floor(x) AS DECIMAL(38,0))`` for every
    finite |x| < ~1e38, not just int64.

    Two traps in the naive spellings: Spark's floor(DOUBLE) returns
    LONG and silently wraps (non-ANSI) past ±2^63, and Spark's
    DOUBLE->DECIMAL cast goes through Java's shortest round-trip
    string, so it loses the binary-exact value past 17 significant
    digits (DuckDB's cast is exact). Split on 2^53:

    - |x| < 2^53: long-floor is exact and fits, one cast up to decimal.
    - |x| >= 2^53: the double is already integral; decompose it into
      three limbs with power-of-two shifts, each step IEEE-exact:
      a/2^90 and a/2^45 are exponent shifts (no rounding), each limb
      is < 2^53 so its long-floor and double round-trip are exact, and
      each remainder (a mod 2^90, then mod 2^45) is representable —
      its significant bits are a suffix of a's 53-bit mantissa — so
      exactly-rounded subtraction returns it exactly. Reassembling
      the limbs in DECIMAL(38,0) arithmetic reproduces the double's
      exact integer value up to ~1e38 (ANSI overflow past it, same as
      the oracle's decimal cast).
    """
    two53 = F.lit(9007199254740992.0)
    a = F.abs(x)
    sign = F.when(x < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    limb0 = F.floor(a / F.lit(float(2**90)))
    r1 = a - limb0.cast("double") * F.lit(float(2**90))
    limb1 = F.floor(r1 / F.lit(float(2**45)))
    r2 = r1 - limb1.cast("double") * F.lit(float(2**45))
    p45 = F.lit(2**45).cast("decimal(38,0)")
    big = (
        limb0.cast("decimal(38,0)") * p45 + limb1.cast("decimal(38,0)")
    ) * p45 + F.floor(r2).cast("decimal(38,0)")
    return F.when(a < two53, F.floor(x).cast("decimal(38,0)")).otherwise(
        sign * big
    )


def gsum_dec(col: Column | str) -> Column:
    """Σ floor(x·1e6) as DECIMAL(38,0) — the exact, order-free,
    mergeable grid accumulator (the stats_moments_grid discipline).
    Use for COMPUTED doubles (products, squared deviations), where
    dsum's DECIMAL(38,6) cast ROUNDS at 1e-6 and the two engines can
    disagree on boundary rows; floor of an identical double is
    unambiguous, and exact_floor_decimal keeps it exact past int64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(exact_floor_decimal(c * F.lit(1000000.0)))


def gsum(col: Column | str) -> Column:
    """Grid sum rendered to DOUBLE in the column's own units.

    The decimal goes to double THROUGH A VARCHAR: Spark's
    DECIMAL→DOUBLE is correctly rounded, but DuckDB's hugeint→double
    double-rounds in measured magnitude bands (20-22 and 36-38
    digits for scale-0; every band for scale-6, which is the sf1
    float frontier's actual mechanism) — while BOTH engines parse
    decimal strings with correctly-rounded strtod semantics. The
    final /1e6 is one IEEE division of identical doubles."""
    return gsum_dec(col).cast("string").cast("double") / F.lit(1000000.0)


def ogsum_dec(sql_expr: str) -> str:
    """DuckDB oracle twin of :func:`gsum_dec` (DuckDB floors in
    double and casts binary-exactly, so the naive spelling is already
    exact there)."""
    return f"SUM(CAST(floor(({sql_expr}) * 1000000.0) AS DECIMAL(38,0)))"


def ogsum(sql_expr: str) -> str:
    """DuckDB oracle twin of :func:`gsum` (same VARCHAR route)."""
    return (
        f"(CAST(CAST({ogsum_dec(sql_expr)} AS VARCHAR) AS DOUBLE)"
        " / 1000000.0)"
    )
