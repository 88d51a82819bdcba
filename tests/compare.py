"""Order-insensitive result comparison between a Spark DataFrame and a
DuckDB relation — a faithful local stand-in for the driver's
row-count + schema + value-hash check, but with *exact* value equality
so any wobble the hash would catch fails loudly here first.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _norm(v):
    """Canonicalize a cell for cross-engine comparison.

    Numeric cells carry their TYPE CLASS alongside the value: the
    driver renders each side through pandas and hashes the string
    form of each cell, so Spark ``123`` (BIGINT) vs DuckDB ``123.0``
    (HUGEINT→float64 via pandas) is a real driver hash-FAIL even
    though ``123 == 123.0`` in Python. Round 5 lost two keys
    (corpus_pack_sequences, text_cdc_chunks) to exactly that blind
    spot — the int/float distinction must never be erased here again.

    The tag is per-cell here; ``_floatify_nullable_int_cols`` then
    replays pandas' PER-COLUMN dtype coercion (an int column
    containing any NULL becomes float64 on THAT side), because the
    driver's toPandas()/fetch_df conversion does the same on each
    side independently — which is why nullable-int outputs (join_full
    et al.) hash-pass while HUGEINT outputs fail.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", bool(v))
    if isinstance(v, int):
        return ("int", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("float", v)  # exact — conventions in exprs.py make this safe
    if isinstance(v, Decimal):
        return ("float", float(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return _norm(v.to_pydatetime())
    return v


# Output-column type classes for the int/float agreement check: the
# driver renders each side through pandas, where an int column and a
# float column print differently ("123" vs "123.0") even when the
# values match. Anything not listed is "other" (strings, dates, lists,
# structs — the value compare owns those).
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE", "REAL"}
_DUCK_BAD = {"HUGEINT", "UHUGEINT"}

_SPARK_INT = {"byte", "short", "integer", "long"}
_SPARK_FLOAT = {"float", "double"}


def duck_class(t: str) -> str:
    """Type class of a DuckDB DESCRIBE column type."""
    t = t.upper()
    if t in _DUCK_BAD:
        return "HUGEINT"
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return "other"


def spark_class(t: str) -> str:
    """Type class of a Spark ``DataType.typeName()``."""
    if t in _SPARK_INT:
        return "int"
    if t in _SPARK_FLOAT:
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def _floatify_nullable_int_cols(rows):
    """Replay pandas' per-column dtype coercion: any column holding a
    NULL renders its int cells as floats on that side (the driver's
    toPandas()/fetch_df behavior). Applied to each side independently
    AFTER _norm, so a NULL-on-both-sides column still matches while a
    one-sided float coercion (HUGEINT) still fails."""
    if not rows:
        return rows
    ncols = len(rows[0])
    nullable = [any(r[i] is None for r in rows) for i in range(ncols)]
    if not any(nullable):
        return rows
    out = []
    for r in rows:
        out.append(
            tuple(
                ("float", float(v[1]))
                if nullable[i]
                and isinstance(v, tuple)
                and v[0] == "int"
                else v
                for i, v in enumerate(r)
            )
        )
    return out


def _spark_rows(df, raw_rows=None):
    cols = sorted(df.columns)
    rows = df.collect() if raw_rows is None else raw_rows
    return cols, _floatify_nullable_int_cols(
        [tuple(_norm(r[c]) for c in cols) for r in rows]
    )


def _duck_rows(rel_df):
    cols = sorted(rel_df.columns)
    recs = rel_df.to_dict("records")
    out = []
    for r in recs:
        row = []
        for c in cols:
            v = r[c]
            try:
                import pandas as pd

                if v is pd.NaT or (v is not None and not isinstance(v, (list, tuple)) and pd.isna(v)):
                    v = None
            except (TypeError, ValueError):
                pass
            row.append(_norm(v))
        out.append(tuple(row))
    return cols, _floatify_nullable_int_cols(out)


def _assert_driver_canon(pdf, name: str, side: str) -> None:
    """Replicate the verification driver's ``_canon`` step bit-for-bit:
    pandas ``sort_values`` over ALL output columns (sorted by name).
    The driver dies with ``TypeError: unhashable type: 'list'`` on any
    array/map/struct-typed cell (CORRECTNESS_r04: agg_sum_map,
    array_cumsum, array_difference) — this gate makes that failure
    reproduce locally instead of surfacing one round later."""
    cols = sorted(pdf.columns)
    try:
        pdf[cols].sort_values(by=cols)
    except TypeError as e:
        raise AssertionError(
            f"{name}: driver canonicalizer would fail on the {side} "
            f"result ({e}) — serialize array/map/struct columns to "
            f"scalar cells (array_join CSV, the emb_normalize_quantize "
            f"convention)"
        ) from e


def assert_same_result(
    spark_df, duck_con, oracle_sql: str, name: str = "?", raw_rows=None
):
    """``raw_rows``: optionally pass a pre-collected ``spark_df.collect()``
    so the caller can time the engine side separately from the oracle
    side (scripts/driver_sim.py's engine_wall/oracle_wall split)."""
    import pandas as pd

    if raw_rows is None:
        raw_rows = spark_df.collect()
    s_cols, s_rows = _spark_rows(spark_df, raw_rows)
    d_df = duck_con.execute(oracle_sql).fetch_df()
    d_cols, d_rows = _duck_rows(d_df)
    raw = pd.DataFrame(
        [[r[c] for c in s_cols] for r in raw_rows[:64]], columns=s_cols
    )
    _assert_driver_canon(raw, name, "spark")
    _assert_driver_canon(d_df.head(64), name, "duckdb")
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    s_sorted = sorted(s_rows, key=repr)
    d_sorted = sorted(d_rows, key=repr)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        assert a == b, (
            f"{name}: first differing row #{i} (cols {s_cols}):\n"
            f"  spark  : {a}\n  duckdb : {b}"
        )


class _FastRow:
    """Minimal Row stand-in over column-major storage: supports the
    only access pattern the compare path uses (``r[col_name]``)."""

    __slots__ = ("_cols", "_i")

    def __init__(self, cols: dict, i: int):
        self._cols = cols
        self._i = i

    def __getitem__(self, name):
        return self._cols[name][self._i]


def fast_collect(df):
    """Collect ``df`` to rows that are cell-for-cell IDENTICAL to
    ``df.collect()`` (same Python types, same values), but transported
    via ``DataFrame.toArrow()`` + columnar numpy materialization
    instead of pickled Row objects — ~4x faster on wide 100k+-row
    results (lineitem at sf0.1: 7.0 s → ~1.8 s), which is pure harness
    transport time in driver_sim's engine_wall.

    Safety contract (tests/test_optimizations_r17.py pins it against
    ``collect()`` over every fixture table and the nullable/decimal
    query shapes): only column types whose numpy round-trip is
    PROVABLY exact take the fast path —

    - int8..64 / float64 / string / bool without nulls: ``to_numpy()``
      → ``tolist()`` (C-speed, exact; a nullable int column would
      come back float64 — lossy past 2^53 — so any null_count > 0
      falls back to per-column ``to_pylist``).
    - timestamps: ``astype('datetime64[us]').tolist()`` yields naive
      datetimes. For session-tz (LTZ) timestamps this equals
      ``collect()`` only when the local tz is UTC (collect renders in
      the driver's local tz); on a non-UTC box the whole frame falls
      back to ``collect()``.
    - decimal128 / date32: per-column ``to_pylist`` (already exact:
      decimal.Decimal / datetime.date, matching collect()).
    - anything else (arrays, structs, maps, binary): whole-frame
      ``df.collect()`` fallback — structs collect as Row, which no
      columnar rebuild reproduces.
    """
    from datetime import timezone as _tz

    try:
        import pyarrow as pa
    except Exception:
        return df.collect()
    local_is_utc = (
        datetime.now(_tz.utc).astimezone().utcoffset().total_seconds() == 0
    )

    def _supported(t) -> bool:
        if pa.types.is_integer(t) or pa.types.is_floating(t):
            return True
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return True
        if pa.types.is_boolean(t) or pa.types.is_decimal(t):
            return True
        if pa.types.is_date(t):
            return True
        if pa.types.is_timestamp(t):
            return t.tz is None or local_is_utc
        return False

    schema = None
    try:
        tab = None
        # probe the analyzed schema first: unsupported output types
        # skip the Arrow job entirely
        from pyspark.sql import types as T

        ok_spark = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
            T.DecimalType, T.DateType, T.TimestampType,
            T.TimestampNTZType,
        )
        if not all(isinstance(f.dataType, ok_spark) for f in df.schema.fields):
            return df.collect()
        tab = df.toArrow()
        schema = tab.schema
        if not all(_supported(f.type) for f in schema):
            return df.collect()
    except Exception:
        return df.collect()

    cols: dict[str, list] = {}
    for name in schema.names:
        col = tab.column(name).combine_chunks()
        t = col.type
        if pa.types.is_decimal(t) or pa.types.is_date(t) or col.null_count:
            vals = col.to_pylist()
            if pa.types.is_timestamp(t) and t.tz is not None:
                vals = [
                    v.astimezone().replace(tzinfo=None) if v is not None else None
                    for v in vals
                ]
        elif pa.types.is_timestamp(t):
            # naive datetimes at µs precision; tz=UTC columns are only
            # here when the local tz IS utc (checked above), where
            # collect()'s local-tz rendering equals the UTC wall time
            vals = col.to_numpy(zero_copy_only=False).astype(
                "datetime64[us]"
            ).tolist()
        else:
            vals = col.to_numpy(zero_copy_only=False).tolist()
        cols[name] = vals
    n = tab.num_rows
    return [_FastRow(cols, i) for i in range(n)]
