"""Order-insensitive result comparison against DuckDB.

``rows_equal`` is exact: the same column names, row count and values
(decimals compared by value, floats by their shortest repr).
``oracle_diff`` follows the registry's own oracle gate: column names,
canonical types, row count, and values with floats compared to 6 decimals.
"""

from __future__ import annotations

from decimal import Decimal


def _exact(v) -> str:
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _rounded(v) -> str:
    return f"{v:.6f}" if isinstance(v, float) else str(v)


def _keys(rows: list[dict], cols: list[str], fmt) -> list[str]:
    return sorted("|".join(fmt(r[c]) for c in cols) for r in rows)


def _diff(got: list[dict], want: list[dict], cols: list[str], fmt) -> str | None:
    if len(got) != len(want):
        return f"rowcount {len(got)} vs oracle {len(want)}"
    mism = [(a, b) for a, b in zip(_keys(got, cols, fmt), _keys(want, cols, fmt)) if a != b]
    return f"{len(mism)} rows differ, e.g. {mism[:2]}" if mism else None


def rows_equal(got: list[dict], want: list[dict]) -> str | None:
    """None when equal, else a one-line description of the difference."""
    gcols = sorted(got[0]) if got else []
    wcols = sorted(want[0]) if want else []
    if got and want and gcols != wcols:
        return f"columns {gcols} vs oracle {wcols}"
    return _diff(got, want, gcols or wcols, _exact)


def canon_arrow_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return "double" if t.bit_width == 64 else f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{canon_arrow_type(t.value_type)}>"
    return str(t)


def canon_spark_type(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"array<{canon_spark_type(dt.elementType)}>"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    s = dt.simpleString()
    return {
        "bigint": "int64",
        "int": "int32",
        "smallint": "int16",
        "tinyint": "int8",
        "float": "float32",
        "timestamp_ntz": "timestamp",
    }.get(s, s)


def oracle_diff(df, con, sql: str) -> str | None:
    """Compare a Spark frame with a DuckDB oracle the way the registry's
    correctness gate does."""
    rows = [r.asDict() for r in df.collect()]
    cols = sorted(df.columns)
    table = con.execute(sql).fetch_arrow_table()
    want = table.to_pylist()
    if cols != sorted(table.column_names):
        return f"columns {cols} vs oracle {sorted(table.column_names)}"
    stypes = {f.name: canon_spark_type(f.dataType) for f in df.schema.fields}
    dtypes = {f.name: canon_arrow_type(f.type) for f in table.schema}
    tmism = {c: (stypes[c], dtypes[c]) for c in cols if stypes[c] != dtypes[c]}
    if tmism:
        return f"types (spark, oracle) {tmism}"
    return _diff(rows, want, cols, _rounded)
