"""Schema-driven JSON → row coercion (≙ flink-json deserialization).

Reference semantics (``HttpInputFormatProvider.scala:163-172,186-202``,
``JsonRowDataDeserializationSchema`` with ``failOnMissingField=false,
ignoreParseErrors=false, TimestampFormat.SQL``):

- The schema is **declared** (never inferred); JSON fields match declared
  columns by name; extra JSON fields are silently ignored.
- A missing field (or JSON null) yields SQL NULL.
- A malformed value fails the job (``RuntimeError("Failed to deserialize
  JSON node: ...")``).
- Timestamps use SQL format ``yyyy-MM-dd HH:mm:ss[.fff]`` (ISO 'T' separator
  also accepted by flink-json's SQL parser fallback) and are read as UTC.
- Nested ROW columns recurse (nested projection supported,
  ``HttpLookupTableSource.scala:70``).

:func:`arrow_table` is the columnar fast path over the same nodes.  It
takes a column only when its JSON values need no conversion the reference
would judge differently, and otherwise declines, so the caller runs
:func:`deserialize_nodes` and keeps the reference's values and error text.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)


#: wide enough for any DECIMAL(38, s) value
_DECIMAL_CONTEXT = decimal.Context(prec=38)


def _parse_sql_timestamp(text: str) -> _dt.datetime:
    """SQL-format text → UTC-aware datetime.  Aware, so Spark's Python
    data source worker (which reads a naive value in the process's local
    zone) and the Arrow build (which reads it as UTC) agree."""
    t = text.strip().replace("T", " ")
    # yyyy-MM-dd HH:mm:ss[.fraction][Z]
    if t.endswith("Z"):
        t = t[:-1]
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S"):
        try:
            return _dt.datetime.strptime(t, fmt).replace(tzinfo=_dt.timezone.utc)
        except ValueError:
            continue
    raise ValueError(f"not a SQL-format timestamp: {text!r}")


def coerce_value(value: Any, dtype: DataType) -> Any:
    """Coerce one JSON value to the declared Spark type (strict)."""
    if value is None:
        return None
    if isinstance(dtype, StringType):
        if isinstance(value, str):
            return value
        # flink-json serializes non-textual nodes back to JSON text
        return json.dumps(value, separators=(",", ":"))
    if isinstance(dtype, BooleanType):
        if isinstance(value, bool):
            return value
        if isinstance(value, str) and value.lower() in ("true", "false"):
            return value.lower() == "true"
        raise ValueError(f"cannot cast {value!r} to BOOLEAN")
    if isinstance(dtype, (IntegerType, LongType, ShortType)):
        if isinstance(value, bool):
            raise ValueError(f"cannot cast {value!r} to integer")
        if isinstance(value, int):
            return value
        if isinstance(value, str):
            return int(value.strip())
        if isinstance(value, float) and value.is_integer():
            return int(value)
        raise ValueError(f"cannot cast {value!r} to integer")
    if isinstance(dtype, (DoubleType, FloatType)):
        if isinstance(value, bool):
            raise ValueError(f"cannot cast {value!r} to double")
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            return float(value.strip())
        raise ValueError(f"cannot cast {value!r} to double")
    if isinstance(dtype, DecimalType):
        # rounded half-up to the declared scale, as flink's
        # DecimalData.fromBigDecimal and Spark's Decimal.set round
        return decimal.Decimal(str(value)).quantize(
            decimal.Decimal(1).scaleb(-dtype.scale),
            rounding=decimal.ROUND_HALF_UP,
            context=_DECIMAL_CONTEXT,
        )
    if isinstance(dtype, TimestampType):
        if isinstance(value, str):
            return _parse_sql_timestamp(value)
        raise ValueError(f"cannot cast {value!r} to TIMESTAMP")
    if isinstance(dtype, DateType):
        if isinstance(value, str):
            return _dt.date.fromisoformat(value.strip())
        raise ValueError(f"cannot cast {value!r} to DATE")
    if isinstance(dtype, StructType):
        if isinstance(value, dict):
            return coerce_object(value, dtype)
        raise ValueError(f"cannot cast {value!r} to ROW")
    if isinstance(dtype, ArrayType):
        if isinstance(value, list):
            return [coerce_value(v, dtype.elementType) for v in value]
        raise ValueError(f"cannot cast {value!r} to ARRAY")
    if isinstance(dtype, MapType):
        if isinstance(value, dict):
            return {k: coerce_value(v, dtype.valueType) for k, v in value.items()}
        raise ValueError(f"cannot cast {value!r} to MAP")
    raise ValueError(f"unsupported declared type: {dtype.simpleString()}")


def coerce_object(node: Any, schema: StructType) -> tuple:
    """JSON object → row tuple per declared schema; missing field → None."""
    if not isinstance(node, dict):
        raise ValueError(f"expected JSON object, got {type(node).__name__}")
    return tuple(coerce_value(node.get(f.name), f.dataType) for f in schema.fields)


def deserialize_nodes(nodes: list[Any], schema: StructType) -> list[tuple]:
    """Deserialize row-nodes; per-node failure raises with the node text
    (≙ ``deserializeNode``, ``HttpInputFormatProvider.scala:163-172``)."""
    out: list[tuple] = []
    for node in nodes:
        try:
            out.append(coerce_object(node, schema))
        except Exception as e:
            pretty = json.dumps(node, indent=2, default=str)
            raise RuntimeError(f"Failed to deserialize JSON node: {pretty}") from e
    return out


# --- columnar fast path -----------------------------------------------------

#: declared type → the JSON value types it takes without a conversion the
#: reference could judge differently.  ``bool`` is its own type here (never
#: an ``int``); inferring with ``pa.array`` instead would read
#: ``[1.5, True]`` as ``double [1.5, 1.0]`` where the reference rejects True.
_AS_IS: dict[type, frozenset[type]] = {
    LongType: frozenset({int}),
    IntegerType: frozenset({int}),
    ShortType: frozenset({int}),
    DoubleType: frozenset({int, float}),
    FloatType: frozenset({int, float}),
    StringType: frozenset({str}),
    BooleanType: frozenset({bool}),
    TimestampType: frozenset({str}),
    DateType: frozenset({str}),
}

# The subsets of ``_parse_sql_timestamp`` and ``date.fromisoformat`` that
# Arrow's ISO-8601 cast parses to the same value: zero-padded fields, year
# 0001-9999, at most 6 fractional digits, an optional 'T' and trailing 'Z',
# no surrounding space.  Out-of-range months, days and times pass the regex
# and fail the cast, which declines.
_YEAR = r"(?:[1-9]\d{3}|0[1-9]\d{2}|00[1-9]\d|000[1-9])"
_DATE_RE = rf"^{_YEAR}-\d{{2}}-\d{{2}}$"
_TIMESTAMP_RE = rf"^{_YEAR}-\d{{2}}-\d{{2}}[ T]\d{{2}}:\d{{2}}:\d{{2}}(?:\.\d{{1,6}})?Z?$"


def _temporal_column(values: list[Any], dtype: DataType, target: pa.DataType) -> pa.Array | None:
    """TIMESTAMP/DATE strings → Arrow, or None when any value could parse
    differently from the reference.  A TIMESTAMP is read as a UTC instant,
    as :func:`coerce_value` reads it."""
    text = pa.array(values, pa.string())
    is_ts = isinstance(dtype, TimestampType)
    matched = pc.match_substring_regex(text, _TIMESTAMP_RE if is_ts else _DATE_RE)
    if pc.sum(matched).as_py() != len(values) - text.null_count:
        return None
    if is_ts:
        naive = pc.utf8_rtrim(text, characters="Z").cast(pa.timestamp("us"))
        return naive.cast(target)
    return text.cast(target)


def arrow_table(nodes: list[Any], schema: StructType) -> pa.Table | None:
    """Parsed row-nodes → Arrow table of ``schema``, or None to decline.

    A column is built only from values of the types ``_AS_IS`` lists for
    its declared type, or from nulls alone (any declared type).  Anything
    else declines: a non-object node, DECIMAL or nested ROW/ARRAY/MAP
    values, a value out of the declared range, a timestamp or date string
    outside the regex, and any Arrow error.
    """
    if not all(type(node) is dict for node in nodes):
        return None
    arrow_schema = to_arrow_schema(schema)
    columns = []
    try:
        for field, target in zip(schema.fields, arrow_schema.types):
            values = [node.get(field.name) for node in nodes]
            kinds = set(map(type, values))
            kinds.discard(type(None))
            if kinds and not kinds <= _AS_IS.get(type(field.dataType), frozenset()):
                return None
            if kinds and isinstance(field.dataType, (TimestampType, DateType)):
                column = _temporal_column(values, field.dataType, target)
                if column is None:
                    return None
            else:
                column = pa.array(values, target)
            columns.append(column)
    except (pa.ArrowException, OverflowError):
        return None
    return pa.Table.from_arrays(columns, schema=arrow_schema)


def rows_table(rows: list[tuple], schema: StructType) -> pa.Table:
    """Driver-side row tuples → Arrow table of ``schema`` (naive datetimes
    read as UTC instants, like :func:`arrow_table`)."""
    struct = pa.struct(list(to_arrow_schema(schema)))
    return pa.Table.from_struct_array(pa.array(rows, struct))
