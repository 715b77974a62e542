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

Two paths build the Arrow table of one load
(:func:`sources.lookup.load_table`, for the cache and the data source):

- **The reader**, :func:`read_arrow`, reads the HTTP body's UTF-8 bytes
  straight into Arrow in one C++ ``pyarrow.json`` pass, with no decode.
  Its explicit schema comes from the declared columns and the JSON
  pointer, so no Python object is made per value.  Each column is read as
  the JSON-native type (``_READ_AS``) whose conversion equals
  :func:`coerce_value` on every value it accepts.
- **The exact path** is ``http_client.parse_payload`` (the one decode,
  ``json.loads``, the pointer, the fan-out), then :func:`deserialize_nodes`:
  :func:`coerce_value` per node, then one struct-array build.  It gives the
  reference's values and error text.

The reader declines, and the exact path runs, wherever the two could
differ:

- the read fails: a value of another JSON kind than its column's, an int64
  overflow, ``1e400``, a repeated declared key, a lone-surrogate escape, or
  malformed JSON (which then fails in ``json.loads`` with the reference's
  message);
- the body starts with a BOM, which ``json.loads`` refuses and the reader
  skips, holds more than one document, or (pointer ``""``) more than one
  value;
- a string the reader reads is not valid UTF-8: ``pyarrow.json`` keeps
  the bytes as they are, where the decode reads U+FFFD (invalid UTF-8 in
  the members it parses past is taken: the decode changes no declared
  value there), or a declared column name holds U+FFFD, which a key with
  invalid UTF-8 matches only after the decode;
- the body holds ``Inf``, ``-Inf`` or ``-NaN``, which ``json.loads``
  refuses (``_NON_JSON_LITERALS``);
- a pointer step, the array or an element is null or missing, or the
  pointer needs an array index;
- a float column holds a -0.0 or a non-finite value and the body holds a
  literal ``json.loads`` reads differently (``_LITERAL_TRAPS``: a bare
  ``-0`` is the int 0 there, a 309-digit integer an error);
- a timestamp or date string is outside the regex below, an integer is out
  of the declared range, or a DECIMAL, ROW, ARRAY or MAP column holds a
  value (those read as null);
- a column name repeats, or the body is past one int32 block.

Outside the declared columns the reader parses with its own grammar, not
CPython's: a body whose ignored members hold an integer literal past
CPython's 4300-digit limit or nesting past its recursion limit is read,
where ``json.loads`` refuses it (a known divergence, pinned by
``tests/test_rows_property.py``).

Measured in-process on perfbench ``dim_load``'s 20k-row, 7-column body
(3.5 MB, pointer ``/data``), on a 4-core VM, medians: the reader ~30-45 ms,
about the same for the records as a root array (pointer ``""``); the exact
path ~0.35-0.55 s, of which ``json.loads`` ~35-45 ms and
:func:`deserialize_nodes` ~0.3-0.5 s (the Arrow build in it ~7 ms).  A
body the reader declines pays both.
"""

from __future__ import annotations

import codecs
import datetime as _dt
import decimal
import json
import re
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
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

from flink_http_full_cache_connector_spark.http_client import _pointer_tokens

#: wide enough for any DECIMAL(38, s) value
_DECIMAL_CONTEXT = decimal.Context(prec=38)

#: (min, max) of each declared integer type's signed width; a value outside
#: it fails, as flink-json's ``Short.parseShort``/``Integer.parseInt``/
#: ``Long.parseLong`` fallback fails it
_INT_RANGE = {ShortType: (-(2**15), 2**15 - 1), IntegerType: (-(2**31), 2**31 - 1),
              LongType: (-(2**63), 2**63 - 1)}


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
            n = value
        elif isinstance(value, str):
            n = int(value.strip())
        elif isinstance(value, float) and value.is_integer():
            n = int(value)
        else:
            raise ValueError(f"cannot cast {value!r} to integer")
        lo, hi = _INT_RANGE[type(dtype)]
        if not lo <= n <= hi:
            raise ValueError(f"{value!r} is out of range for {dtype.simpleString()}")
        return n
    if isinstance(dtype, (DoubleType, FloatType)):
        if isinstance(value, bool):
            raise ValueError(f"cannot cast {value!r} to double")
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            return float(value.strip())
        raise ValueError(f"cannot cast {value!r} to double")
    if isinstance(dtype, DecimalType):
        number = decimal.Decimal(str(value))
        if not number.is_finite():
            raise ValueError(f"cannot cast {value!r} to DECIMAL")
        # rounded half-up to the declared scale, as flink's
        # DecimalData.fromBigDecimal and Spark's Decimal.set round; null past
        # the declared precision, or the 38 digits any DECIMAL holds, as
        # fromBigDecimal returns it
        try:
            number = number.quantize(
                decimal.Decimal(1).scaleb(-dtype.scale),
                rounding=decimal.ROUND_HALF_UP,
                context=_DECIMAL_CONTEXT,
            )
        except decimal.InvalidOperation:
            return None
        return number if len(number.as_tuple().digits) <= dtype.precision else None
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
            # missing field → None; extra fields are ignored
            return tuple(coerce_value(value.get(f.name), f.dataType) for f in dtype.fields)
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


def deserialize_nodes(nodes: list[Any], schema: StructType) -> pa.Table:
    """Row-nodes → Arrow table of ``schema`` (naive datetimes read as UTC
    instants, like :func:`read_arrow`); per-node failure raises with the
    node text (≙ ``deserializeNode``, ``HttpInputFormatProvider.scala:163-172``)."""
    rows: list[tuple] = []
    for node in nodes:
        try:
            if not isinstance(node, dict):
                raise ValueError(f"expected JSON object, got {type(node).__name__}")
            rows.append(coerce_value(node, schema))
        except Exception as e:
            pretty = json.dumps(node, indent=2, default=str)
            raise RuntimeError(f"Failed to deserialize JSON node: {pretty}") from e
    struct = pa.struct(list(to_arrow_schema(schema)))
    return pa.Table.from_struct_array(pa.array(rows, struct))


# --- the reader: the body straight into Arrow ---------------------------------

#: declared type → the JSON-native type the reader reads it as, whose
#: conversion equals :func:`coerce_value` on every value the reader accepts
#: (a value of another JSON kind fails the read).  Any other declared type
#: reads as null, which accepts all-null columns only.
_READ_AS: dict[type, pa.DataType] = {
    LongType: pa.int64(),
    IntegerType: pa.int64(),
    ShortType: pa.int64(),
    DoubleType: pa.float64(),
    FloatType: pa.float64(),
    StringType: pa.string(),
    BooleanType: pa.bool_(),
    TimestampType: pa.string(),
    DateType: pa.string(),
}

#: number literals the reader reads as values where ``json.loads`` refuses
#: the body: ``Inf``, ``-Inf`` and ``-NaN``, anywhere in the body.  Text
#: inside strings can match too, which only declines.  Each pattern starts
#: with a literal, which ``re`` finds fast: ~2 ms each on a 3.5 MB body.
_NON_JSON_LITERALS = (re.compile(rb"Inf\s*[,\]}]"), re.compile(rb"-NaN\s*[,\]}]"))

#: text a root array read as ``{"_": body}`` needs to hide members after
#: itself (``[...],"x":2``); only a body holding it pays the second read
#: that rules them out (~18 ms on 3.5 MB)
_MEMBER_AFTER_ARRAY = re.compile(rb'\]\s*,\s*"')

#: number literals ``json.loads`` reads differently from the reader: a bare
#: ``-0`` (the int 0 there, so 0.0 in a DOUBLE column; -0.0 here) and an
#: integer literal of 309 or more digits (past the double range: an error
#: there, inf here).  Text inside strings can match too, which only
#: declines.
_LITERAL_TRAPS = re.compile(rb"-0\s*[,\]}]|(?<!\d)\d{309}")

# The subsets of ``_parse_sql_timestamp`` and ``date.fromisoformat`` that
# Arrow's ISO-8601 cast parses to the same value: zero-padded fields, year
# 0001-9999, at most 6 fractional digits, an optional 'T' and trailing 'Z',
# no surrounding space.  Out-of-range months, days and times pass the regex
# and fail the cast, which declines.
_YEAR = r"(?:[1-9]\d{3}|0[1-9]\d{2}|00[1-9]\d|000[1-9])"
_DATE_RE = rf"^{_YEAR}-\d{{2}}-\d{{2}}$"
_TIMESTAMP_RE = rf"^{_YEAR}-\d{{2}}-\d{{2}}[ T]\d{{2}}:\d{{2}}:\d{{2}}(?:\.\d{{1,6}})?Z?$"


def _temporal_column(text: pa.Array, dtype: DataType, target: pa.DataType) -> pa.Array | None:
    """TIMESTAMP/DATE strings → Arrow, or None when any value could parse
    differently from the reference.  A TIMESTAMP is read as a UTC instant,
    as :func:`coerce_value` reads it."""
    is_ts = isinstance(dtype, TimestampType)
    matched = pc.match_substring_regex(text, _TIMESTAMP_RE if is_ts else _DATE_RE)
    if not pc.all(matched, min_count=0).as_py():
        return None
    if is_ts:
        naive = pc.utf8_rtrim(text, characters="Z").cast(pa.timestamp("us"))
        return naive.cast(target)
    return text.cast(target)


def _float_column(column: pa.Array, target: pa.DataType, data: bytes) -> pa.Array | None:
    """float64 values → ``target``, or None when ``json.loads`` could read
    them differently: a -0.0 or a non-finite value, where ``data`` holds
    one of the ``_LITERAL_TRAPS``."""
    values = column.drop_null().to_numpy()
    unusual = ~np.isfinite(values) | (np.signbit(values) & (values == 0))
    if unusual.any() and _LITERAL_TRAPS.search(data):
        return None
    return column.cast(target)


def _read_json(data: bytes, schema: pa.Schema) -> pa.Table:
    """One ``pyarrow.json`` read of ``data`` in a single block, reading the
    members ``schema`` names and parsing past the others."""
    return pj.read_json(
        pa.BufferReader(data),
        read_options=pj.ReadOptions(use_threads=False, block_size=len(data) + 1),
        parse_options=pj.ParseOptions(
            explicit_schema=schema,
            unexpected_field_behavior="ignore",
            newlines_in_values=True,
        ),
    )


def read_arrow(body: bytes, pointer: str, schema: StructType) -> pa.Table | None:
    """The row-nodes at JSON ``pointer`` in the UTF-8 ``body`` → Arrow
    table of ``schema`` in one ``pyarrow.json`` pass, or None to decline.
    ``body`` is read where it lies; no copy of it is made, unless the
    pointer is ``""``: then each read is of one wrapped copy.

    The explicit read schema nests the pointer's member tokens as structs
    around ``list<struct<declared columns>>``, each column typed as
    ``_READ_AS`` says; other members are ignored.  A root array (pointer
    ``""``) is read as the member of ``{"_": body}``, since the reader reads
    objects.  That wrapper also parses one value followed by members
    (``[...],"x":2``), which ``json.loads`` refuses; ``{"_": [body]}``
    parses one value followed by values or by an early ``]`` and members.
    Only a single value parses in both, so a root array holding
    ``_MEMBER_AFTER_ARRAY`` is first checked to parse there too.
    It declines when a read fails, when the body holds more than one
    document or a literal ``json.loads`` refuses, when a pointer step, the
    array or an element is null or missing, when a column name repeats,
    when a string it read is not valid UTF-8 (``Table.validate(full=True)``,
    ~0.8 ms on 20k rows of 7 columns), and when a column's values fail its
    check or its cast to the declared type.
    """
    if pointer and not pointer.startswith("/"):
        return None
    if body.startswith(codecs.BOM_UTF8):
        return None  # json.loads refuses a BOM, which the reader skips
    if len(set(schema.names)) < len(schema.names):
        return None  # the reader fills only the first of a repeated name
    if any("\ufffd" in name for name in schema.names):
        return None  # a key with invalid UTF-8 matches it after the decode only
    if len(body) >= 2**31 - 16:
        return None  # past one int32 block with its wrapper
    if any(literal.search(body) for literal in _NON_JSON_LITERALS):
        return None
    tokens = _pointer_tokens(pointer)
    node_type = pa.list_(
        pa.struct([(f.name, _READ_AS.get(type(f.dataType), pa.null())) for f in schema.fields])
    )
    arrow_schema = to_arrow_schema(schema)
    data = body
    try:
        if not tokens:
            if _MEMBER_AFTER_ARRAY.search(body) and _read_json(
                b"".join((b'{"_":[', body, b"]}")), pa.schema([])
            ).num_rows != 1:
                return None
            data, tokens = b"".join((b'{"_":', body, b"}")), ["_"]
        for token in reversed(tokens[1:]):
            node_type = pa.struct([(token, node_type)])
        doc = _read_json(data, pa.schema([(tokens[0], node_type)]))
        if doc.num_rows != 1:
            return None
        doc.validate(full=True)  # the reader keeps invalid UTF-8 as it is
        node = doc.column(0).chunk(0)
        for _ in tokens[1:]:
            (node,) = node.flatten()  # the one member, null where its parent is
        if node.null_count:
            return None
        elements = node.flatten()
        if elements.null_count:
            return None
        columns = []
        for field, target, column in zip(schema.fields, arrow_schema.types, elements.flatten()):
            if isinstance(field.dataType, (TimestampType, DateType)):
                column = _temporal_column(column, field.dataType, target)
            elif pa.types.is_float64(column.type):
                column = _float_column(column, target, body)
            else:
                column = column.cast(target)
            if column is None:
                return None
            columns.append(column)
    except pa.ArrowException:
        return None
    return pa.Table.from_arrays(columns, schema=arrow_schema)
