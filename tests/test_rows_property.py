"""Property-based tests (hypothesis) for the JSON→row coercion layer:
round-trip fidelity, missing/null handling, and strictness invariants hold
for arbitrary generated payloads — not just the golden fixtures.  The
reader (``rows.read_arrow``, the body straight into Arrow) is checked
differentially against the exact path it stands in for
(``parse_payload`` → ``deserialize_nodes``), on the body's UTF-8 bytes, as
the lookup path hands them to both."""

import datetime as dt
import json
import math
import sys
from typing import NamedTuple

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_http_full_cache_connector_spark.http_client import parse_payload
from flink_http_full_cache_connector_spark.rows import coerce_value, deserialize_nodes, read_arrow

SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("l", LongType()),
        StructField("d", DoubleType()),
        StructField("s", StringType()),
        StructField("b", BooleanType()),
    ]
)

payloads = st.fixed_dictionaries(
    {},
    optional={
        "i": st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "l": st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "d": st.none()
        | st.floats(allow_nan=False, allow_infinity=False, width=64),
        "s": st.none() | st.text(max_size=40),
        "b": st.none() | st.booleans(),
        "extra_field": st.text(max_size=10),  # always ignorable
    },
)


@settings(max_examples=200, deadline=None)
@given(node=payloads)
def test_coercion_round_trips_arbitrary_payloads(node):
    row = coerce_value(node, SCHEMA)
    assert len(row) == len(SCHEMA.fields)
    for value, field in zip(row, SCHEMA.fields):
        orig = node.get(field.name)
        if orig is None:
            assert value is None  # missing OR null -> SQL NULL
        elif field.name == "d":
            assert value == float(orig)
        else:
            assert value == orig


@settings(max_examples=100, deadline=None)
@given(
    ts=st.datetimes(
        min_value=dt.datetime(1900, 1, 1),
        max_value=dt.datetime(2100, 1, 1),
    )
)
def test_sql_timestamp_round_trip(ts):
    ts = ts.replace(microsecond=(ts.microsecond // 1000) * 1000)  # ms precision
    text = ts.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    ts = ts.replace(tzinfo=dt.timezone.utc)  # same wall clock, read as UTC
    assert coerce_value(text, TimestampType()) == ts
    # ISO 'T' separator accepted too
    assert coerce_value(text.replace(" ", "T"), TimestampType()) == ts


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(
        st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=8
    )
)
def test_array_coercion(values):
    out = coerce_value(values, ArrayType(IntegerType()))
    assert out == values


@settings(max_examples=100, deadline=None)
@given(node=payloads)
def test_deserialize_nodes_failure_names_the_node(node):
    bad = dict(node)
    bad["i"] = "not-an-int"
    with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
        deserialize_nodes([bad], SCHEMA)


@settings(max_examples=50, deadline=None)
@given(num=st.floats(allow_nan=False, allow_infinity=False))
def test_int_column_rejects_fractional_floats(num):
    if num.is_integer() and -(2**63) <= num < 2**63:
        assert coerce_value(num, LongType()) == int(num)
    else:
        with pytest.raises(ValueError):
            coerce_value(num, LongType())


@pytest.mark.parametrize(
    "dtype, bits", [(ShortType(), 16), (IntegerType(), 32), (LongType(), 64)], ids=str
)
@pytest.mark.parametrize("as_text", [False, True], ids=["number", "string"])
def test_int_column_fails_outside_its_declared_width(dtype, bits, as_text):
    """min and max load; min-1 and max+1 fail with the reference's text
    inside ``deserialize_nodes``, where flink-json's ``parseShort``,
    ``parseInt`` and ``parseLong`` fail them, not in the Arrow build."""
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    schema = StructType([StructField("n", dtype)])
    form = str if as_text else int
    table = deserialize_nodes([{"n": form(lo)}, {"n": form(hi)}], schema)
    assert table.column("n").to_pylist() == [lo, hi]
    for bad in (lo - 1, hi + 1):
        with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
            deserialize_nodes([{"n": form(bad)}], schema)


def test_bool_not_accepted_as_number():
    with pytest.raises(ValueError):
        coerce_value(True, IntegerType())
    with pytest.raises(ValueError):
        coerce_value(False, DoubleType())


@pytest.mark.parametrize(
    "value, dtype, want",
    [
        (1.005, DecimalType(10, 2), "1.01"),
        ("2.5", DecimalType(10, 0), "3"),
        (-2.5, DecimalType(10, 0), "-3"),
        (7, DecimalType(38, 10), "7.0000000000"),
        ("123456789012345678901234567.5", DecimalType(38, 0), "123456789012345678901234568"),
        (99999999.99, DecimalType(10, 2), "99999999.99"),
        ("-99999999.99", DecimalType(10, 2), "-99999999.99"),
    ],
)
def test_decimal_rounds_half_up_to_declared_scale(value, dtype, want):
    """Excess digits round half-up, as flink's DecimalData.fromBigDecimal
    and Spark's Decimal.set do."""
    out = coerce_value(value, dtype)
    assert str(out) == want


@pytest.mark.parametrize(
    "value, dtype",
    [
        (123456789012.5, DecimalType(10, 2)),
        ("-123456789012.5", DecimalType(10, 2)),
        (99999999.995, DecimalType(10, 2)),  # rounds up to 11 digits
        (10**39, DecimalType(38, 0)),
        ("1" * 40 + ".5", DecimalType(38, 2)),
    ],
)
def test_decimal_past_its_precision_is_null(value, dtype):
    """Rounded half-up to the scale, a value with more digits than the
    declared precision is null, as flink's ``DecimalData.fromBigDecimal``
    returns it; so is one past the 38 digits any DECIMAL holds."""
    assert coerce_value(value, dtype) is None


@pytest.mark.parametrize("value", [float("inf"), float("nan"), "x", True, [1]])
def test_decimal_fails_on_a_value_that_is_no_number(value):
    with pytest.raises((ValueError, ArithmeticError)):
        coerce_value(value, DecimalType(10, 2))


@settings(max_examples=50, deadline=None)
@given(obj=st.dictionaries(st.text(max_size=5), st.integers(), max_size=4))
def test_string_column_serializes_non_text_json(obj):
    out = coerce_value(obj, StringType())
    assert json.loads(out) == obj


# --- the reader vs the exact path ---------------------------------------------

DECLARED = [
    LongType(),
    IntegerType(),
    ShortType(),
    DoubleType(),
    FloatType(),
    StringType(),
    BooleanType(),
    TimestampType(),
    DateType(),
    DecimalType(10, 2),
    StructType([StructField("a", IntegerType()), StructField("b", StringType())]),
    ArrayType(LongType()),
    MapType(StringType(), DoubleType()),
]


@st.composite
def plain_timestamp_texts(draw):
    """Zero-padded ``yyyy-MM-dd[ T]HH:mm:ss[.f{1,6}][Z]``: what both parsers
    read to the same instant."""
    ts = draw(st.datetimes(min_value=dt.datetime(1, 1, 1)))
    digits = draw(st.integers(0, 6))
    fraction = "." + f"{ts.microsecond:06d}"[:digits] if digits else ""
    sep, zone = draw(st.sampled_from(" T")), draw(st.sampled_from(["", "Z"]))
    return f"{ts.year:04d}-{ts:%m-%d}{sep}{ts:%H:%M:%S}{fraction}{zone}"


plain_date_texts = st.dates().map(lambda day: f"{day.year:04d}-{day:%m-%d}")


@st.composite
def timestamp_texts(draw):
    """SQL/ISO timestamps: mostly well-formed in the shapes both parsers
    take, else around the edges of both — 'T' or space, a trailing 'Z',
    unpadded fields, surrounding space, 7+ fractional digits, a date alone,
    no seconds, and out-of-range fields."""
    if draw(st.integers(0, 3)):
        return draw(plain_timestamp_texts())

    def field(lo, hi, width):
        value = draw(st.integers(lo, hi))
        return str(value).zfill(width) if draw(st.booleans()) else str(value)

    date = f"{field(0, 9999, 4)}-{field(0, 13, 2)}-{field(0, 32, 2)}"
    if draw(st.integers(0, 9)) == 0:
        return date
    text = date + draw(st.sampled_from([" ", "T", "t", "  "])) + field(0, 25, 2)
    text += ":" + field(0, 61, 2)
    if draw(st.integers(0, 9)):
        text += ":" + field(0, 61, 2)
    if draw(st.booleans()):
        text += "." + draw(st.text("0123456789", min_size=1, max_size=8))
    text += draw(st.sampled_from(["", "", "Z", "z", "+00:00"]))
    pad = draw(st.sampled_from(["", "", " ", "\t"]))
    return pad + text + draw(st.sampled_from(["", "", " "]))


@st.composite
def date_texts(draw):
    """ISO dates: mostly well-formed, else with unpadded or out-of-range
    fields, surrounding space or a time part."""
    if draw(st.integers(0, 3)):
        return draw(plain_date_texts)
    y, m, d = draw(st.integers(0, 9999)), draw(st.integers(0, 13)), draw(st.integers(0, 32))
    text = f"{y:04d}-{m:02d}-{d:02d}" if draw(st.integers(0, 3)) else f"{y}-{m}-{d}"
    return draw(st.sampled_from(["", " "])) + text + draw(st.sampled_from(["", "", " 00:00:00"]))


#: JSON value families; a column draws most values from one of them
SCALARS = {
    "int": st.integers(-(2**31), 2**31 - 1),
    "bigint": st.integers(-(2**63), 2**63 - 1),
    "huge_int": st.integers(-(2**70), 2**70),
    "float": st.floats(allow_nan=False, width=64),
    "fractional": st.sampled_from([1.5, -0.25, 2.0, 1e300]),
    "bool": st.booleans(),
    "text": st.text(max_size=6),
    # the measured traps: text the reference converts and Arrow would not
    "numeric_text": st.sampled_from(["12", " 7 ", "1.5", "-3", "true", "False", "1e3"]),
    "timestamp": timestamp_texts(),
    "date": date_texts(),
    "object": st.dictionaries(st.sampled_from("ab"), st.integers(-9, 9) | st.text(max_size=3), max_size=2),
    "list": st.lists(st.none() | st.integers(-9, 9), max_size=3),
}
ANY_SCALAR = st.one_of(*SCALARS.values())
#: the family a declared type's own values come from
NATIVE = {
    LongType: "bigint",
    IntegerType: "int",
    ShortType: "int",
    DoubleType: "float",
    FloatType: "float",
    StringType: "text",
    BooleanType: "bool",
    TimestampType: "timestamp",
    DateType: "date",
    DecimalType: "fractional",
    StructType: "object",
    ArrayType: "list",
    MapType: "object",
}
MISSING = object()


@st.composite
def payloads_and_schemas(draw):
    """A declared schema of 1-3 columns and 1-6 nodes for it.  Each
    column mostly holds one value family, most often its declared type's
    own, sometimes with intruders from any other; values may be null or
    missing, and a node may not be an object."""
    types = draw(st.lists(st.sampled_from(DECLARED), min_size=1, max_size=3))
    schema = StructType([StructField(f"c{i}", t) for i, t in enumerate(types)])
    rows = draw(st.integers(1, 6))
    columns = []
    for dtype in types:
        native = NATIVE[type(dtype)]
        family = SCALARS[draw(st.sampled_from([native] * len(SCALARS) + sorted(SCALARS)))]
        if draw(st.integers(0, 5)) == 0:
            family = family | ANY_SCALAR
        value = st.one_of(st.just(MISSING), st.none(), *[family] * 6)
        columns.append(draw(st.lists(value, min_size=rows, max_size=rows)))
    nodes = [
        {f"c{i}": col[r] for i, col in enumerate(columns) if col[r] is not MISSING}
        for r in range(rows)
    ]
    if nodes and draw(st.integers(0, 19)) == 0:
        nodes[draw(st.integers(0, rows - 1))] = draw(ANY_SCALAR)
    return nodes, schema


def _outcome(build):
    """The repr of the rows of the Arrow table a build hands to Spark (so
    -0.0 and 0.0 differ, and NaN equals NaN), or its error."""
    try:
        return "rows", repr(build().to_pylist())
    except Exception as e:  # noqa: BLE001 - the error itself is compared
        return "error", type(e), str(e)


def _exact(body, pointer, schema):
    """The exact path: the decode, ``json.loads``, the pointer, the row
    coercer."""
    return deserialize_nodes(parse_payload(body, pointer), schema)


def _engine(body, pointer, schema):
    """What the lookup path builds: the reader's table, or the exact path's."""
    table = read_arrow(body, pointer, schema)
    return table if table is not None else _exact(body, pointer, schema)


def _assert_body_same_as_reference(body, pointer, schema):
    reference = _outcome(lambda: _exact(body, pointer, schema))
    assert _outcome(lambda: _engine(body, pointer, schema)) == reference


def _assert_same_as_reference(nodes, schema):
    _assert_body_same_as_reference(json.dumps({"data": nodes}).encode(), "/data", schema)


@settings(max_examples=400, deadline=None)
@given(case=payloads_and_schemas())
def test_arrow_fast_path_matches_reference(case):
    _assert_same_as_reference(*case)


#: bytes of 0x80 and up: never JSON syntax, valid UTF-8 or not
high_bytes = st.binary(min_size=1, max_size=4).map(lambda b: bytes(x | 0x80 for x in b))


@settings(max_examples=300, deadline=None)
@given(case=payloads_and_schemas(), junk=high_bytes, data=st.data())
def test_arrow_fast_path_matches_reference_on_raw_bytes(case, junk, data):
    """The same on a body written as raw UTF-8, not ``\\u`` escapes, with
    bytes that may not be UTF-8 put after one of the nodes' quotes: into a
    key, a string value, or between members, where the body is no JSON."""
    nodes, schema = case
    body = json.dumps({"data": nodes}, ensure_ascii=False).encode()
    cuts = [i + 1 for i, byte in enumerate(body) if byte == ord('"')][2:]
    cut = data.draw(st.sampled_from(cuts)) if cuts else len(body)
    _assert_body_same_as_reference(body[:cut] + junk + body[cut:], "/data", schema)


#: declared type → JSON values the reference takes as they are
PLAIN = {
    LongType: st.integers(-(2**63), 2**63 - 1),
    IntegerType: st.integers(-(2**31), 2**31 - 1),
    ShortType: st.integers(-(2**15), 2**15 - 1),
    DoubleType: st.floats(allow_nan=False, width=64) | st.integers(-(2**53), 2**53),
    FloatType: st.floats(allow_nan=False, width=32) | st.integers(-(2**24), 2**24),
    StringType: st.text(max_size=6),
    BooleanType: st.booleans(),
    TimestampType: plain_timestamp_texts(),
    DateType: plain_date_texts,
}


@st.composite
def plain_payloads_and_schemas(draw):
    """Object nodes whose values need no conversion: each column holds its
    declared type's plain values, nulls and missing fields; DECIMAL and
    nested columns hold nulls only."""
    types = draw(st.lists(st.sampled_from(DECLARED), min_size=1, max_size=4))
    schema = StructType([StructField(f"c{i}", t) for i, t in enumerate(types)])
    nodes = []
    for _ in range(draw(st.integers(0, 6))):
        node = {}
        for i, dtype in enumerate(types):
            plain = PLAIN.get(type(dtype), st.none())
            value = draw(st.one_of(st.just(MISSING), st.none(), plain, plain))
            if value is not MISSING:
                node[f"c{i}"] = value
        nodes.append(node)
    return nodes, schema


@settings(max_examples=200, deadline=None)
@given(case=plain_payloads_and_schemas())
def test_arrow_fast_path_takes_plain_values(case):
    nodes, schema = case
    body = json.dumps({"data": nodes}).encode()
    table = read_arrow(body, "/data", schema)
    assert table is not None  # no needless fall back to the exact path
    assert _outcome(lambda: table) == _outcome(lambda: _exact(body, "/data", schema))


class Body(NamedTuple):
    """A hand-written JSON body, as text or as raw bytes, read at
    ``pointer`` into one column ``column``; ``read`` says whether the
    reader takes it or declines, and ``error``, when set, is the message
    the refresh fails with."""

    text: str | bytes
    pointer: str = "/data"
    column: str = "c"
    read: bool = True
    error: str | None = None

    @property
    def data(self) -> bytes:
        return self.text if isinstance(self.text, bytes) else self.text.encode()


@pytest.mark.parametrize(
    "values, dtype",
    [
        ([1.5], LongType()),
        ([2, 1.5], LongType()),
        ([True], DoubleType()),
        ([1.5, True], DoubleType()),  # pa.array infers double [1.5, 1.0]
        (["12"], LongType()),
        (["true"], BooleanType()),
        ([5], StringType()),
        ([2**40], IntegerType()),
        ([2**63], LongType()),
        ([2**53 + 1, 0.5], DoubleType()),
        (["2024-01-02T03:04:05"], TimestampType()),
        (["2024-01-02 03:04:05.123Z"], TimestampType()),
        (["2024-01-02 3:04:05"], TimestampType()),
        ([" 2024-01-02 03:04:05"], TimestampType()),
        (["2024-01-02 03:04:05.1234567"], TimestampType()),
        (["2024-01-02"], TimestampType()),
        (["2024-01-02 03:04"], TimestampType()),
        (["0000-01-02 03:04:05"], TimestampType()),
        (["2023-02-29 03:04:05"], TimestampType()),
        (["2024-01-02 03:04:60"], TimestampType()),
        (["2024-1-2"], DateType()),
        ([" 2024-01-02"], DateType()),
        (["0000-01-02"], DateType()),
        ([1.005], DecimalType(10, 2)),
        ([{"a": 1, "b": "x"}], StructType([StructField("a", IntegerType()), StructField("b", StringType())])),
        ([{"k": 1}], MapType(StringType(), DoubleType())),
        # hand-written JSON text from here on
        (Body('{"data":[{"c":-0},{"c":-0.0}]}', read=False), DoubleType()),
        (Body('{"data":[{"c":-0.0},{"c":0}]}'), DoubleType()),
        (Body('{"data":[{"c":-0}]}'), LongType()),
        (Body('{"data":[{"c":1e400}]}', read=False), DoubleType()),
        (Body('{"data":[{"c":1%s}]}' % ("0" * 400), read=False), DoubleType()),
        (Body('{"data":[{"c":Infinity},{"c":-Infinity},{"c":NaN}]}'), DoubleType()),
        (Body('{"data":[{"c":Inf}]}', read=False), DoubleType()),
        (Body('{"data":[{"c":-NaN}]}', read=False), DoubleType()),
        (Body('{"data":[{"c":1,"c":2}]}', read=False), LongType()),
        (Body('{"data":[{"c":1,"x":2,"x":"y"}]}'), LongType()),
        (Body('{"data":[{"c":"\\ud800"}]}', read=False), StringType()),
        (Body('\ufeff{"data":[{"c":1}]}', read=False), LongType()),
        (Body('{"data":[{"c":1}]}{"data":[{"c":2}]}', read=False), LongType()),
        (Body('{"data":[{"c":1}]}\n{"data":[{"c":2}]}', read=False), LongType()),
        (Body('{"data":[{"c":1}]} x', read=False), LongType()),
        (Body("", read=False), LongType()),
        (Body('{"data":null}', read=False), LongType()),
        (Body('{"data":[{"c":1},null]}', read=False), LongType()),
        (Body('{"rows":[{"c":1}]}', read=False), LongType()),
        (Body('{"data":[{"items":[{"c":1}]}]}', "/data/0/items", read=False), LongType()),
        (Body('{"data":{"0":{"items":[{"c":1}]}}}', "/data/0/items"), LongType()),
        (Body('{"data":{"c":1}}', read=False), LongType()),
        (Body('{"data":[{"c":1}]}', "data", read=False), LongType()),
        (Body('{"a/b":{"m~n":[{"c":1}]},"a":{"b":7}}', "/a~1b/m~0n"), LongType()),
        (Body('{"":[{"c":1}]}', "/"), LongType()),
        (Body('[{"c":1},{"c":2}]', ""), LongType()),
        (Body(json.dumps({"data": [{"c": "x\ny"}, {}]}, indent=2)), StringType()),
        (
            Body('{"meta":{"n":[1,"a",null]},"data":[{"c":1,"x":"a"},'
                 '{"c":2,"x":[1,{"y":null}]},{"c":3,"x":3.5},{"c":4,"x":{"z":true}}]}'),
            LongType(),
        ),
        (Body('{"data":[{"geo.lat":1.5,"geo":{"lat":9}}]}', column="geo.lat"), DoubleType()),
        (Body('{"data":[{"c":%d}]}' % 2**40, read=False), IntegerType()),
        (Body('{"data":[{"c":%d}]}' % 2**15, read=False), ShortType()),
        (Body('{"data":[{"c":null},{}]}'), DecimalType(10, 2)),
        (Body('{"data":[{"c":1.005}]}', read=False), DecimalType(10, 2)),
        (Body('{"data":[{"c":null},{}]}'), StructType([StructField("a", IntegerType())])),
        (Body('{"data":[{"c":{"a":1}}]}', read=False), StructType([StructField("a", IntegerType())])),
        (Body('{"data":null}', "/data/items", read=False), LongType()),
        (Body('{"data":{"items":null}}', "/data/items", read=False), LongType()),
        (Body('[{"c":1}],"x":2', "", read=False), LongType()),
        (Body('[{"c":1}],[{"c":2}]', "", read=False), LongType()),
        (Body('[{"c":1}]],"x":[', "", read=False), LongType()),
        (Body('[{"c":1}]],"x":[[1]', "", read=False), LongType()),
        (Body(' [{"c":1}]\n', ""), LongType()),
        (Body('[{"c":1}] ,\n"x":2', "", read=False), LongType()),
        (Body('[{"t":[1],"c":1},{"t":[],"c":2}]', ""), LongType()),
        (Body('{"data":[{"c":1,"x":Inf}]}', read=False), LongType()),
        (Body('{"data":[{"c":1,"x":[-Inf]}]}', read=False), LongType()),
        (Body('{"data":[{"c":1}],"x": -NaN }', read=False), LongType()),
        (Body('{"data":[{"c":"Inf","x":"Information"}]}'), StringType()),
        # raw bytes: the reader keeps invalid UTF-8 as it is, where the
        # decode reads U+FFFD
        (Body(b'{"data":[{"c":"a\xffb"}]}', read=False), StringType()),
        (Body(b'{"data":[{"c":"\xed\xa0\x80"},{"c":"ok"}]}', read=False), StringType()),
        (Body(b'{"data":[{"c":"2024-01-02 03:04:05\xc0"}]}', read=False), TimestampType()),
        (Body(b'[{"c":"a\xffb"}]', "", read=False), StringType()),
        (Body(b'{"data":[{"c":1,"x":"a\xffb","\xff":2}],"m":"\xfe"}'), LongType()),
        (Body(b'{"data":[{"c":"\xc3\xa9\xe2\x82\xac"}]}'), StringType()),
        (Body(b'{"data":[{"c\xff":1}]}'), LongType()),
        (Body(b'{"data":[{"\xff":1}]}', column="\ufffd", read=False), LongType()),
        (Body(b'{"\xff":[{"c":1}]}', "/\ufffd", read=False), LongType()),
        (
            Body(b'\xef\xbb\xbf{"data":[{"c":1}]}', read=False, error="Failed to parse JSON response"),
            LongType(),
        ),
    ],
)
def test_arrow_fast_path_measured_traps(values, dtype):
    if isinstance(values, Body):
        schema = StructType([StructField(values.column, dtype)])
        assert (read_arrow(values.data, values.pointer, schema) is not None) == values.read
        _assert_body_same_as_reference(values.data, values.pointer, schema)
        if values.error is not None:
            outcome = _outcome(lambda: _engine(values.data, values.pointer, schema))
            assert outcome[0] == "error" and outcome[2] == values.error, outcome
    else:
        schema = StructType([StructField("c", dtype)])
        _assert_same_as_reference([{"c": v} for v in values], schema)


def _one(dtype):
    return StructType([StructField("c", dtype)])


TWO_INTS = StructType([StructField("a", IntegerType()), StructField("b", IntegerType())])
NESTED = StructType(
    [
        StructField("r", StructType([StructField("a", IntegerType()), StructField("b", StringType())])),
        StructField("l", ArrayType(LongType())),
        StructField("m", MapType(StringType(), DoubleType())),
    ]
)


@pytest.mark.parametrize(
    "nodes, schema",
    [
        # a value of another JSON kind than the column's: 1.5 or 2.0 among
        # ints, a bool as a number and a number as a bool or a string
        ([{"c": 2}, {"c": 1.5}, {"c": 3}], _one(LongType())),
        ([{"c": 2.0}, {"c": 7}], _one(LongType())),
        ([{"c": 1}, {"c": True}], _one(IntegerType())),
        ([{"c": True}, {"c": 0}], _one(BooleanType())),
        ([{"c": 1.5}, {"c": False}], _one(DoubleType())),
        ([{"c": "x"}, {"c": 5}, {"c": [1, "y"]}], _one(StringType())),
        ([{"c": 2**53 + 1}, {"c": 0.5}], _one(DoubleType())),
        ([{"c": 2**31}], _one(IntegerType())),
        # failures: a node that is not an object, and two columns failing
        # at different rows and at the same row; the first failing node in
        # document order is named
        ([{"a": 1}, {"a": 2}, 7, {"a": "x"}], TWO_INTS),
        ([{"a": 1}, {"a": "x"}, [1], {"a": 2}], TWO_INTS),
        ([{"a": 1, "b": 2}, {"a": 1, "b": "x"}, {"a": "y", "b": 1}], TWO_INTS),
        ([{"a": 1, "b": 2}, {"a": "x", "b": "y"}], TWO_INTS),
        ([{"a": 1, "b": "y"}, {"a": "x", "b": 3}], TWO_INTS),
        ([{"a": 1, "b": 2.5}, {"a": 1.5, "b": 2}], TWO_INTS),
        ([{"a": 1, "b": "x"}, {"a": 2**40, "b": "y"}], TWO_INTS),
        # nested columns
        ([{"r": {"a": 1, "b": "x"}, "l": [1, None], "m": {"k": 1.5}}, {"r": {"a": "2"}, "m": {}}, {}], NESTED),
        ([{"r": {"a": 1}, "l": [1]}, {"r": [1], "l": [2]}], NESTED),
        ([{"l": [1, "z"], "m": {"k": "w"}}], NESTED),
        ([{"r": {"a": 1, "b": {"c": 1}}, "l": None, "m": {"k": 2, "j": None}}], NESTED),
        ([], NESTED),
    ],
)
def test_hand_written_nodes_read_as_the_exact_path_reads_them(nodes, schema):
    """Hand-written nodes where the reader could convert a value that
    :func:`coerce_value` converts differently or refuses, or read a body
    the exact path fails on.  Each case is compared with the exact path's
    rows, or its error's type and text."""
    _assert_same_as_reference(nodes, schema)


def test_reader_takes_the_body_without_copying_it():
    """A body the reader takes is read where it lies: the Python
    allocations while reading a 20k-row, 7-column body (perfbench
    ``dim_load``'s shape, ~3.5 MB) stay under a quarter of the body.  Arrow's
    own buffers are not Python allocations and do not count.  A root array
    is read as one wrapped copy, under 1.25× the body, also when an ignored
    array member makes the reader check the wrapper first."""
    import tracemalloc

    schema = StructType(
        [
            StructField("id", LongType()),
            *(StructField(name, StringType()) for name in ("name", "email", "city")),
            StructField("score", DoubleType()),
            StructField("updated_at", TimestampType()),
            StructField("active", BooleanType()),
        ]
    )
    records = [
        {
            "id": key,
            "name": f"user-{key}-{key * 7919:010x}",
            "email": f"u{key}.{key * 31 % 2**24:06x}@example.com",
            "city": ("Amsterdam", "Berlin", "Chennai")[key % 3],
            "score": key * 0.5 + 1,
            "updated_at": f"2024-{key % 12 + 1:02d}-{key % 28 + 1:02d} 03:04:05.{key % 1000:03d}",
            "active": key % 2 == 0,
        }
        for key in range(20_000)
    ]
    # a first read loads the modules read_arrow uses, which are no copy
    read_arrow(json.dumps({"data": records[:1]}).encode(), "/data", schema)
    tagged = [{**record, "tags": [1, 2]} for record in records]
    for document, pointer, bound in (
        ({"data": records}, "/data", 0.25),
        (records, "", 1.25),
        (tagged, "", 1.25),
    ):
        body = json.dumps(document).encode()
        tracemalloc.start()
        try:
            tracemalloc.reset_peak()
            before, _ = tracemalloc.get_traced_memory()
            table = read_arrow(body, pointer, schema)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert table is not None and table.num_rows == 20_000, pointer
        assert peak - before < len(body) * bound, (pointer, peak - before, len(body))


def test_reader_declines_a_repeated_column_name():
    """The reader fills only the first of two same-named columns; the exact
    path coerces the value into both."""
    schema = StructType([StructField("c", LongType()), StructField("c", StringType())])
    body = b'{"data":[{"c":5},{"c":null}]}'
    assert read_arrow(body, "/data", schema) is None
    _assert_body_same_as_reference(body, "/data", schema)


def test_reader_reads_past_what_json_loads_refuses_outside_the_columns():
    """Known divergence: outside the declared columns the reader parses with
    its own grammar, so it takes a body whose ignored members hold an integer
    literal past CPython's 4300-digit limit or nesting past its recursion
    limit, where the exact path fails the refresh.  Both limits are set to
    CPython's defaults here, since other code in the process may raise them."""
    schema = StructType([StructField("c", LongType())])
    limits = sys.getrecursionlimit(), sys.get_int_max_str_digits()
    sys.setrecursionlimit(1000)
    sys.set_int_max_str_digits(4300)
    try:
        for extra in ("1" + "0" * 4400, "[" * 1100 + "]" * 1100):
            body = b'{"data":[{"c":1,"x":%s}]}' % extra.encode()
            assert read_arrow(body, "/data", schema).to_pylist() == [{"c": 1}]
            with pytest.raises(RuntimeError, match="Failed to parse JSON response"):
                _exact(body, "/data", schema)
    finally:
        sys.setrecursionlimit(limits[0])
        sys.set_int_max_str_digits(limits[1])
