"""Python Data Source registration tests (A3/A4): format name, declared
schema, projection narrowing, batch read, microbatch streaming refresh."""

import datetime
import json
from decimal import Decimal
import re
import time

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import MapType, StructType
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from flink_http_full_cache_connector_spark.rows import read_arrow
from flink_http_full_cache_connector_spark.sources import lookup
from flink_http_full_cache_connector_spark.sources.datasource import (
    HttpLookupDataSource,
    register,
)
from flink_http_full_cache_connector_spark.sources.local_http import serve_json
from flink_http_full_cache_connector_spark.sources.lookup import FetchStats, create_lookup_df
from tests.conftest import USERS_V1, USERS_V2
from tests.test_lookup_source import NESTED_DDL, NESTED_ROWS, SCALAR_DDL, SCALAR_ROWS

DDL = "id INT, name STRING, username STRING, email STRING"


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def test_format_name():
    assert HttpLookupDataSource.name() == "http-lookup-full-cache"


def test_batch_read(registered, http_server):
    df = (
        registered.read.format("http-lookup-full-cache")
        .schema(DDL)
        .option("url", http_server.url)
        .load()
    )
    rows = sorted(df.collect(), key=lambda r: r.id)
    assert len(rows) == 10
    assert rows[0].name == "Mock User 1" and rows[9].email == "user10@example.com"


def test_declared_schema_required(registered, http_server):
    with pytest.raises(Exception, match="requires a declared schema"):
        registered.read.format("http-lookup-full-cache").option(
            "url", http_server.url
        ).load().collect()


def test_projection_narrowed_schema(registered, http_server):
    """A4: a narrower declared schema materializes only those fields."""
    df = (
        registered.read.format("http-lookup-full-cache")
        .schema("id INT, email STRING")
        .option("url", http_server.url)
        .load()
    )
    assert df.columns == ["id", "email"]
    assert df.count() == 10


def test_bad_option_fails_at_plan_time(registered, http_server):
    with pytest.raises(Exception, match="max.retries"):
        (
            registered.read.format("http-lookup-full-cache")
            .schema(DDL)
            .option("url", http_server.url)
            .option("max.retries", "-1")
            .load()
            .collect()
        )


def test_single_partition(registered, http_server):
    df = (
        registered.read.format("http-lookup-full-cache")
        .schema(DDL)
        .option("url", http_server.url)
        .load()
    )
    assert df.rdd.getNumPartitions() == 1


def test_stream_refresh_v1_to_v2(registered, http_server, tmp_path):
    """Pinned behavior 4 (streaming source form): v1 payload, then v2 after
    the refresh interval → post-refresh snapshot shows 'Updated ...'."""
    stream = (
        registered.readStream.format("http-lookup-full-cache")
        .schema(DDL)
        .option("url", http_server.url)
        .option("cache.refresh-interval", "PT1S")
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("users_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if registered.sql("SELECT count(*) c FROM users_stream").first().c >= 10:
                break
            time.sleep(0.3)
        http_server.set_payload(USERS_V2)
        while time.time() < deadline:
            n = (
                registered.sql("SELECT count(*) c FROM users_stream WHERE name LIKE 'Updated %'")
                .first()
                .c
            )
            if n >= 10:
                break
            time.sleep(0.3)
        assert n >= 10, "refresh did not surface v2 payload"
    finally:
        query.stop()
    assert http_server.request_count >= 2


def test_stream_reader_refreshes_after_a_backwards_clock_step(spark, http_server):
    """The last load ended an hour "later" than now: the wall clock stepped
    back.  A refresh is due now, not once the clock has caught up (65 min
    at ``PT5M``); a load that did end within the interval still waits."""
    source = HttpLookupDataSource(
        {"url": http_server.url, "cache.refresh-interval": "PT5M"}
    )
    reader = source.simpleStreamReader(StructType.fromDDL(DDL))
    now_ms = int(time.time() * 1000)
    waiting = {"epoch": 3, "last_load_end_ms": now_ms - 60_000}
    rows, end = reader.read(waiting)
    assert (list(rows), end, http_server.request_count) == ([], waiting, 0)
    rows, end = reader.read({"epoch": 3, "last_load_end_ms": now_ms + 3_600_000})
    assert len(list(rows)) == len(USERS_V1) and end["epoch"] == 4
    assert end["last_load_end_ms"] >= now_ms
    assert http_server.request_count == 1


def test_malformed_utf8_reads_as_replacement_character(registered):
    """A body with a byte that is not UTF-8 is served in one attempt, the
    byte read as U+FFFD as the reference's ``BodyHandlers.ofString()``
    reads it: through ``create_lookup_df``, by the exact path the reader
    declines to, and through the data source."""
    body = b'{"data":[{"id":1,"name":"a\xffb"},{"id":2,"name":"ok"}]}'
    want = [(1, "a\ufffdb"), (2, "ok")]
    with serve_json(body) as url:
        options = {"url": url, "xpath": "/data"}
        stats = FetchStats()
        cache = create_lookup_df(registered, options, "id INT, name STRING", stats=stats)
        assert sorted(map(tuple, cache.collect())) == want
        assert stats.arrow_fallbacks == 1
        assert (stats.http.attempts, stats.http.failures) == (1, 0)
        read = (
            registered.read.format("http-lookup-full-cache")
            .schema("id INT, name STRING")
            .options(**options)
            .load()
        )
        assert sorted(map(tuple, read.collect())) == want


def test_decimal_past_its_precision_reads_null(registered):
    """A DECIMAL value whose digits, rounded half-up to the scale, exceed
    the declared precision reads NULL, as flink's
    ``DecimalData.fromBigDecimal`` returns it, and so does one past the 38
    digits any DECIMAL holds; a value at the precision loads exactly.  The
    reader declines every non-null DECIMAL, so this is the exact path's
    rule, through ``create_lookup_df``, the batch read and the stream
    reader alike."""
    body = (
        b'{"data":[{"id":1,"amount":123456789012.5},'
        b'{"id":2,"amount":1234567890123456789012345678901234567890},'
        b'{"id":3,"amount":99999999.99},{"id":4,"amount":-99999999.99},{"id":5,"amount":"0.005"}]}'
    )
    ddl = "id INT, amount DECIMAL(10,2)"
    want = [(1, None), (2, None), (3, Decimal("99999999.99")), (4, Decimal("-99999999.99")),
            (5, Decimal("0.01"))]
    with serve_json(body) as url:
        options = {"url": url, "xpath": "/data"}
        stats = FetchStats()
        cache = create_lookup_df(registered, options, ddl, stats=stats).collect()
        assert stats.arrow_fallbacks == 1
        read = registered.read.format("http-lookup-full-cache").schema(ddl).options(**options).load()
        stream = HttpLookupDataSource(options).simpleStreamReader(StructType.fromDDL(ddl))
        streamed, _ = stream.read(stream.initialOffset())
        for got in (cache, read.collect(), streamed):
            assert sorted(map(tuple, got)) == want


@pytest.mark.parametrize(
    "ddl, payload, fallbacks",
    [(SCALAR_DDL, SCALAR_ROWS, 0), (NESTED_DDL, NESTED_ROWS, 1)],
    ids=["scalar", "nested"],
)
def test_data_source_reads_the_rows_the_cache_holds(registered, ddl, payload, fallbacks):
    """The data source and ``create_lookup_df`` give the same rows for one
    body: DECIMAL, ROW, ARRAY, MAP, -0.0, non-BMP text and the declared
    types the reader takes.  The cache takes the scalar body through the
    reader and declines the nested one to the exact path."""
    import math

    with serve_json(payload) as url:
        stats = FetchStats()
        cache = create_lookup_df(registered, {"url": url}, ddl, stats=stats)
        assert stats.arrow_fallbacks == fallbacks
        read = registered.read.format("http-lookup-full-cache").schema(ddl).option("url", url).load()
        got, want = (sorted(df.collect(), key=lambda r: r.id) for df in (read, cache))
    assert got == want and len(got) == len(payload)
    # -0.0 == 0.0 in Python: compare floating values by sign as well
    for g, w in zip(got, want):
        for c in ("d", "f"):
            if c in g and g[c] is not None:
                assert math.copysign(1.0, g[c]) == math.copysign(1.0, w[c]), (c, g, w)


@pytest.fixture
def los_angeles_tz(monkeypatch):
    """The Python process's local zone set away from UTC, for one test."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_reader_timestamps_ignore_worker_time_zone(spark, http_server, los_angeles_tz):
    """The reader's rows, converted as Spark's Python data source worker
    converts them, hold the same instants as the driver's Arrow reader: a
    timestamp string is UTC whatever the worker process's local zone."""
    payload = {
        "data": [
            {"id": 1, "ts": "2024-01-01 00:00:00"},
            {"id": 2, "ts": "2024-07-01T12:30:00.250"},
            {"id": 3, "ts": None},
            # the two instants of Los Angeles' repeated hour (01:30 PDT and
            # 01:30 PST): one naive local time for both
            {"id": 4, "ts": "2024-11-03T08:30:00Z"},
            {"id": 5, "ts": "2024-11-03T09:30:00Z"},
        ]
    }
    http_server.set_payload(payload)
    schema = StructType.fromDDL("id INT, ts TIMESTAMP")
    source = HttpLookupDataSource({"url": http_server.url, "xpath": "/data"})
    rows = source.reader(schema).read(InputPartition(0))
    batches = records_to_arrow_batches(rows, 1000, schema, source)
    got = pa.Table.from_batches(batches).to_pylist()
    driver = read_arrow(json.dumps(payload).encode(), "/data", schema)
    assert got == driver.to_pylist()
    utc = datetime.timezone.utc
    assert [r["ts"] for r in got[3:]] == [
        datetime.datetime(2024, 11, 3, h, 30, tzinfo=utc) for h in (8, 9)
    ]


def _as_read(value):
    """A collected value in the form the data source's readers yield it: a
    ROW as a dict and a TIMESTAMP (collected as naive local time) as an
    aware UTC datetime."""
    if isinstance(value, Row):
        return {k: _as_read(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _as_read(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_as_read(v) for v in value]
    if isinstance(value, datetime.datetime):
        return value.astimezone(datetime.timezone.utc)
    return value


@pytest.mark.parametrize(
    "ddl, payload, coercions",
    [(SCALAR_DDL, SCALAR_ROWS, 0), (NESTED_DDL, NESTED_ROWS, 1)],
    ids=["scalar", "nested"],
)
def test_readers_yield_the_rows_of_the_cache_table(spark, monkeypatch, ddl, payload, coercions):
    """The batch reader, the stream reader and its replay load through the
    cache's Arrow build: the exact path's coercer runs only for a body the
    Arrow reader declines, once per read, and each reader yields
    ``create_lookup_df``'s rows, a MAP as a dict."""
    calls = []
    coerce = lookup.deserialize_nodes
    monkeypatch.setattr(
        lookup, "deserialize_nodes", lambda nodes, schema: calls.append(1) or coerce(nodes, schema)
    )
    schema = StructType.fromDDL(ddl)
    with serve_json(payload) as url:
        source = HttpLookupDataSource({"url": url})
        stream = source.simpleStreamReader(schema)
        reads = [list(source.reader(schema).read(InputPartition(0)))]
        assert len(calls) == coercions
        rows, end = stream.read(stream.initialOffset())
        reads.append(list(rows))
        assert len(calls) == 2 * coercions
        reads.append(list(stream.readBetweenOffsets(stream.initialOffset(), end)))
        assert len(calls) == 3 * coercions
        cache = create_lookup_df(spark, {"url": url}, schema).collect()
    want = sorted((tuple(map(_as_read, row)) for row in cache), key=lambda r: r[0])
    maps = [i for i, f in enumerate(schema.fields) if isinstance(f.dataType, MapType)]
    for got in reads:
        assert sorted(got, key=lambda r: r[0]) == want and len(got) == len(payload)
        assert all(isinstance(row[i], dict) for row in got for i in maps if row[i] is not None)


@pytest.mark.parametrize("fault", ["retries", "coercion", "overflow"])
def test_data_source_fails_fast_with_the_reference_text(registered, http_server, fault):
    """A scan and a stream read fail with the reference's text when retries
    run out (``max.retries`` 1: two GETs each) and when a body the Arrow
    reader declines holds a value that does not coerce: text in an INT
    column, or an integer past its 32 bits."""
    bad_id = {"coercion": "x", "overflow": 2**31}.get(fault)
    if fault == "retries":
        http_server.set_status_sequence([500] * 4)
        options = {"url": http_server.url, "max.retries": "1", "retry.delay.ms": "1"}
        message = re.escape(f"Failed to fetch data from {http_server.url} after 1 retries")
    else:
        http_server.set_payload({"data": [{"id": 1, "name": "a"}, {"id": bad_id, "name": "b"}]})
        options = {"url": http_server.url, "xpath": "/data"}
        message = "Failed to deserialize JSON node"
    df = registered.read.format("http-lookup-full-cache").schema(DDL).options(**options).load()
    with pytest.raises(Exception, match=message):
        df.collect()
    stream = HttpLookupDataSource(options).simpleStreamReader(StructType.fromDDL(DDL))
    with pytest.raises(RuntimeError, match=message):
        stream.read(stream.initialOffset())
    assert http_server.request_count == (4 if fault == "retries" else 2)
