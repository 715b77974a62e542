"""Python Data Source registration tests (A3/A4): format name, declared
schema, projection narrowing, batch read, microbatch streaming refresh."""

import json
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import StructType
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from flink_http_full_cache_connector_spark.rows import read_arrow
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


def test_reader_timestamps_ignore_worker_time_zone(http_server, los_angeles_tz):
    """The reader's rows, converted as Spark's Python data source worker
    converts them, hold the same instants as the driver's Arrow reader: a
    timestamp string is UTC whatever the worker process's local zone."""
    payload = {
        "data": [
            {"id": 1, "ts": "2024-01-01 00:00:00"},
            {"id": 2, "ts": "2024-07-01T12:30:00.250"},
            {"id": 3, "ts": None},
        ]
    }
    http_server.set_payload(payload)
    schema = StructType.fromDDL("id INT, ts TIMESTAMP")
    source = HttpLookupDataSource({"url": http_server.url, "xpath": "/data"})
    rows = source.reader(schema).read(InputPartition(0))
    batches = records_to_arrow_batches(rows, 1000, schema, source)
    driver = read_arrow(json.dumps(payload).encode(), "/data", schema)
    assert pa.Table.from_batches(batches).to_pylist() == driver.to_pylist()
