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
from tests.conftest import USERS_V1, USERS_V2

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
    driver = read_arrow(json.dumps(payload), "/data", schema)
    assert pa.Table.from_batches(batches).to_pylist() == driver.to_pylist()
