"""HTTP fetch/retry + JSON pointer + fan-out + row coercion unit tests
(reference behaviors from ``HttpInputFormatProvider.scala:83-172`` and the
hermetic integration suite)."""

import datetime
import email.message

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_http_full_cache_connector_spark.http_client import (
    HttpFetchError,
    RequestMetrics,
    fetch_with_retry,
    parse_payload,
    resolve_json_pointer,
)
from flink_http_full_cache_connector_spark.options import HttpLookupOptions
from flink_http_full_cache_connector_spark.rows import coerce_value, deserialize_nodes


# --- retry (pinned behavior 3/5 from FIXTURES.md) ---------------------------

def test_fetch_retries_then_succeeds(http_server):
    http_server.set_status_sequence([500, 500])
    sleeps = []
    body = fetch_with_retry(
        HttpLookupOptions(url=http_server.url, max_retries=3, retry_delay_ms=10),
        sleep=sleeps.append,
    )
    assert b'"Mock User 1"' in body
    assert http_server.request_count == 3  # 500, 500, 200 → exactly 3 calls
    assert sleeps == [0.01, 0.01]


def test_fetch_fail_fast_after_exhausted_retries(http_server):
    http_server.set_status_sequence([500] * 10)
    with pytest.raises(HttpFetchError) as exc:
        fetch_with_retry(
            HttpLookupOptions(url=http_server.url, max_retries=1, retry_delay_ms=1),
            sleep=lambda s: None,
        )
    assert f"Failed to fetch data from {http_server.url} after 1 retries" in str(exc.value)
    # exception chain contains the HTTP status (pinned behavior 5)
    assert "HTTP request failed with status 500" in str(exc.value.__cause__)
    assert http_server.request_count == 2  # max_retries=1 → 2 attempts total


def test_fetch_zero_retries_single_attempt(http_server):
    http_server.set_status_sequence([500])
    with pytest.raises(HttpFetchError, match="after 0 retries"):
        fetch_with_retry(
            HttpLookupOptions(url=http_server.url, max_retries=0, retry_delay_ms=1),
            sleep=lambda s: None,
        )
    assert http_server.request_count == 1


def test_metrics_count_http_error_failures():
    """The urllib ``HTTPError`` (4xx/5xx) branch must feed RequestMetrics —
    it is the most common failure class, and the reference README's
    'failure counts / response times' metrics would be hollow without it."""
    import io
    import urllib.error

    def opener(req, timeout=None):
        raise urllib.error.HTTPError(
            req.full_url, 503, "Service Unavailable", None, io.BytesIO(b"down")
        )

    metrics = RequestMetrics()
    with pytest.raises(HttpFetchError, match="after 1 retries"):
        fetch_with_retry(
            HttpLookupOptions(url="http://example.invalid/x", max_retries=1, retry_delay_ms=1),
            sleep=lambda s: None,
            opener=opener,
            metrics=metrics,
        )
    assert metrics.attempts == 2
    assert metrics.failures == 2
    assert metrics.retries == 1
    assert metrics.total_duration_s > 0.0


@pytest.mark.parametrize(
    ("scheme", "connect_s", "read_s"),
    [
        # the request goes out and no response byte comes back
        ("http", 10, 1),
        # the TLS handshake is part of the connect
        ("https", 1, 10),
    ],
)
def test_read_timeout_applies_separately_from_connect(scheme, connect_s, read_s):
    """A server that accepts the connection and then sends nothing fails
    the attempt after the timeout of the phase it stalls in, not after the
    larger of the two."""
    import socket
    import time

    # the kernel completes the handshake for the listen backlog: the
    # connect succeeds, what the client sends is buffered, and no byte
    # ever comes back
    with socket.create_server(("127.0.0.1", 0)) as server:
        host, port = server.getsockname()
        metrics = RequestMetrics()
        t0 = time.monotonic()
        with pytest.raises(HttpFetchError, match="after 0 retries") as exc:
            fetch_with_retry(
                HttpLookupOptions(
                    url=f"{scheme}://{host}:{port}/users",
                    connect_timeout_seconds=connect_s,
                    read_timeout_seconds=read_s,
                    max_retries=0,
                ),
                metrics=metrics,
            )
        elapsed = time.monotonic() - t0
    assert 0.9 <= elapsed < 5, elapsed
    assert "timed out" in str(exc.value.__cause__)
    assert (metrics.attempts, metrics.failures) == (1, 1)


def test_error_body_stalled_past_the_read_timeout_is_retried():
    """A 503 whose body stops halfway and then stalls past the read timeout
    is a failed attempt like any other: each attempt times out reading the
    error body, is retried, and exhaustion raises the reference's message."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    release = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = b"service unavailable, retry later"
            self.send_response(503)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body[: len(body) // 2])
            release.wait(30)

        def log_message(self, *args):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    host, port = httpd.server_address
    url = f"http://{host}:{port}/users"
    metrics = RequestMetrics()
    t0 = time.monotonic()
    try:
        with pytest.raises(HttpFetchError) as exc:
            fetch_with_retry(
                HttpLookupOptions(
                    url=url, read_timeout_seconds=1, max_retries=2, retry_delay_ms=10
                ),
                metrics=metrics,
            )
        elapsed = time.monotonic() - t0
    finally:
        release.set()
        httpd.shutdown()
        httpd.server_close()
    assert str(exc.value) == f"Failed to fetch data from {url} after 2 retries"
    assert isinstance(exc.value.__cause__, TimeoutError), repr(exc.value.__cause__)
    assert (metrics.attempts, metrics.retries, metrics.failures) == (3, 2, 3)
    assert elapsed < 10, elapsed


class _Response:
    """What the opener hands back for a 200: the body, as the very object
    given, under a Content-Type header."""

    status = 200

    def __init__(self, body: bytes, content_type: str):
        self.body = body
        self.headers = email.message.Message()
        self.headers["Content-Type"] = content_type

    def read(self) -> bytes:
        return self.body

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


@pytest.mark.parametrize(
    ("content_type", "body", "want"),
    [
        # malformed UTF-8 is the parse's to replace, not an attempt's to fail
        ("application/json", b'{"n":"a\xffb"}', None),
        ("application/json; charset=UTF8", '{"n":"é"}'.encode(), None),
        # an unsupported charset, a codec that is no text encoding or one
        # that cannot replace reads as UTF-8
        ("application/json; charset=x-bogus", b'{"n":"a\xffb"}', None),
        ("application/json; charset=base64", b'{"n":"a\xffb"}', None),
        ("application/json; charset=idna", b'{"n":"a\xffb"}', None),
        # any other charset is transcoded to UTF-8 once, on receipt
        ("application/json; charset=iso-8859-1", b'{"n":"\xe9"}', '{"n":"é"}'.encode()),
        ("application/json; charset=utf-16", '{"n":"é"}'.encode("utf-16"), '{"n":"é"}'.encode()),
        ("application/json; charset=us-ascii", b'{"n":"a\xffb"}', '{"n":"a\ufffdb"}'.encode()),
    ],
    ids=["no-charset", "UTF8", "x-bogus", "base64", "idna", "iso-8859-1", "utf-16", "us-ascii"],
)
def test_fetch_returns_utf8_bytes_in_one_attempt(content_type, body, want):
    """The body comes back as UTF-8 bytes after one attempt whatever its
    bytes and charset: the very object received when it is read as UTF-8
    (``want`` None), else its one transcoding."""
    metrics = RequestMetrics()
    got = fetch_with_retry(
        HttpLookupOptions(url="http://example.invalid/x", max_retries=2, retry_delay_ms=1),
        sleep=lambda s: None,
        opener=lambda req, timeout=None: _Response(body, content_type),
        metrics=metrics,
    )
    if want is None:
        assert got is body
    else:
        assert got == want
    assert (metrics.attempts, metrics.retries, metrics.failures) == (1, 0, 0)


# --- JSON pointer (RFC 6901; HttpInputFormatProvider.scala:137-146) ---------

DOC = {"data": {"items": [1, 2], "a/b": {"c~d": "deep"}}, "": "empty-key"}


@pytest.mark.parametrize(
    ("pointer", "expected"),
    [
        ("", DOC),
        ("/data", DOC["data"]),
        ("/data/items", [1, 2]),
        ("/data/items/0", 1),
        ("/data/items/1", 2),
        ("/data/a~1b", {"c~d": "deep"}),
        ("/data/a~1b/c~0d", "deep"),
        ("/", "empty-key"),
    ],
)
def test_json_pointer_resolution(pointer, expected):
    assert resolve_json_pointer(DOC, pointer) == expected


@pytest.mark.parametrize("pointer", ["/missing", "/data/items/9", "/data/items/x", "no-slash"])
def test_json_pointer_miss_is_hard_error(pointer):
    with pytest.raises(RuntimeError, match="did not match any node"):
        resolve_json_pointer(DOC, pointer)


# --- payload parse + fan-out (array→N rows, object→1 row) -------------------

def test_parse_array_fans_out():
    assert parse_payload(b'[{"a":1},{"a":2}]') == [{"a": 1}, {"a": 2}]


def test_parse_single_object_one_row():
    assert parse_payload(b'{"a":1}') == [{"a": 1}]


def test_parse_with_pointer():
    assert parse_payload(b'{"wrap":{"rows":[{"a":1}]}}', "/wrap/rows") == [{"a": 1}]


def test_parse_malformed_json_fails():
    with pytest.raises(RuntimeError, match="Failed to parse JSON response"):
        parse_payload(b"not json {{{")


def test_parse_decodes_utf8_once():
    """Malformed bytes read as U+FFFD, and no other encoding is guessed: a
    UTF-16 body fails the parse, where ``json.loads`` of the bytes would
    detect and read it."""
    assert parse_payload(b'[{"name":"a\xffb"}]') == [{"name": "a\ufffdb"}]
    with pytest.raises(RuntimeError, match="Failed to parse JSON response"):
        parse_payload('{"a":1}'.encode("utf-16"))


# --- row coercion (flink-json semantics) ------------------------------------

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("amount", DoubleType()),
        StructField("ts", TimestampType()),
    ]
)


def test_coerce_full_row():
    row = coerce_value(
        {"id": 7, "name": "x", "amount": 1.5, "ts": "2024-01-02 03:04:05.678"}, SCHEMA
    )
    assert row == (
        7, "x", 1.5, datetime.datetime(2024, 1, 2, 3, 4, 5, 678000, tzinfo=datetime.timezone.utc)
    )


def test_missing_field_is_null_and_extra_ignored():
    # failOnMissingField=false: absent → NULL; extra JSON fields ignored
    row = coerce_value({"id": 1, "extra": "ignored"}, SCHEMA)
    assert row == (1, None, None, None)


def test_json_null_is_null():
    assert coerce_value({"id": None, "name": None}, SCHEMA)[:2] == (None, None)


def test_malformed_value_fails_job():
    # ignoreParseErrors=false: bad value → error naming the node
    with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
        deserialize_nodes([{"id": "not-an-int"}], SCHEMA)


def test_numeric_widening_and_string_numbers():
    row = coerce_value({"id": "42", "amount": 7}, SCHEMA)
    assert row[0] == 42 and row[2] == 7.0


def test_timestamp_sql_format_no_fraction():
    row = coerce_value({"ts": "2024-01-02 03:04:05"}, SCHEMA)
    assert row[3] == datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)


def test_nested_row():
    nested = StructType(
        [
            StructField("id", IntegerType()),
            StructField(
                "address",
                StructType(
                    [StructField("city", StringType()), StructField("zip", StringType())]
                ),
            ),
        ]
    )
    row = coerce_value({"id": 1, "address": {"city": "Oslo", "zip": "0150"}}, nested)
    assert row == (1, ("Oslo", "0150"))
