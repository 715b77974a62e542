"""HTTP fetch + JSON extraction runtime (pure Python, Spark-free).

Re-expresses the reference runtime's fetch path
(``HttpInputFormatProvider.scala:83-161``):

- ``fetch_with_retry``  — GET of an :class:`HttpLookupOptions`' ``url`` with
  its connect timeout on the connect and its read timeout on every socket
  read, redirects followed, non-200 → retry, up to
  ``max_retries`` retries with a fixed ``retry_delay_ms`` sleep; exhaustion
  raises ``RuntimeError`` with the reference's message text (fail-fast, no
  stale-cache fallback).  A 4xx/5xx is read like any other response, so a
  failure while reading its body is a failed, retried attempt.  It returns
  the body as UTF-8 bytes, undecoded.
- ``resolve_json_pointer`` — RFC 6901 resolution incl. ``~0``/``~1``
  unescaping; ``""`` means root; a non-matching pointer is a hard error.
- ``parse_payload`` — decode the body, parse it, resolve the pointer, then
  fan out: JSON array → N rows, single object → 1 row
  (``HttpInputFormatProvider.scala:126-158``).

The body is decoded the way the reference's ``BodyHandlers.ofString()``
decodes it: in the Content-Type's charset, UTF-8 when that is missing or
unsupported, malformed bytes read as U+FFFD.  So a decode never fails an
attempt.  A body in another charset is transcoded to UTF-8 on receipt; a
UTF-8 body stays the bytes received until the one decode in
``parse_payload``, which a body ``rows.read_arrow`` takes never pays.

Kept free of PySpark imports so both the driver-side cache builder and the
Python Data Source reader (executor-side) can use it.
"""

from __future__ import annotations

import codecs
import http.client
import json
import time
import urllib.error
import urllib.request
from typing import Any, Callable

from flink_http_full_cache_connector_spark.options import HttpLookupOptions

_MISSING = object()


class HttpFetchError(RuntimeError):
    """Raised when all fetch attempts are exhausted (job must fail)."""


class RequestMetrics:
    """HTTP request observability — the reference README documents
    "HTTP Request Metrics: Success/failure rates, response times" and
    "Error Rates: Retry attempts and failure counts" without ever
    registering them (``README.md:199-208``); this delivers them.
    Mutable plain counters: attempts (every GET issued), retries
    (attempts after the first per fetch), failures (attempts that
    errored), and wall durations."""

    __slots__ = (
        "attempts", "retries", "failures",
        "last_duration_s", "total_duration_s",
    )

    def __init__(self) -> None:
        self.attempts = 0
        self.retries = 0
        self.failures = 0
        self.last_duration_s = 0.0
        self.total_duration_s = 0.0

    def as_dict(self) -> dict[str, float]:
        return {
            "http_attempts": self.attempts,
            "http_retries": self.retries,
            "http_failures": self.failures,
            "http_last_duration_s": self.last_duration_s,
            "http_total_duration_s": self.total_duration_s,
        }


class _SplitTimeouts:
    """``http.client`` connection whose ``timeout`` is a ``(connect, read)``
    pair: the first bounds the TCP connect (and a TLS handshake), the
    second every socket read after it.  urllib hands the pair through
    unchanged, redirects included."""

    def __init__(self, host, *, timeout, **kwargs):
        connect_timeout, self.read_timeout = timeout
        super().__init__(host, timeout=connect_timeout, **kwargs)

    def connect(self):
        super().connect()
        self.sock.settimeout(self.read_timeout)


class _HTTPConnection(_SplitTimeouts, http.client.HTTPConnection):
    pass


class _HTTPSConnection(_SplitTimeouts, http.client.HTTPSConnection):
    pass


class _HTTPHandler(urllib.request.HTTPHandler):
    def http_open(self, req):
        return self.do_open(_HTTPConnection, req)


class _HTTPSHandler(urllib.request.HTTPSHandler):
    def https_open(self, req):
        return self.do_open(_HTTPSConnection, req, context=self._context)


#: urllib's default opener with the split-timeout connections
_OPENER = urllib.request.build_opener(_HTTPHandler, _HTTPSHandler)


def _as_utf8(body: bytes, charset: str) -> bytes:
    """``body``, in ``charset``, as UTF-8: the very object when the charset
    is UTF-8, missing (``charset`` then is ``"utf-8"``) or unsupported, else
    one decode with malformed bytes as U+FFFD and one encode."""
    try:
        name = codecs.lookup(charset).name
        return body if name == "utf-8" else body.decode(name, "replace").encode()
    except (LookupError, UnicodeError):
        # unknown, not a text encoding (``base64``) or unable to replace
        # (``idna``): read as UTF-8, as ofString() reads an unsupported one
        return body


def fetch_with_retry(
    opts: HttpLookupOptions,
    *,
    sleep: Callable[[float], None] = time.sleep,
    opener: Callable[..., Any] = _OPENER.open,
    metrics: RequestMetrics | None = None,
) -> bytes:
    """GET ``opts.url`` returning the response body as UTF-8 bytes.

    Semantics pinned by ``HttpInputFormatProvider.scala:83-124``: the loop
    runs ``max_retries + 1`` attempts total; any exception (including a
    non-200 status) triggers a retry after ``retry_delay_ms``; exhaustion
    raises ``HttpFetchError("Failed to fetch data from {url} after
    {max_retries} retries")`` chaining the last error.  Redirects are
    followed (urllib default ≙ HttpClient.Redirect.NORMAL).
    ``connect_timeout_seconds`` bounds the connect and
    ``read_timeout_seconds`` each socket read; a timeout is a failed
    attempt like any other.  A 4xx/5xx (urllib's ``HTTPError``) is read
    as the response it is: its body is read inside the attempt, so a
    timeout or reset there is retried too.  The body's bytes never fail an
    attempt (:func:`_as_utf8`).  An attempt's duration runs from the GET
    to the body as returned, so it includes a non-UTF-8 body's one
    transcode.

    ``sleep``/``opener`` are injection points for tests: ``opener`` is
    called as ``opener(request, timeout=(connect_s, read_s))``.  Without
    ``metrics`` the counts go to a fresh record.
    """
    metrics = metrics or RequestMetrics()
    timeout = (opts.connect_timeout_seconds, opts.read_timeout_seconds)
    request = urllib.request.Request(opts.url, method="GET")
    last_exception: Exception | None = None
    for attempt in range(opts.max_retries + 1):
        if attempt:
            metrics.retries += 1
            sleep(opts.retry_delay_ms / 1000.0)
        metrics.attempts += 1
        t0 = time.monotonic()
        try:
            try:
                resp = opener(request, timeout=timeout)
            except urllib.error.HTTPError as e:
                resp = e  # urllib raises on 4xx/5xx: the error is the response
            with resp:
                body = resp.read()
                if resp.status != 200:
                    raise RuntimeError(
                        f"HTTP request failed with status {resp.status}. "
                        f"Response body: {body.decode('utf-8', 'replace')}"
                    )
                return _as_utf8(body, resp.headers.get_content_charset() or "utf-8")
        except Exception as e:  # noqa: BLE001 — any failure triggers retry
            metrics.failures += 1
            last_exception = e
        finally:
            metrics.last_duration_s = time.monotonic() - t0
            metrics.total_duration_s += metrics.last_duration_s

    raise HttpFetchError(
        f"Failed to fetch data from {opts.url} after {opts.max_retries} retries"
    ) from last_exception


def _pointer_tokens(pointer: str) -> list[str]:
    """The reference tokens of an RFC 6901 pointer: split on ``/`` after
    the leading one, then ``~1``→``/`` and ``~0``→``~`` (in that order, so
    ``~01`` is ``~1``).  ``""`` has none."""
    return [t.replace("~1", "/").replace("~0", "~") for t in pointer.split("/")[1:]]


def resolve_json_pointer(document: Any, pointer: str) -> Any:
    """RFC 6901 JSON Pointer resolution (≙ Jackson ``JsonNode.at``).

    ``""`` → the document itself.  A pointer that does not match raises
    ``RuntimeError`` with the reference's message
    (``HttpInputFormatProvider.scala:142-146``).  ``~1``→``/``, ``~0``→``~``.
    """
    if pointer == "":
        return document
    node = document
    if not pointer.startswith("/"):
        # Jackson's at() throws on pointers not starting with '/'; surface
        # the same non-matching error shape.
        raise RuntimeError(
            f"JSON Pointer '{pointer}' did not match any node in the response"
        )
    for token in _pointer_tokens(pointer):
        nxt: Any = _MISSING
        if isinstance(node, dict):
            nxt = node.get(token, _MISSING)
        elif isinstance(node, list):
            if token.isdigit() and int(token) < len(node):
                nxt = node[int(token)]
        if nxt is _MISSING:
            raise RuntimeError(
                f"JSON Pointer '{pointer}' did not match any node in the response"
            )
        node = nxt
    return node


def parse_payload(body: bytes, pointer: str = "") -> list[Any]:
    """Parse the UTF-8 HTTP body and fan out to a list of row-nodes.

    ``HttpInputFormatProvider.scala:126-158``: malformed JSON →
    ``RuntimeError("Failed to parse JSON response")``; pointer-extract; then
    array → one node per element, anything else → single node.  The body
    is decoded once, malformed bytes as U+FFFD, and the ``str`` parsed:
    ``json.loads`` of the bytes would guess their encoding and skip a
    UTF-8 BOM, which fails the parse here as it does in the reference.
    """
    try:
        document = json.loads(body.decode("utf-8", "replace"))
    except Exception as e:
        raise RuntimeError("Failed to parse JSON response") from e
    node = resolve_json_pointer(document, pointer)
    if isinstance(node, list):
        return list(node)
    return [node]
