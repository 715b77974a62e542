"""Transient local HTTP server utilities.

Used by the driver-contract queries and tests to stand in for the
reference's HTTP endpoint: serves a JSON payload (often derived from the
same parquet tables the DuckDB oracle reads, so correctness is exactly
checkable) on 127.0.0.1, then shuts down.
"""

from __future__ import annotations

import contextlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable, Iterator


@contextlib.contextmanager
def serve_json(payload: Any | Callable[[int], Any]) -> Iterator[str]:
    """Serve ``payload`` as JSON on an ephemeral port; yields the URL.

    ``payload`` may be a value (served identically to every request) or a
    callable receiving the 1-based request number and returning the value
    to serve — the hook for endpoints whose content changes per fetch.
    The request counter is locked; callable payloads are re-encoded per
    request.  A ``bytes`` value is served as it is, so a test can serve
    text that is not what ``json.dumps`` writes.
    """

    def encode(value: Any) -> bytes:
        return value if isinstance(value, bytes) else json.dumps(value, default=str).encode()

    if callable(payload):
        factory = payload
        static_body = b""
    else:
        factory = None
        static_body = encode(payload)
    lock = threading.Lock()
    state = {"n": 0}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if factory is None:
                body = static_body
            else:
                with lock:
                    state["n"] += 1
                    n = state["n"]
                body = encode(factory(n))
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        host, port = httpd.server_address
        yield f"http://{host}:{port}/data"
    finally:
        httpd.shutdown()
        httpd.server_close()


@contextlib.contextmanager
def serve_json_generational(
    records: list[dict], *, field: str = "generation"
) -> Iterator[str]:
    """Serve ``records`` with ``field`` stamped to the 1-based fetch number.

    Models a dimension endpoint whose content changes between cache
    refreshes: the first GET sees ``field = 1``, the second ``field = 2``,
    and so on — so a FIXED_DELAY reload loop can prove it really re-fetched
    (and atomically swapped in) fresh data rather than serving the old
    snapshot.  Thin wrapper over :func:`serve_json`'s callable form.
    """
    with serve_json(lambda n: [{**r, field: n} for r in records]) as url:
        yield url


def parquet_as_records(path: str, columns: list[str] | None = None) -> list[dict]:
    """Read a (small, dimension-sized) parquet file into JSON-able records.

    Driver-side by design — this models the reference's HTTP payload, which
    is always a single in-memory JSON document (lookup-table contract).
    """
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=columns)
    return table.to_pylist()
