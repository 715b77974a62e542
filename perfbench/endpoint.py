"""Dimension endpoint for the benchmark, run as its own process.

    python3 endpoint.py --seed 1 --rows 50000 [--generations 4] [--fail-every 10]

Every body is JSON-encoded before the server announces itself, so a GET
costs the engine's process only the transfer: encoding belongs to a remote
server, not to the engine under test.  ``GET /data`` answers the
generations in rotation (the k-th successful answer serves generation
``k % generations``); with ``--fail-every n`` every n-th GET is answered
503 instead and does not advance the rotation.  ``GET /stats`` returns the
counters as JSON and is not counted.  The first line on stdout is
``{"port": ...}`` once the server listens; the process exits when its stdin
closes.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import gen


class Endpoint:
    """Pre-encoded generations, a failure schedule and request counters."""

    def __init__(self, bodies: list[bytes], fail_every: int = 0):
        self.bodies = bodies
        self.fail_every = fail_every
        self.lock = threading.Lock()
        self.requests = 0
        self.served = 0
        self.injected_503 = 0
        self.bytes_served = 0

    def answer(self) -> tuple[int, bytes]:
        with self.lock:
            self.requests += 1
            if self.fail_every and self.requests % self.fail_every == 0:
                self.injected_503 += 1
                return 503, b'{"error": "injected"}'
            body = self.bodies[self.served % len(self.bodies)]
            self.served += 1
            self.bytes_served += len(body)
            return 200, body

    def stats(self) -> dict[str, int]:
        with self.lock:
            return {
                "requests": self.requests,
                "served": self.served,
                "injected_503": self.injected_503,
                "bytes_served": self.bytes_served,
            }


def make_server(endpoint: Endpoint) -> ThreadingHTTPServer:
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/stats":
                status, body = 200, json.dumps(endpoint.stats()).encode()
            else:
                status, body = endpoint.answer()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    return ThreadingHTTPServer(("127.0.0.1", 0), Handler)


def encode_generations(seed: int, rows: int, generations: int) -> list[bytes]:
    return [
        json.dumps({"data": gen.dimension_records(seed, rows, g)}).encode()
        for g in range(generations)
    ]


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--rows", type=int, required=True)
    parser.add_argument("--generations", type=int, default=1)
    parser.add_argument("--fail-every", type=int, default=0)
    args = parser.parse_args(argv)

    endpoint = Endpoint(
        encode_generations(args.seed, args.rows, args.generations), args.fail_every
    )
    server = make_server(endpoint)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    try:
        sys.stdin.read()  # until the parent closes the pipe
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=10)


if __name__ == "__main__":
    main()
