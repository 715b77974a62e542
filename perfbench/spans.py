"""Spans around the engine's layer calls, recorded from the benchmark's side.

The engine is not edited: :func:`instrument` rebinds the names through
which one layer calls the next (``refresh`` → ``lookup`` → ``http_client``
/ ``rows``) to wrappers that open a span while the tracer is enabled, and
:meth:`Instrumentation.close` puts the originals back.  Spans are kept in
memory; a span's self time is its duration minus its children's.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: int | None
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    count: int = 0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            span = Span(
                span_id=len(self.spans),
                parent_id=stack[-1].span_id if stack else None,
                op_id=self.op_id,
                name=name,
                start=time.perf_counter(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1].child_s += span.end - span.start

    def _per_name(self, op_id: int, value) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op_id == op_id and s.end:
                out[s.name] = out.get(s.name, 0) + value(s)
        return out

    def self_times(self, op_id: int) -> dict[str, float]:
        """Self seconds per span name within one operation."""
        return self._per_name(op_id, lambda s: s.self_s)

    def total_times(self, op_id: int) -> dict[str, float]:
        """Span seconds, children included, per span name within one operation."""
        return self._per_name(op_id, lambda s: s.end - s.start)

    def counts(self, op_id: int) -> dict[str, float]:
        """Summed ``count`` per span name within one operation."""
        return self._per_name(op_id, lambda s: s.count)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def traced(tracer: Tracer, name: str, fn, count=None):
    """``fn`` wrapped in a span; ``count(result)`` sets the span's count."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = tracer.open(name)
        try:
            result = fn(*args, **kwargs)
            if span is not None and count is not None:
                span.count = count(result)
            return result
        finally:
            tracer.close(span)

    return wrapper


class Instrumentation:
    """Rebinds layer entry points to traced wrappers until closed."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, tracer: Tracer, name: str, count=None) -> None:
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, traced(tracer, name, original, count))

    def close(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)


def instrument(tracer: Tracer) -> Instrumentation:
    """Trace the load path: refresh → lookup → http_client / rows."""
    from flink_http_full_cache_connector_spark.sources import lookup
    from flink_http_full_cache_connector_spark.streaming import refresh

    inst = Instrumentation()
    inst.wrap(refresh.RefreshingLookupCache, "check_and_reload", tracer, "refresh")
    inst.wrap(refresh, "create_lookup_df", tracer, "lookup")
    inst.wrap(lookup, "fetch_with_retry", tracer, "http_client.fetch", count=len)
    inst.wrap(lookup, "parse_payload", tracer, "http_client.parse", count=len)
    inst.wrap(lookup, "deserialize_nodes", tracer, "rows.coerce", count=len)
    return inst
