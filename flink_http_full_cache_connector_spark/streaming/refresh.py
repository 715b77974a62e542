"""FIXED_DELAY periodic cache reload with atomic swap (A5).

Re-expresses ``FullCachingLookupProvider`` + ``PeriodicCacheReloadTrigger``
in FIXED_DELAY mode (``HttpLookupTableSource.scala:36-54``): the dimension
snapshot lives in memory; every ``cache.refresh-interval`` *measured from
completion of the previous load*, the scan re-runs and the new snapshot
atomically replaces the old; a reload whose retries exhaust **fails the
job** (no stale-cache fallback, pinned by
``HttpLookupConnectorIntegrationTest.scala:546-672``).

Spark realization: the snapshot is Spark's Arrow-batch relation
(:func:`sources.lookup.create_lookup_df`): the driver ships the refreshed
table to the JVM as Arrow IPC batches, which each scan of the snapshot
(for a join, the broadcast job) decodes in its tasks.  The batches live in
the JVM when the build returns, so it needs no Spark cache and nothing to
release: the old snapshot goes once no plan refers to it.
``check_and_reload`` is invoked between microbatches (from ``foreachBatch``
or any driver loop) — never concurrently with a running batch, so the swap
cannot race in-flight tasks.
"""

from __future__ import annotations

import time
from threading import Lock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from flink_http_full_cache_connector_spark.options import HttpLookupOptions, validate_options
from flink_http_full_cache_connector_spark.sources.lookup import FetchStats, create_lookup_df


class RefreshingLookupCache:
    """Full-cache dimension snapshot with FIXED_DELAY reload."""

    def __init__(
        self,
        spark: SparkSession,
        options: dict[str, object] | HttpLookupOptions,
        schema: StructType,
    ):
        self.spark = spark
        self.opts = validate_options(options)
        self.schema = schema
        self.stats = FetchStats()
        self._lock = Lock()
        self.check_and_reload(force=True)

    def current(self) -> DataFrame:
        """The current snapshot."""
        return self._snapshot

    def metrics(self) -> dict[str, float]:
        """The metric families the reference README documents but never
        registers (``README.md:199-208``), actually delivered: refresh
        count/durations, cached row count, HTTP attempt/retry/failure
        counts and response times.  Cache hit-rate lives on the join side —
        see :func:`operators.lookup_join.observed_lookup_join`."""
        return self.stats.as_dict()

    def due(self) -> bool:
        """FIXED_DELAY: next reload is timed from *completion* of the last."""
        return (time.monotonic() - self._last_load_end) >= self.opts.refresh_interval_seconds

    def check_and_reload(self, *, force: bool = False) -> bool:
        """Reload if due.  Returns True if a reload happened.

        Exhausted retries propagate (fail-fast) — callers must NOT swallow
        the error; under ``foreachBatch`` it terminates the streaming query,
        matching the reference's job-failure semantics.
        """
        with self._lock:
            if not force and not self.due():
                return False
            # the build is eager: a failed fetch or coercion raises here,
            # before the swap, and the old snapshot keeps serving
            self._snapshot = create_lookup_df(
                self.spark, self.opts, self.schema, stats=self.stats
            )
            self._last_load_end = time.monotonic()
            return True


def enrich_stream(
    cache: RefreshingLookupCache,
    on,
    how: str = "left",
    *,
    sink=None,
):
    """Per-microbatch stream-static enrichment with refresh-between-batches.

    Returns a ``foreachBatch`` function: each batch first gives the cache a
    chance to reload (FIXED_DELAY), then broadcast-joins the batch against
    the current snapshot and hands the result to ``sink(df, epoch_id)``.
    """
    from flink_http_full_cache_connector_spark.operators.lookup_join import lookup_join

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        cache.check_and_reload()
        enriched = lookup_join(batch_df, cache.current(), on=on, how=how)
        if sink is not None:
            sink(enriched, epoch_id)

    return process
