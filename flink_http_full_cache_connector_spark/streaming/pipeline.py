"""Streaming pipeline helpers: finite and bounded runs.

Covers the parts of the reference's exercised streaming surface that are
more than one Spark call:
- finite stream run       — ``run_to_memory``, for both packages (availableNow
  into a memory sink; ``finalize_memory_sink`` is its last step)
- B10 bounded collection  — ``collect_stream`` (memory sink, take first N)

The rest is plain Spark (SURVEY.md §2.B): B6, the watermark declaration, is
``df.withWatermark(col, "5 seconds")``; B8, the print sink, is
``writeStream.format("console")``; B9 (``INSERT INTO``) is
``writeStream.option("checkpointLocation", ...).toTable(name)``.
"""

from __future__ import annotations

import contextlib
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession

#: Stateful-shuffle partition count scoped around streaming query starts.
#: Structured Streaming gets NO AQE partition coalescing, and the stateful
#: operator partition count is pinned at query start (and into the
#: checkpoint) — so the session default sized for batch work (≈ cores)
#: makes every microbatch of a metadata-sized-state stream pay
#: (partitions × state-store load/commit) for a handful of keys (r11
#: profile: 3-microbatch update streams spent most of their wall in
#: 32-instance HDFS state-store overhead).  Every finite stream in both
#: packages runs under it through :func:`run_to_memory` or the upsert
#: runners.  The value is a per-stream capacity choice, never derived
#: from the driver's core count, so the bench stays comparable across
#: SPARK_GRAFT_CPUS settings.
STREAM_SHUFFLE_PARTITIONS = 8


@contextlib.contextmanager
def scoped_stream_shuffle(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` for one streaming query's
    start+run (set → yield → restore).  See STREAM_SHUFFLE_PARTITIONS."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def finalize_memory_sink(reduced: DataFrame, sink_name: str) -> DataFrame:
    """Materialize a finished memory-sink stream's reduced result and DROP
    the uuid-named sink view.

    Memory sinks pin every appended row in driver memory for as long as
    their temp view exists; a long sweep invoking many streaming queries in
    one session otherwise accumulates one dead row-log per invocation
    (round-3 ADVICE).  ``localCheckpoint(eager=True)`` executes the reduced
    plan (key-cardinality-sized by construction) and pins its partitions in
    the block manager, truncating lineage back to the sink — so the sink's
    full row log becomes collectable the moment the view drops, while the
    returned DataFrame stays distributed (no driver collect) and remains
    valid after the drop.
    """
    spark = reduced.sparkSession
    out = reduced.localCheckpoint(eager=True)
    try:
        spark.catalog.dropTempView(sink_name)
    except Exception:
        pass  # view already gone — nothing to release
    return out


def run_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a finite stream to completion and return its result.

    The stream runs once through a ``stream_<uuid>`` memory sink with
    ``trigger(availableNow=True)`` under :func:`scoped_stream_shuffle`;
    the result is materialized and the sink view dropped by
    :func:`finalize_memory_sink`.  A failed query re-raises after its view
    is dropped.
    """
    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    try:
        with scoped_stream_shuffle(spark):
            query = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
    except BaseException:
        spark.catalog.dropTempView(name)
        raise
    return finalize_memory_sink(spark.table(name), name)


def collect_stream(df: DataFrame, n: int, *, timeout_s: float = 60.0) -> list[Row]:
    """B10: run the stream and take the first ``n`` results (client-side
    iterator take-N, ``HttpLookupConnectorTest.scala:71-81``).

    Uses a memory sink and polls until ``n`` rows arrive or the query fails
    (failures re-raise — fail-fast parity) or the timeout lapses.  The
    query stops and its sink view is dropped once the rows are collected.
    """
    name = f"collect_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    query = df.writeStream.format("memory").queryName(name).start()
    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if query.exception() is not None:
                raise query.exception()
            rows = spark.sql(f"SELECT * FROM {name}").limit(n).collect()
            if len(rows) >= n:
                return rows[:n]
            time.sleep(0.2)
        return spark.sql(f"SELECT * FROM {name}").limit(n).collect()
    finally:
        query.stop()
        spark.catalog.dropTempView(name)
