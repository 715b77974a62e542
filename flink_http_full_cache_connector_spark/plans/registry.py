"""Central query registry backing the driver contract (__spark_entry__.py).

Every reference query shape from SURVEY.md §2.B registers a
:class:`QueryDef` here: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs
over the same parquet tables.  Column names are aliased identically on both
sides — the driver's compare hashes values after sorting columns by name.
The training-data operator set registers its queries apart, in
``training_data_ops.registry``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def clear_cache_first(fn: SparkQuery) -> SparkQuery:
    """Wrap a query so it first drops cached relations left by PREVIOUS
    queries: a harness that sweeps every registered query through one
    session (the driver's correctness gate, bench.py, the oracle-parity
    tests) would otherwise accumulate every persist() any query ever made."""

    @functools.wraps(fn)
    def gated(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        return fn(spark, sf_dir)

    return gated


def register(
    name: str, oracle: str | None, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QueryDef(
            name=name, spark=clear_cache_first(fn), oracle=oracle, doc=doc
        )
        # return the UNwrapped function: intra-module composition must not
        # clear the caller's own cache mid-build
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    # Import the registrant lazily to avoid an import cycle; it appends to
    # the registry at import time.
    from flink_http_full_cache_connector_spark.plans import (  # noqa: F401
        reference_queries,
    )

    return dict(_REGISTRY)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver parquet table.

    ``events.parquet`` has shipped ``ts`` in two physical forms across
    driver rounds: parquet TIMESTAMP(NANOS) (round 1 — Spark's vectorized
    reader rejects it, so it must be read as nanos-since-epoch longs and
    µs-truncated) and plain TIMESTAMP(MICROS) (round 2+ — reads directly
    as TIMESTAMP_NTZ).  Handle both by inspecting the footer schema; either
    way the returned ``ts`` is a session-tz TIMESTAMP whose wall-clock
    values match what the DuckDB oracle sees (UTC sessions — build_session
    pins spark.sql.session.timeZone=UTC).
    """
    df = _read_raw(spark, sf_dir, name)
    return normalize_events_ts(df) if name == "events" else df


def table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`load_table`: the table's parquet file read
    as a file stream, with the same columns and types.

    The stream declares the file's raw schema (``ts`` as nanos-long when
    the footer says TIMESTAMP(NANOS)) and picks the one file out of
    ``sf_dir`` with ``pathGlobFilter``; ``events.ts`` is then normalized
    exactly as the batch read does.
    """
    stream = (
        spark.readStream.schema(_read_raw(spark, sf_dir, name).schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream) if name == "events" else stream


def _read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's parquet file as stored; for ``events`` the session is
    first told to read TIMESTAMP(NANOS) as longs."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events relation's ``ts`` to a session-tz TIMESTAMP,
    whichever physical form the parquet shipped (see :func:`load_table`).
    Works on batch and streaming DataFrames alike — dtype dispatch happens
    at plan-build time on the declared schema.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos-as-long; integer division: (ts / 1000).cast("long")
        # would round-trip through a double and lose ulps at ~1.7e18
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # parquet µs timestamps are tz-naive wall-clock values; the whole
        # query surface (windowing, unix_micros, oracle hashing) was built
        # against session-tz TIMESTAMP, so normalize (UTC session ⇒ same
        # instant, same wall clock)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
