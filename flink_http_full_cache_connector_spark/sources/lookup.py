"""HTTP full-cache lookup table → static DataFrame.

The reference materializes the entire HTTP JSON payload as a bounded
one-split scan buffered in join-operator memory
(``HttpInputFormatProvider.scala:50,80-81,148``) and serves it to a
``FOR SYSTEM_TIME AS OF`` lookup join.  The Spark-native equivalent is a
small **static DataFrame** fetched on the driver and broadcast to the join —
same "whole dimension table in memory next to the probe" physical profile,
but letting Catalyst/AQE pick broadcast-hash-join.

Scale contract (100 TB design note): the *probe* side is arbitrarily large
and fully partition-parallel; the *dimension* side is by definition a
lookup-table payload (one HTTP document) and must fit in executor memory —
identical to the reference's contract (README.md:210-217 memory sizing
warning).  Nothing here collects probe data to the driver.
"""

from __future__ import annotations

import threading
import time
import weakref
from dataclasses import dataclass
from dataclasses import field as dataclass_field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from flink_http_full_cache_connector_spark.http_client import (
    RequestMetrics,
    fetch_with_retry,
    parse_payload,
)
from flink_http_full_cache_connector_spark.options import HttpLookupOptions, validate_options
from flink_http_full_cache_connector_spark.rows import deserialize_nodes, read_arrow


@dataclass
class FetchStats:
    """Cache observability — the metric families the reference README
    documents but never registers (``README.md:199-208``): refresh
    durations, row counts, and (via ``http``) request/retry/failure
    counts and response times.  :func:`load_table` fills ``http`` and
    ``arrow_fallbacks``, the loads whose body the Arrow reader
    (:func:`rows.read_arrow`) declined, so they ran the exact path: the
    body's one decode, ``json.loads`` and the row-at-a-time coercer; a
    body with invalid UTF-8 where the reader reads it is one.  A refresh's
    duration runs from the GET to the Arrow-batch relation's return; the
    Arrow → row decode is not in it, since it runs in the tasks of each
    scan of the snapshot."""

    fetch_count: int = 0
    last_fetch_duration_s: float = 0.0
    total_fetch_duration_s: float = 0.0
    last_row_count: int = 0
    arrow_fallbacks: int = 0
    http: RequestMetrics = dataclass_field(default_factory=RequestMetrics)

    def as_dict(self) -> dict[str, float]:
        """Flat metric map, reference-README naming."""
        return {
            "refresh_count": self.fetch_count,
            "last_refresh_duration_s": self.last_fetch_duration_s,
            "total_refresh_duration_s": self.total_fetch_duration_s,
            "cached_row_count": self.last_row_count,
            "arrow_fallbacks": self.arrow_fallbacks,
            **self.http.as_dict(),
        }


@dataclass
class Snapshot:
    """The rows of a DataFrame that are the same on every evaluation, as
    the Arrow table they came from; ``witnesses`` keeps what
    :func:`operators.lookup_join._profile` found in it per key tuple."""

    table: pa.Table
    witnesses: dict[tuple[str, ...], tuple[str, ...]] = dataclass_field(default_factory=dict)


#: the snapshots :func:`create_lookup_df` built and the bare local relations
#: an observed join profiled; a record, table and all, goes with its DataFrame
RECORDS: weakref.WeakKeyDictionary[DataFrame, Snapshot] = weakref.WeakKeyDictionary()

_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
#: serializes the scoped threshold below across threads sharing a session;
#: it is session-wide, so a ``createDataFrame`` another thread makes
#: directly inside that window also takes the Arrow-batch relation
_RELATION_LOCK = threading.Lock()


def _arrow_relation(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """``table`` as Spark's Arrow-batch relation (``Scan ExistingRDD
    arrow``): a threshold of 0 around the one ``createDataFrame`` call,
    the caller's value (or its absence) restored afterwards."""
    with _RELATION_LOCK:
        prev = spark.conf.get(_RELATION_THRESHOLD, None)
        spark.conf.set(_RELATION_THRESHOLD, "0")
        try:
            return spark.createDataFrame(table, schema)
        finally:
            if prev is None:
                spark.conf.unset(_RELATION_THRESHOLD)
            else:
                spark.conf.set(_RELATION_THRESHOLD, prev)


def load_table(opts: HttpLookupOptions, schema: StructType, stats: FetchStats) -> pa.Table:
    """One full scan, the one way the engine turns the endpoint into rows:
    the GET, then the body as an Arrow table of ``schema``.

    The body stays the bytes received (a charset other than UTF-8 is
    transcoded on receipt, see :mod:`http_client`):

    - :func:`rows.read_arrow` reads those bytes in one C++ ``pyarrow.json``
      pass, with no decode and no Python object per value;
    - a body it declines, one it might read differently from the
      reference (see :mod:`rows`), takes the exact path:
      :func:`parse_payload` (the one decode, malformed bytes as U+FFFD,
      ``json.loads``, the pointer, the fan-out), then
      :func:`rows.deserialize_nodes`, with the reference's values and error
      text; ``stats.arrow_fallbacks`` counts it.

    On perfbench ``dim_load``'s 20k-row, 7-column body (4-core VM,
    in-process) the reader takes ~30-45 ms; a declined body pays that on
    top of the exact path, ~0.35-0.55 s in all.  The table is coerced and
    cast to the declared Arrow schema here, so a payload that does not
    coerce fails before any relation or row exists.  The cache
    (:func:`create_lookup_df`) and both readers of the data source
    (:mod:`sources.datasource`) load through this function, so they hold
    the same rows for one body and fail with the same text.
    """
    body = fetch_with_retry(opts, metrics=stats.http)
    table = read_arrow(body, opts.xpath, schema)
    if table is None:
        table = deserialize_nodes(parse_payload(body, opts.xpath), schema)
        stats.arrow_fallbacks += 1
    return table


def create_lookup_df(
    spark: SparkSession,
    options: dict[str, object] | HttpLookupOptions,
    schema: StructType | str,
    *,
    stats: FetchStats | None = None,
) -> DataFrame:
    """Build the full-cache lookup DataFrame (one bounded scan).

    The whole payload lives on the driver ≙ the reference's single
    ``GenericInputSplit`` (``HttpInputFormatProvider.scala:80-81``) and
    becomes one Arrow table through :func:`load_table`, the load the
    ``http-lookup-full-cache`` data source runs too; decoding a valid IPC
    batch cannot fail on values.

    The table goes to the JVM as Spark's Arrow-batch relation, **``Scan
    ExistingRDD arrow``**, whatever
    ``spark.sql.execution.arrow.localRelationThreshold`` is: it is set to 0
    around the one ``createDataFrame`` call, under a module lock, and the
    caller's value is restored.  Each scan (for a lookup join, the
    broadcast job) decodes the batches in its tasks, with no Python worker;
    a table with no rows ships no batch and stays an empty local relation.
    The default threshold's ``LocalTableScan`` would copy every row into a
    driver-side ``LocalRelation`` that the analyzer walks on every refresh
    and every join plan: on perfbench's bodies (4-core VM, medians)
    ``createDataFrame`` of 20k rows 54 → 14 ms, planning one join of the
    8M-row probe 74 → 20 ms.

    The table stays on the driver in the snapshot's :data:`RECORDS` entry
    for as long as the snapshot lives (1.76 MB at 20k rows), so an observed
    join profiles its witness with no Spark job
    (:func:`operators.lookup_join._profile`).
    """
    if isinstance(schema, str):
        # DDL-string convenience (`"id INT, name STRING"`); without this,
        # a string schema fails deep inside row deserialization with an
        # opaque AttributeError instead of at the API boundary
        schema = StructType.fromDDL(schema)
    opts = validate_options(options)
    stats = stats or FetchStats()
    t0 = time.monotonic()
    table = load_table(opts, schema, stats)
    df = _arrow_relation(spark, table, schema)
    RECORDS[df] = Snapshot(table)
    stats.fetch_count += 1
    stats.last_fetch_duration_s = time.monotonic() - t0
    stats.total_fetch_duration_s += stats.last_fetch_duration_s
    stats.last_row_count = table.num_rows
    return df
