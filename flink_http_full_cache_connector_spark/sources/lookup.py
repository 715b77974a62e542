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

import time
from dataclasses import dataclass
from dataclasses import field as dataclass_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from flink_http_full_cache_connector_spark.http_client import (
    RequestMetrics,
    fetch_with_retry,
    parse_payload,
)
from flink_http_full_cache_connector_spark.options import HttpLookupOptions, validate_options
from flink_http_full_cache_connector_spark.rows import deserialize_nodes, read_arrow, rows_table


@dataclass
class FetchStats:
    """Cache observability — the metric families the reference README
    documents but never registers (``README.md:199-208``): refresh
    durations, row counts, and (via ``http``) request/retry/failure
    counts and response times.  ``arrow_fallbacks`` counts refreshes whose
    body the Arrow reader (:func:`rows.read_arrow`) declined, so they ran
    the exact path: ``json.loads`` and the row-at-a-time coercer."""

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


def fetch_rows(opts: HttpLookupOptions, schema: StructType) -> list[tuple]:
    """One full scan: GET → parse → pointer → fan-out → typed rows."""
    return deserialize_nodes(parse_payload(fetch_with_retry(opts), opts.xpath), schema)


def create_lookup_df(
    spark: SparkSession,
    options: dict[str, object] | HttpLookupOptions,
    schema: StructType | str,
    *,
    stats: FetchStats | None = None,
) -> DataFrame:
    """Build the full-cache lookup DataFrame (one bounded scan).

    The whole payload lives on the driver ≙ the reference's single
    ``GenericInputSplit`` (``HttpInputFormatProvider.scala:80-81``).  The
    body becomes one Arrow table, which is handed to the JVM as a local
    relation:

    - :func:`rows.read_arrow` reads the body straight into Arrow in one
      C++ ``pyarrow.json`` pass, with no Python object per value;
    - when it declines a body it might read differently from the
      reference (see :mod:`rows`), the exact path builds the table:
      :func:`parse_payload` (``json.loads``, the pointer, the fan-out),
      :func:`rows.deserialize_nodes` and :func:`rows.rows_table`.  It gives
      the reference's values and error text, and counts in
      ``stats.arrow_fallbacks``.

    On perfbench ``dim_load``'s 20k-row, 7-column body (4-core VM,
    in-process) the reader takes ~30-45 ms.  A body it declines pays that
    pass on top of the exact path: ~0.45-0.6 s in all, nearly all of it
    :func:`rows.deserialize_nodes` (a ``-0`` score, an ``id`` as text or a
    7-digit fraction in one of the 20k records).  The relation is built
    eagerly, so a payload that does not coerce fails here.  Up to
    ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default) it is a **LocalTableScan**, above it an RDD of Arrow
    batches held in the JVM; either way no Python worker runs, and Catalyst
    broadcasts it directly in the lookup join.
    """
    if isinstance(schema, str):
        # DDL-string convenience (`"id INT, name STRING"`); without this,
        # a string schema fails deep inside row deserialization with an
        # opaque AttributeError instead of at the API boundary
        schema = StructType.fromDDL(schema)
    opts = validate_options(options)
    stats = stats or FetchStats()
    t0 = time.monotonic()
    body = fetch_with_retry(opts, metrics=stats.http)
    table = read_arrow(body, opts.xpath, schema)
    declined = table is None
    if declined:
        table = rows_table(deserialize_nodes(parse_payload(body, opts.xpath), schema), schema)
    df = spark.createDataFrame(table, schema)
    stats.fetch_count += 1
    stats.arrow_fallbacks += declined
    stats.last_fetch_duration_s = time.monotonic() - t0
    stats.total_fetch_duration_s += stats.last_fetch_duration_s
    stats.last_row_count = table.num_rows
    return df
