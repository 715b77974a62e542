"""PySpark-native engine with the capabilities of
datanutshell/flink-http-full-cache-connector.

The reference is an Apache Flink Table/SQL connector that turns an HTTP JSON
endpoint into a fully-cached in-memory lookup (dimension) table for temporal
lookup joins.  This package re-expresses that surface Spark-first:

- ``sources.lookup``      — build the cached dimension DataFrame from one HTTP
  GET (fetch w/ retry, RFC-6901 pointer, schema-driven JSON row coercion).
- ``sources.datasource``  — first-class ``spark.read.format(
  "http-lookup-full-cache")`` via the PySpark Python Data Source API.
- ``sources.datagen`` / ``sources.files`` / ``sources.kafka`` — the probe
  sources of the reference's query shapes (Flink datagen, filesystem, Kafka).
- ``operators.lookup_join`` — broadcast stream/batch-static equi-join
  (``FOR SYSTEM_TIME AS OF`` equivalent).
- ``streaming.refresh``   — FIXED_DELAY periodic cache reload w/ atomic swap
  and fail-fast on exhausted retries.
- ``plans.reference_queries`` — the reference's query shapes as registered,
  oracle-checked queries (``__spark_entry__.queries()``).

Everything is DataFrame-declarative so Catalyst/AQE handle pushdown, pruning
and broadcast.  The training-data operator set (dedup, similarity, text,
multimodal, ...) is the separate ``training_data_ops`` package, which builds
on this one; nothing here imports it.
"""

from flink_http_full_cache_connector_spark.options import HttpLookupOptions, validate_options

__all__ = ["HttpLookupOptions", "validate_options"]

__version__ = "0.1.0"
