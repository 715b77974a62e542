"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (README.md:57-64 of the
reference, batch form): an HTTP-served dimension table fully cached as a
static DataFrame, broadcast-joined to a parquet probe table.

``queries()`` / ``oracle_sql()`` expose the reference query shapes from
SURVEY.md §2.B (``plans/reference_queries.py``) via the central registry in
``flink_http_full_cache_connector_spark.plans.registry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_DIR_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    orders (probe) LEFT lookup-joined to the customer dimension served over
    a local HTTP endpoint and read through the full connector path
    (fetch w/ retry → JSON pointer → schema-driven coercion → broadcast).
    """
    from flink_http_full_cache_connector_spark.operators.lookup_join import lookup_join
    from flink_http_full_cache_connector_spark.plans.reference_queries import CUSTOMER_SCHEMA
    from flink_http_full_cache_connector_spark.sources.local_http import (
        parquet_as_records,
        serve_json,
    )
    from flink_http_full_cache_connector_spark.sources.lookup import create_lookup_df

    records = parquet_as_records(f"{SF_DIR_SMOKE}/customer.parquet")
    with serve_json({"payload": {"customers": records}}) as url:
        dim = create_lookup_df(
            spark, {"url": url, "xpath": "/payload/customers"}, CUSTOMER_SCHEMA
        )
    orders = spark.read.parquet(f"{SF_DIR_SMOKE}/orders.parquet")
    return lookup_join(orders, dim, on=[("o_custkey", "c_custkey")], how="left").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "c_name", "c_mktsegment"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per reference query shape from SURVEY.md §2.B."""
    from flink_http_full_cache_connector_spark.plans.registry import all_queries

    return {name: qd.spark for name, qd in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    from flink_http_full_cache_connector_spark.plans.registry import all_queries

    return {
        name: qd.oracle for name, qd in all_queries().items() if qd.oracle is not None
    }
