"""Query registry of the training-data operator set.

Each operator and plan module of this package registers a
:class:`~flink_http_full_cache_connector_spark.plans.registry.QueryDef`
here at import time, exactly as the engine's reference queries do in
``flink_http_full_cache_connector_spark.plans.registry`` — but into its own
table, so the driver contract (``__spark_entry__.queries()``) and
``bench.py`` see only the engine's query shapes.
"""

from __future__ import annotations

from collections.abc import Callable

from flink_http_full_cache_connector_spark.plans import registry as engine_registry
from flink_http_full_cache_connector_spark.plans.registry import (
    QueryDef,
    SparkQuery,
    clear_cache_first,
)

_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str, oracle: str | None, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QueryDef(
            name=name, spark=clear_cache_first(fn), oracle=oracle, doc=doc
        )
        # the UNwrapped function, as in the engine registry
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    """Every registered query: the engine's reference queries, then this
    package's."""
    # Import registrants lazily to avoid import cycles; each module appends
    # to the registry at import time.
    from training_data_ops.operators import (  # noqa: F401
        asof,
        bloom,
        bpe,
        dedup,
        graph,
        lm_score,
        multimodal,
        pipeline,
        rangejoin,
        sampling,
        similarity,
        skew,
        substring_dedup,
        text,
    )
    from training_data_ops.plans import (  # noqa: F401
        analytics_queries,
        timeseries_queries,
        tpch_extra,
        warehouse_queries,
    )
    from training_data_ops.streaming import (  # noqa: F401
        heavy_hitters,
        session,
        upsert,
    )

    return {**engine_registry.all_queries(), **_REGISTRY}
