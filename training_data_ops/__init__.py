"""Training-data and analytics operator set built on the lookup engine.

A separate package from ``flink_http_full_cache_connector_spark``: the
engine imports nothing from here.  It holds the large-scale training-data
pipeline operators (dedup, similarity/ANN, retrieval, text QA, BPE,
multimodal codecs, sampling, streaming state) and the analytics,
time-series, warehouse and extra TPC-H query plans.  Its queries register
in :mod:`training_data_ops.registry`, apart from the engine's reference
queries, so ``__spark_entry__.queries()`` and ``bench.py`` sweep only the
engine's query shapes while the tests hold these operators to the same
oracle-parity, driver-canon and plan-lint gates.
"""
