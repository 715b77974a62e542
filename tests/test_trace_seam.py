"""The seam perfbench's ``--trace 1`` hooks into.  ``perfbench/spans.py``
rebinds the names through which one engine layer calls the next
(``refresh`` → ``lookup`` → ``http_client``), so renaming one of them in the
engine must fail here, not silently break the traced benchmark run."""

import importlib.util
import sys
from pathlib import Path

from pyspark.sql.types import StructType

from flink_http_full_cache_connector_spark import http_client
from flink_http_full_cache_connector_spark.sources import lookup
from flink_http_full_cache_connector_spark.streaming import refresh

SPANS = Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


def _load_spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # its dataclasses look the module up
    spec.loader.exec_module(module)
    return module


def test_traced_refresh_records_the_load_path_spans(spark, http_server):
    spans = _load_spans()
    tracer = spans.Tracer()
    inst = spans.instrument(tracer)
    try:
        cache = refresh.RefreshingLookupCache(
            spark, {"url": http_server.url}, StructType.fromDDL("id INT, name STRING")
        )
        tracer.enabled, tracer.op_id = True, 0
        cache.check_and_reload(force=True)
    finally:
        inst.close()

    by_name = {s.name: s for s in tracer.spans}
    assert {"refresh", "lookup", "http_client.fetch"} <= set(by_name)
    # nested as the layers call each other, so self times attribute right
    assert by_name["lookup"].parent_id == by_name["refresh"].span_id
    assert by_name["http_client.fetch"].parent_id == by_name["lookup"].span_id
    assert by_name["http_client.fetch"].count > 0  # the body's length
    # the Arrow reader took the body: the exact path's parse never ran
    assert "http_client.parse" not in by_name
    assert cache.stats.arrow_fallbacks == 0
    # closing puts the engine's own functions back
    assert lookup.fetch_with_retry is http_client.fetch_with_retry
    assert lookup.parse_payload is http_client.parse_payload
    assert refresh.create_lookup_df is lookup.create_lookup_df
