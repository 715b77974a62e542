#!/usr/bin/env python
"""Write .explain("formatted") for named registered queries to files.

Usage:  python tools/capture_plan.py <out_dir> <suffix> q1 [q2 ...]
        (env: SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)

Writes <out_dir>/<query>_<suffix>.txt per query.  NOTE: queries whose
builder executes eager work (store writes, driver collects) run that work
during plan construction — run on a quiet machine.
"""

from __future__ import annotations

import os
import sys


def main(out_dir: str, suffix: str, names: list[str]) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from flink_http_full_cache_connector_spark.session import build_session
    from training_data_ops.registry import all_queries

    spark = build_session("capture-plan", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    qs = all_queries()
    for name in names:
        df = qs[name].spark(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
