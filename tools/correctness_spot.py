#!/usr/bin/env python
"""Spot-check named registered queries against their DuckDB oracles with
the driver-identical canonicalization.  Every registered name resolves: the
22 reference queries and the training-data operator set's.  Prints one
verdict per query and writes nothing.

Usage:  python tools/correctness_spot.py q1 [q2 ...]   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import sys


def main(names: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import duckdb

    from flink_http_full_cache_connector_spark.session import build_session
    from tests.test_driver_canon import TABLES, driver_canon, queries_and_oracles, value_hash

    spark = build_session(
        "flink-http-full-cache-connector-spark-correctness-spot",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    registered = {name: (fn, sql) for name, fn, sql in queries_and_oracles()}
    bad = 0
    for name in names:
        if name not in registered:
            print(f"{name}: UNKNOWN QUERY")
            bad += 1
            continue
        fn, sql = registered[name]
        sdf = fn(spark, sf_dir).toPandas()
        if sql is None:
            print(f"{name}: rows_only ({len(sdf)} rows)")
            continue
        odf = con.execute(sql).df()
        if len(sdf) != len(odf):
            print(f"{name}: FAIL rows {len(sdf)} != oracle {len(odf)}")
            bad += 1
        elif sorted(sdf.columns) != sorted(odf.columns):
            print(f"{name}: FAIL columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            bad += 1
        elif value_hash(driver_canon(sdf)) != value_hash(driver_canon(odf)):
            print(f"{name}: FAIL value hash mismatch ({len(sdf)} rows)")
            bad += 1
        else:
            print(f"{name}: pass ({len(sdf)} rows)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
