#!/usr/bin/env python
"""Full-registry correctness artifact (round-6 verdict #3).

Runs the driver-identical oracle gate (tests/test_driver_canon.py's exact
canonicalization + value hash) over EVERY registered query at sf0.01 — the
way bench.py runs all benches — and writes CORRECTNESS_FULL.json:

    {"sf": 0.01, "total": N, "pass": N, "fail": 0, "rows_only": K,
     "queries": {name: {"rows": n, "status": "pass|rows_only|fail|err",
                        "detail": "..."}}}

One file proving the WHOLE registry green at a single commit.

Usage:  python tools/correctness_full.py   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.01")

    import duckdb

    import __spark_entry__ as entry_mod
    from flink_http_full_cache_connector_spark.session import build_session
    from tests.test_driver_canon import TABLES, driver_canon, value_hash

    spark = build_session("flink-http-full-cache-connector-spark-correctness-full", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    out: dict[str, dict] = {}
    n_pass = n_fail = n_rows_only = 0
    t0 = time.monotonic()
    for name in sorted(qs):
        rec: dict = {}
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            s_canon = driver_canon(sdf)  # raises on unhashable schemas
            rec["rows"] = len(sdf)
            sql = osql.get(name)
            if sql is None:
                rec["status"] = "rows_only"
                n_rows_only += 1
            else:
                odf = con.execute(sql).df()
                if len(sdf) != len(odf):
                    rec["status"] = "fail"
                    rec["detail"] = f"rows {len(sdf)} != oracle {len(odf)}"
                elif sorted(sdf.columns) != sorted(odf.columns):
                    rec["status"] = "fail"
                    rec["detail"] = "columns differ"
                elif value_hash(s_canon) != value_hash(driver_canon(odf)):
                    rec["status"] = "fail"
                    rec["detail"] = "value hash mismatch"
                else:
                    rec["status"] = "pass"
            if rec["status"] == "fail":
                n_fail += 1
            elif rec["status"] == "pass":
                n_pass += 1
        except Exception as e:  # noqa: BLE001
            rec = {"status": "err", "detail": f"{type(e).__name__}: {e}"[:300]}
            n_fail += 1
        out[name] = rec
        print(f"{name}: {rec['status']}", flush=True)

    artifact = {
        "sf": sf,
        "total": len(qs),
        "pass": n_pass,
        "rows_only": n_rows_only,
        "fail": n_fail,
        "wall_s": round(time.monotonic() - t0, 1),
        "queries": out,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CORRECTNESS_FULL.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({k: artifact[k] for k in ("sf", "total", "pass", "rows_only", "fail", "wall_s")}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
