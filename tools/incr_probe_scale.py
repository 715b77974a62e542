#!/usr/bin/env python
"""History-independence probe for dedup_minhash_incremental (round-10
verdict #2 "Done" clause): hold the ingest BATCH fixed, grow the
persisted band-bucket STORE, and time only the probe
(minhash_incremental_pairs → count).  If the incremental design is
right, probe wall is ~flat in history size — the store scans are
semi-joined to the batch's touched buckets, so history rows outside
those buckets are never materialized past the parquet row-group skip.

Usage:  SPARK_GRAFT_SF_DIR=/root/repo/.scale_data/sf100 \\
            python tools/incr_probe_scale.py [out.json]

Writes one JSON line: {"sf_dir": ..., "batch_rows": N,
 "rows": [{"hist_frac": f, "hist_rows": n, "build_s": b,
           "probe_s_run1": p1, "probe_s_run2": p2, "pairs": k}, ...]}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scale_data/sf100")
    out_path = sys.argv[1] if len(sys.argv) > 1 else None

    from pyspark.sql import functions as F

    from training_data_ops.operators.dedup import (
        MINHASH_BUCKET_CAP,
        minhash_incremental_pairs,
        minhash_store_save,
    )
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )
    from flink_http_full_cache_connector_spark.session import build_session

    spark = build_session("minhash-incr-probe-scale")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch = docs.where(F.col("doc_id") % NEW_BATCH_MOD == 0)
    hist_all = docs.where(F.col("doc_id") % NEW_BATCH_MOD != 0)
    batch_rows = batch.count()

    rows = []
    # history fractions carved by doc_id ranges so each store is a strict
    # SUPERSET of the previous one (a growing corpus, not a resample)
    max_id = hist_all.agg(F.max("doc_id")).collect()[0][0]
    for frac in (0.25, 0.5, 1.0):
        hist = hist_all.where(F.col("doc_id") <= int(max_id * frac))
        hist_rows = hist.count()
        store = tempfile.mkdtemp(prefix="spark_graft_incr_probe_")
        try:
            t0 = time.perf_counter()
            minhash_store_save(spark, hist, store)
            build_s = time.perf_counter() - t0
            probes = []
            pairs = None
            for _ in range(2):
                t0 = time.perf_counter()
                pairs = minhash_incremental_pairs(
                    spark, batch, store, bucket_cap=MINHASH_BUCKET_CAP
                ).count()
                probes.append(round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()
            rows.append(
                {
                    "hist_frac": frac,
                    "hist_rows": hist_rows,
                    "build_s": round(build_s, 3),
                    "probe_s_run1": probes[0],
                    "probe_s_run2": probes[1],
                    "pairs": pairs,
                }
            )
            print(rows[-1], flush=True)
        finally:
            shutil.rmtree(store, ignore_errors=True)

    art = {"sf_dir": sf_dir, "batch_rows": batch_rows, "rows": rows}
    line = json.dumps(art)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
