#!/usr/bin/env python
"""Per-job wall profile of one registered query: run it once with a
job-progress listener attached and print every job's description, duration
and task count — the local-mode substitute for the Spark UI's job table
(spark.ui.enabled is false in build_session).

Usage:  python tools/profile_query.py <query> [runs]
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import os
import sys
import time


def main(name: str, runs: int = 1) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from flink_http_full_cache_connector_spark.session import build_session
    from training_data_ops.registry import all_queries

    spark = build_session("profile", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qd = all_queries()[name]

    # warm-up: JVM + python workers
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(0, cpus * 4, 1, cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    jvm = sc._jvm
    tracker = sc.statusTracker()

    for r in range(runs):
        start_job_ids = tracker.getJobIdsForGroup(None)
        t0 = time.perf_counter()
        qd.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        print(f"== run {r}: wall {wall:.3f}s")
        # pull job info via the JVM status store (AppStatusStore)
        store = sc._jsc.sc().statusStore()
        it = store.jobsList(None)
        jobs = []
        n = it.size()
        for i in range(n):
            j = it.apply(i)
            jid = j.jobId()
            st = j.submissionTime()
            ct = j.completionTime()
            if st.isDefined() and ct.isDefined():
                dur = (ct.get().getTime() - st.get().getTime()) / 1000.0
            else:
                dur = float("nan")
            jobs.append((jid, dur, j.numTasks(), str(j.description() or j.name())[:110]))
        jobs.sort()
        for jid, dur, ntasks, desc in jobs:
            print(f"  job {jid:4d}  {dur:8.3f}s  tasks={ntasks:5d}  {desc}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 1)
