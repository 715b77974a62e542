"""Lookup-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dim_load --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload is set up ``SETUP_REPEATS``
times (session, endpoint process, data, warm-up) and ``setup_s`` is the
median; the last set-up then runs closed-loop timed operations, each
checked against the generator, for ``--seconds`` seconds.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced operations and reports the per-layer metrics, which come from the
traced ones.  The last stdout line is the result; the line before it,
starting ``# perfbench``, carries samples, drift and load markers.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "flink_http_full_cache_connector_spark"
#: artefacts of a run (scratch data, span dumps), ignored by git
OUT_DIR = ROOT / ".perfbench"
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "py_rss_peak_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s",
    "http_client.fetch_s": "s",
    "http_client.parse_s": "s",
    "http_client.bytes": "bytes",
    "http_client.attempts": "count",
    "http_client.retries": "count",
    "http_client.failures": "count",
    "rows.coerce_s": "s",
    "rows.rows_per_s": "rows/s",
    "lookup.relation_s": "s",
    "refresh.materialize_s": "s",
    "refresh.reloads": "count",
    "datasource.read_s": "s",
    "datasource.transfer_s": "s",
    "lookup_join.join_s": "s",
    "lookup_join.probe_rows": "count",
    "lookup_join.hit_ratio": "ratio",
    "lookup_join.broadcast": "count",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "endpoint.requests": "count",
    "endpoint.bytes_served": "bytes",
    "endpoint.injected_503": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}


def procs_running() -> int:
    """Running ("R") processes from /proc/stat, or -1 where it is absent."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("procs_running"):
                    return int(line.split()[1])
    except OSError:
        pass
    return -1


def load_markers() -> dict[str, object]:
    return {"loadavg": list(os.getloadavg()), "procs_running": procs_running()}


def session_conf(workdir: Path) -> dict[str, str]:
    """Keep every file Spark writes inside ``workdir``."""
    (workdir / "jvm-tmp").mkdir(parents=True, exist_ok=True)
    return {
        "spark.local.dir": str(workdir / "spark-local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'jvm-tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }


class Jvm:
    """GC time and heap-pool peaks, read through the JVM's MXBeans."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_peaks(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


def stop_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, not left behind
            proc.kill()
            proc.wait()


def run(args, workdir: Path) -> tuple[dict, dict]:
    from flink_http_full_cache_connector_spark.session import build_session
    from spans import Tracer, instrument
    from stats import drift, highest_tail, median
    from workloads import WORKLOADS, Outcome

    tracer = Tracer()
    instrumentation = instrument(tracer) if args.trace else None
    cores = len(os.sched_getaffinity(0))
    markers_start = load_markers()
    builds, setups = [], []
    spark, wl = None, None
    try:
        for i in range(SETUP_REPEATS):
            if wl is not None:
                wl.close()
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(
                "perfbench", cpus=cores, extra_conf=session_conf(workdir)
            )
            builds.append(time.perf_counter() - t0)
            wl = WORKLOADS[args.workload](spark, args.seed, tracer)
            wl.setup()
            setups.append(time.perf_counter() - t0)

        jvm = Jvm(spark)
        gc0 = jvm.gc_s()
        jvm.reset_peaks()
        endpoint0 = wl.endpoint.stats()
        http0 = wl.http_counters()
        ops = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(ops) < (2 if args.trace else 1):
            traced = bool(args.trace) and len(ops) % 2 == 1
            tracer.op_id, tracer.enabled = len(ops), traced
            try:
                out = wl.op(traced)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted
                out = Outcome(math.nan, False, repr(e))
            finally:
                tracer.enabled = False
            ops.append((traced, out))
        gc_s = jvm.gc_s() - gc0
        heap_peak_mb = jvm.heap_peak_mb()
        endpoint1 = wl.endpoint.stats()
        http1 = wl.http_counters()
        final_errors = wl.final_checks()
        extras, extra_errors = wl.traced_extras() if args.trace else ({}, [])
        final_errors += extra_errors
        broadcast = wl.broadcast
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        if instrumentation is not None:
            instrumentation.close()
        stop_jvm()

    failed = sum(1 for _, o in ops if not o.ok)
    errors = [o.error for _, o in ops if not o.ok][:3] + final_errors
    plain = [o for t, o in ops if not t and o.ok]
    walls = [o.wall_s for o in plain]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(ops),
        "failed_ratio": failed / len(ops),
        "samples": len(walls),
        "op_walls_s": walls,
        "op_tail": highest_tail(walls),
        "op_drift": drift(walls),
        "setup_runs_s": setups,
        "errors": errors,
        "start": markers_start,
        "end": load_markers(),
    }

    if not args.trace:
        metrics = {
            "setup_s": median(setups),
            "op_p50_s": median(walls),
            "py_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        units = END_TO_END
    else:
        traced_ops = [(i, o) for i, (t, o) in enumerate(ops) if t and o.ok]
        selfs = [tracer.self_times(i) for i, _ in traced_ops]
        counts = [tracer.counts(i) for i, _ in traced_ops]
        totals = [tracer.total_times(i) for i, _ in traced_ops]

        def self_p50(name: str) -> float:
            return median([s.get(name, 0.0) for s in selfs])

        coerce_rates = [
            c["rows.coerce"] / s["rows.coerce"]
            for s, c in zip(selfs, counts) if s.get("rows.coerce")
        ]
        probe_rows = sum(o.layers.get("probe_rows", 0) for _, o in traced_ops)
        hits = sum(o.layers.get("hits", 0) for _, o in traced_ops)
        traced_walls = [o.wall_s for _, o in traced_ops]
        metrics = {
            "session.build_s": median(builds),
            "http_client.fetch_s": self_p50("http_client.fetch"),
            "http_client.parse_s": self_p50("http_client.parse"),
            "http_client.bytes": median([c.get("http_client.fetch", 0) for c in counts]),
            "http_client.attempts": http1["attempts"] - http0["attempts"],
            "http_client.retries": http1["retries"] - http0["retries"],
            "http_client.failures": http1["failures"] - http0["failures"],
            "rows.coerce_s": self_p50("rows.coerce"),
            "rows.rows_per_s": median(coerce_rates),
            "lookup.relation_s": self_p50("lookup"),
            "refresh.materialize_s": self_p50("refresh"),
            "refresh.reloads": http1["reloads"] - http0["reloads"],
            "datasource.read_s": extras.get("datasource.read_s", 0.0),
            "datasource.transfer_s": extras.get("datasource.transfer_s", 0.0),
            "lookup_join.join_s": median([t.get("lookup_join", 0.0) for t in totals]),
            "lookup_join.probe_rows": median([o.layers.get("probe_rows", 0) for _, o in traced_ops]),
            "lookup_join.hit_ratio": hits / probe_rows if probe_rows else 0.0,
            "lookup_join.broadcast": broadcast,
            "jvm.gc_s": gc_s,
            "jvm.heap_peak_mb": heap_peak_mb,
            "endpoint.requests": endpoint1["requests"] - endpoint0["requests"],
            "endpoint.bytes_served": endpoint1["bytes_served"] - endpoint0["bytes_served"],
            "endpoint.injected_503": endpoint1["injected_503"] - endpoint0["injected_503"],
            "trace.overhead_s": median(traced_walls) - median(walls),
            "trace.unattributed_s": median(
                [o.wall_s - sum(s.values()) for (_, o), s in zip(traced_ops, selfs)]
            ),
        }
        units = PER_LAYER
        OUT_DIR.mkdir(exist_ok=True)
        tracer.dump(OUT_DIR / f"spans-{args.workload}-seed{args.seed}.json")

    result = {
        "correct": failed == 0 and not final_errors,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, info


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE} package beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    workdir = OUT_DIR / f"tmp-{args.workload}-{os.getpid()}"
    (workdir / "tmp").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["TMPDIR"] = str(workdir / "tmp")
    try:
        result, info = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print("# perfbench " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
