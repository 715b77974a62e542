"""Steadiness report: run the benchmark over several seeds and summarize.

    python3 perfbench/steady.py --workloads dim_load,probe_join --seeds 1-10

Runs ``run.py`` once per (workload, seed), one run at a time, with the
``run_seconds`` of BENCHMARK.json unless ``--seconds`` is given.  For every
metric it prints the median, the quartiles and their distance as a share
of the median (the spread), next to the metric's bound; and, per run, the
within-run drift of the timed operations and the load markers.  The full
report is written to ``.perfbench/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import quartiles  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": proc.stderr[-2000:]}
    info = next((json.loads(ln[len("# perfbench "):]) for ln in lines if ln.startswith("# perfbench ")), {})
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]), "info": info}


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--seconds", type=float, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"args": vars(args), "workloads": {}}
    for workload in args.workloads.split(","):
        runs = [run_once(workload, s, args.seconds, args.trace) for s in parse_seeds(args.seeds)]
        good = [r for r in runs if "result" in r]
        summary = {}
        for name in (good[0]["result"]["metrics"] if good else {}):
            values = [r["result"]["metrics"][name]["value"] for r in good]
            q1, q2, q3 = quartiles(values)
            summary[name] = {
                "median": q2, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / q2 if q2 else 0.0,
                "bound": bounds.get(name),
                "values": values,
            }
        report["workloads"][workload] = {"metrics": summary, "runs": runs}

        print(f"== {workload}: {len(good)}/{len(runs)} runs ok, "
              f"correct {sum(r['result']['correct'] for r in good)}, "
              f"wall {sum(r['wall_s'] for r in runs):.0f} s")
        for name, m in summary.items():
            bound = f"{m['bound']:.3f}" if m["bound"] is not None else "  -  "
            flag = "" if m["bound"] is None or m["spread"] <= m["bound"] / 3 else "  <-- over bound/3"
            print(f"  {name:24s} median {m['median']:<12.6g} q1 {m['q1']:<12.6g} "
                  f"q3 {m['q3']:<12.6g} spread {m['spread']:.3f} bound {bound}{flag}")
        for r in runs:
            if "result" not in r:
                print(f"  seed {r['seed']}: FAILED\n{r['error']}")
                continue
            info = r["info"]
            print(f"  seed {r['seed']:3d}: wall {r['wall_s']:5.1f} s, samples {info.get('samples')}, "
                  f"drift {info.get('op_drift', 0):+.3f}, load {info['start']['loadavg'][0]:.2f}"
                  f"/{info['start']['procs_running']}, failed {r['result']['failed']}"
                  f"{', errors ' + str(info['errors']) if info.get('errors') else ''}")

    out = ROOT / ".perfbench"
    out.mkdir(exist_ok=True)
    path = out / f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json"
    path.write_text(json.dumps(report, indent=1))
    print(f"report: {path.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
