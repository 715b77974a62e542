"""The driver runs bench.py per round; its one-JSON-line contract breaking
would lose the round's BENCH record. Pin it with a real subprocess run at
the smallest scale factor."""

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.slow
def test_bench_emits_one_json_line_with_required_keys(tmp_path):
    # SPARK_GRAFT_BENCH_OUT redirects the full-timings artifact to tmp:
    # without it this test CLOBBERS the committed sf0.1 BENCH_FULL.json
    # with an sf0.001 test run (which is exactly how round 6 accidentally
    # committed the sf0.001 version)
    out_full = str(tmp_path / "BENCH_TEST.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_OUT=out_full,
    )
    # 720s: sized when bench.py swept a 231-query registry (~560s quiet at
    # sf0.001/4cpus); the 22 reference queries take a fraction of that.
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=720,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")]
    assert len(lines) == 1, proc.stdout
    # the driver records only the last 2000 stdout bytes; the machine line
    # must survive that window whole (round 1's bench line lost 34 timings to it)
    import bench

    assert len(lines[0]) <= bench.MACHINE_LINE_BUDGET, len(lines[0])
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] == pytest.approx(sum(payload["queries"].values()), abs=0.05)
    from flink_http_full_cache_connector_spark.plans.registry import all_queries

    # the full query names, and no key file beside the timings
    names = list(all_queries())
    assert set(payload["queries"]) == set(names)
    assert os.listdir(tmp_path) == ["BENCH_TEST.json"]
    with open(out_full) as f:
        full = json.load(f)
    assert set(full["queries"]) == set(names)
    # the committed sf0.1 artifacts were NOT touched
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_FULL.json")) as f:
        assert json.load(f)["sf"] != 0.001
    assert not os.path.exists(os.path.join(repo, "BENCH_KEYS.json"))

