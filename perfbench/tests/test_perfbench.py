"""Unit tests of the benchmark's own parts: generators, statistics, spans,
the endpoint's failure schedule, and the metric names it declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import endpoint  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_dimension_records_repeat_per_seed_and_differ_across_seeds():
    a = gen.dimension_records(7, 500)
    assert a == gen.dimension_records(7, 500)
    assert a != gen.dimension_records(8, 500)
    assert sorted(r["id"] for r in a) == list(range(500))


def test_generations_differ_only_in_score_and_timestamp():
    g0 = gen.dimension_records(3, 200, 0)
    g2 = gen.dimension_records(3, 200, 2)
    for r0, r2 in zip(g0, g2):
        assert {k: v for k, v in r0.items() if k not in ("score", "updated_at")} == {
            k: v for k, v in r2.items() if k not in ("score", "updated_at")
        }
        assert r2["score"] - r2["id"] * 0.5 == 2


def test_summary_matches_records():
    records = gen.dimension_records(5, 300)
    s = gen.summarize(records)
    assert s.rows == 300 and s.key_sum == sum(range(300))
    assert s.active == sum(r["active"] for r in records)


def test_probe_keys_repeat_per_seed_and_cover_twice_the_dimension():
    offset = gen.probe_offset(4)
    assert offset == gen.probe_offset(4) and offset != gen.probe_offset(5)
    keys = [gen.probe_key(i, 50, offset) for i in range(100)]
    assert sorted(keys) == list(range(100))


@pytest.mark.parametrize("rows,dim", [(0, 10), (7, 10), (20, 10), (12345, 100), (250_001, 1000)])
def test_probe_hits_counts_keys_below_dim(rows, dim):
    offset = gen.probe_offset(9)
    brute = sum(1 for i in range(rows) if gen.probe_key(i, dim, offset) < dim)
    assert gen.probe_hits(rows, dim, offset) == brute


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99) == 99
    assert stats.percentile([3.0], 90) == 3.0


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail_supported(100, 90)
    assert not stats.tail_supported(99, 90)
    assert stats.tail_supported(1000, 99)
    assert not stats.tail_supported(999, 99)
    assert stats.highest_tail(list(range(50))) is None
    q, value = stats.highest_tail([float(i) for i in range(100)])
    assert q == 90.0 and value == 89.0


def test_quartiles_follow_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert (q1, q2, q3) == (2.75, 5.5, 8.25)
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_drift_compares_halves():
    assert stats.drift([1.0, 1.0, 2.0, 2.0]) == pytest.approx(1.0)
    assert stats.drift([2.0]) == 0.0


def test_span_self_time_excludes_children():
    tracer = Tracer()
    tracer.enabled, tracer.op_id = True, 0
    outer = tracer.open("outer")
    inner = tracer.open("inner")
    tracer.close(inner)
    tracer.close(outer)
    tracer.enabled = False
    assert tracer.open("ignored") is None
    selfs, totals = tracer.self_times(0), tracer.total_times(0)
    assert inner.parent_id == outer.span_id
    assert selfs["outer"] == pytest.approx(totals["outer"] - totals["inner"])
    assert selfs["inner"] == totals["inner"]


def test_endpoint_rotates_generations_and_injects_503():
    ep = endpoint.Endpoint([b"g0", b"g1", b"g2"], fail_every=4)
    answers = [ep.answer() for _ in range(9)]
    assert [s for s, _ in answers] == [200, 200, 200, 503, 200, 200, 200, 503, 200]
    assert [b for s, b in answers if s == 200] == [b"g0", b"g1", b"g2", b"g0", b"g1", b"g2", b"g0"]
    assert ep.stats() == {"requests": 9, "served": 7, "injected_503": 2, "bytes_served": 14}


def test_benchmark_json_matches_what_run_reports():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == {**run.END_TO_END, **run.PER_LAYER}[m["name"]]
    from workloads import WORKLOADS

    names = [w["name"] for w in spec["workloads"]]
    assert names == list(WORKLOADS)
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
