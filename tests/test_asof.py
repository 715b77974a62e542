"""Backward as-of join semantics pinned on crafted frames: boundary
inclusivity (ts equality matches), per-key isolation, no-match NULLs,
inner filtering, and overlap validation."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from training_data_ops.operators.asof import asof_join


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "a"),   # after r@5 -> matches 5
            (1, _ts(20), "b"),   # equal to r@20 -> inclusive match 20
            (1, _ts(3), "c"),    # before any right row -> NULL
            (2, _ts(10), "d"),   # key 2 only sees key-2 right rows
            (3, _ts(10), "e"),   # key with no right rows at all -> NULL
        ],
        "k int, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(5), 50.0),
            (1, _ts(20), 200.0),
            (1, _ts(30), 300.0),  # in the future of every left row -> never used
            (2, _ts(9), 90.0),
        ],
        "k int, ts timestamp, rv double",
    )
    return left, right


def test_backward_asof_left(frames):
    left, right = frames
    out = {
        r.lv: r.rv
        for r in asof_join(left, right, on="k", ts_col="ts").collect()
    }
    assert out == {"a": 50.0, "b": 200.0, "c": None, "d": 90.0, "e": None}


def test_backward_asof_inner_drops_unmatched(frames):
    left, right = frames
    out = asof_join(left, right, on="k", ts_col="ts", how="inner")
    assert {r.lv for r in out.collect()} == {"a", "b", "d"}


def test_asof_rejects_overlapping_value_columns(spark):
    df = spark.createDataFrame([(1, _ts(1), 1.0)], "k int, ts timestamp, v double")
    with pytest.raises(ValueError, match="overlapping"):
        asof_join(df, df, on="k", ts_col="ts")


def test_asof_single_key_shuffle(spark, tmp_path):
    """The plan must be union -> one hash exchange on the key -> window;
    no nested-loop / range join anywhere."""
    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
        F.col("id").alias("lv"),
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") * 2 + 1_700_000_000).alias("ts"),
        (F.col("id") * 1.5).alias("rv"),
    )
    plan = (
        asof_join(left, right, on="k", ts_col="ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_asof_tolerance_caps_staleness(frames):
    left, right = frames
    # tolerance 5s: only rows whose match is within 5 seconds survive
    out = {
        r.lv: r.rv
        for r in asof_join(
            left, right, on="k", ts_col="ts", tolerance_seconds=5
        ).collect()
    }
    # a: match r@5 is 5s old at ts=10 -> within; b: exact-ts match 0s old;
    # d: r@9 is 1s old at ts=10 -> within; c,e: no match at all
    assert out == {"a": 50.0, "b": 200.0, "c": None, "d": 90.0, "e": None}
    tight = {
        r.lv: r.rv
        for r in asof_join(
            left, right, on="k", ts_col="ts", tolerance_seconds=2
        ).collect()
    }
    # a's only candidate (r@5) is now too stale -> NULL
    assert tight == {"a": None, "b": 200.0, "c": None, "d": 90.0, "e": None}
    inner = asof_join(
        left, right, on="k", ts_col="ts", how="inner", tolerance_seconds=2
    )
    assert {r.lv for r in inner.collect()} == {"b", "d"}


def test_forward_asof(frames):
    left, right = frames
    out = {
        r.lv: r.rv
        for r in asof_join(
            left, right, on="k", ts_col="ts", direction="forward"
        ).collect()
    }
    # a(k1@10): earliest right >= 10 is r@20; b(k1@20): exact match r@20;
    # c(k1@3): r@5; d(k2@10): no k2 right at/after 10 -> NULL; e(k3): none
    assert out == {"a": 200.0, "b": 200.0, "c": 50.0, "d": None, "e": None}


def test_forward_asof_with_tolerance(frames):
    left, right = frames
    out = {
        r.lv: r.rv
        for r in asof_join(
            left, right, on="k", ts_col="ts",
            direction="forward", tolerance_seconds=5,
        ).collect()
    }
    # a's forward match r@20 is 10s away -> too far -> NULL; c's r@5 is 2s
    assert out == {"a": None, "b": 200.0, "c": 50.0, "d": None, "e": None}


def test_asof_rejects_bad_direction(frames):
    left, right = frames
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", ts_col="ts", direction="nearest")


def test_asof_composite_key(spark):
    left = spark.createDataFrame(
        [(1, "x", _ts(10), "a"), (1, "y", _ts(10), "b")],
        "k1 int, k2 string, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, "x", _ts(5), 1.0), (1, "y", _ts(7), 2.0), (2, "x", _ts(6), 3.0)],
        "k1 int, k2 string, ts timestamp, rv double",
    )
    out = {
        r.lv: r.rv
        for r in asof_join(left, right, on=["k1", "k2"], ts_col="ts").collect()
    }
    assert out == {"a": 1.0, "b": 2.0}
