"""Hash-split sampling and banded interval join: determinism, split
boundaries, band-edge correctness on crafted rows, and plan shape."""

import datetime as dt

from pyspark.sql import functions as F

from training_data_ops.operators.rangejoin import (
    banded_interval_join,
)
from training_data_ops.operators.sampling import (
    NUM_BUCKETS,
    deterministic_sample,
    hash_bucket,
    split_column,
)

SF_DIR = "/root/testdata/sf0.01"


def test_hash_split_is_stable_under_repartition(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = {(r.k, r.bucket) for r in df.select("k", hash_bucket(F.col("k")).alias("bucket")).collect()}
    b = {
        (r.k, r.bucket)
        for r in df.repartition(7)
        .select("k", hash_bucket(F.col("k")).alias("bucket"))
        .collect()
    }
    assert a == b
    assert all(0 <= bucket < NUM_BUCKETS for _, bucket in a)


def test_split_fractions_roughly_80_10_10(spark):
    df = spark.range(20000).select(split_column(F.col("id")).alias("split"))
    counts = {r.split: r.cnt for r in df.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 20000 < 0.85
    assert 0.07 < counts["val"] / 20000 < 0.13
    assert 0.07 < counts["test"] / 20000 < 0.13


def test_deterministic_sample_is_subset_and_stable(spark):
    df = spark.range(5000).select(F.col("id").alias("k"))
    s1 = {r.k for r in deterministic_sample(df, "k", 0.1).collect()}
    s2 = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
    assert s1 < s2  # nested: growing the rate only adds rows
    assert 0.06 < len(s1) / 5000 < 0.14


def test_sampling_is_shuffle_free(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        deterministic_sample(df, "doc_id", 0.1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


def test_banded_join_band_edges(spark):
    """Matches must respect [ts-300s, ts) exactly even across band borders."""
    left = spark.createDataFrame([(1, _ts(10))], "k int, ts timestamp")
    right = spark.createDataFrame(
        [
            (1, _ts(5, 0)),   # exactly ts-300s -> included (>=)
            (1, _ts(4, 59)),  # older than lookback -> out
            (1, _ts(9, 59)),  # in window -> included
            (1, _ts(10, 0)),  # equal to left ts -> excluded (<)
            (2, _ts(9, 59)),  # other key -> out
        ],
        "k int, rts timestamp",
    )
    out = banded_interval_join(
        left, right, on="k", left_ts="ts", right_ts="rts", lookback_seconds=300
    )
    assert sorted(r.rts for r in out.collect()) == [_ts(5, 0), _ts(9, 59)]


def test_banded_join_is_equi_join(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k int, ts timestamp")
    right = spark.createDataFrame([(1, _ts(9))], "k int, rts timestamp")
    plan = (
        banded_interval_join(
            left, right, on="k", left_ts="ts", right_ts="rts", lookback_seconds=300
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the (key, band) equality must become a hash join, not nested-loop
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
