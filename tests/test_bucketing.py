"""Bucketed co-located join: same-bucketed tables must join with no
Exchange on either side (the pay-the-shuffle-once 100 TB pattern)."""

import pytest
from pyspark.sql import functions as F

from training_data_ops.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # drop stale tables AND orphaned warehouse dirs from interrupted runs
    import shutil

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{spark.conf.get('spark.sql.warehouse.dir').removeprefix('file:')}/{t}",
                      ignore_errors=True)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed(orders, "b_orders", bucket_by="o_orderkey", buckets=4)
    write_bucketed(
        lineitem, "b_lineitem", bucket_by="l_orderkey", buckets=4, sort_by="l_orderkey"
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    # merge hint: at test scale Spark would broadcast (bypassing bucketing);
    # the big-big case bucketing exists for is the sort-merge join
    joined = spark.table(left).hint("merge").join(
        spark.table(right), F.col("o_orderkey") == F.col("l_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    left, right = bucketed_tables
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plain = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).count()
    bucketed = bucketed_join(
        spark, left, right, on=F.col("o_orderkey") == F.col("l_orderkey")
    ).count()
    assert bucketed == plain
