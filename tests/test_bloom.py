"""Bloom-filter semi-join reduction: membership guarantees, pruning
effectiveness, and the plan shape that makes it a 100 TB pattern (the fact
side must never shuffle; the only hash exchange is the tiny word agg)."""

from pyspark.sql import functions as F

from training_data_ops.operators.bloom import (
    bloom_build,
    bloom_might_contain,
)
from training_data_ops.registry import all_queries

SF_DIR = "/root/testdata/sf0.01"


def test_bloom_no_false_negatives_and_low_fp_rate(spark):
    dim = spark.range(0, 1000).select(F.col("id").alias("k"))
    bloom = bloom_build(dim, "k")
    probe = spark.range(0, 10_000).crossJoin(F.broadcast(bloom))
    hits = probe.where(bloom_might_contain(F.col("bloom_bits"), F.col("id")))
    hit_ids = {r["id"] for r in hits.select("id").collect()}
    # every member passes (Bloom guarantee: no false negatives)
    assert set(range(1000)) <= hit_ids
    # false-positive rate among the 9000 non-members stays near the
    # theoretical (1 - e^{-kn/m})^k ≈ 0.5% for n=1000, m=2^17, k=7
    fp = len(hit_ids) - 1000
    assert fp / 9000 < 0.03, fp


def test_bloom_join_plan_never_shuffles_fact(spark):
    df = all_queries()["bloom_join_lineitem"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the real join is broadcast; the bitmap broadcasts as a 1-row relation
    assert "BroadcastHashJoin" in plan, plan
    assert "IdentityBroadcastMode" in plan, plan
    # the only hash-partitioned exchange is the <=2048-row word aggregation —
    # lineitem rows are pruned map-side and never shuffle
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "word" in hash_exchanges[0], plan
    assert not any("l_partkey" in ln for ln in hash_exchanges), plan


def test_bloom_prunes_before_join(spark):
    """The prefilter must actually drop rows: kept fact rows ≈ matches +
    false positives, far below the full table."""
    from training_data_ops.operators.bloom import (
        BLOOM_PART_SIZE,
    )
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey")
    part = (
        load_table(spark, SF_DIR, "part")
        .where(F.col("p_size") < BLOOM_PART_SIZE)
        .select("p_partkey")
    )
    bloom = bloom_build(part, "p_partkey")
    kept = (
        li.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain(F.col("bloom_bits"), F.col("l_partkey")))
        .count()
    )
    total = li.count()
    true_matches = li.join(part, li["l_partkey"] == part["p_partkey"]).count()
    assert kept < total * 0.5, (kept, total)
    # no false negatives: every true match survives the prefilter
    assert kept >= true_matches
