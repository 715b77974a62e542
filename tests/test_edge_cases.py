"""Edge-case hardening for the newer operators: empty inputs, k larger
than the corpus, single-row groups, and NULL-bearing columns must degrade
gracefully (correct empty/partial results, no exceptions)."""

import datetime as dt

from pyspark.sql import functions as F

from training_data_ops.operators.asof import asof_join
from training_data_ops.operators.dedup import connected_components
from training_data_ops.operators.rangejoin import (
    banded_interval_join,
)
from training_data_ops.operators.similarity import (
    topk_cosine,
    topk_per_query,
)


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_asof_empty_right_side(spark):
    left = spark.createDataFrame([(1, _ts(10), "a")], "k int, ts timestamp, lv string")
    right = spark.createDataFrame([], "k int, ts timestamp, rv double")
    rows = asof_join(left, right, on="k", ts_col="ts").collect()
    assert len(rows) == 1 and rows[0].rv is None
    assert asof_join(left, right, on="k", ts_col="ts", how="inner").count() == 0


def test_asof_empty_left_side(spark):
    left = spark.createDataFrame([], "k int, ts timestamp, lv string")
    right = spark.createDataFrame([(1, _ts(5), 1.0)], "k int, ts timestamp, rv double")
    assert asof_join(left, right, on="k", ts_col="ts").count() == 0


def test_banded_join_empty_sides(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k int, ts timestamp")
    empty = spark.createDataFrame([], "k int, rts timestamp")
    assert (
        banded_interval_join(
            left, empty, on="k", left_ts="ts", right_ts="rts", lookback_seconds=60
        ).count()
        == 0
    )


def test_topk_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, embedding array<double>"
    )
    out = topk_cosine(emb, emb.where(F.col("vec_id") == 0), k=10)
    # only 2 non-self neighbors exist; ranks must still be 1..n and dense
    got = sorted((r.rank, r.neighbor_id) for r in out.collect())
    assert [r for r, _ in got] == [1, 2]


def test_topk_per_query_empty_scored(spark):
    scored = spark.createDataFrame(
        [], "query_id long, neighbor_id long, cos_sim double"
    )
    assert topk_per_query(scored, 5).count() == 0


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_connected_components_self_loop(spark):
    edges = spark.createDataFrame([(7, 7)], "src long, dst long")
    rows = connected_components(edges).collect()
    assert [(r.id, r.label) for r in rows] == [(7, 7)]


def test_sketch_stats_within_tolerance_of_exact(spark):
    """HLL++ (default rsd 5%) and approx_percentile(acc=10000) must land
    near their oracle-checked exact twins."""
    from training_data_ops.registry import all_queries

    sf = "/root/testdata/sf0.01"
    sketch = {
        r.event_type: r for r in all_queries()["sketch_stats"].spark(spark, sf).collect()
    }
    exact = {
        r.event_type: r
        for r in all_queries()["percentiles_events"].spark(spark, sf).collect()
    }
    from flink_http_full_cache_connector_spark.plans.registry import load_table

    events = load_table(spark, sf, "events")
    # independent estimator run (the registered query only exposes the
    # within-tolerance booleans; recompute the raw estimates here)
    raw = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.expr("percentile_approx(value, 0.5, 10000)").alias("approx_p50"),
        )
        .collect()
    }
    users = {
        r.event_type: r.u
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for t, row in sketch.items():
        assert row.approx_users_ok and row.approx_p50_ok, t
        assert row.exact_users == users[t], t
        assert row.cnt == exact[t].cnt
        assert abs(raw[t].approx_users - users[t]) / users[t] < 0.1, t
        assert abs(raw[t].approx_p50 - exact[t].p50) / max(exact[t].p50, 1) < 0.1, t


def test_heavy_hitters_exact_in_under_capacity_regime(spark):
    """With distinct users far below the sketch's tracking capacity,
    approx_top_k counts are exact: every reported (type, user) count must
    equal the true count, and reported counts must be >= the k-th largest
    true count for that type (top-k property, modulo ties)."""
    from pyspark.sql import functions as F

    from flink_http_full_cache_connector_spark.plans.registry import load_table
    from training_data_ops.registry import all_queries

    from training_data_ops.plans.analytics_queries import HH_K

    sf = "/root/testdata/sf0.01"
    got = all_queries()["sketch_heavy_hitters"].spark(spark, sf).collect()
    events = load_table(spark, sf, "events")
    exact = {
        (r.event_type, r.user_id): r.cnt
        for r in events.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    # tie-robust exact top-k count multiset per type: (count -> n_users,
    # min_rank) over the first HH_K rows of any count-desc ordering
    expected = {}
    by_type: dict[str, list[int]] = {}
    for (etype, _), cnt in exact.items():
        by_type.setdefault(etype, []).append(cnt)
    for etype, counts in by_type.items():
        top = sorted(counts, reverse=True)[:HH_K]
        for rank, cnt in enumerate(top, start=1):
            key = (etype, cnt)
            n, mn = expected.get(key, (0, rank))
            expected[key] = (n + 1, min(mn, rank))
    assert got, "no heavy hitters returned"
    got_map = {(r.event_type, r.approx_count): (r.n_users, r.min_rank) for r in got}
    assert got_map == expected


def test_bloom_empty_dimension(spark):
    """A Bloom filter over zero keys must reject every probe (empty bitmap,
    not a crash): the prefiltered join then returns no rows."""
    from pyspark.sql import functions as F

    from training_data_ops.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    dim = spark.range(0).select(F.col("id").alias("k"))
    bloom = bloom_build(dim, "k")
    probe = spark.range(100).crossJoin(F.broadcast(bloom))
    kept = probe.where(bloom_might_contain(F.col("bloom_bits"), F.col("id")))
    assert kept.count() == 0


def test_gapfill_single_event_per_key(spark):
    """One event -> exactly one grid bucket carrying that value."""
    from training_data_ops.operators.gapfill import gapfill_locf

    df = spark.createDataFrame(
        [(1, 5_000_000, 42.0, 1)], "k int, us long, value double, eid int"
    )
    rows = gapfill_locf(
        df, key_col="k", us_col="us", val_col="value", tie_col="eid",
        step_us=3_600_000_000,
    ).collect()
    assert len(rows) == 1
    assert (rows[0].k, rows[0].bucket, rows[0].value_locf) == (1, 0, 42.0)


def test_gapfill_tie_at_same_microsecond(spark):
    """Two events at one (key, us): the higher tie-break id's value wins."""
    from training_data_ops.operators.gapfill import gapfill_locf

    df = spark.createDataFrame(
        [(1, 10, 1.0, 1), (1, 10, 2.0, 2)], "k int, us long, value double, eid int"
    )
    rows = gapfill_locf(
        df, key_col="k", us_col="us", val_col="value", tie_col="eid", step_us=100
    ).collect()
    assert len(rows) == 1 and rows[0].value_locf == 2.0


def test_upsert_single_batch_equals_compaction(spark, tmp_path):
    """A one-batch stream degenerates to plain latest-per-key compaction."""
    from pyspark.sql import functions as F

    from training_data_ops.streaming.upsert import (
        run_upsert_stream,
    )

    schema = "k long, us long, v double"
    spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (2, 5, 5.0)], schema
    ).coalesce(1).write.parquet(str(tmp_path / "in" / "only"))
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(tmp_path / "in"))
    )
    snap = run_upsert_stream(
        stream, key_cols=["k"], order_cols=["us"], out_dir=str(tmp_path / "snap")
    )
    got = {r.k: r.v for r in snap.collect()}
    assert got == {1: 2.0, 2: 5.0}


def test_contrastive_negatives_no_self_pairs_and_dense_range(spark):
    from training_data_ops.registry import all_queries

    rows = all_queries()["contrastive_negatives"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "no negatives generated"
    n = max(r.anchor_id for r in rows) + 1
    for r in rows:
        assert r.negative_id != r.anchor_id
        assert 0 <= r.negative_id < n


def _tiny_docs(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_canonicalize_no_pairs_all_singletons(spark, tmp_path):
    """A corpus with NO near-dup pairs must come back entirely as kept
    singletons (component = own doc_id) — the empty-pair-graph path through
    connected_components and the broadcast anti-join."""
    from training_data_ops.registry import all_queries

    d = _tiny_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s", 30),
            (2, "one two three four five six seven", "en", "s", 30),
            (3, "red green blue yellow purple orange", "en", "s", 30),
        ],
    )
    rows = all_queries()["dedup_canonicalize"].spark(spark, d).collect()
    assert len(rows) == 3
    assert all(r.is_canonical and r.action == "keep" for r in rows)
    assert all(r.component == r.doc_id for r in rows)


def test_token_budget_single_doc(spark, tmp_path):
    """One document holds ALL the tokens: budget = total // 2 < n_tokens,
    so the single boundary doc must be dropped (cum > budget) — the
    boundary-group window on a 1-row group."""
    from training_data_ops.registry import all_queries

    d = _tiny_docs(spark, tmp_path, [(1, "a b c d e f g h", "en", "s", 15)])
    rows = all_queries()["corpus_token_budget"].spark(spark, d).collect()
    assert len(rows) == 1 and not rows[0].keep


def test_temperature_single_source_keeps_everything(spark, tmp_path):
    """With one source, share = 1: n_target = n_total, exactly one epoch,
    no remainder draw."""
    from training_data_ops.registry import all_queries

    d = _tiny_docs(
        spark,
        tmp_path,
        [(i, f"doc number {i}", "en", "only", 12) for i in range(7)],
    )
    r = all_queries()["sample_temperature"].spark(spark, d).collect()
    assert len(r) == 1
    assert r[0].n_target == 7 and r[0].epochs == 1
    assert r[0].rem_keep_buckets == 0 and r[0].n_sampled == 7
