"""Crafted-data semantics + plan-shape tests for plans/warehouse_queries.py
(oracle parity at sf0.01 is covered by test_oracle_parity.py; these pin the
behaviors an oracle diff can't localize and the physical plans that make
the queries scale)."""

import datetime

import pytest

from training_data_ops.registry import all_queries

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_orders_uses_heap_not_global_sort(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps +
    driver merge of k rows each), never a full Exchange rangepartitioning
    sort — the difference between O(k) and O(n) shuffled bytes at 100 TB."""
    df = all_queries()["topk_orders"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def _events_df(spark, rows):
    # load_table reads events.ts as nanos-since-epoch (the driver parquet's
    # TIMESTAMP(NANOS) layout) — the fixture must match that shape
    rows = [(u, e, int(ts.timestamp() * 1_000_000) * 1_000, t, v) for u, e, ts, t, v in rows]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, event_type string, value double"
    )


def _ts(minute, second=0):
    return datetime.datetime(
        2024, 1, 1, 12, minute, second, tzinfo=datetime.timezone.utc
    )


def test_sessionize_gap_boundary(spark, tmp_path):
    """Events 29m59s apart share a session; 30m01s apart split. Session
    numbering restarts per user."""
    rows = [
        # user 1: two events 29m59s apart (one session), third 30m01s later
        (1, 1, _ts(0), "click", 0.0),
        (1, 2, _ts(29, 59), "click", 0.0),
        (1, 3, datetime.datetime(2024, 1, 1, 13, 0, 0, tzinfo=datetime.timezone.utc), "click", 0.0),
        # user 2: single event
        (2, 4, _ts(5), "view", 0.0),
    ]
    d = str(tmp_path / "sess")
    _events_df(spark, rows).write.parquet(f"{d}/events.parquet")
    out = all_queries()["sessionize_events"].spark(spark, d)
    got = {
        (r.user_id, r.session_num): r.n_events for r in out.collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_latest_event_per_user_tiebreak(spark, tmp_path):
    """Equal timestamps resolve by highest event_id — deterministic under
    any partitioning."""
    rows = [
        (1, 10, _ts(0), "click", 1.0),
        (1, 11, _ts(0), "view", 2.0),  # same ts, higher id wins
        (2, 20, _ts(1), "click", 3.0),
        (2, 21, _ts(0), "view", 4.0),  # earlier ts loses
    ]
    d = str(tmp_path / "latest")
    _events_df(spark, rows).write.parquet(f"{d}/events.parquet")
    out = all_queries()["latest_event_per_user"].spark(spark, d)
    got = {(r.user_id, r.event_id) for r in out.collect()}
    assert got == {(1, 11), (2, 20)}


def test_dedup_incremental_drops_history_and_batch_dupes(spark, tmp_path):
    """A new doc duplicating history is dropped; within-batch dupes keep the
    min doc_id; whitespace/case-normalized texts collide."""
    rows = [
        (1, "Hello World"),      # history
        (2, "unique history"),   # history
        (5, "  hello world  "),  # new (5%5==0): dup of history after norm -> drop
        (10, "fresh text"),      # new: kept
        (15, "fresh text"),      # new: within-batch dup of 10 -> drop
        (20, "another new"),     # new: kept
    ]
    d = str(tmp_path / "incr")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = all_queries()["dedup_incremental"].spark(spark, d)
    assert {r.doc_id for r in out.collect()} == {10, 20}


def test_cube_grouping_flags_disambiguate(spark):
    """CUBE emits 4 grouping-set shapes; the (1,1) grand-total row is unique
    and its count equals the table size."""
    out = all_queries()["cube_events"].spark(spark, SF_DIR)
    rows = out.collect()
    shapes = {(r.g_type, r.g_day) for r in rows}
    assert shapes == {(0, 0), (0, 1), (1, 0), (1, 1)}
    grand = [r for r in rows if (r.g_type, r.g_day) == (1, 1)]
    assert len(grand) == 1
    total = sum(r.cnt for r in rows if (r.g_type, r.g_day) == (0, 0))
    assert grand[0].cnt == total


def test_retention_cohort_offsets_start_at_zero(spark):
    """Every cohort has a week_offset=0 row (the cohort's own week) and no
    negative offsets; offset-0 user counts bound later offsets."""
    out = all_queries()["retention_cohorts"].spark(spark, SF_DIR)
    rows = out.collect()
    by_cohort = {}
    for r in rows:
        assert r.week_offset >= 0
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.active_users
    for cohort, offsets in by_cohort.items():
        assert 0 in offsets, f"cohort {cohort} missing its own week"
        assert all(offsets[0] >= v for o, v in offsets.items() if o > 0) or True
        # offset-0 = cohort size: every user is active in their first week
        assert offsets[0] == max(offsets.values())


def test_retention_single_aggregation_exchange_reused(spark):
    """weeks->cohorts->join must reuse the user_id partitioning from the
    distinct: no third user_id exchange for the join."""
    df = all_queries()["retention_cohorts"].spark(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan


def test_fk_integrity_counts_planted_orphans(spark, tmp_path):
    """Orphan child keys must be counted per FK edge; intact edges report
    zero. Crafted mini-warehouse with two dangling o_custkey rows."""
    from training_data_ops.plans.warehouse_queries import (
        fk_integrity,
    )

    d = str(tmp_path / "wh")
    spark.createDataFrame(
        [(1, "c1", 1, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(10, 1, "O", 5.0, None, "1-URGENT"), (11, 99, "O", 5.0, None, "1-URGENT"),
         (12, 98, "O", 5.0, None, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "p", "b", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int,"
        " p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [(1, "s", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [(1, "n", 1)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(1, "r")], "r_regionkey int, r_name string"
    ).write.parquet(f"{d}/region.parquet")

    out = {r.fk: r for r in fk_integrity(spark, d).collect()}
    assert out["orders.o_custkey->customer.c_custkey"].n_orphans == 2
    assert out["orders.o_custkey->customer.c_custkey"].n_child == 3
    assert all(
        r.n_orphans == 0
        for k, r in out.items()
        if k != "orders.o_custkey->customer.c_custkey"
    )


def test_profile_counts_planted_nulls(spark, tmp_path):
    """Null and distinct counts per column must be exact on crafted data."""
    import datetime

    from training_data_ops.plans.warehouse_queries import (
        profile_events_columns,
    )

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (1, ts, 1, "click", 1.0, None),
        (2, ts, 1, "click", None, '{"a":1}'),
        (3, ts, 2, None, 2.0, '{"a":1}'),
    ]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    out = {r.col: r for r in profile_events_columns(spark, d).collect()}
    assert out["event_type"].nulls == 1 and out["event_type"].n_distinct == 1
    assert out["value"].nulls == 1 and out["value"].n_distinct == 2
    assert out["props"].nulls == 1 and out["props"].n_distinct == 1
    assert out["event_id"].nulls == 0 and out["event_id"].n_distinct == 3
    assert all(r.n == 3 for r in out.values())


def test_embedding_drift_flags_planted_shift(spark, tmp_path):
    """A new cohort shifted hard in one dimension must flag exactly that
    dimension; identically-distributed dims stay quiet."""
    from training_data_ops.operators.similarity import (
        embedding_drift_int8,
    )

    rows = []
    for i in range(40):
        base = [float(i % 7), 1.0 + (i % 5), 2.0]
        if i % 2 == 1:  # "new" cohort: dim 2 shifted far outside ref range
            base[2] = 50.0 + (i % 3)
        rows.append((i, [float(x) for x in base], 0))
    d = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    out = {r.dim: r for r in embedding_drift_int8(spark, d).collect()}
    assert out[2].drifted
    assert not out[0].drifted and not out[1].drifted
    assert out[2].n_ref == 20 and out[2].n_new == 20
