"""End-to-end lookup-table + lookup-join tests against the local mock server
— port of the reference's hermetic integration suite
(``HttpLookupConnectorIntegrationTest.scala``, pinned behaviors 1-3 in
FIXTURES.md) plus batch-form B1-B4 query shapes."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from flink_http_full_cache_connector_spark.http_client import HttpFetchError
from flink_http_full_cache_connector_spark.operators.lookup_join import (
    lookup_join,
    with_proc_time,
)
from flink_http_full_cache_connector_spark.sources.lookup import FetchStats, create_lookup_df
from tests.conftest import RELATION_THRESHOLD, USERS_V1, session_conf

USERS_SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("username", StringType()),
        StructField("email", StringType()),
    ]
)

#: plan nodes of a relation that runs Python workers
PYTHON_NODES = ("PythonRDD", "BatchEvalPython", "ArrowEvalPython")


def test_full_cache_contains_all_records(spark, http_server):
    """Pinned behavior 1: sequence probe 1-10 ⋈ cache → exactly 10 rows, all
    fields non-null; endpoint fetched exactly once."""
    stats = FetchStats()
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA, stats=stats)
    probe = spark.range(1, 11).select(F.col("id").cast("int").alias("id"))
    out = lookup_join(probe, cache, on="id", how="inner").collect()
    assert len(out) == 10
    for r in out:
        assert r.name is not None and r.username is not None and r.email is not None
    assert http_server.request_count == 1
    assert stats.fetch_count == 1 and stats.last_row_count == 10


def test_inner_join_golden_rows_order_insensitive(spark, http_server):
    """Pinned behavior 2: orders probe ⋈ users on user_id=id → golden
    name/username/email per key, compared after sort by key."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame(
        [Row(order_id=f"o{i}", user_id=(i % 3) + 1, amount=10.0 * i) for i in range(9)]
    )
    out = lookup_join(probe, cache, on=[("user_id", "id")], how="inner")
    rows = sorted(out.collect(), key=lambda r: (r.user_id, r.order_id))
    assert len(rows) == 9
    golden = {u["id"]: u for u in USERS_V1}
    for r in rows:
        assert r.name == golden[r.user_id]["name"]
        assert r.username == golden[r.user_id]["username"]
        assert r.email == golden[r.user_id]["email"]
    assert "id" not in out.columns  # cache-side key dropped


def test_left_join_keeps_misses_with_nulls(spark, http_server):
    """B2: LEFT OUTER keeps unmatched probe rows with NULL dim columns."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame([Row(user_id=1), Row(user_id=99)])
    rows = {
        r.user_id: r
        for r in lookup_join(probe, cache, on=[("user_id", "id")], how="left").collect()
    }
    assert rows[1].name == "Mock User 1"
    assert rows[99].name is None and rows[99].email is None


def test_retry_then_success_e2e(spark, http_server):
    """Pinned behavior 3: 500, 500, 200 → query succeeds, exactly 3 calls."""
    http_server.set_status_sequence([500, 500])
    cache = create_lookup_df(
        spark,
        {"url": http_server.url, "max.retries": "3", "retry.delay.ms": "10"},
        USERS_SCHEMA,
    )
    assert cache.count() == 10
    assert http_server.request_count == 3


def test_fail_fast_fails_query(spark, http_server):
    """Pinned behavior 5 (batch form): permanent 500 + max.retries=1 →
    error chain contains the HTTP status."""
    http_server.set_status_sequence([500] * 10)
    with pytest.raises(HttpFetchError) as exc:
        create_lookup_df(
            spark,
            {"url": http_server.url, "max.retries": "1", "retry.delay.ms": "10"},
            USERS_SCHEMA,
        )
    assert "HTTP request failed with status 500" in str(exc.value.__cause__)


def test_json_pointer_and_single_object(spark, http_server):
    http_server.set_payload({"wrap": {"users": USERS_V1[:3]}})
    cache = create_lookup_df(
        spark, {"url": http_server.url, "xpath": "/wrap/users"}, USERS_SCHEMA
    )
    assert cache.count() == 3

    http_server.set_payload(USERS_V1[0])  # single object → 1 row
    cache1 = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    assert cache1.collect() == [Row(id=1, name="Mock User 1", username="mockuser1", email="user1@example.com")]


def test_projection_and_nested_subquery(spark, http_server):
    """B3/B4: select-list projection and projection over a derived table."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame([Row(order_id="a", user_id=2, amount=5.0)])
    joined = lookup_join(probe, cache, on=[("user_id", "id")], how="left")
    derived = joined.select("order_id", "user_id", "name", "amount")  # B4 inner projection
    out = derived.select("order_id", "name").collect()  # B3 outer projection
    assert out == [Row(order_id="a", name="Mock User 2")]


def test_proc_time_column(spark):
    """B5: proc_time AS PROCTIME()."""
    df = with_proc_time(spark.range(3))
    rows = df.collect()
    assert all(r.proc_time is not None for r in rows)
    assert dict(df.dtypes)["proc_time"] == "timestamp"


def test_broadcast_in_plan(spark, http_server):
    """The dimension side must broadcast — no shuffle on the probe side."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.range(100).select(F.col("id").cast("int").alias("id"))
    plan = lookup_join(probe, cache, on="id", how="inner")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_empty_payload_yields_empty_typed_df(spark, http_server):
    """Empty JSON array -> 0-row DataFrame with the declared schema."""
    http_server.set_payload([])
    df = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    assert df.count() == 0
    assert df.schema == USERS_SCHEMA


@pytest.mark.parametrize("column, value", [("s", 2**15), ("i", -(2**31) - 1), ("l", str(2**63))])
def test_out_of_range_integer_fails_with_the_reference_text(spark, http_server, column, value):
    """An integer past its declared column's width fails the load with the
    reference's text naming the node, not with Arrow's overflow error."""
    http_server.set_payload([{"s": 1, "i": 1, "l": 1}, {column: value}])
    with pytest.raises(RuntimeError, match="Failed to deserialize JSON node"):
        create_lookup_df(spark, {"url": http_server.url}, "s SMALLINT, i INT, l BIGINT")


def test_nested_row_schema_through_arrow_path(spark, http_server):
    """Nested ROW columns (HttpLookupTableSourceFactoryTest.scala:189-193)
    must survive the Arrow path: struct values populated, missing nested
    field -> NULL, plan is the Arrow-batch relation with no Python worker."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    nested = StructType(
        [
            StructField("id", IntegerType()),
            StructField(
                "address",
                StructType(
                    [StructField("city", StringType()), StructField("zip", StringType())]
                ),
            ),
        ]
    )
    http_server.set_payload(
        [{"id": 1, "address": {"city": "Oslo", "zip": "0150"}}, {"id": 2}]
    )
    df = create_lookup_df(spark, {"url": http_server.url}, nested)
    rows = {r.id: r.address for r in df.collect()}
    assert rows[1].city == "Oslo" and rows[1].zip == "0150"
    assert rows[2] is None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD arrow" in plan, plan
    assert not any(p in plan for p in PYTHON_NODES), plan


@pytest.mark.parametrize(
    "payload, fallbacks",
    [
        # plain values: the columnar build takes every column
        (
            [
                {"id": 1, "at": "2024-03-10 02:30:00", "day": "2024-03-10", "v": 1.5},
                {"id": 2, "at": "2024-11-03T01:30:00.25Z", "day": None, "v": 2},
                {"id": 3, "at": "2024-07-01 12:00:00.123456", "day": "1999-12-31"},
                {"id": 4},
            ],
            0,
        ),
        # an unpadded hour, a string-typed key and decimals to round: the
        # row coercer builds it
        (
            [
                {"id": "5", "at": " 2024-01-02 3:04:05", "day": "2024-01-02", "v": 1,
                 "amount": 2.25},
                {"id": 6, "at": "2024-06-30T23:59:59Z", "day": None, "v": None,
                 "amount": "-0.35"},
            ],
            1,
        ),
    ],
)
def test_lookup_df_matches_row_build_under_non_utc_session(spark, http_server, payload, fallbacks):
    """The relation from the Arrow build collects the same rows as the
    former pandas-frame build of the reference's rows, under a session
    time zone that is not UTC (a timestamp read as local time there would
    be 7-8 h off), on both the columnar and the row-coercer route.  The
    former build rounded excess decimal digits half-up in the JVM; the
    reference coercer now does it."""
    import pandas as pd

    from flink_http_full_cache_connector_spark.rows import coerce_value

    schema = StructType.fromDDL("id BIGINT, at TIMESTAMP, day DATE, v DOUBLE, amount DECIMAL(10,1)")
    http_server.set_payload(payload)
    keys = ("spark.sql.session.timeZone", "spark.sql.execution.arrow.pyspark.enabled")
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        stats = FetchStats()
        got = create_lookup_df(spark, {"url": http_server.url}, schema, stats=stats)
        # the former build: a dtype=object frame (int64 keys stay exact
        # next to NULLs) converted through Arrow
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        pdf = pd.DataFrame(
            [coerce_value(node, schema) for node in payload], columns=schema.fieldNames(), dtype=object
        )
        want = spark.createDataFrame(pdf, schema)
        assert sorted(got.collect()) == sorted(want.collect())
        assert stats.arrow_fallbacks == fallbacks
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lookup_join_accepts_column_condition(spark, http_server):
    """The `df.join(other, cond)` shape Spark users reach for first: a raw
    boolean Column condition must pass through (it used to crash with
    CANNOT_CONVERT_COLUMN_INTO_BOOL on the `if on` truthiness probe)."""
    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.range(1, 11).select(F.col("id").cast("int").alias("user_id"))
    out = lookup_join(
        probe, cache, probe.user_id == cache.id, how="inner"
    ).collect()
    assert len(out) == 10
    assert all(r.user_id == r.id for r in out)


def test_create_lookup_df_accepts_ddl_schema(spark, http_server):
    """DDL-string schema convenience: `"id INT, name STRING"` must parse at
    the API boundary (it used to fail deep inside row deserialization with
    an opaque AttributeError)."""
    cache = create_lookup_df(
        spark,
        {"url": http_server.url},
        "id INT, name STRING, username STRING, email STRING",
    )
    assert cache.count() == 10
    assert [f.name for f in cache.schema.fields] == [
        "id", "name", "username", "email",
    ]


def test_observed_lookup_join_hit_rate_batch(spark, http_server):
    """Cache hit-rate via Spark observed metrics (r4 verdict #7): the
    reference README documents 'Cache Hit Rate' without registering it;
    observed_lookup_join aggregates lookup_total/lookup_hits JVM-side
    during the join's own pass.  7 probe rows, 2 aimed past the 10-user
    cache -> total=7, hits=5, and the marker column never leaks."""
    from pyspark.sql import Observation

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame(
        [Row(order_id=i, user_id=(i % 5) + 1 if i < 5 else 99) for i in range(7)]
    )
    obs = Observation("http_lookup")
    joined = observed_lookup_join(
        probe, cache, on=[("user_id", "id")], how="left", observation=obs
    )
    assert "__lookup_hit__" not in joined.columns
    assert joined.count() == 7
    assert obs.get == {"lookup_total": 7, "lookup_hits": 5}
    # inner join drops the misses, and the hit count tracks the output —
    # lookup_total degrades to output rows, which the call now warns about
    obs2 = Observation("http_lookup_inner")
    with pytest.warns(UserWarning, match="exact only for how='left'"):
        inner = observed_lookup_join(
            probe, cache, on=[("user_id", "id")], how="inner", observation=obs2
        )
    assert inner.count() == 5
    assert obs2.get == {"lookup_total": 5, "lookup_hits": 5}


@pytest.mark.parametrize("how", ["left_outer", "leftouter"])
def test_observed_lookup_join_left_spellings_observe_as_left(spark, http_server, how):
    """lookup_join accepts every spelling of a left join; the observed join
    treats them all as "left": no inexact-total warning, same metrics."""
    import warnings

    from pyspark.sql import Observation

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    probe = spark.createDataFrame(
        [Row(order_id=i, user_id=(i % 5) + 1 if i < 5 else 99) for i in range(7)]
    )
    obs = Observation(f"http_lookup_{how}")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        joined = observed_lookup_join(
            probe, cache, on=[("user_id", "id")], how=how, observation=obs
        )
    assert joined.count() == 7
    assert obs.get == {"lookup_total": 7, "lookup_hits": 5}


def test_observed_lookup_join_streaming_progress(spark, http_server, tmp_path):
    """String-named observation on a streaming probe: lookup_total/
    lookup_hits surface in StreamingQueryProgress.observedMetrics — the
    monitoring-system channel the reference README points users at."""
    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    src = str(tmp_path / "probe")
    spark.createDataFrame(
        [Row(order_id=i, user_id=(i % 12) + 1) for i in range(12)]
    ).write.parquet(src)
    probe = spark.readStream.schema("order_id long, user_id long").parquet(src)
    enriched = observed_lookup_join(
        probe, cache, on=[("user_id", "id")], how="left",
        observation="lookup_metrics",
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("observed_lookup_sink")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
        # recentProgress carries the observed metrics of the finished batch
        rows = [
            p.observedMetrics["lookup_metrics"]
            for p in q.recentProgress
            if "lookup_metrics" in (p.observedMetrics or {})
        ]
    finally:
        spark.catalog.dropTempView("observed_lookup_sink")
    assert rows, "no observedMetrics surfaced in StreamingQueryProgress"
    total = sum(r["lookup_total"] for r in rows)
    hits = sum(r["lookup_hits"] for r in rows)
    assert total == 12 and hits == 10  # user_ids 11,12 miss the 10-user cache


def test_observed_lookup_join_counts_probe_rows_not_output_rows(spark):
    """A cache with DUPLICATE join keys fans one probe row out to several
    output rows; the hit metrics must still count lookup REQUESTS (probe
    rows), like the reference's cache-hit-rate definition.  3 probe rows:
    A matches a duplicated key (2 output rows), B matches a unique key,
    C misses -> output 4 rows but total=3, hits=2."""
    from pyspark.sql import Observation, Row

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )

    cache = spark.createDataFrame(
        [Row(id=1, tag="x"), Row(id=1, tag="y"), Row(id=2, tag="z")]
    )
    probe = spark.createDataFrame(
        [Row(k=1, n="A"), Row(k=2, n="B"), Row(k=9, n="C")]
    )
    obs = Observation("dup_keys")
    joined = observed_lookup_join(
        probe, cache, on=[("k", "id")], how="left", observation=obs
    )
    assert joined.count() == 4  # the join output itself keeps every match
    assert obs.get == {"lookup_total": 3, "lookup_hits": 2}


#: scalar columns: the Arrow reader takes the body
SCALAR_DDL = (
    "id BIGINT, i INT, s SMALLINT, d DOUBLE, f FLOAT, name STRING, ok BOOLEAN, "
    "at TIMESTAMP, day DATE"
)
SCALAR_ROWS = [
    {"id": 1, "i": 2147483647, "s": -32768, "d": -0.0, "f": 1.5, "name": "Zoë 東京 🚀",
     "ok": True, "at": "2024-01-02 03:04:05", "day": "2024-01-02"},
    {"id": 2, "i": None, "s": 7, "d": 2.25, "f": -0.0, "name": "ß", "ok": False,
     "at": "2024-06-30T23:59:59.5Z", "day": "1999-12-31"},
    {"id": 9007199254740993, "name": "c"},
]
#: DECIMAL, ROW, ARRAY and MAP values: the exact path builds the table
NESTED_DDL = (
    "id BIGINT, amount DECIMAL(10,2), addr STRUCT<city: STRING, zip: STRING>, "
    "tags ARRAY<INT>, attrs MAP<STRING, INT>, name STRING"
)
NESTED_ROWS = [
    {"id": 1, "amount": 12.34, "addr": {"city": "Malmö", "zip": "211 20"},
     "tags": [1, None, 3], "attrs": {"a": 1, "ß": None}, "name": "x"},
    {"id": 2, "amount": None, "addr": None, "tags": [], "attrs": {}, "name": "y"},
    {"id": 3, "name": "z"},
]


@pytest.mark.parametrize(
    "ddl, payload, fallbacks",
    [(SCALAR_DDL, SCALAR_ROWS, 0), (NESTED_DDL, NESTED_ROWS, 1), (SCALAR_DDL, [], 0)],
    ids=["scalar", "nested", "empty"],
)
def test_arrow_batch_snapshot_equals_local_relation_snapshot(
    spark, http_server, monkeypatch, ddl, payload, fallbacks
):
    """The snapshot ``create_lookup_df`` builds (Spark's Arrow-batch
    relation, decoded in the scan's tasks) and a local relation built from
    the same Arrow table (the relation it replaced, decoded on the driver)
    collect the same rows and observe the same hit counts, both on the
    witness path."""
    import math

    from pyspark.sql import Observation

    from flink_http_full_cache_connector_spark.operators.lookup_join import (
        observed_lookup_join,
    )
    from flink_http_full_cache_connector_spark.sources import lookup

    tables = []
    build = lookup._arrow_relation
    monkeypatch.setattr(
        lookup,
        "_arrow_relation",
        lambda session, table, schema: tables.append(table) or build(session, table, schema),
    )
    schema = StructType.fromDDL(ddl)
    http_server.set_payload(payload)
    stats = FetchStats()
    snapshot = create_lookup_df(spark, {"url": http_server.url}, schema, stats=stats)
    assert stats.arrow_fallbacks == fallbacks
    local = spark.createDataFrame(tables[0], schema)

    plans = [df._jdf.queryExecution().executedPlan().toString() for df in (snapshot, local)]
    if payload:
        assert "Scan ExistingRDD arrow" in plans[0], plans[0]
        assert "LocalTableScan" in plans[1], plans[1]
    else:
        # no batch, no bytes: Spark keeps an empty table a local relation
        # under any threshold
        assert [df._jdf.rdd().getNumPartitions() for df in (snapshot, local)] == [0, 0], plans
    assert not any(p in plan for plan in plans for p in PYTHON_NODES), plans

    got, want = (sorted(df.collect()) for df in (snapshot, local))
    assert got == want and len(got) == len(payload)
    # -0.0 == 0.0 in Python: compare floating values by sign as well
    for g, w in zip(got, want):
        for c in ("d", "f"):
            if c in schema.names and g[c] is not None:
                assert math.copysign(1.0, g[c]) == math.copysign(1.0, w[c])
    if "at" in schema.names:
        micros = [
            [r[0] for r in df.orderBy("id").select(F.unix_micros("at")).collect()]
            for df in (snapshot, local)
        ]
        assert micros[0] == micros[1] == [1704164645000000, 1719791999500000, None][: len(payload)]

    probe = spark.createDataFrame([(r["id"],) for r in payload] + [(-1,), (-2,)], "id BIGINT")
    for df in (snapshot, local):
        obs = Observation()
        joined = observed_lookup_join(probe, df, "id", observation=obs)
        joined.write.format("noop").mode("overwrite").save()
        assert obs.get == {"lookup_total": len(payload) + 2, "lookup_hits": len(payload)}
        assert "Window" not in joined._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("threshold", [None, "1000"])
def test_create_lookup_df_leaves_the_relation_threshold_as_found(
    spark, http_server, monkeypatch, threshold
):
    """``create_lookup_df`` sets the threshold to 0 for its one
    ``createDataFrame`` call only: the caller's value (or its absence)
    reads back after a build, after a failed build, and after two threads
    build at once."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    def setting():
        return spark.conf.get(RELATION_THRESHOLD), spark.conf.get(RELATION_THRESHOLD, None)

    with session_conf(spark, RELATION_THRESHOLD, threshold):
        before = setting()
        create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
        assert setting() == before

        seen = []

        def boom(*args, **kwargs):
            seen.append(spark.conf.get(RELATION_THRESHOLD))
            raise RuntimeError("createDataFrame failed")

        with monkeypatch.context() as m:
            m.setattr(spark, "createDataFrame", boom)
            with pytest.raises(RuntimeError, match="createDataFrame failed"):
                create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
        assert seen == ["0"]
        assert setting() == before

        # a slow createDataFrame, and a second thread that starts half-way
        # through the first one's, so that the two builds overlap
        create = spark.createDataFrame

        def slow(*args, **kwargs):
            time.sleep(0.1)
            return create(*args, **kwargs)

        def builds(delay):
            time.sleep(delay)
            return [
                create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA) for _ in range(2)
            ]

        with monkeypatch.context() as m:
            m.setattr(spark, "createDataFrame", slow)
            with ThreadPoolExecutor(2) as pool:
                futures = [pool.submit(builds, delay) for delay in (0.0, 0.05)]
                snapshots = [df for f in futures for df in f.result(timeout=120)]
        assert setting() == before
        for df in snapshots:
            assert "Scan ExistingRDD arrow" in df._jdf.queryExecution().executedPlan().toString()
