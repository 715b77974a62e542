"""Reference query surface (SURVEY.md §2.B) as registered, oracle-checked
queries over the driver's parquet tables.

The lookup-table pattern maps small tables (``nation``, ``customer``) to the
F1 dimension role and big tables (``orders``, ``events``, ``lineitem``) to
the F2/F4 probe role (FIXTURES.md).  The ``http_*`` queries additionally
serve the dimension over a real local HTTP endpoint and read it through the
full connector path (fetch → pointer → coercion), so the DuckDB oracle
checks the whole source, not just the join.

Scale note: every query keeps the big side shuffle-free — dimensions are
broadcast; projections/filters are plain DataFrame ops that Catalyst pushes
into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_http_full_cache_connector_spark.operators.lookup_join import lookup_join
from flink_http_full_cache_connector_spark.plans.registry import (
    load_table,
    register,
    table_stream,
)
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    collect_stream,
    run_to_memory,
)
from flink_http_full_cache_connector_spark.sources.local_http import (
    parquet_as_records,
    serve_json,
)
from flink_http_full_cache_connector_spark.sources.lookup import create_lookup_df

NATION_SCHEMA = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

CUSTOMER_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)


@register(
    "lookup_join_inner",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="B1: temporal lookup join, INNER — probe=orders, dim=customer (broadcast).",
)
def lookup_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return lookup_join(
        orders, customer, on=[("o_custkey", "c_custkey")], how="inner"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "lookup_join_left",
    """
    SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_name
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="B2: temporal lookup join, LEFT OUTER — unmatched probe rows keep NULL dim columns.",
)
def lookup_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return lookup_join(
        events, customer, on=[("user_id", "c_custkey")], how="left"
    ).select("event_id", "user_id", "event_type", "value", "c_name")


@register(
    "projection",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
    doc="B3: select-list projection — Catalyst prunes the parquet scan to 4 columns.",
)
def projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "nested_subquery",
    """
    SELECT order_id, c_name
    FROM (
        SELECT o.o_orderkey AS order_id, o.o_totalprice AS total, c.c_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) t
    WHERE total > 100000.0
    """,
    doc="B4: projection over a derived table (nested subquery in FROM).",
)
def nested_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    derived = lookup_join(
        orders, customer, on=[("o_custkey", "c_custkey")], how="inner"
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total"),
        "c_name",
    )
    return derived.where(F.col("total") > 100000.0).select("order_id", "c_name")


# Fixed clock injected into the REGISTERED datagen queries: md5-derived
# draws are replayable in any engine, and with the wall clock swapped for a
# constant the whole row is hash-checkable by the DuckDB oracle.  The
# library default stays PROCTIME() (current_timestamp) — only the driver
# twins pin it.
DATAGEN_CLOCK = "2026-01-01 00:00:00"


def _datagen_fields():
    from flink_http_full_cache_connector_spark.sources.datagen import (
        RandomDouble,
        RandomInt,
        RandomString,
        Sequence,
    )

    return {
        "order_id": Sequence(1, 1000),
        "user_id": RandomInt(1, 100),
        "amount": RandomDouble(1.0, 500.0),
        "token": RandomString(12),
    }


def _datagen_oracle() -> str:
    from flink_http_full_cache_connector_spark.sources.datagen import (
        oracle_field_sql,
    )

    cols = ",\n           ".join(
        f"{oracle_field_sql(n, s)} AS {n}" for n, s in _datagen_fields().items()
    )
    return f"""
    SELECT {cols},
           TIMESTAMP '{DATAGEN_CLOCK}' AS proc_time
    FROM range(0, 1000) t(value)
    WHERE (value + 1) <= 1000
    """


@register(
    "datagen_probe",
    _datagen_oracle(),
    doc="B7: datagen source shim — random int/double/string + bounded sequence "
    "fields derived declaratively from the range/rate value column (JVM-side, "
    "md5-based so any engine can replay the draws); proc_time computed column "
    "included (B5), pinned to a fixed clock in this registered twin so the "
    "oracle can hash-check every column.",
)
def datagen_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.sources.datagen import datagen_batch

    return datagen_batch(
        spark,
        _datagen_fields(),
        num_rows=1000,
        clock=F.lit(DATAGEN_CLOCK).cast("timestamp"),
    )


def _proctime_oracle() -> str:
    from flink_http_full_cache_connector_spark.sources.datagen import (
        RandomInt,
        oracle_field_sql,
    )

    uid = oracle_field_sql("user_id", RandomInt(1, 1500))
    return f"""
    WITH probe AS (
        SELECT {uid} AS user_id, TIMESTAMP '{DATAGEN_CLOCK}' AS proc_time
        FROM range(0, 2000) t(value)
    )
    SELECT p.user_id, p.proc_time, c.c_name, c.c_mktsegment
    FROM probe p LEFT JOIN customer c ON p.user_id = c.c_custkey
    """


@register(
    "proctime_lookup_join",
    _proctime_oracle(),
    doc="B5+B1: datagen probe with PROCTIME() computed column, enriched "
    "against the customer dimension (flagship example-job shape in batch "
    "form). The registered twin injects a fixed clock so the driver can "
    "hash-check the join output including proc_time.",
)
def proctime_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.sources.datagen import (
        RandomInt,
        datagen_batch,
    )

    probe = datagen_batch(
        spark,
        {"user_id": RandomInt(1, 1500)},
        num_rows=2000,
        clock=F.lit(DATAGEN_CLOCK).cast("timestamp"),
    )
    customer = load_table(spark, sf_dir, "customer")
    return lookup_join(
        probe, customer, on=[("user_id", "c_custkey")], how="left"
    ).select("user_id", "proc_time", "c_name", "c_mktsegment")


@register(
    "streaming_lookup_join",
    """
    SELECT e.event_id, e.user_id, e.event_type, c.c_name
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="B1/B2 in true Structured Streaming form: events consumed as a parquet "
    "file stream (availableNow trigger), stream-static broadcast lookup join "
    "per microbatch, memory sink; the oracle is the equivalent batch SQL — "
    "proving snapshot-join parity between the streaming and batch planners.",
)
def streaming_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    customer = load_table(spark, sf_dir, "customer")
    joined = lookup_join(
        stream, customer, on=[("user_id", "c_custkey")], how="left"
    ).select("event_id", "user_id", "event_type", "c_name")
    return run_to_memory(joined)


@register(
    "streaming_windowed_events",
    """
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*)::bigint AS cnt,
           min(value) AS min_val, max(value) AS max_val
    FROM events GROUP BY 1, 2
    """,
    doc="B6 + streaming window: event-time tumbling 1h aggregation with a "
    "watermark declaration over the events file stream (complete mode, "
    "availableNow); aggregates are order-independent (count/min/max) so the "
    "final state is value-exact against the batch oracle.",
)
def streaming_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").withWatermark("ts", "5 seconds")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
            "min_val",
            "max_val",
        )
    )
    return run_to_memory(agg, "complete")


@register(
    "hopping_windows",
    """
    WITH hops AS (
        SELECT event_type, ts, value,
               time_bucket(INTERVAL '30 minutes', ts)
                   - i * INTERVAL '30 minutes' AS win_start
        FROM events, unnest(range(0, 2)) AS t(i)
    )
    SELECT win_start::TIMESTAMP AS win_start, event_type,
           count(*)::bigint AS cnt, min(value) AS min_val, max(value) AS max_val
    FROM hops GROUP BY 1, 2
    """,
    doc="Hopping (sliding) windows: 1h size / 30m slide — each event lands in "
    "2 windows; Spark window(ts, '1 hour', '30 minutes') vs an explicit "
    "bucket-expansion oracle (order-independent aggregates).",
)
def hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt", "min_val", "max_val")
    )


@register(
    "session_windows",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts)::TIMESTAMP AS session_start,  -- ns -> us, like the Spark side
           max(ts)::TIMESTAMP AS session_end,
           count(*)::bigint AS cnt
    FROM numbered GROUP BY user_id, sid
    """,
    doc="Session windows (10-minute gap) per user over event time — Spark "
    "session_window vs a gaps-and-islands oracle; order-independent "
    "aggregates (min/max/count) keep the comparison value-exact.",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("cnt"),
        )
        .select("user_id", "session_start", "session_end", "cnt")
    )


@register(
    "http_lookup_scan",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="A1/A8/A9/A10: bounded HTTP scan — nation served over local HTTP, read "
    "through fetch→pointer→coercion; oracle reads the same parquet directly.",
)
def http_lookup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = parquet_as_records(f"{sf_dir}/nation.parquet")
    with serve_json({"data": {"rows": records}}) as url:
        # create_lookup_df fetches eagerly on the driver, so the server can
        # shut down as soon as it returns.
        return create_lookup_df(
            spark, {"url": url, "xpath": "/data/rows"}, NATION_SCHEMA
        )


@register(
    "http_lookup_join",
    """
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="B1 over the real connector path: probe=customer parquet, dim=nation via HTTP.",
)
def http_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = parquet_as_records(f"{sf_dir}/nation.parquet")
    with serve_json(records) as url:
        dim = create_lookup_df(spark, {"url": url}, NATION_SCHEMA)
    customer = load_table(spark, sf_dir, "customer")
    return lookup_join(
        customer, dim, on=[("c_nationkey", "n_nationkey")], how="inner"
    ).select("c_custkey", "c_name", "n_name")


@register(
    "streaming_interval_join",
    """
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           c.ts::TIMESTAMP AS click_ts, v.ts::TIMESTAMP AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND v.ts >= c.ts - INTERVAL 5 MINUTE AND v.ts < c.ts
    """,
    doc="Stream-stream inner join with an event-time interval condition: "
    "clicks joined to the same user's views in the trailing 5 minutes. "
    "Watermarks on BOTH sides let Spark expire join state (the interval "
    "bound caps how long a view row must be retained) — state stays "
    "O(watermark-window), not O(stream). availableNow single-batch run is "
    "value-exact against the batch range-join oracle.",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            table_stream(spark, sf_dir, "events")
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "10 minutes")
        )

    joined = (
        side("click", "click")
        .join(
            side("view", "view"),
            F.expr(
                "view_user = click_user "
                "AND view_ts >= click_ts - interval 5 minutes "
                "AND view_ts < click_ts"
            ),
            "inner",
        )
        .select(
            "click_id",
            "view_id",
            F.col("click_user").alias("user_id"),
            "click_ts",
            "view_ts",
        )
    )
    return run_to_memory(joined)


@register(
    "json_codec_roundtrip",
    """
    SELECT event_id, user_id, event_type, value,
           TRUE AS roundtrip_ok
    FROM events
    """,
    doc="JSON serialize/deserialize round-trip over the events fact: "
    "to_json(struct(...)) then from_json with the declared schema, "
    "emitting the RE-PARSED fields plus a per-row equality flag. The "
    "hash compare runs on post-roundtrip values, so any codec loss "
    "(double formatting, null handling, field order) breaks the gate — "
    "the batch twin of the connector's A10 schema-driven row "
    "deserialization (reference JsonFormatFactory usage, "
    "HttpLookupTableSource.scala:60-66). Pure map-side JVM expressions "
    "(Jackson inside codegen): no shuffle, no Python.",
)
def json_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    payload_schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    encoded = events.select(
        F.col("event_id").alias("orig_id"),
        F.col("user_id").alias("orig_user"),
        F.col("event_type").alias("orig_type"),
        F.col("value").alias("orig_value"),
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("js"),
    )
    parsed = encoded.select(
        "orig_id",
        "orig_user",
        "orig_type",
        "orig_value",
        F.from_json(F.col("js"), payload_schema).alias("p"),
    )
    return parsed.select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_type").alias("event_type"),
        F.col("p.value").alias("value"),
        (
            (F.col("p.event_id") == F.col("orig_id"))
            & (F.col("p.user_id") == F.col("orig_user"))
            & (F.col("p.event_type") == F.col("orig_type"))
            & (F.col("p.value") == F.col("orig_value"))
        ).alias("roundtrip_ok"),
    )


@register(
    "http_datasource_scan",
    "SELECT n_nationkey, n_name FROM nation",
    doc="A3+A4 through the REGISTERED FORMAT: spark.dataSource.register("
    "HttpLookupDataSource) then spark.read.format('http-lookup-full-cache') "
    "— the Python Data Source API twin of the reference's SPI factory "
    "lookup (factoryIdentifier + META-INF/services, "
    "HttpLookupTableSourceFactory.scala:125).  The declared schema is "
    "NARROWED to 2 of nation's 3 served fields, so the oracle match also "
    "proves schema-driven projection: deserialization drops n_regionkey "
    "(applyProjection parity, HttpLookupTableSource.scala:26-34).  The "
    "format scan fetches lazily on the executor, so the plan is pinned "
    "with localCheckpoint while the transient server is still up; the "
    "checkpointed relation is dimension-sized by contract.",
)
def http_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.sources.datasource import (
        HttpLookupDataSource,
    )

    spark.dataSource.register(HttpLookupDataSource)
    records = parquet_as_records(f"{sf_dir}/nation.parquet")
    with serve_json(records) as url:
        df = (
            spark.read.format("http-lookup-full-cache")
            .schema("n_nationkey INT, n_name STRING")
            .option("url", url)
            .load()
        )
        # executor-side lazy fetch: materialize before the server shuts down
        return df.localCheckpoint(eager=True)


@register(
    "http_cache_refresh",
    """
    SELECT g AS generation,
           (SELECT count(*) FROM nation)::bigint AS n_rows,
           (SELECT sum(n_nationkey) FROM nation)::bigint AS key_sum,
           3::bigint AS refresh_count
    FROM (VALUES (1::bigint), (2::bigint), (3::bigint)) AS t(g)
    """,
    doc="A5 driver-gated: FIXED_DELAY full-cache reload with atomic swap "
    "(FullCachingLookupProvider + PeriodicCacheReloadTrigger, "
    "HttpLookupTableSource.scala:36-54).  The endpoint stamps every row "
    "with the 1-based fetch number, so three reload cycles must observe "
    "generations exactly 1, 2, 3 — proving each cycle re-fetched AND "
    "swapped in fresh data (a stale cache would repeat a generation; a "
    "lost swap would skip one).  Each snapshot aggregates to one "
    "(generation, n_rows, key_sum) row; the refresh_count column pins the "
    "delivered metrics (reference README.md:199-208 documents these but "
    "never registers them) inside the oracle gate.",
)
def http_cache_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from flink_http_full_cache_connector_spark.sources.local_http import (
        serve_json_generational,
    )
    from flink_http_full_cache_connector_spark.streaming.refresh import (
        RefreshingLookupCache,
    )

    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("generation", LongType()),
        ]
    )
    records = parquet_as_records(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])
    with serve_json_generational(records) as url:
        cache = RefreshingLookupCache(
            spark,
            {"url": url, "cache.refresh-interval": "PT0S"},
            schema,
        )
        snaps = [cache.current()]
        for _ in range(2):
            reloaded = cache.check_and_reload()
            assert reloaded, "FIXED_DELAY with PT0S must always be due"
            snaps.append(cache.current())
    per_snap = [
        s.groupBy("generation").agg(
            F.count("*").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        for s in snaps
    ]
    out = reduce(DataFrame.unionByName, per_snap)
    refresh_count = int(cache.metrics()["refresh_count"])
    return out.withColumn("refresh_count", F.lit(refresh_count).cast("long"))


BOUNDED_COLLECT_MOD = 199
BOUNDED_COLLECT_RESIDUE = 7


@register(
    "streaming_bounded_collect",
    f"""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id % {BOUNDED_COLLECT_MOD} = {BOUNDED_COLLECT_RESIDUE}
    """,
    doc="B10 driver-gated: bounded take-N from a running stream through the "
    "client-side collect loop (HttpLookupConnectorTest.scala:71-81 — "
    "stream.iterate, take N, stop).  collect_stream runs the filtered "
    "events file-stream into a memory sink and polls until N rows arrive, "
    "then STOPS the query (bounded consumption of an unbounded source).  "
    "N is set to the filter's exact cardinality so the collected multiset "
    "is arrival-order-independent and the oracle gate stays value-exact; "
    "the filter keeps the collected set dimension-sized (1/199 of users) "
    "at every SF — the pattern's contract is 'N rows land on the client', "
    "never 'the stream lands on the client'.",
)
def streaming_bounded_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cond = (F.col("user_id") % BOUNDED_COLLECT_MOD) == BOUNDED_COLLECT_RESIDUE
    n = events.where(cond).count()
    stream = (
        table_stream(spark, sf_dir, "events")
        .where(cond)
        .select("event_id", "user_id", "event_type", "value")
    )
    rows = collect_stream(stream, n, timeout_s=120.0)
    assert len(rows) == n, (len(rows), n)
    return spark.createDataFrame(rows, stream.schema)


@register(
    "streaming_console_sink",
    """
    SELECT r_regionkey, r_name, count(*)::bigint AS n_nations
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_regionkey, r_name
    """,
    doc="B8 driver-gated: the print/console sink "
    "(HttpLookupConnectorTest.scala print-sink example) run to completion "
    "on a real microbatch stream — region×nation rollup over the nation "
    "file stream, complete mode, availableNow, numRows capped.  Console "
    "output is a side effect no gate can capture, so the registered "
    "contract is the strongest available: the SAME aggregation runs "
    "through a memory sink in the SAME triggers and must hash-match the "
    "batch oracle — proving the streamed rollup the console rendered was "
    "the right one, and that the console query itself terminated cleanly "
    "(exceptions re-raise).",
)
def streaming_console_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        start_console_sink,
    )

    region = load_table(spark, sf_dir, "region")
    stream = (
        table_stream(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey", "r_name")
        .agg(F.count("*").alias("n_nations"))
    )
    console = start_console_sink(
        stream, output_mode="complete", numRows=5, truncate=False
    )
    console.processAllAvailable()
    exc = console.exception()
    console.stop()
    if exc is not None:
        raise exc
    return run_to_memory(stream, "complete")


@register(
    "http_datasource_stream",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="A5's stream twin through the REGISTERED FORMAT: "
    "spark.readStream.format('http-lookup-full-cache') drives "
    "HttpLookupStreamReader (simpleStreamReader microbatch re-snapshot, "
    "datasource.py:97-135 ≙ FullCachingLookupProvider + "
    "PeriodicCacheReloadTrigger).  PT0S refresh makes every microbatch a "
    "fresh fetch; the bounded collector takes exactly one snapshot's "
    "cardinality, and because epoch 1 delivers the complete payload in "
    "one batch, the first N rows ARE the first snapshot — so the take-N "
    "is deterministic and the oracle gate is value-exact on the full "
    "nation dimension.",
)
def http_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.sources.datasource import (
        HttpLookupDataSource,
    )

    spark.dataSource.register(HttpLookupDataSource)
    records = parquet_as_records(f"{sf_dir}/nation.parquet")
    with serve_json(records) as url:
        stream = (
            spark.readStream.format("http-lookup-full-cache")
            .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
            .option("url", url)
            .option("cache.refresh-interval", "PT0S")
            .load()
        )
        rows = collect_stream(stream, len(records), timeout_s=120.0)
    assert len(rows) == len(records), (len(rows), len(records))
    return spark.createDataFrame(rows, stream.schema)


FMT_MOD = 199  # orderkey slice: dimension-sized roundtrip payload at any SF


@register(
    "file_formats_roundtrip",
    f"""
    WITH slice AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey % {FMT_MOD} = 0
    ),
    agg AS (
        SELECT count(*)::bigint AS n_rows,
               sum((o_totalprice * 100)::bigint)::bigint AS total_cents,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
               count(DISTINCT o_orderstatus)::bigint AS n_status,
               min(o_orderdate)::TIMESTAMP AS min_date
        FROM slice
    )
    SELECT f.format, a.* FROM agg a,
           (VALUES ('csv'), ('jsonl'), ('orc')) AS f(format)
    """,
    doc="Multi-format ingest/egress gate: ONE orders slice written to CSV, "
    "JSON-Lines, and ORC, each read back through the declared-schema "
    "readers (sources/files.py — FAILFAST, explicit timestamp format, "
    "never inferred) and aggregated; all three format rows must carry "
    "IDENTICAL aggregates (exact cents, key envelope, status cardinality, "
    "timestamp min), and each must equal the oracle computed straight "
    "from parquet — so the gate proves every format's write+read is "
    "lossless for bigint/decimal/string/timestamp, not merely runnable.  "
    "The slice is 1/199 of orders (dimension-sized at any SF); at scale "
    "the same readers run on full-size paths with identical plans "
    "(pushdown-capable file scans, declared schemas).",
)
def file_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from functools import reduce

    from flink_http_full_cache_connector_spark.sources.files import (
        read_csv,
        read_jsonl,
    )

    schema_ddl = (
        "o_orderkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DECIMAL(18,2), o_orderdate TIMESTAMP_NTZ"
    )
    orders = load_table(spark, sf_dir, "orders")
    sl = orders.where(F.col("o_orderkey") % FMT_MOD == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    base = tempfile.mkdtemp(prefix="spark_graft_formats_")
    try:
        ts_fmt = "yyyy-MM-dd HH:mm:ss"
        sl.write.option("header", "true").option("timestampFormat", ts_fmt).option(
            "timestampNTZFormat", ts_fmt
        ).csv(f"{base}/csv")
        sl.write.json(f"{base}/jsonl")
        sl.write.orc(f"{base}/orc")
        back = {
            "csv": read_csv(
                spark, f"{base}/csv", schema_ddl, timestampNTZFormat=ts_fmt
            ),
            "jsonl": read_jsonl(spark, f"{base}/jsonl", schema_ddl),
            "orc": spark.read.schema(schema_ddl).orc(f"{base}/orc"),
        }
        per_fmt = [
            df.agg(
                F.count("*").alias("n_rows"),
                F.sum((F.col("o_totalprice") * 100).cast("long")).alias(
                    "total_cents"
                ),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                F.countDistinct("o_orderstatus").alias("n_status"),
                F.min("o_orderdate").alias("min_date"),
            ).select(F.lit(fmt).alias("format"), "*")
            for fmt, df in back.items()
        ]
        out = reduce(DataFrame.unionByName, per_fmt)
        # materialize the 3-row aggregate eagerly so the format directories
        # can be deleted before returning — the lazy version leaked three
        # /tmp trees of orders data per bench/correctness run
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "streaming_windowed_append",
    """
    WITH agg AS (
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*)::bigint AS cnt, min(value) AS min_val,
               max(value) AS max_val
        FROM events GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 5 SECOND AS w FROM events)
    SELECT win_start::TIMESTAMP AS win_start, event_type, cnt,
           min_val, max_val
    FROM agg, wm
    WHERE win_start + INTERVAL 1 HOUR <= wm.w
    """,
    doc="APPEND-mode watermarked windowed aggregation — the production "
    "twin of streaming_windowed_events (complete mode): windows emit "
    "exactly once when the watermark passes their end, and their state "
    "is EVICTED — at 100 TB of stream this is the difference between "
    "O(open windows) and O(all windows ever) state.  The oracle "
    "recomputes the emission rule in SQL: a window row appears iff "
    "win_end <= max(ts) - 5s (the final watermark), so the hash match "
    "pins both the aggregation and Spark's append-emission boundary.  "
    "availableNow runs the data batch, then a final no-data batch "
    "advances the watermark and flushes closed windows — empirically "
    "pinned across SFs.",
)
def streaming_windowed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").withWatermark("ts", "5 seconds")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "cnt",
            "min_val",
            "max_val",
        )
    )
    return run_to_memory(agg)


@register(
    "streaming_session_append",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    wm AS (SELECT max(ts) - INTERVAL 5 SECOND AS w FROM events)
    SELECT user_id,
           min(ts)::TIMESTAMP AS session_start,
           max(ts)::TIMESTAMP AS session_end,
           count(*)::bigint AS cnt
    FROM numbered, wm
    GROUP BY user_id, sid, wm.w
    HAVING max(ts) + INTERVAL 10 MINUTE <= wm.w
    """,
    doc="APPEND-mode watermarked SESSION windows — the eviction twin of "
    "session_windows (batch) and streaming_sessionize (stateful): a "
    "session emits exactly once when the watermark passes its close "
    "(last event + 10-minute gap) and its merge state is EVICTED, the "
    "only shape whose state is O(open sessions) on an unbounded stream.  "
    "The oracle replays the emission rule in SQL — gaps-and-islands "
    "sessions HAVING max(ts) + gap <= max(ts_all) - 5s (the final "
    "watermark) — so the hash match pins Spark's session-close boundary "
    "(session_window.end = last event + gap), empirically equal to the "
    "w.end <= watermark rule at every SF.",
)
def streaming_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").withWatermark("ts", "5 seconds")
    agg = (
        stream.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("cnt"),
        )
        .select("user_id", "session_start", "session_end", "cnt")
    )
    return run_to_memory(agg)
