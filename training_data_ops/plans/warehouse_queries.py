"""Warehouse / pipeline query shapes round two: global top-k, CDC
latest-per-key compaction, batch sessionization, CUBE aggregation,
cohort retention, correlated-aggregate filtering, incremental-batch
dedup, and ordered string aggregation.

The reference exercises none of these (SURVEY.md §2.C — it has no
aggregation/window/set-op surface at all); they are the daily query
shapes of a training-data warehouse, expressed with stock Catalyst
operators and pinned to DuckDB oracles.

Cross-engine exactness rules (same as analytics_queries.py):
- week arithmetic in integer microseconds (``unix_micros // week_us``),
  never calendar ``date_trunc`` (week-start conventions differ);
- money comparisons rearranged to stay in exact DECIMAL
  (``price * n > sum`` instead of ``price > sum / n``);
- aggregated lists sorted before joining into a string (Spark
  ``collect_list`` order is nondeterministic by contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import (
    load_table,
    table_stream,
)
from training_data_ops.registry import register
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    run_to_memory,
)

TOPK_N = 100
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min
WEEK_US = 7 * 86400 * 1_000_000


@register(
    "topk_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT {TOPK_N}
    """,
    doc=f"Global top-{TOPK_N} orders by price (orderkey tie-break makes the "
    "boundary deterministic). Spark physical plan is TakeOrderedAndProject: "
    "per-partition k-row heaps + single driver merge of k*partitions rows — "
    "no global sort, no full shuffle, scales to any input size.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(TOPK_N)
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="CDC compaction / dedup-by-recency: keep each key's most recent "
    "record (row_number desc = 1, event_id tie-break). One key shuffle + "
    "per-key sort; at scale this is the standard changelog->snapshot "
    "materialization, key space = users (uniform).",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@register(
    "sessionize_events",
    f"""
    WITH marked AS (
        SELECT user_id, event_id, ts, epoch_us(ts::TIMESTAMP) AS us,
               CASE WHEN epoch_us(ts::TIMESTAMP)
                      - lag(epoch_us(ts::TIMESTAMP)) OVER w > {SESSION_GAP_US}
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS boundary
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, us,
               sum(boundary) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_num
        FROM marked
    )
    SELECT user_id, session_num::bigint AS session_num,
           count(*)::bigint AS n_events,
           min(us) AS start_us, max(us) AS end_us
    FROM numbered GROUP BY user_id, session_num
    """,
    doc="Batch sessionization (30-min inactivity gap): lag -> boundary flag "
    "-> running sum = session number -> per-session aggregate. The batch "
    "twin of streaming/session.py's session windows; one user-key shuffle, "
    "window and aggregate reuse the same partitioning (no second shuffle). "
    "Gaps compared in exact integer microseconds.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    marked = events.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0).alias("boundary"),
    )
    # running sum ordered by (us, event_id): same total order as the
    # boundary window, so same-microsecond ties land in a deterministic
    # session on both engines (ADVICE r1)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = marked.select(
        "user_id", "us", F.sum("boundary").over(wrun).alias("session_num")
    )
    return numbered.groupBy("user_id", "session_num").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


@register(
    "cube_events",
    """
    SELECT event_type, ts::DATE::VARCHAR AS day,
           grouping(event_type)::int AS g_type, grouping(day)::int AS g_day,
           count(*)::bigint AS cnt, min(value) AS min_val, max(value) AS max_val
    FROM events
    GROUP BY CUBE (event_type, day)
    """,
    doc="Full CUBE over (type, day) with grouping flags disambiguating "
    "subtotal rows from data NULLs — completes the grouping-sets surface "
    "next to rollup_events. Spark expands all four grouping sets before one "
    "partial-agg shuffle; float columns only under order-independent "
    "min/max.",
)
def cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.to_date("ts").cast("string").alias("day"), "value"
        )
        .cube("event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


@register(
    "retention_cohorts",
    f"""
    WITH weeks AS (
        SELECT DISTINCT user_id,
               epoch_us(ts::TIMESTAMP) // {WEEK_US} AS week
        FROM events
    ),
    cohorts AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
    SELECT c.cohort_week::bigint AS cohort_week,
           (w.week - c.cohort_week)::bigint AS week_offset,
           count(*)::bigint AS active_users
    FROM weeks w JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users bucketed by first-seen week x weeks "
    "since — weeks are integer epoch-microsecond buckets (calendar "
    "date_trunc('week') start conventions differ across engines). distinct "
    "-> per-user min -> self-join: both sides arrive partitioned by "
    "user_id from their aggregations, so the join reuses that exchange; "
    "final agg is tiny (weeks x offsets).",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    weeks = events.select(
        "user_id", (F.unix_micros(F.col("ts")) / F.lit(WEEK_US)).cast("long").alias("week")
    ).distinct()
    cohorts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count("*").alias("active_users"))
    )


@register(
    "orders_above_cust_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               sum(o_totalprice::DECIMAL(18,2)) OVER (PARTITION BY o_custkey) AS s,
               count(*) OVER (PARTITION BY o_custkey) AS n
        FROM orders
    )
    WHERE o_totalprice::DECIMAL(18,2) * n > s
    """,
    doc="Correlated aggregate predicate (each order vs ITS customer's "
    "average — the per-group twin of scalar_subquery_spenders' global "
    "mean), decorrelated into a single window pass instead of a "
    "self-join. The mean test is rearranged to `price * n > sum` so the "
    "comparison stays in exact DECIMAL — no cross-engine float division.",
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.sum(dec).over(w).alias("s"),
            F.count("*").over(w).alias("n"),
        )
        .where(dec * F.col("n") > F.col("s"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


NEW_BATCH_MOD = 5  # doc_id % 5 == 0 -> "incoming batch", rest -> history


@register(
    "dedup_incremental",
    f"""
    WITH hashed AS (
        SELECT doc_id, md5(trim(lower(text))) AS h,
               doc_id % {NEW_BATCH_MOD} = 0 AS is_new
        FROM documents
    ),
    history AS (SELECT DISTINCT h FROM hashed WHERE NOT is_new),
    fresh AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM hashed WHERE is_new
    )
    SELECT f.doc_id, f.h AS content_hash
    FROM fresh f LEFT JOIN history USING (h)
    WHERE f.rn = 1 AND history.h IS NULL
    """,
    doc="Incremental-ingest dedup: an incoming batch is deduped within "
    "itself (min doc_id per normalized-content hash) AND against the "
    "historical corpus's hash set (left-anti join) — the shape every "
    "continuously-fed training corpus runs per ingest. All keys are md5 "
    "hashes (uniform, no skew); at 100 TB the history side is a "
    "hash-partitioned anti join, never driver-collected.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.md5(F.trim(F.lower(F.col("text")))).alias("h"),
        (F.col("doc_id") % NEW_BATCH_MOD == 0).alias("is_new"),
    )
    history = hashed.where(~F.col("is_new")).select("h").distinct()
    w = Window.partitionBy("h").orderBy("doc_id")
    fresh = (
        hashed.where("is_new")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return fresh.join(history, "h", "left_anti").select(
        "doc_id", F.col("h").alias("content_hash")
    )


@register(
    "region_nations_agg",
    """
    SELECT r.r_name AS region_name,
           count(*)::bigint AS nation_count,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
    doc="Ordered string aggregation (collect_list -> array_sort -> "
    "array_join; Spark's collect order is nondeterministic by contract, so "
    "the sort is mandatory for engine-exact output) — the array-function "
    "surface over the dimension tables.",
)
def region_nations_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("nation_count"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
    )


@register(
    "salted_join_orders",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="Skew-resilient salted equi-join (operators.skew.salted_join, salt="
    "16) registered against the PLAIN join's oracle: scattering hot probe "
    "keys across 16 sub-buckets and replicating the build side must be "
    "semantically invisible — the driver's value-hash gate proves it. The "
    "tool for shuffle joins whose probe side has hot keys when AQE can't "
    "split (post-join aggregation on the same key, shuffled-hash joins).",
)
def salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    return salted_join(orders, cust, on=[("o_custkey", "c_custkey")], how="inner").select(
        "o_orderkey", "o_custkey", "c_name", "c_nationkey"
    )


@register(
    "set_ops_all_events",
    """
    SELECT 'click_minus_purchase' AS kind, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT ALL
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'common_multiset' AS kind, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT ALL
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
    doc="Multiset set operations (EXCEPT ALL / INTERSECT ALL — Spark "
    "exceptAll/intersectAll): per-user click occurrences surviving "
    "purchase-count subtraction, and the multiset intersection — "
    "completes the set-op surface next to set_ops_users' set semantics. "
    "Implemented as count-compare aggregates under one key shuffle.",
)
def set_ops_all_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id")
    buys = events.where(F.col("event_type") == "purchase").select("user_id")
    minus = clicks.exceptAll(buys).select(
        F.lit("click_minus_purchase").alias("kind"), "user_id"
    )
    common = clicks.intersectAll(buys).select(
        F.lit("common_multiset").alias("kind"), "user_id"
    )
    return minus.unionByName(common)


@register(
    "order_price_ranks",
    """
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking windows (rank / dense_rank; row_number and ntile live in "
    "window_funcs_events / ntile_buckets): per-customer order ranking by "
    "price with a deterministic key tie-break — one uniform key shuffle + "
    "per-key sort.",
)
def order_price_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "grouping_sets_events",
    """
    SELECT event_type, ts::DATE::VARCHAR AS day,
           grouping(event_type)::int AS g_type, grouping(day)::int AS g_day,
           count(*)::bigint AS cnt, min(value) AS min_val, max(value) AS max_val
    FROM events
    GROUP BY GROUPING SETS ((event_type), (day))
    """,
    doc="Explicit GROUPING SETS ((type), (day)) — two independent dimension "
    "summaries in ONE scan + one partial-agg shuffle, the case neither "
    "ROLLUP (hierarchical) nor CUBE (all 4 sets) expresses. Completes the "
    "grouping-sets family next to rollup_events / cube_events; grouping "
    "flags disambiguate subtotal NULLs from data NULLs.",
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.to_date("ts").cast("string").alias("day"), "value"
        )
        .groupingSets([["event_type"], ["day"]], "event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


UNPIVOT_METRICS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "unpivot_lineitem_metrics",
    " UNION ALL ".join(
        f"""
        SELECT '{m}' AS metric, count({m})::bigint AS cnt,
               min({m}) AS min_val, max({m}) AS max_val
        FROM lineitem
        """
        for m in UNPIVOT_METRICS
    ),
    doc="Unpivot (wide -> long, the inverse of pivot_events): lineitem's four "
    "measure columns melted into (metric, val) rows then profiled per "
    "metric. Spark Expand emits 4 rows per input row map-side; partial "
    "aggregation collapses them before the single 4-key shuffle — the "
    "data-profiling shape that feeds schema-drift monitors. Floats only "
    "under order-independent min/max.",
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"], list(UNPIVOT_METRICS), "metric", "val"
    )
    return long.groupBy("metric").agg(
        F.count("val").alias("cnt"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


HOUR_US = 3_600 * 1_000_000


@register(
    "rolling_1h_events",
    f"""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us, value
        FROM events
    )
    SELECT event_id, user_id, us,
           count(*) OVER w AS cnt_1h,
           max(value) OVER w AS max_val_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
    """,
    doc="Per-user trailing-1-hour rolling window (RANGE frame over integer "
    "microseconds — value-based frames, the family rowsBetween can't "
    "express; calendar-free so engines agree exactly). One user-key "
    "shuffle + per-key sort; frame state is a sliding aggregate, O(frame) "
    "memory per key regardless of history length. RANGE + CURRENT ROW "
    "includes ts-peers on both engines (SQL-standard peer semantics).",
)
def rolling_1h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-HOUR_US, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "us",
        F.count("*").over(w).alias("cnt_1h"),
        F.max("value").over(w).alias("max_val_1h"),
    )


@register(
    "gapfill_locf_events",
    f"""
    WITH ev0 AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value,
               row_number() OVER (
                   PARTITION BY user_id, epoch_us(ts::TIMESTAMP)
                   ORDER BY event_id DESC) AS rn
        FROM events
    ),
    ev AS (SELECT user_id, us, value FROM ev0 WHERE rn = 1),
    bounds AS (
        SELECT user_id, min(us) // {HOUR_US} AS h0, max(us) // {HOUR_US} AS h1
        FROM ev GROUP BY user_id
    ),
    g AS (
        SELECT user_id, unnest(generate_series(h0, h1)) AS hour,
               (unnest(generate_series(h0, h1)) + 1) * {HOUR_US} - 1 AS cutoff
        FROM bounds
    )
    SELECT g.user_id, g.hour::bigint AS hour, ev.value AS value_locf
    FROM g ASOF LEFT JOIN ev
        ON g.user_id = ev.user_id AND ev.us <= g.cutoff
    """,
    doc="Time-series gap fill with LOCF (last observation carried forward): "
    "per user, an hourly grid from first to last event, each grid point "
    "carrying the most recent value at or before the hour's end — the "
    "regularization step every feature/training pipeline runs on "
    "irregular event streams. Implemented like the as-of join: union the "
    "grid (null value) with the events and take running last(ignorenulls) "
    "per user ordered by (us, kind) — ONE user-key shuffle, no grid x "
    "events range join. Ties at one microsecond collapse to the highest "
    "event_id first (canonicalized on both engines); the grid is integer "
    "epoch-hours so the frame is calendar-free and engine-exact; the "
    "carried value is never arithmetic'd, so floats stay bit-identical. "
    "Oracle is DuckDB's native ASOF LEFT JOIN against the same grid.",
)
def gapfill_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.gapfill import gapfill_locf

    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", F.unix_micros(F.col("ts")).alias("us"), "value", "event_id"
    )
    return gapfill_locf(
        ev,
        key_col="user_id",
        us_col="us",
        val_col="value",
        tie_col="event_id",
        step_us=HOUR_US,
    ).withColumnRenamed("bucket", "hour")


@register(
    "recursive_order_chains",
    """
    WITH RECURSIVE chain AS (
        SELECT o_orderkey AS root, o_orderkey AS node, 0 AS depth FROM orders
        UNION ALL
        SELECT root, node // 16 AS node, depth + 1 AS depth
        FROM chain WHERE node > 0
    )
    SELECT root, max(depth)::int AS chain_len, sum(node)::bigint AS chain_sum
    FROM chain GROUP BY root
    """,
    doc="Recursive CTE surface (Spark 4 WITH RECURSIVE, UNION ALL form): "
    "per-order base-16 digit chains k -> k/16 -> ... -> 0 — an acyclic "
    "recursion of depth = the key's hex length, aggregated back to one "
    "row per root. Depth choice IS the scale knob: every recursion level "
    "is a serial barrier (one distributed job) at any cluster size, so a "
    "higher radix buys a shorter critical path for identical semantics. "
    "The DuckDB oracle runs the same ANSI recursion. UNION-distinct "
    "recursion (cyclic closures) is not yet in Spark — the engine's "
    "iterative operators (connected components, Lloyd) cover that family "
    "with driver loops.",
)
def recursive_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows accumulated across ALL iterations count against this limit:
    # ~|orders| x hex-length(orderkey) (≈1M at sf0.1) — size it to the
    # data like shuffle partitions, the default 1M is a local safety net.
    # The conf is read at EXECUTION, not plan build, so the recursion is
    # forced eagerly (localCheckpoint) inside the raised-limit scope and
    # the prior value restored after — leaving it raised would silently
    # strip the recursion guard from every later query in a shared-session
    # sweep (ADVICE r1).
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(500_000_000))
    try:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "orders_rcte_src"
        )
        return spark.sql(
            """
        WITH RECURSIVE chain AS (
            SELECT o_orderkey AS root, o_orderkey AS node, 0 AS depth
            FROM orders_rcte_src
            UNION ALL
            SELECT root, node DIV 16 AS node, depth + 1 AS depth
            FROM chain WHERE node > 0
        )
        SELECT root, CAST(max(depth) AS int) AS chain_len,
               CAST(sum(node) AS bigint) AS chain_sum
        FROM chain GROUP BY root
        """
        ).localCheckpoint(eager=True)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionRowLimit", prior)


# ---------------------------------------------------------------------------
# ingest QA: column profiling + referential-integrity audit
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "props"]


@register(
    "profile_events_columns",
    f"""
    WITH base AS (
        SELECT {', '.join(
            f"count({c})::bigint AS nn_{c}, count(DISTINCT {c})::bigint AS nd_{c}"
            for c in _PROFILE_COLS
        )}, count(*)::bigint AS n
        FROM events
    )
    {' UNION ALL '.join(
        f"SELECT '{c}' AS col, n, (n - nn_{c})::bigint AS nulls,"
        f" nd_{c} AS n_distinct FROM base"
        for c in _PROFILE_COLS
    )}
    """,
    doc="Ingest data-quality profile of the events table: per column row "
    "count, null count, exact distinct count — the landing-zone audit "
    "every continuously-fed table needs. ONE pass computes every "
    "column's counts simultaneously (multi-distinct aggregate: Spark "
    "expands it to grouping-set form internally), then a constant-size "
    "unpivot to one row per column — never one scan per column.",
)
def profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    base = events.agg(*aggs)
    per_col = [
        base.select(
            F.lit(c).alias("col"),
            F.col("n"),
            (F.col("n") - F.col(f"nn_{c}")).alias("nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionAll(p)
    return out


_FK_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "fk_integrity",
    " UNION ALL ".join(
        f"""
    SELECT '{ct}.{ck}->{pt}.{pk}' AS fk,
           count(*)::bigint AS n_child,
           count(*) FILTER (WHERE p.{pk} IS NULL)::bigint AS n_orphans
    FROM {ct} c LEFT JOIN {pt} p ON c.{ck} = p.{pk}
    """
        for ct, ck, pt, pk in _FK_EDGES
    ),
    doc="Referential-integrity audit across every FK edge of the star "
    "schema: orphan counts via LEFT-join-null probes. Each parent side is "
    "a broadcastable dimension (or lands broadcast via AQE); the child "
    "side streams map-side, so the whole audit costs one scan per child "
    "table — the standard post-ingest FK gate before a warehouse "
    "publishes a snapshot.",
)
def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for ct, ck, pt, pk in _FK_EDGES:
        child = load_table(spark, sf_dir, ct)
        parent = load_table(spark, sf_dir, pt).select(F.col(pk))
        j = child.join(F.broadcast(parent), child[ck] == parent[pk], "left")
        row = j.agg(
            F.lit(f"{ct}.{ck}->{pt}.{pk}").alias("fk"),
            F.count("*").alias("n_child"),
            F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "scd2_apply_changes",
    """
    WITH dim AS (
        SELECT user_id, value,
               ts::TIMESTAMP AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts)::TIMESTAMP
                   AS valid_to
        FROM events WHERE event_type = 'signup'
    ),
    delta AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    first_change AS (
        SELECT user_id, min(ts) AS first_ts FROM delta GROUP BY user_id
    ),
    closed AS (
        SELECT d.user_id, d.value, d.valid_from,
               CASE WHEN d.valid_to IS NULL AND f.user_id IS NOT NULL
                    THEN f.first_ts ELSE d.valid_to END AS valid_to
        FROM dim d LEFT JOIN first_change f ON d.user_id = f.user_id
    ),
    fresh AS (
        SELECT user_id, value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
        FROM delta
    )
    SELECT user_id, value, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM (SELECT * FROM closed UNION ALL SELECT * FROM fresh)
    """,
    doc="SCD2 change application — the MERGE-shaped incremental twin of "
    "scd2_intervals: a delta batch (purchase events as the change feed) "
    "closes each affected user's open interval at the delta's first "
    "timestamp and appends the delta's own chained intervals; untouched "
    "users' history passes through UNCHANGED — the work is delta-joined, "
    "never a dimension rebuild. One uniform user-key LEFT join (dim "
    "against the delta's per-user min — delta-sized, broadcastable when "
    "the batch is small) + one window over the delta only. The shape a "
    "table format's MERGE INTO executes; here it is pure DataFrame ops "
    "with a hash-checkable oracle.",
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w_dim = Window.partitionBy("user_id").orderBy("ts")
    dim = events.where(F.col("event_type") == "signup").select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w_dim).alias("valid_to"),
    )
    delta = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    first_change = delta.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    closed = (
        dim.join(first_change, "user_id", "left")
        .select(
            "user_id",
            "value",
            "valid_from",
            F.when(
                F.col("valid_to").isNull() & F.col("first_ts").isNotNull(),
                F.col("first_ts"),
            )
            .otherwise(F.col("valid_to"))
            .alias("valid_to"),
        )
    )
    w_delta = Window.partitionBy("user_id").orderBy("ts")
    fresh = delta.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w_delta).alias("valid_to"),
    )
    return closed.unionByName(fresh).select(
        "user_id",
        "value",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


def _day_state_aggs() -> list:
    """The algebraic state row one day contributes: (cnt, sum, min, max)
    in exact integer micro-units — shared by the batch build and the
    streaming maintenance of the day-state table."""
    micro = F.floor(F.col("value") * 1_000_000)
    return [
        F.count("*").alias("cnt"),
        F.sum(micro).alias("sum_micro"),
        F.min(micro).alias("min_micro"),
        F.max(micro).alias("max_micro"),
    ]


def _merge_day_states(daily: DataFrame) -> DataFrame:
    """Merge stored (day, event_type) states to month grain: pure state
    algebra (sum-of-sums, min-of-mins), no raw-event access; avg derived
    sum div cnt at merge time."""
    return (
        daily.groupBy(
            F.date_trunc("month", F.col("day")).alias("month"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_micro").alias("sum_micro"),
            F.min("min_micro").alias("min_micro"),
            F.max("max_micro").alias("max_micro"),
        )
        .select(
            "month",
            "event_type",
            "cnt",
            "sum_micro",
            "min_micro",
            "max_micro",
            F.expr("sum_micro div cnt").alias("avg_micro"),
        )
    )


ROLLUP_MERGE_ORACLE = """
    SELECT date_trunc('month', ts)::TIMESTAMP AS month,
           event_type,
           count(*)::bigint AS cnt,
           sum(floor(value * 1000000))::bigint AS sum_micro,
           min(floor(value * 1000000))::bigint AS min_micro,
           max(floor(value * 1000000))::bigint AS max_micro,
           (sum(floor(value * 1000000))::bigint // count(*)::bigint)
               AS avg_micro
    FROM events
    GROUP BY 1, 2
    """


@register(
    "rollup_incremental_merge",
    ROLLUP_MERGE_ORACLE,
    doc="Incremental-rollup state merge — the materialized-view-maintenance "
    "pattern that makes daily 100 TB rollups affordable: each day "
    "contributes a PARTIAL aggregate state row (cnt, sum, min, max per "
    "(day, event_type)); month-level results are produced by merging the "
    "stored day states (sum-of-sums, sum-of-cnts, min-of-mins), never by "
    "re-scanning history.  avg is derived as sum div cnt AT MERGE TIME — "
    "avg-of-avgs is the classic wrong answer this decomposition exists to "
    "avoid.  The oracle computes month directly from the raw events, so a "
    "hash match proves the day->month state merge is lossless (the "
    "algebraic-aggregate property).  Values accumulate in exact integer "
    "micro-units (floor(value*1e6), order-independent bigint sums).  Plan: "
    "the (day, type) shuffle is the only data-sized exchange; the merge "
    "re-agg moves one state row per day-type.",
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # stage 1 — the per-day state table an incremental pipeline would
    # persist (one row per (day, event_type)); at 100 TB each NEW day is
    # aggregated alone and appended
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(*_day_state_aggs())
    # stage 2 — merge stored day states to month grain
    return _merge_day_states(daily)


@register(
    "streaming_rollup_incremental",
    ROLLUP_MERGE_ORACLE,
    doc="Streamed maintenance of the incremental-rollup day-state table: the "
    "events stream updates (day, event_type) partial-aggregate states "
    "in-place (complete mode — state is O(days x types) rows, never "
    "O(events)), and the month merge runs on the maintained state "
    "relation.  The oracle is the DIRECT month aggregate over raw events, "
    "so a hash match proves the streamed state fold is associative and "
    "lossless under whatever microbatch slicing the source produced — the "
    "same algebraic-aggregate property the batch twin "
    "(rollup_incremental_merge) pins for the day->month merge, extended "
    "here to per-microbatch day-state updates.  Integer micro-unit sums "
    "make the fold order-independent by construction.  Complete mode "
    "re-emits the whole O(days x types) relation every microbatch — fine "
    "for metadata-sized state; streaming_rollup_incremental_update is "
    "the sink-cheap UPDATE-mode twin (delta emission + foreachBatch "
    "merge) for key spaces that are not.",
)
def streaming_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table_stream(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "event_type")
        .agg(*_day_state_aggs())
    )
    return _merge_day_states(run_to_memory(daily, "complete"))


ROLLUP_UPDATE_SLICES = 3  # microbatches the update-mode twin consumes


@register(
    "streaming_rollup_incremental_update",
    ROLLUP_MERGE_ORACLE,
    doc="UPDATE-mode / foreachBatch-merge twin of "
    "streaming_rollup_incremental (round-7 verdict #6, the "
    "streaming_drift_ks_update template): the events table is sliced "
    f"into {ROLLUP_UPDATE_SLICES} files consumed as separate "
    "microbatches (maxFilesPerTrigger=1), the (day, event_type) "
    "day-state aggregation runs in UPDATE output mode — each microbatch "
    "delivers only the day-states whose totals CHANGED, never the full "
    "O(days x types) relation the complete-mode twin re-emits every "
    "batch — and a foreachBatch upsert merges the deltas into a "
    "versioned parquet state table (anti-join old keys + union).  The "
    "shared day->month state merge then runs on the merged table, and "
    "the DIRECT month-aggregate oracle must hash-match: delta emission "
    "+ external merge + algebraic month fold reconstructs the raw "
    "aggregate exactly.  Update rows carry new day TOTALS (cnt, sum, "
    "min, max in exact integer micro-units), so the merge is idempotent "
    "per (day, type) — replayable on restart.",
)
def streaming_rollup_incremental_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from training_data_ops.streaming.upsert import (
        run_update_merge_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    proj = ev.select("event_id", "event_type", "ts", "value")
    work = tempfile.mkdtemp(prefix="spark_graft_rollupd_")
    try:
        in_dir = f"{work}/in"
        from training_data_ops.streaming.upsert import (
            write_slice_files,
        )

        write_slice_files(
            proj, in_dir, F.col("event_id") % ROLLUP_UPDATE_SLICES,
            ROLLUP_UPDATE_SLICES,
        )
        stream = (
            spark.readStream.schema(proj.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(in_dir)
        )
        daily = stream.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        ).agg(*_day_state_aggs())
        merged = run_update_merge_stream(
            daily, key_cols=["day", "event_type"], out_dir=f"{work}/state"
        )
        out = _merge_day_states(merged)
        # materialize the months-x-types-sized result so temp dirs can go
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
