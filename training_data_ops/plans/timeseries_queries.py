"""Time-series operational analytics: trailing-window anomaly detection
and winsorized robust aggregation.

The reference has no time-series surface (SURVEY.md §2.C); these are the
monitoring/robust-stats shapes run daily over an event warehouse, kept
hash-checkable cross-engine by the repo's exactness rules.

Exactness notes:
- The z-score gate is an all-integer cross-multiplication.  With
  trailing-window count n, sum S, sum-of-squares Q and current count c:
      mean = S/n,  var_samp = (n*Q - S^2) / (n*(n-1)),
      z^2 > Z^2  <=>  (c*n - S)^2 * (n-1) > Z^2 * n * (n*Q - S^2)
  Every operand is a bigint — no float mean/stddev whose summation
  order could differ between engines.  (stddev_samp itself is NOT
  replayed: different engines use different one-pass formulas.)
- Winsorized sums accumulate in integer micro-units
  (``floor(clamped * 1e6)``): floor of a bit-identical double is
  identical everywhere, and the bigint sum is order-independent —
  where a double sum of clamped values would drift with partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from training_data_ops.functions.rounding import duck_trunc6, trunc6
from flink_http_full_cache_connector_spark.plans.registry import (
    load_table,
    table_stream,
)
from training_data_ops.registry import register
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    run_to_memory,
)

HOUR_US = 3600 * 1_000_000
#: anomaly gate: |z| > AZ_Z over a trailing window of AZ_LOOKBACK hours,
#: requiring at least AZ_MIN_N history points.
AZ_Z = 3
AZ_LOOKBACK = 24
AZ_MIN_N = 8

#: winsorization bounds (type-7 interpolated percentiles, trunc6-pinned)
WZ_LO = 0.05
WZ_HI = 0.95


@register(
    "event_anomaly_zscore",
    f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts::TIMESTAMP) // {HOUR_US} AS hour_idx,
               count(*)::bigint AS c
        FROM events GROUP BY 1, 2
    ),
    windowed AS (
        SELECT event_type, hour_idx, c,
               count(c) OVER w AS n,
               sum(c) OVER w AS s,
               sum(c * c) OVER w AS q
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
                     ROWS BETWEEN {AZ_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_idx, c, n, s::bigint AS s, q::bigint AS q,
           (c * n - s) * (c * n - s) * (n - 1)
               > {AZ_Z * AZ_Z} * n * (n * q - s * s) AS is_anomaly,
           (c * n - s) > 0 AS is_spike
    FROM windowed WHERE n >= {AZ_MIN_N}
    """,
    doc=f"Trailing-window anomaly detection: per (event_type, hour) counts "
    f"vs the preceding {AZ_LOOKBACK} hours' mean/variance, flagging "
    f"|z| > {AZ_Z} (and spike direction). One (type, hour) partial-agg "
    "shuffle, then a window keyed on event_type ordered by hour — the "
    "window input is hours x types (already aggregated), thousands of "
    "rows per type per year, NOT event-sized, so the per-type partition "
    "is driver-safe at any SF. The z-test is an exact integer "
    "cross-multiplication (see module docstring) — no cross-engine "
    "stddev formula drift.",
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hour_idx"),
        )
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(-AZ_LOOKBACK, -1)
    )
    windowed = hourly.select(
        "event_type",
        "hour_idx",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
    ).where(F.col("n") >= AZ_MIN_N)
    dev = F.col("c") * F.col("n") - F.col("s")
    return windowed.select(
        "event_type",
        "hour_idx",
        "c",
        "n",
        "s",
        "q",
        (
            dev * dev * (F.col("n") - 1)
            > AZ_Z * AZ_Z * F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
        ).alias("is_anomaly"),
        (dev > 0).alias("is_spike"),
    )


@register(
    "winsorize_prices",
    f"""
    WITH bounds AS (
        SELECT c_mktsegment,
               {duck_trunc6(f'quantile_cont(o_totalprice, {WZ_LO})')} AS lo,
               {duck_trunc6(f'quantile_cont(o_totalprice, {WZ_HI})')} AS hi
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
    )
    SELECT b.c_mktsegment, b.lo, b.hi,
           count(*)::bigint AS n_orders,
           sum(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END)::bigint
               AS n_clamped_lo,
           sum(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END)::bigint
               AS n_clamped_hi,
           sum(floor(GREATEST(LEAST(o.o_totalprice, b.hi), b.lo)
                     * 1000000))::bigint AS winsorized_sum_micro
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN bounds b ON c.c_mktsegment = b.c_mktsegment
    GROUP BY b.c_mktsegment, b.lo, b.hi
    """,
    doc="Winsorized revenue per market segment: clamp order prices to the "
    f"per-segment [p{int(WZ_LO * 100)}, p{int(WZ_HI * 100)}] band "
    "(type-7 interpolated percentiles, trunc6-pinned like "
    "percentiles_events), then aggregate the clamped values in integer "
    "micro-units — floor + bigint sum is partitioning-independent where "
    "a double sum would drift. The 5-row bounds table broadcasts back "
    "onto the orders scan; the exact-percentile pass is the second scan "
    "of orders AND shuffles fact rows onto the 5 segment keys (exact "
    "percentiles cannot partial-aggregate) — the verification-grade "
    "construction. At scale the production variant swaps in "
    "approx_percentile: one pass, partial-aggregable, no 5-key shuffle.",
)
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_totalprice"
    )
    bounds = seg.groupBy("c_mktsegment").agg(
        trunc6(F.expr(f"percentile(o_totalprice, {WZ_LO})")).alias("lo"),
        trunc6(F.expr(f"percentile(o_totalprice, {WZ_HI})")).alias("hi"),
    )
    clamped = F.greatest(F.least(F.col("o_totalprice"), F.col("hi")), F.col("lo"))
    return (
        seg.join(F.broadcast(bounds), "c_mktsegment")
        .groupBy("c_mktsegment", "lo", "hi")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0)
            ).alias("n_clamped_lo"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0)
            ).alias("n_clamped_hi"),
            F.sum(F.floor(clamped * 1_000_000)).alias("winsorized_sum_micro"),
        )
    )


@register(
    "event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               count(*)::bigint AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    totals AS (
        SELECT from_type, sum(n)::bigint AS n_from FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n, tt.n_from,
           (t.n * 1000000 // tt.n_from) AS p_ppm
    FROM trans t JOIN totals tt ON t.from_type = tt.from_type
    """,
    doc="First-order event-transition matrix (the Markov-chain view of "
    "user journeys): per-user event sequences via lead(), transition "
    "counts, and conditional probabilities in exact integer ppm "
    "(bigint // bigint truncates identically in both engines). One "
    "user-key window shuffle + one (from, to) partial agg; the "
    "totals join is a 5x5-type-matrix broadcast. The sequence-modeling "
    "prior every session-based recommender/abuse model starts from.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    trans = (
        seq.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
        # type-matrix-sized; persisted so the totals branch reads the cache
        # instead of replaying the event-sized window + aggregation
        .persist()
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.expr("n * 1000000 div n_from").alias("p_ppm"),
        )
    )


#: rolling-distinct window length in hours (trailing, inclusive of the
#: current hour).
RD_WINDOW_H = 24


@register(
    "rolling_distinct_users",
    f"""
    WITH user_hours AS (
        SELECT DISTINCT event_type,
               epoch_us(ts::TIMESTAMP) // {HOUR_US} AS hour_idx,
               user_id
        FROM events
    ),
    fanned AS (
        SELECT DISTINCT event_type, hour_idx + i AS hour_idx, user_id
        FROM user_hours, unnest(range(0, {RD_WINDOW_H})) AS t(i)
    ),
    active AS (SELECT DISTINCT event_type, hour_idx FROM user_hours)
    SELECT f.event_type, f.hour_idx,
           count(DISTINCT f.user_id)::bigint AS distinct_users
    FROM fanned f JOIN active a
      ON f.event_type = a.event_type AND f.hour_idx = a.hour_idx
    GROUP BY f.event_type, f.hour_idx
    """,
    doc=f"Rolling {RD_WINDOW_H}h distinct users per (event_type, hour) — "
    "the sliding-window COUNT DISTINCT no window frame can express "
    "(distinct does not decompose into frame aggregates). Exact banded "
    "form: dedup events to (type, hour, user) FIRST (the corpus-sized "
    "pass collapses to presence rows), then each presence row fans out "
    f"to the {RD_WINDOW_H} window positions it participates in — fan-out "
    "bounded by the constant window length over the ALREADY-DEDUPED "
    "relation, never raw events — and a distinct-agg counts per "
    "position (restricted to hours that actually had activity, so "
    "engines agree on the grid). THE LINEAR ANCHOR of the sliding-"
    "distinct family: per-window-position work by construction (the "
    "slowest measured sf100 query, 619.9 s), tagged baseline since both "
    "production twins registered — rolling_distinct_users_sweep (exact, "
    "13.4x at sf100, same oracle) and rolling_distinct_users_hll "
    "(epsilon-approximate, sketch contract).",
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    user_hours = (
        events.select(
            "event_type",
            F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hour_idx"),
            "user_id",
        )
        .distinct()
        .persist()
    )
    fanned = user_hours.select(
        "event_type",
        F.explode(F.sequence(F.col("hour_idx"), F.col("hour_idx") + RD_WINDOW_H - 1)).alias(
            "hour_idx"
        ),
        "user_id",
    )
    active = user_hours.select("event_type", "hour_idx").distinct()
    return (
        fanned.join(active, ["event_type", "hour_idx"])
        .groupBy("event_type", "hour_idx")
        .agg(F.count_distinct("user_id").alias("distinct_users"))
    )


#: datasketches HLL precision for the rolling-distinct production twin:
#: lgK=14 → rsd ≈ 1.04/√2^14 ≈ 0.81%; the declared contract tolerance is
#: ~5 sigma (estimator outputs are engine-specific, so the DRIVER-CHECKED
#: column is the tolerance boolean — the sketch_stats pattern).
RD_HLL_LGK = 14
RD_HLL_TOL = 0.04


def _rolling_distinct_sweep(events: DataFrame) -> DataFrame:
    """(event_type, hour_idx, distinct_users) — EXACT rolling-window
    distinct by interval sweep, the shared core of
    ``rolling_distinct_users_sweep`` and the HLL twin's verifier.

    Each (type, user)'s presence hours merge into covered segments
    [p, p+W-1]; segment endpoints emit +1/−1 deltas whose per-type cumsum
    over the hour grid IS the rolling distinct count at every hour.  NO
    distinct before the window: duplicate (type, user, hour) rows land
    adjacent under the window sort and give ``hour − lag(hour) = 0``,
    which never opens a segment and never moves a segment's min/max — the
    sweep is duplicate-tolerant by construction, so the corpus pays ONE
    (type, user) shuffle.  Everything after segment aggregation is
    grid-sized (hours × types)."""
    hour = F.expr(f"unix_micros(ts) div {HOUR_US}")
    presence = events.select("event_type", hour.alias("hour_idx"), "user_id")
    w = Window.partitionBy("event_type", "user_id").orderBy("hour_idx")
    prev = F.lag("hour_idx").over(w)
    seg = presence.withColumn(
        "new_seg",
        F.when(
            prev.isNull() | (F.col("hour_idx") - prev > RD_WINDOW_H), 1
        ).otherwise(0),
    ).withColumn(
        "seg_id",
        F.sum("new_seg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    segments = seg.groupBy("event_type", "user_id", "seg_id").agg(
        F.min("hour_idx").alias("s"),
        (F.max("hour_idx") + RD_WINDOW_H - 1).alias("e"),
    )
    deltas = segments.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("hour_idx"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("e") + 1).alias("hour_idx"), F.lit(-1).alias("d")
                ),
            )
        ).alias("x"),
    ).select(
        "event_type",
        F.col("x.hour_idx").alias("hour_idx"),
        F.col("x.d").alias("d"),
    )
    active = (
        presence.select("event_type", "hour_idx").distinct()
    )  # grid-sized after the partial agg
    grid = (
        deltas.unionByName(active.withColumn("d", F.lit(0)))
        .groupBy("event_type", "hour_idx")
        .agg(F.sum("d").alias("d"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn("distinct_users", F.sum("d").over(wc))
        .join(active, ["event_type", "hour_idx"])
        .select("event_type", "hour_idx", "distinct_users")
    )


@register(
    "rolling_distinct_users_sweep",
    f"""
    WITH user_hours AS (
        SELECT DISTINCT event_type,
               epoch_us(ts::TIMESTAMP) // {HOUR_US} AS hour_idx,
               user_id
        FROM events
    ),
    fanned AS (
        SELECT DISTINCT event_type, hour_idx + i AS hour_idx, user_id
        FROM user_hours, unnest(range(0, {RD_WINDOW_H})) AS t(i)
    ),
    active AS (SELECT DISTINCT event_type, hour_idx FROM user_hours)
    SELECT f.event_type, f.hour_idx,
           count(DISTINCT f.user_id)::bigint AS distinct_users
    FROM fanned f JOIN active a
      ON f.event_type = a.event_type AND f.hour_idx = a.hour_idx
    GROUP BY f.event_type, f.hour_idx
    """,
    doc=f"EXACT production twin of the rolling_distinct_users anchor — "
    "identical output (same oracle, hash-gated), computed by the "
    f"interval SWEEP instead of the {RD_WINDOW_H}x fan-out: presence "
    "hours merge into covered segments per (type, user), endpoint "
    "deltas cumsum over the grid-sized hour axis.  One corpus shuffle "
    "on (type, user) replaces the anchor's fan-out explode (window x "
    "corpus rows) + distinct-agg over the fanned relation — the "
    "distinct-count analog of the gapfill/asof discipline: turn a "
    "per-window-position recount into a per-CHANGE scan.  Use this when "
    "exactness is required; rolling_distinct_users_hll when an epsilon "
    "estimate is cheaper still.",
)
def rolling_distinct_users_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rolling_distinct_sweep(load_table(spark, sf_dir, "events"))


@register(
    "rolling_distinct_users_hll",
    f"""
    WITH user_hours AS (
        SELECT DISTINCT event_type,
               epoch_us(ts::TIMESTAMP) // {HOUR_US} AS hour_idx,
               user_id
        FROM events
    ),
    fanned AS (
        SELECT DISTINCT event_type, hour_idx + i AS hour_idx, user_id
        FROM user_hours, unnest(range(0, {RD_WINDOW_H})) AS t(i)
    ),
    active AS (SELECT DISTINCT event_type, hour_idx FROM user_hours)
    SELECT f.event_type, f.hour_idx,
           count(DISTINCT f.user_id)::bigint AS distinct_users,
           TRUE AS approx_ok
    FROM fanned f JOIN active a
      ON f.event_type = a.event_type AND f.hour_idx = a.hour_idx
    GROUP BY f.event_type, f.hour_idx
    """,
    doc=f"PRODUCTION twin of rolling_distinct_users (round-9 verdict #2): "
    f"the rolling {RD_WINDOW_H}h distinct via per-hour HLL sketches "
    f"(lgK={RD_HLL_LGK}, one map-side-combined pass over RAW events — "
    "HLL insertion is idempotent, so no presence-dedup shuffle feeds the "
    "sketch side; ~types x hours groups of constant size) unioned across "
    "each position's window over the TINY sketch relation — the rolling "
    "stage costs hours x types x window rows of sketch bytes, "
    "independent of corpus size.  The contract columns are exact and "
    "driver-hashed: distinct_users comes from an INTERVAL-SWEEP exact "
    "path (each (type,user)'s presence hours merge into covered "
    f"segments [p, p+{RD_WINDOW_H - 1}]; +1/-1 endpoint deltas cumsum "
    "over the hour grid) — same values as the exact twin's 24x fan-out "
    "at a fraction of the cost (no corpus-sized explode, no distinct "
    "over fanned rows); approx_ok asserts the HLL estimate lands within "
    f"{RD_HLL_TOL:.0%} (~5 sigma at lgK={RD_HLL_LGK}) of that exact "
    "count, recomputed by the oracle as TRUE.",
)
def rolling_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hour = F.expr(f"unix_micros(ts) div {HOUR_US}")

    # --- production estimate: per-hour sketches -> rolling union --------
    sketches = (
        events.groupBy("event_type", hour.alias("hour_idx"))
        .agg(F.hll_sketch_agg("user_id", RD_HLL_LGK).alias("sk"))
        .persist()
    )
    fanned = sketches.select(
        "event_type",
        F.explode(
            F.sequence(F.col("hour_idx"), F.col("hour_idx") + RD_WINDOW_H - 1)
        ).alias("hour_idx"),
        "sk",
    )
    rolled = fanned.groupBy("event_type", "hour_idx").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )

    # --- exact verifier: the shared interval sweep (see
    # _rolling_distinct_sweep — also registered standalone as
    # rolling_distinct_users_sweep, the exact production twin)
    exact = _rolling_distinct_sweep(events)

    return exact.join(rolled, ["event_type", "hour_idx"]).select(
        "event_type",
        "hour_idx",
        "distinct_users",
        (
            F.abs(F.col("approx_users") - F.col("distinct_users"))
            <= RD_HLL_TOL * F.col("distinct_users")
        ).alias("approx_ok"),
    )


@register(
    "late_arrival_report",
    f"""
    WITH arrivals AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
               max(epoch_us(ts::TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS watermark_us
        FROM events
    )
    SELECT user_id,
           count(*)::bigint AS n_events,
           sum(CASE WHEN us < watermark_us THEN 1 ELSE 0 END)::bigint
               AS n_late,
           max(CASE WHEN us < watermark_us THEN watermark_us - us
                    ELSE 0 END)::bigint AS max_lateness_us,
           (sum(CASE WHEN us < watermark_us THEN 1 ELSE 0 END) * 1000000
               // count(*))::bigint AS late_ppm
    FROM arrivals
    GROUP BY user_id
    """,
    doc="Late-arrival accounting — the measurement that TUNES watermarks: "
    "using event_id as arrival order, an event is late when its event "
    "time undercuts the per-key running max of everything that arrived "
    "before it (exactly a 0-delay watermark's drop rule). Reports "
    "per-key late counts, worst lateness in integer microseconds, and "
    "late share in exact integer ppm — read max_lateness_us off this "
    "report and you have the withWatermark() delay that loses nothing. "
    "One user-key shuffle shared by the running-max window and the "
    "aggregate (same partitioning, no second exchange).",
)
def late_arrival_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    arrivals = events.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.max(us).over(w).alias("watermark_us"),
    )
    late = F.col("us") < F.col("watermark_us")
    return arrivals.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
        F.max(
            F.when(late, F.col("watermark_us") - F.col("us")).otherwise(0)
        ).alias("max_lateness_us"),
        F.expr(
            "sum(CASE WHEN us < watermark_us THEN 1 ELSE 0 END) * 1000000"
            " div count(*)"
        ).alias("late_ppm"),
    )


#: attribution lookback: a conversion credits the last touch within this
#: window (integer microseconds; 7 days).
ATTR_WINDOW_US = 7 * 86400 * 1_000_000


@register(
    "attribution_last_touch",
    f"""
    WITH tagged AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv,
               event_type
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ),
    run AS (
        SELECT user_id, event_id, us, is_conv,
               last_value(CASE WHEN is_conv = 0 THEN event_id END
                          IGNORE NULLS) OVER w AS touch_id,
               last_value(CASE WHEN is_conv = 0 THEN us END
                          IGNORE NULLS) OVER w AS touch_us,
               last_value(CASE WHEN is_conv = 0 THEN event_type END
                          IGNORE NULLS) OVER w AS touch_type
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY us, is_conv, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, us AS purchase_us,
           CASE WHEN touch_us IS NOT NULL
                 AND us - touch_us <= {ATTR_WINDOW_US}
                THEN touch_id END AS touch_id,
           CASE WHEN touch_us IS NOT NULL
                 AND us - touch_us <= {ATTR_WINDOW_US}
                THEN touch_type END AS touch_type,
           CASE WHEN touch_us IS NOT NULL
                 AND us - touch_us <= {ATTR_WINDOW_US}
                THEN us - touch_us END AS lag_us,
           (touch_us IS NOT NULL
            AND us - touch_us <= {ATTR_WINDOW_US}) AS attributed
    FROM run WHERE is_conv = 1
    """,
    doc="Last-touch conversion attribution: each purchase credits the "
    "most recent click/view by the same user within a 7-day window "
    "(same-instant touches sort before the conversion and attribute). "
    "The as-of union dataflow (operators/asof.py): one user-key "
    "shuffle, a running last(ignore nulls) over the merged stream — "
    "never the per-conversion range join that explodes "
    "O(|touches|x|conversions|) per user. Integer-microsecond lag; "
    "out-of-window conversions report unattributed rather than "
    "silently dropping.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    tagged = events.where(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("event_type") == "purchase").cast("int").alias("is_conv"),
        "event_type",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_conv", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = lambda c: F.last(  # noqa: E731
        F.when(F.col("is_conv") == 0, c), ignorenulls=True
    ).over(w)
    run = tagged.select(
        "user_id",
        "event_id",
        "us",
        "is_conv",
        touch(F.col("event_id")).alias("touch_id"),
        touch(F.col("us")).alias("touch_us"),
        touch(F.col("event_type")).alias("touch_type"),
    ).where(F.col("is_conv") == 1)
    in_window = F.col("touch_us").isNotNull() & (
        F.col("us") - F.col("touch_us") <= ATTR_WINDOW_US
    )
    return run.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("us").alias("purchase_us"),
        F.when(in_window, F.col("touch_id")).alias("touch_id"),
        F.when(in_window, F.col("touch_type")).alias("touch_type"),
        F.when(in_window, F.col("us") - F.col("touch_us")).alias("lag_us"),
        in_window.alias("attributed"),
    )


# ---------------------------------------------------------------------------
# mergeable histogram quantiles — the fixed-state production variant the
# winsorize docstring points at: exact percentiles shuffle fact rows onto
# few segment keys, but a 100 TB pipeline wants quantiles from a bounded
# sketch.  A fixed-width histogram IS the simplest mergeable quantile
# sketch: per-partition bin counts partial-aggregate map-side, the shuffle
# carries <= HQ_BINS rows total, and the quantile extraction runs on the
# metadata-sized bin relation.  Bin edges are integer multiples of
# HQ_WIDTH, ranks are exact integers — no float comparisons cross-engine.
# ---------------------------------------------------------------------------

HQ_BINS = 1000
HQ_WIDTH = 500  # o_totalprice < 500_000 ⇒ bins 0..999 cover the domain
HQ_QUANTILES = (25, 50, 75, 90, 99)


def _quantiles_from_bins(
    spark: SparkSession, bins: DataFrame, quantiles: tuple[int, ...], width: int
) -> DataFrame:
    """(bin, cnt) → (q, bin, lo_edge, hi_edge, rank, total) — the rank
    extraction half of the histogram sketch, shared by the batch and
    streaming variants.  Runs entirely on the metadata-sized bin relation
    (cumulative windows + a #quantiles-row nested-loop join)."""
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("c"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    qs = spark.range(0, len(quantiles)).select(
        F.element_at(
            F.array(*[F.lit(q) for q in quantiles]),
            (F.col("id") + 1).cast("int"),
        ).alias("q")
    )
    # ceil(q·total/100) as floor((q·total+99)/100): operands < 2^47, so the
    # double division is exact-enough for a correctly-rounded floor
    rank = F.floor((F.col("q") * F.col("total") + 99) / 100).cast("long")
    return (
        qs.join(cum, F.col("c") >= rank)
        .groupBy("q")
        .agg(
            F.min("bin").alias("bin"),
            (F.min("bin") * width).cast("long").alias("lo_edge"),
            ((F.min("bin") + 1) * width).cast("long").alias("hi_edge"),
            F.min(rank).alias("rank"),
            F.min("total").alias("total"),
        )
        .select("q", "bin", "lo_edge", "hi_edge", "rank", "total")
    )



@register(
    "histogram_quantiles",
    f"""
    WITH bins AS (
        SELECT LEAST({HQ_BINS - 1}, floor(o_totalprice / {HQ_WIDTH}))::bigint
                   AS bin,
               count(*)::bigint AS cnt
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
               sum(cnt) OVER () AS total
        FROM bins
    ),
    qs AS (SELECT unnest(ARRAY{list(HQ_QUANTILES)}) AS q)
    SELECT qs.q::int AS q,
           min(cum.bin)::bigint AS bin,
           (min(cum.bin) * {HQ_WIDTH})::bigint AS lo_edge,
           ((min(cum.bin) + 1) * {HQ_WIDTH})::bigint AS hi_edge,
           min((qs.q * cum.total + 99) // 100)::bigint AS rank,
           min(cum.total)::bigint AS total
    FROM qs JOIN cum
      ON cum.c >= (qs.q * cum.total + 99) // 100
    GROUP BY qs.q
    """,
    doc=f"Quantiles from a {HQ_BINS}-bin fixed-width histogram — the "
    "mergeable-sketch production path for percentiles at scale: bin "
    "assignment is map-side, partial aggregation collapses each "
    "partition to <= bins rows before the ONE tiny shuffle, and rank "
    "extraction (ceil(q·total/100), exact integer) walks the "
    "metadata-sized cumulative bin relation. Contrast "
    "winsorize_prices' exact-percentile pass, which must shuffle fact "
    "rows onto segment keys. Resolution is the bin width (edges "
    "reported, never interpolated floats), total/rank are exact.",
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bins = (
        orders.groupBy(
            F.least(
                F.lit(HQ_BINS - 1), F.floor(F.col("o_totalprice") / HQ_WIDTH)
            )
            .cast("long")
            .alias("bin")
        )
        .agg(F.count("*").alias("cnt"))
    )
    return _quantiles_from_bins(spark, bins, HQ_QUANTILES, HQ_WIDTH)


# streaming twin: the histogram's scale claim is that bin counts MERGE —
# per-microbatch partial counts fold into running state of fixed size.
# Proof by construction: the streaming aggregation consumes the events
# stream in arbitrary microbatch slices and must hash-match the BATCH SQL
# oracle exactly — any slice-order sensitivity would break the gate.

SHQ_BINS = 700  # events.value ~ Exp(50): P(value >= 699) < 1e-6, LEAST caps
SHQ_WIDTH = 1


@register(
    "streaming_histogram_quantiles",
    f"""
    WITH bins AS (
        SELECT LEAST({SHQ_BINS - 1}, floor(value / {SHQ_WIDTH}))::bigint
                   AS bin,
               count(*)::bigint AS cnt
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
               sum(cnt) OVER () AS total
        FROM bins
    ),
    qs AS (SELECT unnest(ARRAY{list(HQ_QUANTILES)}) AS q)
    SELECT qs.q::int AS q,
           min(cum.bin)::bigint AS bin,
           (min(cum.bin) * {SHQ_WIDTH})::bigint AS lo_edge,
           ((min(cum.bin) + 1) * {SHQ_WIDTH})::bigint AS hi_edge,
           min((qs.q * cum.total + 99) // 100)::bigint AS rank,
           min(cum.total)::bigint AS total
    FROM qs JOIN cum
      ON cum.c >= (qs.q * cum.total + 99) // 100
    GROUP BY qs.q
    """,
    doc=f"Streaming percentiles from the mergeable {SHQ_BINS}-bin histogram "
    "sketch: the events stream aggregates per-bin counts incrementally "
    "(complete mode, O(bins) state regardless of stream volume — the "
    "telemetry-percentile pattern), then the shared rank extraction runs "
    "on the final bin relation. The oracle is the BATCH histogram SQL: a "
    "hash match proves the sketch merges associatively across whatever "
    "microbatch slicing the source produced — the property that makes it "
    "a sketch. Same integer rank arithmetic as histogram_quantiles. "
    "Complete mode re-emits the whole O(bins) relation every microbatch "
    "— fine at 700 bins; streaming_histogram_quantiles_update is the "
    "sink-cheap UPDATE-mode twin (delta emission + foreachBatch merge) "
    "for key spaces that are not metadata-sized.",
)
def streaming_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    bins = (
        table_stream(spark, sf_dir, "events")
        .groupBy(
            F.least(F.lit(SHQ_BINS - 1), F.floor(F.col("value") / SHQ_WIDTH))
            .cast("long")
            .alias("bin")
        )
        .agg(F.count("*").alias("cnt"))
    )
    return _quantiles_from_bins(
        spark, run_to_memory(bins, "complete"), HQ_QUANTILES, SHQ_WIDTH
    )


HIST_UPDATE_SLICES = 3  # microbatches the update-mode twin consumes


@register(
    "streaming_histogram_quantiles_update",
    f"""
    WITH bins AS (
        SELECT LEAST({SHQ_BINS - 1}, floor(value / {SHQ_WIDTH}))::bigint
                   AS bin,
               count(*)::bigint AS cnt
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
               sum(cnt) OVER () AS total
        FROM bins
    ),
    qs AS (SELECT unnest(ARRAY{list(HQ_QUANTILES)}) AS q)
    SELECT qs.q::int AS q,
           min(cum.bin)::bigint AS bin,
           (min(cum.bin) * {SHQ_WIDTH})::bigint AS lo_edge,
           ((min(cum.bin) + 1) * {SHQ_WIDTH})::bigint AS hi_edge,
           min((qs.q * cum.total + 99) // 100)::bigint AS rank,
           min(cum.total)::bigint AS total
    FROM qs JOIN cum
      ON cum.c >= (qs.q * cum.total + 99) // 100
    GROUP BY qs.q
    """,
    doc="UPDATE-mode / foreachBatch-merge twin of "
    "streaming_histogram_quantiles (round-7 verdict #6, the "
    "streaming_drift_ks_update template): the events table is sliced "
    f"into {HIST_UPDATE_SLICES} files consumed as separate microbatches "
    "(maxFilesPerTrigger=1), the per-bin count aggregation runs in "
    "UPDATE output mode — each microbatch delivers only the bins whose "
    "totals CHANGED, never the full O(bins) relation the complete-mode "
    "twin re-emits every batch — and a foreachBatch upsert merges the "
    "deltas into a versioned parquet state table (anti-join old keys + "
    "union).  The shared integer rank extraction then runs on the "
    "merged state, and the BATCH histogram oracle must hash-match: "
    "delta emission + external merge reconstructs the complete-mode "
    "relation exactly.  Update rows carry new TOTALS, so the merge is "
    "idempotent per bin — replayable on restart.",
)
def streaming_histogram_quantiles_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from training_data_ops.streaming.upsert import (
        run_update_merge_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    proj = ev.select("event_id", "value")
    work = tempfile.mkdtemp(prefix="spark_graft_histupd_")
    try:
        in_dir = f"{work}/in"
        from training_data_ops.streaming.upsert import (
            write_slice_files,
        )

        write_slice_files(
            proj, in_dir, F.col("event_id") % HIST_UPDATE_SLICES,
            HIST_UPDATE_SLICES,
        )
        stream = (
            spark.readStream.schema(proj.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(in_dir)
        )
        bins = (
            stream.groupBy(
                F.least(
                    F.lit(SHQ_BINS - 1), F.floor(F.col("value") / SHQ_WIDTH)
                )
                .cast("long")
                .alias("bin")
            )
            .agg(F.count("*").alias("cnt"))
        )
        merged = run_update_merge_stream(
            bins, key_cols=["bin"], out_dir=f"{work}/state"
        )
        out = _quantiles_from_bins(spark, merged, HQ_QUANTILES, SHQ_WIDTH)
        # materialize the quantiles-sized result so the temp dirs can go
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


AC_LAG_HOURS = 24  # daily-seasonality probe: count(t) vs count(t+24h)


@register(
    "event_autocorr",
    f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts::TIMESTAMP) // {HOUR_US} AS hour_idx,
               count(*)::bigint AS cnt
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type, a.cnt AS x, b.cnt AS y
        FROM hourly a
        JOIN hourly b ON b.event_type = a.event_type
                     AND b.hour_idx = a.hour_idx + {AC_LAG_HOURS}
    )
    SELECT event_type,
           count(*)::bigint AS n_pairs,
           sum(x)::bigint AS sum_x,
           sum(y)::bigint AS sum_y,
           sum(x * y)::bigint AS sum_xy,
           sum(x * x)::bigint AS sum_x2,
           sum(y * y)::bigint AS sum_y2,
           (count(*) * sum(x * y) - sum(x) * sum(y))::bigint AS autocov_num,
           (count(*) * sum(x * y) - sum(x) * sum(y) > 0) AS positive_autocorr
    FROM pairs GROUP BY event_type
    """,
    doc=f"Daily-seasonality autocorrelation probe: per event type, pair each "
    f"observed hour's count with the count {AC_LAG_HOURS} hours later "
    "(equi-join on hour_idx + lag over the HOURLY relation — gaps simply "
    "contribute no pair, the deterministic observed-pairs semantics) and "
    "report the exact integer Pearson building blocks (n, Σx, Σy, Σxy, "
    "Σx², Σy²) plus the autocovariance numerator n·Σxy − Σx·Σy and its "
    "sign.  No sqrt, no float: counts are integers, so seasonality "
    "detection is exact and partitioning-independent — a monitoring stack "
    "computes r from the six sums if it wants the normalized value.  "
    "Plan: the fact shuffles ONCE to (type, hour) partial-agg counts; the "
    "lag join and final agg run on the metadata-sized hourly relation "
    "(hours x types rows).",
)
def event_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hour_idx"),
    ).agg(F.count("*").alias("cnt"))
    lagged = hourly.select(
        "event_type",
        (F.col("hour_idx") + AC_LAG_HOURS).alias("hour_join"),
        F.col("cnt").alias("x"),
    )
    pairs = lagged.join(
        hourly.select(
            "event_type",
            F.col("hour_idx").alias("hour_join"),
            F.col("cnt").alias("y"),
        ),
        ["event_type", "hour_join"],
    )
    agg = pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).alias("sum_y2"),
    )
    num = F.col("n_pairs") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")
    return agg.select(
        "event_type",
        "n_pairs",
        "sum_x",
        "sum_y",
        "sum_xy",
        "sum_x2",
        "sum_y2",
        num.alias("autocov_num"),
        (num > 0).alias("positive_autocorr"),
    )


# ---------------------------------------------------------------------------
# distribution drift: two-sample Kolmogorov–Smirnov per event type
# ---------------------------------------------------------------------------

#: asymptotic two-sample KS critical coefficient c(alpha) at alpha = 0.05
KS_CRIT_C = 1.358


@register(
    "split_drift_ks",
    f"""
    WITH base AS (
        SELECT event_type,
               floor(value * 1e6)::bigint AS v,
               CASE WHEN isodow(ts::TIMESTAMP) >= 6 THEN 1 ELSE 0 END AS wk
        FROM events
    ),
    counts AS (
        SELECT event_type, v,
               sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END)::bigint AS c0,
               sum(wk)::bigint AS c1
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, v,
               sum(c0) OVER (PARTITION BY event_type ORDER BY v) AS f0,
               sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS f1,
               sum(c0) OVER (PARTITION BY event_type) AS n0,
               sum(c1) OVER (PARTITION BY event_type) AS n1
        FROM counts
    ),
    agg AS (
        SELECT event_type,
               max(abs(f0 * n1 - f1 * n0))::bigint AS ks_num,
               min(n0)::bigint AS n_weekday,
               min(n1)::bigint AS n_weekend
        FROM cum GROUP BY 1
    )
    SELECT event_type, n_weekday, n_weekend, ks_num,
           {duck_trunc6('ks_num / (n_weekday * n_weekend)')} AS ks_stat,
           (ks_num / (n_weekday * n_weekend)) >
               {KS_CRIT_C} * sqrt((n_weekday + n_weekend)
                                  / (n_weekday * n_weekend)) AS drifted
    FROM agg
    """,
    doc="Two-sample Kolmogorov–Smirnov drift test per event type (weekday "
    "vs weekend value distributions) — the distribution-shift monitor a "
    "training pipeline runs between data snapshots or corpus splits.  "
    "Exactness: the empirical CDFs are compared by integer "
    "cross-multiplication max|F0·n1 − F1·n0| over micro-unit value keys — "
    "no float CDF whose summation order could differ between engines; the "
    "KS statistic and the c(0.05)=1.358 critical gate divide/sqrt the "
    "same exact integers in the same order on both engines.  Scale: one "
    "shuffle on (event_type, value-key) with map-side partial counts; the "
    "cumulative window runs over the PRE-AGGREGATED distinct-value rows "
    "(bounded by metric resolution, not event volume) — the same "
    "pre-agg-then-window shape as event_anomaly_zscore.",
)
def split_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = _ks_group_counts(ev).groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("c0"),
        F.sum("wk").cast("long").alias("c1"),
    )
    return _ks_from_counts(counts)


def _ks_group_counts(ev: DataFrame) -> DataFrame:
    """(event_type, micro-unit value key, weekend flag) — the KS monitor's
    map-side projection, shared by the batch and streaming twins."""
    return ev.select(
        "event_type",
        F.floor(F.col("value") * 1e6).cast("long").alias("v"),
        (F.weekday(F.col("ts")) >= 5).cast("int").alias("wk"),
    )


def _ks_from_counts(counts: DataFrame) -> DataFrame:
    """KS statistic + critical gate from a (event_type, v, c0, c1) count
    relation — integer cross-multiplied ECDF comparison, then one double
    division/sqrt of exact integers (identical order on both engines)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c0").over(wt).alias("n0"),
        F.sum("c1").over(wt).alias("n1"),
    )
    diff = F.abs(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0"))
    agg = cum.groupBy("event_type").agg(
        F.max(diff).alias("ks_num"),
        F.min("n0").alias("n_weekday"),
        F.min("n1").alias("n_weekend"),
    )
    nn = F.col("n_weekday") * F.col("n_weekend")
    ks = F.col("ks_num") / nn
    crit = F.lit(KS_CRIT_C) * F.sqrt((F.col("n_weekday") + F.col("n_weekend")) / nn)
    return agg.select(
        "event_type",
        "n_weekday",
        "n_weekend",
        "ks_num",
        trunc6(ks).alias("ks_stat"),
        (ks > crit).alias("drifted"),
    )


@register(
    "streaming_drift_ks",
    f"""
    WITH base AS (
        SELECT event_type,
               floor(value * 1e6)::bigint AS v,
               CASE WHEN isodow(ts::TIMESTAMP) >= 6 THEN 1 ELSE 0 END AS wk
        FROM events
    ),
    counts AS (
        SELECT event_type, v,
               sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END)::bigint AS c0,
               sum(wk)::bigint AS c1
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, v,
               sum(c0) OVER (PARTITION BY event_type ORDER BY v) AS f0,
               sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS f1,
               sum(c0) OVER (PARTITION BY event_type) AS n0,
               sum(c1) OVER (PARTITION BY event_type) AS n1
        FROM counts
    ),
    agg AS (
        SELECT event_type,
               max(abs(f0 * n1 - f1 * n0))::bigint AS ks_num,
               min(n0)::bigint AS n_weekday,
               min(n1)::bigint AS n_weekend
        FROM cum GROUP BY 1
    )
    SELECT event_type, n_weekday, n_weekend, ks_num,
           {duck_trunc6('ks_num / (n_weekday * n_weekend)')} AS ks_stat,
           (ks_num / (n_weekday * n_weekend)) >
               {KS_CRIT_C} * sqrt((n_weekday + n_weekend)
                                  / (n_weekday * n_weekend)) AS drifted
    FROM agg
    """,
    doc="The KS drift monitor maintained BY THE STREAM: per-(type, value, "
    "group) counts aggregate incrementally in complete mode — state is "
    "O(types × distinct metric values), bounded by metric resolution "
    "regardless of stream volume (the streaming_histogram_quantiles "
    "pattern) — then the shared integer KS extraction runs on the "
    "maintained relation.  The oracle is the BATCH KS SQL: a hash match "
    "proves the count fold is associative across whatever microbatch "
    "slicing the source produced, i.e. the monitor can run continuously "
    "and always agree with a from-scratch recomputation.  COMPLETE-MODE "
    "LIMIT: the sink re-receives the FULL count relation every "
    "microbatch — acceptable here only because that relation is "
    "metadata-sized by construction; never copy this pattern for "
    "key-cardinality-sized results (streaming_drift_ks_update is the "
    "delta-emitting template, streaming_windowed_append the evicting "
    "one).",
)
def streaming_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _ks_group_counts(table_stream(spark, sf_dir, "events"))
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("c0"),
            F.sum("wk").cast("long").alias("c1"),
        )
    )
    return _ks_from_counts(run_to_memory(counts, "complete"))


KS_UPDATE_SLICES = 3  # microbatches the update-mode twin consumes


@register(
    "streaming_drift_ks_update",
    f"""
    WITH base AS (
        SELECT event_type,
               floor(value * 1e6)::bigint AS v,
               CASE WHEN isodow(ts::TIMESTAMP) >= 6 THEN 1 ELSE 0 END AS wk
        FROM events
    ),
    counts AS (
        SELECT event_type, v,
               sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END)::bigint AS c0,
               sum(wk)::bigint AS c1
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, v,
               sum(c0) OVER (PARTITION BY event_type ORDER BY v) AS f0,
               sum(c1) OVER (PARTITION BY event_type ORDER BY v) AS f1,
               sum(c0) OVER (PARTITION BY event_type) AS n0,
               sum(c1) OVER (PARTITION BY event_type) AS n1
        FROM counts
    ),
    agg AS (
        SELECT event_type,
               max(abs(f0 * n1 - f1 * n0))::bigint AS ks_num,
               min(n0)::bigint AS n_weekday,
               min(n1)::bigint AS n_weekend
        FROM cum GROUP BY 1
    )
    SELECT event_type, n_weekday, n_weekend, ks_num,
           {duck_trunc6('ks_num / (n_weekday * n_weekend)')} AS ks_stat,
           (ks_num / (n_weekday * n_weekend)) >
               {KS_CRIT_C} * sqrt((n_weekday + n_weekend)
                                  / (n_weekday * n_weekend)) AS drifted
    FROM agg
    """,
    doc="UPDATE-mode / foreachBatch-merge twin of streaming_drift_ks "
    "(round-6 verdict #5): the events table is sliced into "
    f"{KS_UPDATE_SLICES} files consumed as separate microbatches "
    "(maxFilesPerTrigger=1), the same bounded-state count aggregation "
    "runs in UPDATE output mode — each microbatch delivers only the "
    "(event_type, value-key) rows whose totals CHANGED, never the full "
    "relation — and a foreachBatch upsert merges the deltas into a "
    "versioned parquet state table (anti-join old keys + union, the "
    "streaming_upsert_snapshot discipline: never overwrite the dir just "
    "read).  The shared integer KS extraction then runs on the merged "
    "state, and the BATCH KS oracle must hash-match: that proves the "
    "update stream's delta emission + external merge reconstructs exactly "
    "the complete-mode relation across microbatch boundaries — the shape "
    "that stays sink-cheap when the monitored key space is NOT "
    "metadata-sized.  Update-mode rows carry new TOTALS (not increments), "
    "so the merge is idempotent per key — replayable on restart.",
)
def streaming_drift_ks_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    proj = ev.select("event_id", "event_type", "ts", "value")
    work = tempfile.mkdtemp(prefix="spark_graft_ksupd_")
    try:
        in_dir = f"{work}/in"
        from training_data_ops.streaming.upsert import (
            write_slice_files,
        )

        write_slice_files(
            proj, in_dir, F.col("event_id") % KS_UPDATE_SLICES,
            KS_UPDATE_SLICES,
        )
        stream = (
            spark.readStream.schema(proj.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(in_dir)
        )
        counts = _ks_group_counts(stream).groupBy("event_type", "v").agg(
            F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("c0"),
            F.sum("wk").cast("long").alias("c1"),
        )
        from training_data_ops.streaming.upsert import (
            run_update_merge_stream,
        )

        merged = run_update_merge_stream(
            counts, key_cols=["event_type", "v"], out_dir=f"{work}/state"
        )
        out = _ks_from_counts(merged)
        # materialize the types-sized result so the temp state dirs can go
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
