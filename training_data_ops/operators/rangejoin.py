"""Banded (bucketed) interval join — bounded-range temporal join without
row explosion (SURVEY.md §2.D-style extension; the reference has no range
joins, §2.C).

Problem shape: "for each left event, all right events of the same key in
the trailing ``lookback`` window".  A naive theta-join on
``r.ts BETWEEN l.ts - lookback AND l.ts`` gives Spark no equi-key beyond
the join key, so one hot key degenerates to a per-key cross product.  The
banded plan quantizes time into ``lookback``-sized bands: a right row in
the trailing window lies in the left row's band or the one before, so
expanding the left side to 2 band keys and equi-joining on
``(key, band)`` bounds the work to true-neighborhood pairs.  Catalyst
extracts the ``(key, band)`` equality for a hash join and keeps the exact
range test as a residual filter — linear cost, AQE-splittable, the shape
that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

LOOKBACK_SECONDS = 300  # registered query: clicks in the 5 minutes before an error


def banded_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback_seconds: int,
) -> DataFrame:
    """Inner-join each left row to the right rows with
    ``left_ts - lookback <= right_ts < left_ts`` and the same ``on`` key.

    Returns left columns + right columns (names must be disjoint apart
    from ``on``).  Inner only: the band expansion duplicates left rows, so
    outer semantics belong downstream (aggregate, or anti-join back — see
    ``range_join_events``).  Timestamp math runs on microsecond longs —
    exact, no float round-trip.
    """
    band_us = lookback_seconds * 1_000_000
    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    # `div`, not `/`: float division of epoch-scale longs can flip a band
    # boundary after the cast
    lb = (
        left.withColumn("_lus", l_us)
        .withColumn("_b0", F.expr(f"_lus div {band_us}"))
        .withColumn("_band", F.explode(F.array(F.col("_b0") - 1, F.col("_b0"))))
        .drop("_b0")
    )
    rb = (
        right.withColumn("_rus", r_us)
        .withColumn("_rband", F.expr(f"_rus div {band_us}"))
        .withColumnRenamed(on, "_rkey")
    )
    cond = (
        (lb["_band"] == rb["_rband"])
        & (lb[on] == rb["_rkey"])
        & (rb["_rus"] >= lb["_lus"] - F.lit(band_us))
        & (rb["_rus"] < lb["_lus"])
    )
    joined = lb.join(rb, cond, "inner")
    return joined.drop("_lus", "_band", "_rus", "_rband", "_rkey")


@register(
    "range_join_events",
    """
    SELECT e.event_id, e.user_id, e.ts::TIMESTAMP AS ts,
           count(c.ts)::bigint AS clicks_5m
    FROM events e
    LEFT JOIN events c
      ON c.event_type = 'click' AND c.user_id = e.user_id
     AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id, e.ts
    """,
    doc=f"Banded interval join: per error event, clicks by the same user in "
    f"the preceding {LOOKBACK_SECONDS}s — (key, time-band) equi-join with "
    "residual range filter; zero-count errors preserved via left join.",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    joined = banded_interval_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="cts",
        lookback_seconds=LOOKBACK_SECONDS,
    )
    counts = joined.groupBy("event_id").agg(F.count("*").alias("n"))
    # join back so errors with zero trailing clicks survive with count 0
    return errors.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("clicks_5m"),
    )
