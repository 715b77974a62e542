"""Backward as-of join — an operator Spark's DataFrame API lacks natively
(SURVEY.md §2.C notes the reference has no as-of join either; this is a
§2.D-style extension every event/market-data pipeline needs).

Semantics: for each left row, attach the single most recent right row with
``right.ts <= left.ts`` in the same key group (DuckDB's ``ASOF LEFT JOIN``,
pandas ``merge_asof(direction="backward")``).

Implementation is a *composition of built-in operators* — union the two
sides, then per key carry the latest right values forward with a running
``last(ignorenulls)`` window ordered by ``(ts, side)`` (right rows sort
before left rows at equal timestamps, so ties are inclusive, matching
``>=``).  One hash shuffle on the key, one per-key sort — the same cost as
a sort-merge join, with NO range-condition row explosion: a naive
``left.ts >= right.ts`` theta-join materializes O(|L|·|R|) rows per key
before picking the max, which is quadratic in key history and unusable at
100 TB.  This plan stays linear and AQE-splittable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    ts_col: str = "ts",
    how: str = "left",
    order_extra: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: per key, the latest right row with ``ts <= left.ts``
    (``direction='backward'``, default) or the earliest right row with
    ``ts >= left.ts`` (``'forward'``) — pandas ``merge_asof`` semantics.

    ``left`` and ``right`` must share ``on`` + ``ts_col``; all other column
    names must be disjoint (rename before calling — the right side's values
    land under their own names).  ``how`` is ``left`` (unmatched left rows
    keep NULL right columns) or ``inner``.  ``order_extra`` adds tie-break
    columns when (key, ts) is not unique within a side.
    ``tolerance_seconds`` caps match distance (pandas ``merge_asof``
    ``tolerance``): a right row further than that from ``left.ts`` does not
    match — its columns come back NULL (``left``) or the row drops
    (``inner``).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join supports how='left'|'inner', got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"asof_join supports direction='backward'|'forward', got {direction!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    lcols = [c for c in left.columns if c not in (*keys, ts_col)]
    rcols = [c for c in right.columns if c not in (*keys, ts_col)]
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(f"asof_join: overlapping value columns {sorted(overlap)}")

    l_side = left.select(
        *keys,
        ts_col,
        F.lit(1).alias("_side"),
        *lcols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    r_side = right.select(
        *keys,
        ts_col,
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *rcols,
    )
    if direction == "backward":
        # right rows sort before left at equal ts (side 0 < 1): `<=` is
        # inclusive; running last(ignorenulls) carries the latest right
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col).asc(), F.col("_side").asc(), *order_extra)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        # mirror image: left rows sort before right at equal ts, the frame
        # looks forward, first(ignorenulls) grabs the earliest right
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col).asc(), F.col("_side").desc(), *order_extra)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    filled = l_side.unionByName(r_side).select(
        *keys,
        ts_col,
        "_side",
        *lcols,
        *[pick(F.col(c)).alias(c) for c in rcols],
        # the matched right row's own timestamp — drives both the inner
        # filter and the staleness cap
        pick(F.when(F.col("_side") == 0, F.col(ts_col))).alias("_rts"),
    )
    matched = F.col("_rts").isNotNull()
    if tolerance_seconds is not None:
        tol_us = int(tolerance_seconds * 1_000_000)
        gap = (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_rts"))
            if direction == "backward"
            else F.unix_micros(F.col("_rts")) - F.unix_micros(F.col(ts_col))
        )
        matched = matched & (gap <= tol_us)
    out = filled.where(F.col("_side") == 1)
    if how == "inner":
        out = out.where(matched)
    elif tolerance_seconds is not None:
        # too-stale match degrades to no-match: NULL the right columns
        out = out.select(
            *keys,
            ts_col,
            "_side",
            *lcols,
            *[F.when(matched, F.col(c)).alias(c) for c in rcols],
            "_rts",
        )
    return out.drop("_side", "_rts")


@register(
    "asof_join_events",
    """
    SELECT c.event_id AS click_id, c.user_id,
           c.ts::TIMESTAMP AS ts,
           v.view_id, v.view_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, event_id AS view_id, value AS view_value
                    FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    doc="Backward as-of join: each click picks up the user's most recent "
    "view (union + running last-ignorenulls window — one key shuffle, no "
    "range-join explosion); oracle is DuckDB's native ASOF LEFT JOIN.",
)
def asof_join_events(spark, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts", F.col("value").alias("click_value")
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), F.col("value").alias("view_value")
    )
    return asof_join(clicks, views, on="user_id", ts_col="ts", how="left").select(
        "click_id", "user_id", "ts", "view_id", "view_value"
    )


@register(
    "asof_join_events_forward",
    """
    SELECT c.event_id AS click_id, c.user_id,
           c.ts::TIMESTAMP AS ts,
           v.view_id, v.view_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, event_id AS view_id, value AS view_value
                    FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts <= v.ts
    """,
    doc="Forward as-of join: each click picks up the user's NEXT view "
    "(mirror-image window: forward frame + first-ignorenulls); oracle is "
    "DuckDB's forward ASOF LEFT JOIN (ts <= ts).",
)
def asof_join_events_forward(spark, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts", F.col("value").alias("click_value")
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), F.col("value").alias("view_value")
    )
    return asof_join(
        clicks, views, on="user_id", ts_col="ts", how="left", direction="forward"
    ).select("click_id", "user_id", "ts", "view_id", "view_value")
