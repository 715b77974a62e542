"""Streaming heavy hitters — custom stateful running counts per key
(SURVEY.md §2.D streaming extensions).

The monitoring twin of the stateful dedup operator: instead of
suppressing repeats, per-key state ACCUMULATES (count + min event id)
and every microbatch emits the updated cumulative row, so a dashboard
reading the sink always sees the latest totals.  Heavy-hitter flagging
(share ≥ 1/20 of the stream) happens on the final key table — which is
key-cardinality-sized, never stream-sized.

State is one (count, min_id) tuple per distinct key, partitioned by the
key — at 100 TB the state store scales with key cardinality, not volume.
Counts and min-ids are integers, so cumulative emission order cannot
change the final value (take max(count) per key over the update stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import table_stream
from training_data_ops.registry import register
from flink_http_full_cache_connector_spark.streaming.pipeline import run_to_memory

HH_SHARE_DEN = 20  # heavy hitter = key holding >= 1/20 of all events


def running_counts_stream(events: DataFrame) -> DataFrame:
    """(event_id, event_type) stream → cumulative (event_type, cnt,
    first_id) updates via ``applyInPandasWithState``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def accumulate(key, pdfs, state: GroupState):
        cnt, min_id = 0, None
        for pdf in pdfs:
            cnt += len(pdf)
            m = int(pdf["event_id"].min())
            min_id = m if min_id is None else min(min_id, m)
        if state.exists:
            prev_cnt, prev_min = state.get
            cnt += prev_cnt
            min_id = min(min_id, prev_min)
        state.update((cnt, min_id))
        yield pd.DataFrame(
            {"event_type": [key[0]], "cnt": [cnt], "first_id": [min_id]}
        )

    return events.groupBy("event_type").applyInPandasWithState(
        accumulate,
        outputStructType="event_type string, cnt long, first_id long",
        stateStructType="cnt long, min_id long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_heavy_hitters",
    f"""
    SELECT event_type, count(*)::bigint AS cnt,
           min(event_id)::bigint AS first_id,
           (count(*) * {HH_SHARE_DEN} >= (SELECT count(*) FROM events))
               AS heavy
    FROM events GROUP BY event_type
    """,
    doc="Streaming heavy hitters: custom stateful running counts "
    "(applyInPandasWithState, one integer state tuple per key) emitting "
    "cumulative updates each microbatch; the final key table takes "
    "max(cnt) per key (integer, emission-order-proof) and flags keys "
    f"holding >= 1/{HH_SHARE_DEN} of the stream. State scales with key "
    "cardinality, not stream volume; value-exact vs the batch GROUP BY.",
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").select("event_id", "event_type")
    final = (
        run_to_memory(running_counts_stream(stream), "update")
        .groupBy("event_type")
        .agg(F.max("cnt").alias("cnt"), F.min("first_id").alias("first_id"))
    )
    total = final.agg(F.sum("cnt").alias("total"))
    return final.crossJoin(F.broadcast(total)).select(
        "event_type",
        "cnt",
        "first_id",
        (F.col("cnt") * HH_SHARE_DEN >= F.col("total")).alias("heavy"),
    )


def transition_counts_stream(events: DataFrame) -> DataFrame:
    """(user_id, event_id, us, event_type) stream → per-microbatch
    transition increment rows via ``applyInPandasWithState``.

    State per user is ONLY the last-seen event (type, us, id) — the
    cross-batch bridge: each batch sorts its events, chains them onto the
    carried last event, and emits one row per (from, to) pair observed,
    each transition exactly once.  Increments are append-only and integer,
    so EMISSION order never matters: the consumer's groupBy-sum over the
    update stream is the final answer however the rows arrive.

    Late-data contract (mirrors :func:`..session.sessionize_stream`): for
    per-key event-time-ordered arrival — every microbatch slicing in which
    no event precedes the carried state's last event — the summed matrix
    equals the batch lead() oracle EXACTLY
    (``test_stateful_transitions_matches_batch_under_ordered_slicing``).
    An event arriving BEHIND the carried bridge chains in arrival order
    (the bridge regresses to the batch's max-time event), as with
    sessionize: retroactive re-chaining would retract emitted increments;
    bounding lateness is the watermark's job.  The streaming twin of
    event_transitions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def chain(key, pdfs, state: GroupState):
        ev = pd.concat(list(pdfs), ignore_index=True)
        if not len(ev):
            return iter(())
        ev = ev.sort_values(["us", "event_id"])
        types = list(ev["event_type"])
        if state.exists:
            last_type, last_us, last_id = state.get
            seq = [last_type, *types]
        else:
            seq = types
        last = ev.iloc[-1]
        state.update((str(last["event_type"]), int(last["us"]), int(last["event_id"])))
        pairs: dict[tuple[str, str], int] = {}
        for a, b in zip(seq, seq[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
        if not pairs:
            return iter(())
        yield pd.DataFrame(
            {
                "from_type": [k[0] for k in pairs],
                "to_type": [k[1] for k in pairs],
                "inc": list(pairs.values()),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        chain,
        outputStructType="from_type string, to_type string, inc long",
        stateStructType="last_type string, last_us long, last_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*)::bigint AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="Event-transition counting as a CUSTOM stateful streaming "
    "operator: per-user state carries ONLY the last-seen event (the "
    "cross-batch bridge); each microbatch chains its sorted events onto "
    "it and appends integer increment rows, each transition emitted "
    "exactly once — so the consumer's groupBy-sum equals the batch "
    "lead() oracle under any per-key event-time-ordered slicing "
    "(events older than the carried bridge chain in arrival order — "
    "the same late-data contract as streaming_sessionize). O(users) "
    "state, increment rows bounded by type-matrix size per (user, "
    "batch). The streaming twin of event_transitions (which adds the "
    "probability ppm view).",
)
def streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = table_stream(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_type",
    )
    return (
        run_to_memory(transition_counts_stream(stream), "append")
        .groupBy("from_type", "to_type")
        .agg(F.sum("inc").alias("n"))
    )
