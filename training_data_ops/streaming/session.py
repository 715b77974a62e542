"""Custom stateful sessionization — the session-window operator rebuilt as
a user-level applyInPandasWithState handler (the shape Flink users write as
a KeyedProcessFunction; reference has no session surface — SURVEY.md 2.C).
"""

from __future__ import annotations

#: inactivity gap closing a session, in integer microseconds (the same
#: constant the batch twin sessionize_events uses).
STREAM_SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_stream(events: "DataFrame") -> "DataFrame":
    """Custom stateful sessionization (``applyInPandasWithState``): per
    user, state carries the OPEN session (number, start, end, count);
    each microbatch sorts its events, closes sessions at >gap boundaries,
    emits every session it saw (closed ones finally, the open one
    provisionally) and parks the open session back in state.

    Emission is idempotent-by-key: a session extended across microbatches
    re-emits under the same (user_id, session_num) with larger n_events /
    end_us, so a consumer (and the registered query) reduces by
    max-per-key — the same convention streaming_heavy_hitters documents.
    State is ONE 4-long tuple per user — O(keys), never O(events).

    Late-data contract: within a microbatch events are sorted, and a
    cross-batch event landing within the OPEN session's gap window is
    absorbed (min/max bounds).  Events arriving late enough to belong to
    an already-closed session follow arrival-order semantics — they open
    or extend the current session rather than retroactively re-segmenting
    emitted ones (re-segmentation would re-key emitted rows; bounding
    lateness is the watermark's job, and ``late_arrival_report`` measures
    the delay to configure).  For per-key event-time-ordered arrival the
    operator matches batch sessionization EXACTLY
    (``test_stateful_sessionize_matches_brute_force``).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = STREAM_SESSION_GAP_US

    def handle(key, pdfs, state: GroupState):
        ev = pd.concat(list(pdfs), ignore_index=True)
        if not len(ev):
            return iter(())
        ev = ev.sort_values(["us", "event_id"])
        if state.exists:
            snum, s_start, s_end, s_n = state.get
        else:
            snum, s_start, s_end, s_n = 0, None, None, 0
        out = []
        for t in ev["us"].to_numpy():
            t = int(t)
            if s_start is None or t - s_end > gap:
                if s_start is not None:
                    out.append((snum, s_start, s_end, s_n))
                snum += 1
                s_start, s_end, s_n = t, t, 1
            else:
                # min/max (not plain assignment) keeps the bounds consistent
                # when a LATE cross-batch event lands inside the open
                # session's gap window: the session absorbs it in arrival
                # order (no retroactive re-segmentation — that is watermark
                # territory; see the docstring's late-data contract)
                s_start = min(s_start, t)
                s_end, s_n = max(s_end, t), s_n + 1
        out.append((snum, s_start, s_end, s_n))  # provisional open session
        state.update((int(snum), int(s_start), int(s_end), int(s_n)))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out),
                "session_num": [o[0] for o in out],
                "start_us": [o[1] for o in out],
                "end_us": [o[2] for o in out],
                "n_events": [o[3] for o in out],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        handle,
        outputStructType=(
            "user_id long, session_num long, start_us long, "
            "end_us long, n_events long"
        ),
        stateStructType=(
            "session_num long, start_us long, end_us long, n_events long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _register_streaming_sessionize() -> None:
    from pyspark.sql import functions as F

    from flink_http_full_cache_connector_spark.plans.registry import table_stream
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        run_to_memory,
    )
    from training_data_ops.registry import register

    @register(
        "streaming_sessionize",
        f"""
        WITH marked AS (
            SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
                   CASE WHEN epoch_us(ts::TIMESTAMP)
                          - lag(epoch_us(ts::TIMESTAMP)) OVER w
                          > {STREAM_SESSION_GAP_US}
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS boundary
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, us, event_id,
                   sum(boundary) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_num
            FROM marked
        )
        SELECT user_id, session_num::bigint AS session_num,
               count(*)::bigint AS n_events,
               min(us) AS start_us, max(us) AS end_us
        FROM numbered GROUP BY user_id, session_num
        """,
        doc="Sessionization as a CUSTOM stateful streaming operator "
        "(applyInPandasWithState keyed on user): state carries only the "
        "open session tuple per user (O(keys), not O(events)); closed "
        "sessions emit finally, the open one provisionally under a "
        "stable (user, session_num) key, so the consumer reduces by "
        "max-per-key and emission order is irrelevant. Single-batch run "
        "equals the batch lag/cumsum oracle (sessionize_events twin); "
        "cross-batch session continuation and gap-split are pinned by "
        "unit test. The streaming answer to the batch shape — same "
        "integer-microsecond gap arithmetic. BASELINE of "
        "streaming_sessionize_evicting: NoTimeout state never evicts, so "
        "state grows with keys-EVER-seen — at 100 TB the evicting "
        "variant (EventTimeTimeout + state.remove) is the production "
        "path and scale-mode sweeps run it alone (round-4 verdict #4).",
    )
    def streaming_sessionize(spark, sf_dir):
        stream = table_stream(spark, sf_dir, "events").select(
            "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
        )
        # reduce provisional re-emissions: last version per (user, session)
        return (
            run_to_memory(sessionize_stream(stream), "update")
            .groupBy("user_id", "session_num")
            .agg(
                F.max("n_events").alias("n_events"),
                F.min("start_us").alias("start_us"),
                F.max("end_us").alias("end_us"),
            )
        )


_register_streaming_sessionize()


# ---------------------------------------------------------------------------
# watermark-evicting variant: event-time state TIMEOUT closes idle sessions
# and removes their state (round-3 verdict item #5 — the state-lifecycle
# path NoTimeout never exercises)
# ---------------------------------------------------------------------------


def sessionize_stream_evicting(
    events: "DataFrame", *, gap_us: int = STREAM_SESSION_GAP_US
) -> "DataFrame":
    """Sessionization with REAL state eviction: ``EventTimeTimeout`` +
    ``state.setTimeoutTimestamp(end + gap)`` — when the watermark passes
    the open session's gap horizon, the handler fires with
    ``state.hasTimedOut``, emits the session as closed, and REMOVES the
    key's state.  At 100 TB this is the difference between state sized to
    ACTIVE keys and state sized to every key ever seen; dead users cost
    nothing after one gap.

    Sessions are keyed ``(user_id, start_us)`` rather than a per-user
    counter: a counter dies with the evicted state, so a user returning
    after eviction would collide with their own emitted session keys;
    the session's first-seen start is stable across provisional
    re-emissions and globally unique per user (eviction implies the next
    session starts > gap later).  ``start_us`` is pinned at session open
    — unlike :func:`sessionize_stream`'s min-absorption — so the key
    never mutates; for per-key event-time-ordered arrival the two
    definitions coincide (start IS the min) and the operator matches
    batch sessionization exactly.

    Late-data contract (stricter than the NoTimeout variant): the
    required watermark DROPS events older than it before the handler
    runs — Spark's stateful-operator pre-filter — so a timed-out session
    can never be resurrected or collided with; an in-gap late event
    (within watermark) extends counts/end in arrival order.

    Output adds ``closed``: false for provisional open-session emissions,
    true when a gap split or timeout finalizes it — a consumer reduces by
    key with ``max(n_events)``/``max(end_us)``/``bool_or(closed)``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def handle(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s_start, s_end, s_n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "start_us": [s_start],
                    "end_us": [s_end],
                    "n_events": [s_n],
                    "closed": [True],
                }
            )
            return
        ev = pd.concat(list(pdfs), ignore_index=True)
        if not len(ev):
            return
        ev = ev.sort_values(["us", "event_id"])
        s_start = s_end = None
        s_n = 0
        if state.exists:
            s_start, s_end, s_n = state.get
        out = []
        for t in ev["us"].to_numpy():
            t = int(t)
            if s_start is None or t - s_end > gap_us:
                if s_start is not None:
                    out.append((s_start, s_end, s_n, True))
                s_start, s_end, s_n = t, t, 1
            else:
                # start is PINNED (key stability); end/n absorb in
                # arrival order per the late-data contract
                s_end, s_n = max(s_end, t), s_n + 1
        out.append((s_start, s_end, s_n, False))  # provisional open session
        state.update((int(s_start), int(s_end), int(s_n)))
        # evict when the watermark passes the gap horizon (ms precision —
        # the GroupState API takes epoch millis).  The API requires the
        # timeout to sit beyond the CURRENT watermark; an in-gap late
        # event can set end+gap at/behind it, so clamp forward — the
        # session then times out at the next watermark advance.
        state.setTimeoutTimestamp(
            max((s_end + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out),
                "start_us": [o[0] for o in out],
                "end_us": [o[1] for o in out],
                "n_events": [o[2] for o in out],
                "closed": [o[3] for o in out],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        handle,
        outputStructType=(
            "user_id long, start_us long, end_us long, n_events long, "
            "closed boolean"
        ),
        stateStructType="start_us long, end_us long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _register_streaming_sessionize_evicting() -> None:
    from pyspark.sql import functions as F

    from flink_http_full_cache_connector_spark.plans.registry import table_stream
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        run_to_memory,
    )
    from training_data_ops.registry import register

    @register(
        "streaming_sessionize_evicting",
        f"""
        WITH marked AS (
            SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
                   CASE WHEN epoch_us(ts::TIMESTAMP)
                          - lag(epoch_us(ts::TIMESTAMP)) OVER w
                          > {STREAM_SESSION_GAP_US}
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS boundary
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, us, event_id,
                   sum(boundary) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_num
            FROM marked
        )
        SELECT user_id,
               count(*)::bigint AS n_events,
               min(us) AS start_us, max(us) AS end_us
        FROM numbered GROUP BY user_id, session_num
        """,
        doc="Sessionization with REAL state eviction: EventTimeTimeout + "
        "setTimeoutTimestamp(end+gap) closes idle sessions when the "
        "watermark passes and REMOVES their state — state sized to ACTIVE "
        "keys, not keys-ever-seen. Sessions keyed (user, start_us) so "
        "eviction cannot collide keys (a counter dies with the state). "
        "The registered output omits the operator's closed flag: Spark "
        "may run an extra no-data batch to fire timeouts, making "
        "closedness watermark-granularity-dependent, while the session "
        "VALUES are emission-path-invariant (timeout re-emits the last "
        "provisional state verbatim). Watermark DROPS sub-watermark late "
        "events before the handler — the documented strict late rule; "
        "eviction + closed-flag behavior pinned by unit/property tests.",
    )
    def streaming_sessionize_evicting(spark, sf_dir):
        stream = (
            table_stream(spark, sf_dir, "events")
            # Nonzero delay: the stateful pre-filter drops events at/behind
            # the watermark, so with a 0s delay a multi-microbatch source
            # (several files, or maxFilesPerTrigger) would silently drop
            # batch-boundary-tied events and diverge from the oracle.  1s
            # matches the eviction property-test harness.
            .withWatermark("ts", "1 second")
            .select(
                "user_id",
                "event_id",
                "ts",
                F.unix_micros(F.col("ts")).alias("us"),
            )
        )
        return (
            run_to_memory(sessionize_stream_evicting(stream), "update")
            .groupBy("user_id", "start_us")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("end_us").alias("end_us"),
            )
            .select("user_id", "start_us", "end_us", "n_events")
        )


_register_streaming_sessionize_evicting()
