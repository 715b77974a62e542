"""Property-based (hypothesis) checks for the temporal join operators:
asof_join must agree with pandas.merge_asof, banded_interval_join with a
brute-force range scan, for arbitrary generated event sets — not just the
crafted fixtures."""

import datetime as dt

import pytest

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from training_data_ops.operators.asof import asof_join
from training_data_ops.operators.rangejoin import (
    banded_interval_join,
)

EPOCH = dt.datetime(2024, 1, 1)


def _ts(s):
    return EPOCH + dt.timedelta(seconds=s)


# unique (key, ts) pairs per side keep the expected result unambiguous
sides = st.tuples(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 60)), min_size=1, max_size=12,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 60)), min_size=1, max_size=12,
        unique=True,
    ),
)


@settings(max_examples=12, deadline=None)
@given(sides)
def test_asof_matches_pandas_merge_asof(spark, lr):
    lrows, rrows = lr
    left = spark.createDataFrame(
        [(k, _ts(s), f"L{k}_{s}") for k, s in lrows], "k int, ts timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(k, _ts(s), float(k * 100 + s)) for k, s in rrows],
        "k int, ts timestamp, rv double",
    )
    got = {
        (r.k, r.ts): r.rv
        for r in asof_join(left, right, on="k", ts_col="ts").collect()
    }

    lpd = pd.DataFrame([(k, _ts(s)) for k, s in lrows], columns=["k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(
        [(k, _ts(s), float(k * 100 + s)) for k, s in rrows], columns=["k", "ts", "rv"]
    ).sort_values("ts")
    exp = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    for row in exp.itertuples():
        want = None if pd.isna(row.rv) else row.rv
        assert got[(row.k, row.ts.to_pydatetime())] == want


@settings(max_examples=12, deadline=None)
@given(sides, st.integers(2, 20))
def test_banded_join_matches_bruteforce(spark, lr, lookback):
    lrows, rrows = lr
    left = spark.createDataFrame(
        [(k, _ts(s)) for k, s in lrows], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(s)) for k, s in rrows], "k int, rts timestamp"
    )
    out = banded_interval_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        lookback_seconds=lookback,
    )
    got = {(r.k, r.ts, r.rts) for r in out.collect()}
    want = {
        (k, _ts(ls), _ts(rs))
        for k, ls in lrows
        for k2, rs in rrows
        if k2 == k and ls - lookback <= rs < ls
    }
    assert got == want


@settings(max_examples=12, deadline=None)
@given(sides)
def test_forward_asof_matches_pandas(spark, lr):
    lrows, rrows = lr
    left = spark.createDataFrame(
        [(k, _ts(s), f"L{k}_{s}") for k, s in lrows], "k int, ts timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(k, _ts(s), float(k * 100 + s)) for k, s in rrows],
        "k int, ts timestamp, rv double",
    )
    got = {
        (r.k, r.ts): r.rv
        for r in asof_join(
            left, right, on="k", ts_col="ts", direction="forward"
        ).collect()
    }
    lpd = pd.DataFrame([(k, _ts(s)) for k, s in lrows], columns=["k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(
        [(k, _ts(s), float(k * 100 + s)) for k, s in rrows], columns=["k", "ts", "rv"]
    ).sort_values("ts")
    exp = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="forward")
    for row in exp.itertuples():
        want = None if pd.isna(row.rv) else row.rv
        assert got[(row.k, row.ts.to_pydatetime())] == want


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=20
    )
)
def test_connected_components_matches_union_find(spark, edge_list):
    from training_data_ops.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edge_list], "src long, dst long"
    )
    got = {(r.id, r.label) for r in connected_components(edges).collect()}
    # distributed label-propagation path must agree with the local path
    dist = {
        (r.id, r.label)
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert dist == got

    # reference union-find with min-id labels
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edge_list:
        union(a, b)
    want = {(v, find(v)) for v in parent}
    assert got == want


# gap-fill LOCF: arbitrary (key, second, value) events with possible
# same-timestamp ties — expected model computed by brute force
gap_events = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 120), st.integers(0, 99)),
    min_size=1,
    max_size=20,
)
GAP_STEP_US = 30 * 1_000_000  # 30-second buckets


@settings(max_examples=12, deadline=None)
@given(gap_events)
def test_gapfill_locf_matches_brute_force(spark, rows):
    from training_data_ops.operators.gapfill import gapfill_locf

    # tie-break id = list position; value derived from it so ties at one
    # (key, ts) have distinct values and the canonicalization is observable
    data = [
        (k, s * 1_000_000, float(v * 10 + i), i) for i, (k, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k int, us long, value double, eid int")
    got = {
        (r.k, r.bucket): r.value_locf
        for r in gapfill_locf(
            df, key_col="k", us_col="us", val_col="value", tie_col="eid",
            step_us=GAP_STEP_US,
        ).collect()
    }

    by_key: dict[int, list] = {}
    for k, us, v, eid in data:
        by_key.setdefault(k, []).append((us, eid, v))
    expected = {}
    for k, evs in by_key.items():
        lo = min(us for us, _, _ in evs) // GAP_STEP_US
        hi = max(us for us, _, _ in evs) // GAP_STEP_US
        for b in range(lo, hi + 1):
            cutoff = (b + 1) * GAP_STEP_US - 1
            prior = [(us, eid, v) for us, eid, v in evs if us <= cutoff]
            # last observation = max (us, eid); first bucket always has one
            expected[(k, b)] = max(prior)[2]
    assert got == expected


# --- stateful streaming sessionization vs brute force -----------------------

session_events = st.lists(
    st.tuples(
        st.integers(1, 3),            # user_id
        st.integers(0, 10**9),        # us (event time, microseconds)
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
@settings(max_examples=10, deadline=None)
@given(session_events, st.integers(1, 3))
def test_stateful_sessionize_matches_brute_force(spark, events, n_batches):
    """Property: for ANY event set and ANY slicing into microbatches, the
    max-per-key reduction of sessionize_stream's update emissions equals a
    brute-force per-user gap scan of the full set."""
    import shutil
    import tempfile
    import uuid

    import pandas as pd

    from training_data_ops.streaming.session import (
        STREAM_SESSION_GAP_US,
        sessionize_stream,
    )

    gap = STREAM_SESSION_GAP_US
    rows = [
        {"user_id": u, "event_id": i, "us": us}
        for i, (u, us) in enumerate(events)
    ]

    # brute force: per user, sort by (us, event_id), split at > gap
    expect = {}
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, ev in by_user.items():
        ev.sort(key=lambda r: (r["us"], r["event_id"]))
        snum, start, end, n = 0, None, None, 0
        for r in ev:
            if start is None or r["us"] - end > gap:
                if start is not None:
                    expect[(u, snum)] = (n, start, end)
                snum, start, end, n = snum + 1, r["us"], r["us"], 1
            else:
                end, n = r["us"], n + 1
        expect[(u, snum)] = (n, start, end)

    tmp = tempfile.mkdtemp(prefix="sess_prop_")
    try:
        # slice into microbatches along EVENT-TIME order — the in-order
        # (watermarked) arrival regime where exact batch parity is the
        # operator's contract; unordered cross-batch arrival follows the
        # documented arrival-order late-data semantics instead
        rows.sort(key=lambda r: (r["us"], r["event_id"]))
        step = (len(rows) + n_batches - 1) // n_batches
        chunks = [rows[i * step:(i + 1) * step] for i in range(n_batches)]
        for i, chunk in enumerate(c for c in chunks if c):
            pd.DataFrame(chunk, columns=["user_id", "event_id", "us"]).astype(
                "int64"
            ).to_parquet(f"{tmp}/b{i}.parquet")
        stream = (
            spark.readStream.schema("user_id long, event_id long, us long")
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        name = f"sess_prop_{uuid.uuid4().hex[:10]}"
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {}
        for r in spark.table(name).collect():
            k = (r.user_id, r.session_num)
            if k not in got or r.n_events > got[k][0]:
                got[k] = (r.n_events, r.start_us, r.end_us)
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- stateful streaming transitions vs batch lead() oracle ------------------

transition_events = st.lists(
    st.tuples(
        st.integers(1, 3),            # user_id
        st.integers(0, 10**9),        # us (event time, microseconds)
        st.sampled_from(["a", "b", "c"]),  # event_type
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
@settings(max_examples=10, deadline=None)
@given(transition_events, st.integers(1, 3))
def test_stateful_transitions_matches_batch_under_ordered_slicing(
    spark, events, n_batches
):
    """Property: for ANY event set and any per-key EVENT-TIME-ORDERED
    slicing into microbatches (the regime the operator's late-data contract
    promises exact parity for — heavy_hitters.py docstring), the groupBy-sum
    of transition_counts_stream's increment emissions equals a brute-force
    per-user lead() transition matrix of the full set."""
    import shutil
    import tempfile
    import uuid

    from training_data_ops.streaming.heavy_hitters import (
        transition_counts_stream,
    )

    rows = [
        {"user_id": u, "event_id": i, "us": us, "event_type": t}
        for i, (u, us, t) in enumerate(events)
    ]

    # brute force: per user, sort by (us, event_id), count adjacent pairs
    expect: dict[tuple[str, str], int] = {}
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for ev in by_user.values():
        ev.sort(key=lambda r: (r["us"], r["event_id"]))
        for a, b in zip(ev, ev[1:]):
            k = (a["event_type"], b["event_type"])
            expect[k] = expect.get(k, 0) + 1

    tmp = tempfile.mkdtemp(prefix="trans_prop_")
    try:
        # slice along event-time order: no microbatch event precedes the
        # carried bridge, the contract's exact-parity regime
        rows.sort(key=lambda r: (r["us"], r["event_id"]))
        step = (len(rows) + n_batches - 1) // n_batches
        chunks = [rows[i * step:(i + 1) * step] for i in range(n_batches)]
        for i, chunk in enumerate(c for c in chunks if c):
            pd.DataFrame(
                chunk, columns=["user_id", "event_id", "us", "event_type"]
            ).astype(
                {"user_id": "int64", "event_id": "int64", "us": "int64"}
            ).to_parquet(f"{tmp}/b{i}.parquet")
        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, us long, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        name = f"trans_prop_{uuid.uuid4().hex[:10]}"
        q = (
            transition_counts_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got: dict[tuple[str, str], int] = {}
        for r in spark.table(name).collect():
            k = (r.from_type, r.to_type)
            got[k] = got.get(k, 0) + r.inc
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- evicting (EventTimeTimeout) sessionization vs brute force ---------------


def _write_session_batches(tmp, rows, n_batches):
    """Event-time-ordered slicing into one parquet file per microbatch."""
    rows = sorted(rows, key=lambda r: (r["us"], r["event_id"]))
    step = (len(rows) + n_batches - 1) // n_batches
    chunks = [rows[i * step:(i + 1) * step] for i in range(n_batches)]
    for i, chunk in enumerate(c for c in chunks if c):
        pdf = pd.DataFrame(chunk, columns=["user_id", "event_id", "us"]).astype(
            "int64"
        )
        pdf["ts"] = pd.to_datetime(pdf["us"], unit="us").astype("datetime64[us]")
        pdf.to_parquet(f"{tmp}/b{i}.parquet")


def _run_evicting(spark, tmp):
    import uuid

    from training_data_ops.streaming.session import (
        sessionize_stream_evicting,
    )

    # 1s delay: the stateful late-filter drops events AT the watermark,
    # so a us tied across a batch boundary would vanish under "0 seconds"
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, us long, ts timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
        .withWatermark("ts", "1 second")
    )
    name = f"sess_evict_{uuid.uuid4().hex[:10]}"
    q = (
        sessionize_stream_evicting(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).collect()


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
@settings(max_examples=8, deadline=None)
@given(session_events, st.integers(1, 3))
def test_evicting_sessionize_matches_brute_force_ordered(spark, events, n_batches):
    """Property: for ANY event set under event-time-ordered slicing, the
    max-per-(user,start) reduction of the EVICTING sessionizer equals a
    brute-force gap scan — timeouts may close and evict sessions mid-stream
    but never change the final values (timeout re-emits state verbatim)."""
    import shutil
    import tempfile

    from training_data_ops.streaming.session import (
        STREAM_SESSION_GAP_US,
    )

    gap = STREAM_SESSION_GAP_US
    # offset to a realistic epoch: the stateful operator's late filter
    # drops events at/behind the watermark, whose floor is epoch 0 —
    # raw strategy times near 0 would be silently discarded
    base = 1_700_000_000_000_000
    rows = [
        {"user_id": u, "event_id": i, "us": base + us}
        for i, (u, us) in enumerate(events)
    ]

    expect = {}
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, ev in by_user.items():
        ev.sort(key=lambda r: (r["us"], r["event_id"]))
        start = end = None
        n = 0
        for r in ev:
            if start is None or r["us"] - end > gap:
                if start is not None:
                    expect[(u, start)] = (n, end)
                start, end, n = r["us"], r["us"], 1
            else:
                end, n = r["us"], n + 1
        expect[(u, start)] = (n, end)

    tmp = tempfile.mkdtemp(prefix="sess_evict_prop_")
    try:
        _write_session_batches(tmp, rows, n_batches)
        got = {}
        for r in _run_evicting(spark, tmp):
            k = (r.user_id, r.start_us)
            if k not in got or r.n_events > got[k][0]:
                got[k] = (r.n_events, r.end_us)
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
def test_evicting_sessionize_times_out_idle_sessions(spark):
    """State-lifecycle pin: a user whose events stop must get a
    closed=true FINAL emission via the EventTimeTimeout branch once later
    batches advance the watermark past their gap horizon (the session
    never gap-splits, so no other path can emit closed=true for it)."""
    import shutil
    import tempfile

    from training_data_ops.streaming.session import (
        STREAM_SESSION_GAP_US,
    )

    gap = STREAM_SESSION_GAP_US
    base = 1_700_000_000_000_000
    tmp = tempfile.mkdtemp(prefix="sess_evict_unit_")
    try:
        batches = [
            # batch 1: user 1's whole (single) session + user 2 opens
            [(1, 0, base), (1, 1, base + 1000), (2, 2, base + 2000)],
            # batch 2: only user 2, far beyond user 1's horizon
            [(2, 3, base + 3 * gap)],
            # batch 3: watermark moves again so batch-2 state can time out
            [(2, 4, base + 6 * gap)],
        ]
        for i, chunk in enumerate(batches):
            pdf = pd.DataFrame(
                chunk, columns=["user_id", "event_id", "us"]
            ).astype("int64")
            pdf["ts"] = pd.to_datetime(pdf["us"], unit="us").astype(
                "datetime64[us]"
            )
            pdf.to_parquet(f"{tmp}/b{i}.parquet")
        rows = _run_evicting(spark, tmp)
        u1 = [r for r in rows if r.user_id == 1]
        # final values correct AND a timed-out (closed) emission exists
        final = {(r.start_us, r.end_us, r.n_events) for r in u1 if r.closed}
        assert final == {(base, base + 1000, 2)}, u1
        # user 2's sessions: each timed out except possibly the last
        u2_closed = {r.start_us for r in rows if r.user_id == 2 and r.closed}
        assert base + 2000 in u2_closed and base + 3 * gap in u2_closed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
