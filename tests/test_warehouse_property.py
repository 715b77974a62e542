"""Property-based (hypothesis) checks for the warehouse shapes: batch
sessionization must agree with a pure-pandas gap-scan, incremental dedup
with a pure-python set model, for arbitrary generated inputs — not just
the crafted fixtures."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from training_data_ops.registry import all_queries
from training_data_ops.plans.warehouse_queries import (
    NEW_BATCH_MOD,
    SESSION_GAP_US,
)

# (user, offset-seconds) event sets; duplicate timestamps per user allowed —
# the event_id tie-break must keep sessionization deterministic anyway
event_sets = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 7200)), min_size=1, max_size=20
)


def _expected_sessions(rows):
    """Pure-python gap scan: per user, sorted by (ts, event_id), a new
    session starts when the gap from the previous event exceeds the gap
    threshold."""
    df = pd.DataFrame(rows, columns=["user_id", "us", "event_id"])
    out = {}
    for uid, g in df.groupby("user_id"):
        g = g.sort_values(["us", "event_id"])
        sess, prev = 0, None
        for us in g["us"]:
            if prev is None or us - prev > SESSION_GAP_US:
                sess += 1
            out[(uid, sess)] = out.get((uid, sess), 0) + 1
            prev = us
    return out


@settings(max_examples=10, deadline=None)
@given(event_sets)
def test_sessionize_matches_pandas_gap_scan(spark, tmp_path_factory, evs):
    rows = [
        (uid, sec * 1_000_000, i)  # us spacing scaled so some gaps exceed 30 min
        for i, (uid, sec) in enumerate(evs)
    ]
    d = str(tmp_path_factory.mktemp("sess_prop"))
    spark.createDataFrame(
        [(u, e, us * 1_000, "click", 0.0) for u, us, e in rows],
        "user_id long, event_id long, ts long, event_type string, value double",
    ).write.parquet(f"{d}/events.parquet")
    got = {
        (r.user_id, r.session_num): r.n_events
        for r in all_queries()["sessionize_events"].spark(spark, d).collect()
    }
    assert got == _expected_sessions(rows)


doc_sets = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(["a", "b", "c", " a ", "B"])),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None)
@given(doc_sets)
def test_dedup_incremental_matches_set_model(spark, tmp_path_factory, docs):
    d = str(tmp_path_factory.mktemp("incr_prop"))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    got = {r.doc_id for r in all_queries()["dedup_incremental"].spark(spark, d).collect()}

    history = {t.strip().lower() for i, t in docs if i % NEW_BATCH_MOD != 0}
    expected, seen = set(), set()
    for i, t in sorted(d for d in docs if d[0] % NEW_BATCH_MOD == 0):
        norm = t.strip().lower()
        if norm not in history and norm not in seen:
            expected.add(i)
            seen.add(norm)
    assert got == expected


def test_pagerank_micro_unit_invariants(spark):
    """Fixed-point PageRank invariants that hold for ANY graph: every rank
    in [base, base + damp * max_possible]; total rank bounded above by
    n * 1e6 (integer truncation only ever loses mass, never creates it);
    suppliers (hub side of the bipartite graph) absorb more rank than the
    uniform start on average."""
    from training_data_ops.operators.graph import (
        PR_BASE_MICRO,
        PR_MICRO,
        pagerank_nodes,
    )

    rows = pagerank_nodes(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    total = sum(r.rank_micro for r in rows)
    assert all(r.rank_micro >= PR_BASE_MICRO for r in rows)
    # truncation in contributions and damping can only LOSE mass vs the
    # exact stochastic fixed point, whose total is exactly n * 1e6
    assert total <= n * PR_MICRO
    supp = [r.rank_micro for r in rows if not r.is_customer]
    cust = [r.rank_micro for r in rows if r.is_customer]
    assert supp and cust
    # ~100 suppliers serve ~1500 customers: each supplier aggregates many
    # customers' mass, so the supplier mean must exceed the customer mean
    assert sum(supp) / len(supp) > sum(cust) / len(cust)
