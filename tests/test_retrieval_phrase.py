"""Positional retrieval (exact-phrase matching) and the streaming ANN
lookup twin: brute-force semantics on crafted corpora plus parity between
the streaming enrich and the batch IVF probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_data_ops.operators.retrieval import (
    phrase_match_topk,
    tokenize_positions,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def _brute_phrase_tf(texts: dict[int, str], phrase: tuple[str, ...]) -> dict[int, int]:
    out: dict[int, int] = {}
    for i, t in texts.items():
        toks = t.lower().split()
        n = sum(
            1
            for p in range(len(toks) - len(phrase) + 1)
            if tuple(toks[p : p + len(phrase)]) == phrase
        )
        if n:
            out[i] = n
    return out


def test_tokenize_positions_one_based(spark):
    rows = (
        tokenize_positions(_docs(spark, {7: "A b  c"}))
        .orderBy("pos")
        .collect()
    )
    assert [(r.pos, r.tok) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]


def test_phrase_match_brute_force(spark):
    texts = {
        0: "the hash join beats the sort merge join",
        1: "hash join hash join hash join",
        2: "join hash",  # reversed — no match
        3: "hash  join",  # multi-space delimiter still one phrase hit
        4: "no relevant terms here",
        5: "ends with hash",  # phrase spills past the end — no match
    }
    got = {
        r.doc_id: r.phrase_tf
        for r in phrase_match_topk(_docs(spark, texts), ("hash", "join")).collect()
    }
    assert got == _brute_phrase_tf(texts, ("hash", "join"))


def test_phrase_match_overlapping_occurrences(spark):
    # anchor intersection counts OVERLAPPING occurrences, like a positional
    # IR engine: "a a a a" contains "a a" three times
    got = phrase_match_topk(_docs(spark, {1: "a a a a"}), ("a", "a")).collect()
    assert [(r.doc_id, r.phrase_tf, r.rank) for r in got] == [(1, 3, 1)]


def test_phrase_match_three_term_and_rank_ties(spark):
    texts = {
        3: "x y z",
        1: "x y z",
        2: "x y q x y z x y z",
    }
    rows = phrase_match_topk(_docs(spark, texts), ("x", "y", "z")).collect()
    assert [(r.doc_id, r.phrase_tf, r.rank) for r in rows] == [
        (2, 2, 1),
        (1, 1, 2),  # tie on phrase_tf breaks on doc_id ascending
        (3, 1, 3),
    ]


def test_phrase_legs_filter_pushed_to_scan(spark):
    """The positional tokenize must reach the parquet scan with the phrase
    term filter applied scan-side — the relation leaving the scan is
    posting-list-sized, never the corpus token stream."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = (
        phrase_match_topk(docs, ("hash", "join"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k never a global sort


def test_streaming_ann_lookup_equals_batch_rank1(spark):
    """The streaming lookup now serves the CORPUS-SCALED two-level
    persisted index (round-8 verdict #4), so its rank-1 answer must equal
    sim_ann_ivf_2level's batch walk at rank 1 — the append-vs-rebuild
    class of guarantee for the stream-enrich path."""
    from training_data_ops.registry import all_queries

    qs = all_queries()
    stream_rows = {
        r.query_id: (r.neighbor_id, r.cos_sim, r.rank)
        for r in qs["streaming_ann_lookup"].spark(spark, SF_DIR).collect()
    }
    batch_rank1 = {
        r.query_id: (r.neighbor_id, r.cos_sim, 1)
        for r in qs["sim_ann_ivf_2level"].spark(spark, SF_DIR).collect()
        if r.rank == 1
    }
    assert stream_rows == batch_rank1
