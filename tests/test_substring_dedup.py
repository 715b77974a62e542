"""Exact-substring (span-level) dedup: brute-force semantics on crafted
corpora plus the physical-plan properties that make it scale (map-side
k-gram construction, doc_id-bounded windows, uniform-key shuffles only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from training_data_ops.operators.substring_dedup import (
    SUBSTR_K,
    duplicated_spans,
    kgram_positions,
    scrub_duplicated_spans,
)

SF_DIR = "/root/testdata/sf0.01"


def _docs(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def _brute_spans(texts: dict[int, str], k: int) -> set[tuple[int, int, int, int]]:
    """Reference implementation: all cross-doc duplicated k-gram starts,
    coalesced into maximal runs per doc."""
    toks = {i: t.split() for i, t in texts.items()}
    grams: dict[tuple[str, ...], set[int]] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            grams.setdefault(tuple(ts[p : p + k]), set()).add(i)
    dup = {g for g, docs in grams.items() if len(docs) >= 2}
    out = set()
    for i, ts in toks.items():
        hits = sorted(
            p + 1 for p in range(len(ts) - k + 1) if tuple(ts[p : p + k]) in dup
        )
        run: list[int] = []
        for p in hits + [None]:  # type: ignore[list-item]
            if run and (p is None or p != run[-1] + 1):
                out.add((i, run[0], run[-1] + k - 1, run[-1] - run[0] + k))
                run = []
            if p is not None:
                run.append(p)
    return out


W = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


def test_spans_match_bruteforce(spark):
    """A 12-token run shared by two docs at different offsets must surface
    as ONE maximal span in each doc, at the right positions; the unique doc
    emits nothing."""
    shared = " ".join(W)
    texts = {
        1: f"one two three {shared} four five",
        2: f"{shared} six seven eight nine ten eleven",
        3: "completely unrelated words " + " ".join(f"u{i}" for i in range(20)),
    }
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(_docs(spark, texts), SUBSTR_K).collect()
    }
    assert got == _brute_spans(texts, SUBSTR_K)
    # doc 1's copy starts after its 3-token prefix; both spans are 12 long
    assert (1, 4, 15, 12) in got and (2, 1, 12, 12) in got
    assert not any(d == 3 for d, *_ in got)


def test_spans_random_corpus_matches_bruteforce(spark):
    """Property-style: a seeded corpus with planted copies, overlaps, and
    within-doc repeats agrees with the pure-Python reference exactly."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = {}
    for i in range(40):
        texts[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 60)))
    # plant cross-doc copies (whole-doc and mid-doc splice)
    texts[40] = texts[3]
    texts[41] = texts[5][:0] + texts[7]
    splice = " ".join(texts[11].split()[2:2 + 15])
    texts[42] = f"{texts[13]} {splice}"
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(_docs(spark, texts), SUBSTR_K).collect()
    }
    assert got == _brute_spans(texts, SUBSTR_K)


def test_scrub_keeps_exactly_one_copy(spark):
    """The canonical (min doc_id) occurrence survives; the other copy's
    covered tokens are dropped; unique text is untouched."""
    shared = " ".join(W)
    texts = {
        1: f"one two three {shared}",
        2: f"{shared} six seven eight",
    }
    rows = {
        r["doc_id"]: r
        for r in scrub_duplicated_spans(_docs(spark, texts), SUBSTR_K).collect()
    }
    assert rows[1]["clean_text"] == texts[1]  # canonical: untouched
    assert rows[1]["n_kept"] == rows[1]["n_tokens"] == 15
    assert rows[2]["clean_text"] == "six seven eight"
    assert rows[2]["n_tokens"] == 15 and rows[2]["n_kept"] == 3


def test_scrub_exact_copy_fully_dropped(spark):
    """An exact duplicate doc scrubs to the empty string (its every token
    is covered by windows whose canonical copy is the lower doc_id)."""
    t = " ".join(W)
    rows = {
        r["doc_id"]: r
        for r in scrub_duplicated_spans(_docs(spark, {5: t, 9: t}), SUBSTR_K).collect()
    }
    assert rows[5]["clean_text"] == t and rows[5]["n_kept"] == 12
    assert rows[9]["clean_text"] == "" and rows[9]["n_kept"] == 0


def test_scrub_conserves_duplicated_mass_on_registry_data(spark):
    """On the real fixture corpus: every doc's kept tokens ≤ total, docs
    without any span keep everything, and total kept matches total minus
    the dropped-position count (the two registrants agree with each other)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spans = duplicated_spans(docs, SUBSTR_K)
    scrub = scrub_duplicated_spans(docs, SUBSTR_K)
    span_docs = {r["doc_id"] for r in spans.select("doc_id").distinct().collect()}
    for r in scrub.collect():
        assert 0 <= r["n_kept"] <= r["n_tokens"]
        if r["doc_id"] not in span_docs:
            assert r["n_kept"] == r["n_tokens"]


def test_kgram_build_is_map_side(spark):
    """Window fingerprints come from a transform over the token array —
    the plan up to the fp relation has NO join and NO exchange."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = kgram_positions(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_spans_windows_are_doc_bounded(spark):
    """The only window in the span plan partitions by doc_id (bounded by
    document length) — never a global or fp-keyed window; every hash
    exchange keys on fp or doc_id (uniform, high-cardinality)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = duplicated_spans(docs, SUBSTR_K)._jdf.queryExecution().executedPlan().toString()
    windows = [ln for ln in plan.splitlines() if "Window " in ln or ln.strip().startswith("Window")]
    assert windows and all("doc_id" in ln for ln in windows), plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges and all(("fp" in ln) or ("doc_id" in ln) for ln in exchanges), plan


def test_incremental_spans_equal_full_corpus_restriction(spark, tmp_path):
    """Append-mode serving ≡ from-scratch: batch-doc spans answered from
    the persisted historical fingerprint store + batch-internal dups must
    equal the full-corpus span report restricted to batch docs."""
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
        incremental_span_hits,
        _spans_from_hits,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hist = docs.where(F.col("doc_id") % NEW_BATCH_MOD != 0)
    batch = docs.where(F.col("doc_id") % NEW_BATCH_MOD == 0)
    inc = _spans_from_hits(
        incremental_span_hits(spark, hist, batch, str(tmp_path / "store")), SUBSTR_K
    )
    full = duplicated_spans(docs, SUBSTR_K).where(
        F.col("doc_id") % NEW_BATCH_MOD == 0
    )
    key = lambda r: (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
    assert sorted(map(key, inc.collect())) == sorted(map(key, full.collect()))


def test_incremental_batch_internal_dup_found(spark, tmp_path):
    """Two NEW docs duplicating each other (nothing in history) must still
    surface — the store alone would miss them; the internal ≥2-doc pass
    is what catches them."""
    from training_data_ops.operators.substring_dedup import (
        incremental_span_hits,
        _spans_from_hits,
    )

    t = " ".join(W)
    hist = _docs(spark, {1: "totally different historical content here now ok fine yes"})
    batch = _docs(spark, {10: t, 15: t})
    spans = _spans_from_hits(
        incremental_span_hits(spark, hist, batch, str(tmp_path / "store2")), SUBSTR_K
    ).collect()
    assert {r["doc_id"] for r in spans} == {10, 15}
    assert all(r["span_tokens"] == 12 for r in spans)


def test_single_kgram_evaluation_no_dupset_broadcast(spark):
    """Scale pin (round-8 sf10 sweep): the k-gram map cost (md5 over every
    k-token window ≈ K× corpus bytes) must appear ONCE in the plan — the
    first draft evaluated it twice (agg side + join side, no exchange
    reuse) and broadcast the duplicate-fp set, which under real
    boilerplate is corpus-sized.  The fp-window form has one md5, one fp
    exchange, and no broadcast anywhere in the spans plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    spans_plan = (
        duplicated_spans(docs, SUBSTR_K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert spans_plan.count("md5") == 1
    assert "BroadcastExchange" not in spans_plan
    scrub_plan = (
        scrub_duplicated_spans(docs, SUBSTR_K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert scrub_plan.count("md5") == 1
