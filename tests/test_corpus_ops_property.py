"""Property-based (hypothesis) checks for the round-3 corpus operators:
repetition signals against a pure-python n-gram counter, token-budget
selection against a pure-python sorted prefix scan — arbitrary generated
corpora, not just the crafted fixtures."""

import pytest
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from training_data_ops.registry import all_queries

# small word alphabet forces n-gram collisions (the interesting regime)
words = st.sampled_from(["aa", "bb", "cc", "dd"])
doc_texts = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


def _expected_repetition(texts):
    out = {}
    for i, t in enumerate(texts):
        toks = t.split() if t.strip() else [""]
        grams = [
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        ]
        if not grams:
            out[i] = (0, 0, 0, 0, True)
            continue
        c = Counter(grams)
        n, d, top = len(grams), len(c), max(c.values())
        dup_ppm = (n - d) * 1_000_000 // n
        top_ppm = top * 1_000_000 // n
        out[i] = (n, d, dup_ppm, top_ppm, dup_ppm <= 300_000 and top_ppm <= 200_000)
    return out


@pytest.mark.slow  # heavy single: slow tier (r12 gate split)
@settings(max_examples=10, deadline=None)
@given(doc_texts)
def test_repetition_signals_match_python_model(spark, tmp_path_factory, texts):
    d = str(tmp_path_factory.mktemp("rep"))
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: (r.n_grams, r.n_distinct, r.dup_ppm, r.top_ppm, r.keep)
        for r in all_queries()["text_repetition_signals"].spark(spark, d).collect()
    }
    assert got == _expected_repetition(texts)


@pytest.mark.slow  # heavy property sweep: slow tier (r12 gate split)
@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(1, 40), min_size=1, max_size=12))
def test_token_budget_matches_sorted_prefix_model(spark, tmp_path_factory, sizes):
    """For arbitrary doc token counts, the distributed threshold+boundary
    plan must reproduce the simple model: sort by (quality desc, bucket,
    doc_id), keep while the running token total stays within half the
    corpus total."""
    d = str(tmp_path_factory.mktemp("tb"))
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en", "src0", n * 3)
        for i, n in enumerate(sizes)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(
        all_queries()["corpus_token_budget"].spark(spark, d).collect(),
        key=lambda r: (-r.qs_m, r.bucket, r.doc_id),
    )
    budget = sum(r.n_tokens for r in got) // 2
    cum = 0
    for r in got:
        cum += r.n_tokens
        assert r.keep == (cum <= budget), (r, cum, budget)
