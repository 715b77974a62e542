"""BPE merge training — subword vocabulary induction (SURVEY.md §2.D).

The canonical tokenizer-training step of an LLM data pipeline: starting
from characters (plus an end-of-word marker), repeatedly merge the most
frequent adjacent symbol pair.  Sennrich et al.'s algorithm operates on the
WORD-FREQUENCY table, not the corpus: the expensive corpus pass happens
once (word counts — one uniform-key shuffle), and every merge iteration
then works on the distinct-word vocabulary, which is orders of magnitude
smaller than the corpus and stays fully distributed here (at 100 TB the
word vocab is ~10⁷–10⁸ rows — executor-sized, never driver-sized).

Per iteration: adjacent pairs come from a ``zip_with`` self-zip of each
word's symbol array (map-side), pair counts partial-aggregate into one
small shuffle, the argmax pair (metadata) is collected, and the merge
applies as an Arrow-batched pandas UDF over the symbol arrays — Python
only where the JVM genuinely can't express it (adjacent-run rewriting),
per the SCALE.md ground rules.

Determinism: ties on pair count break lexicographically (left, then
right); both engines compare strings bytewise for the corpus alphabet.
The registered query is a contract view (the Lloyd-trainer pattern):
merge #1 is recomputed EXACTLY by the DuckDB oracle, later merges carry
self-consistency booleans (count monotonicity, concat identity, pair
distinctness); the full merge table is validated against a pure-Python
reference BPE in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE

NUM_MERGES = 8
EOW = "</w>"  # end-of-word marker (standard BPE; makes suffixes distinct)


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) from whitespace tokenization — the one corpus-sized
    pass; everything after operates on the distinct-word table."""
    return (
        widen(docs)
        .select(F.explode(F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(vocab: DataFrame) -> DataFrame:
    """word → its character symbols plus the end-of-word marker."""
    return vocab.select(
        "word",
        "freq",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW))).alias("syms"),
    )


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts: map-side self-zip explode, then one
    partial-aggregated shuffle keyed on the (l, r) pair."""
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        symtab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("c"))
    )


def _merge_udf(left: str, right: str):
    """Arrow-batched merge of one (left, right) pair into each symbol
    array — left-to-right, non-overlapping (standard BPE application)."""

    @F.pandas_udf(ArrayType(StringType()))
    def apply(syms: pd.Series) -> pd.Series:
        merged_sym = left + right

        def one(s):
            out, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == left and s[i + 1] == right:
                    out.append(merged_sym)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        return syms.map(one)

    return apply


def bpe_train_merges(
    docs: DataFrame, num_merges: int = NUM_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Train ``num_merges`` BPE merges; returns
    ``[(rank, left, right, merged, pair_count), ...]`` (the merges.txt
    content a tokenizer ships).  The vocabulary stays distributed; each
    iteration collects only the single argmax pair (metadata).

    Runs under :func:`scoped_cached_plan_aqe`: the per-iteration symbol
    tables are persisted, and without the flag each cache pins the
    pre-AQE shuffle partition count — cores-many Python tasks per
    iteration over a vocab cache AQE would coalesce to its data size
    (r11 A/B: 6.6 → 4.3 s at sf0.1; at real scale the advisory size
    keeps the cache wide).  Every training action (the per-iteration
    argmax collect) runs inside the scope, which is what makes the
    scoped flag effective here.
    """
    from training_data_ops.operators.scale import (
        scoped_cached_plan_aqe,
    )

    with scoped_cached_plan_aqe(docs.sparkSession):
        return _bpe_train_merges_inner(docs, num_merges)


def _bpe_train_merges_inner(
    docs: DataFrame, num_merges: int
) -> list[tuple[int, str, str, str, int]]:
    cur = _initial_symbols(word_freq(docs)).persist()
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        # ONE job per iteration: the top-1 collect materializes `cur`'s
        # cache (reading the previous table's cache through the merge UDF)
        # — no separate count() action.  The previous table can only be
        # dropped AFTER this collect, else `cur`'s first materialization
        # would recompute the whole merge lineage from the corpus.
        top = (
            _pair_counts(cur)
            .orderBy(F.col("c").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        l, r, c = top[0].l, top[0].r, int(top[0].c)
        merges.append((rank, l, r, l + r, c))
        nxt = cur.withColumn("syms", _merge_udf(l, r)(F.col("syms"))).persist()
        prev, cur = cur, nxt
    cur.unpersist()
    if prev is not None:
        prev.unpersist()
    return merges


def _bpe_oracle() -> str:
    """Exact SQL recomputation of merge #1 (initial symbols are single
    characters, so adjacent pairs are substring pairs) + pinned-TRUE
    self-consistency booleans for the later merges."""
    return f"""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w FROM documents
    ),
    freq AS (
        SELECT w, count(*)::bigint AS f FROM words WHERE length(w) > 0 GROUP BY w
    ),
    prs AS (
        SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, f
        FROM freq, unnest(range(1, length(w))) AS t(i)
        UNION ALL
        SELECT substr(w, length(w), 1) AS l, '{EOW}' AS r, f FROM freq
    ),
    counts AS (SELECT l, r, sum(f)::bigint AS c FROM prs GROUP BY l, r),
    top1 AS (SELECT l, r, c FROM counts ORDER BY c DESC, l, r LIMIT 1)
    SELECT m.rank, t.l AS first_left, t.r AS first_right, t.c AS first_count,
           TRUE AS counts_nonincreasing_ok, TRUE AS merged_is_concat_ok,
           TRUE AS pairs_distinct_ok, TRUE AS counts_positive_ok
    FROM (SELECT unnest(range(1, {NUM_MERGES + 1})) AS rank) m, top1 t
    """


@register(
    "bpe_merges",
    _bpe_oracle(),
    doc=f"BPE subword-vocabulary induction ({NUM_MERGES} merges, Sennrich "
    "algorithm on the word-frequency table): one corpus-sized shuffle "
    "builds word counts, then every merge iteration is a map-side "
    "pair-zip + one small pair-keyed shuffle + an argmax collect "
    "(metadata) + an Arrow-batched merge over the distributed vocab — "
    "the vocab never sits on the driver. CONTRACT view (Lloyd pattern): "
    "merge #1 recomputed exactly by the oracle (single-char symbols = "
    "substring pairs in SQL); later merges pin count monotonicity, "
    "concat identity, and pair distinctness; the full merge table is "
    "checked against a pure-Python reference BPE in tests.",
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs)
    first = merges[0]
    rows = []
    prev = None
    seen = set()
    for rank, l, r, merged, c in merges:
        rows.append(
            (
                rank,
                first[1],
                first[2],
                first[4],
                prev is None or c <= prev,
                merged == l + r,
                (l, r) not in seen,
                c > 0,
            )
        )
        seen.add((l, r))
        prev = c
    return spark.createDataFrame(
        rows,
        "rank long, first_left string, first_right string, first_count long, "
        "counts_nonincreasing_ok boolean, merged_is_concat_ok boolean, "
        "pairs_distinct_ok boolean, counts_positive_ok boolean",
    )


# ---------------------------------------------------------------------------
# applying trained merges — the tokenizer's encode half.  The library
# surface returns raw subword counts; the registered query wraps it in a
# contract view (iterative merge application has no direct SQL replay, but
# the word count IS exactly replayable and the subword count is provably
# bounded by [n_words, n_initial_symbols] — merges only ever shrink the
# symbol sequence).  Full token-level correctness is pinned against a
# pure-Python reference tokenizer in tests.
# ---------------------------------------------------------------------------

def bpe_encode(docs: DataFrame, merges: list[tuple[int, str, str, str, int]]) -> DataFrame:
    """(doc_id, n_words, n_subwords): tokenize every document with the
    trained merge list.

    One Arrow-batched pass over the corpus: the merge list (metadata) ships
    inside the UDF closure; per word, merges apply in rank order with the
    same left-to-right non-overlapping rule as training.  Per-word results
    are memoized per batch — Zipf's law makes the distinct-word set of a
    batch far smaller than its token count.
    """
    from collections.abc import Iterator

    ranked = [(l, r) for _, l, r, _, _ in merges]

    def encode_word(w: str, cache: dict) -> int:
        got = cache.get(w)
        if got is not None:
            return got
        syms = list(w) + [EOW]
        for l, r in ranked:
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[w] = len(syms)
        return len(syms)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in it:
            words = pdf["text"].map(lambda t: [w for w in t.strip().split() if w])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": words.map(len).astype("int64"),
                    "n_subwords": words.map(
                        lambda ws: sum(encode_word(w, cache) for w in ws)
                    ).astype("int64"),
                }
            )

    return widen(docs).select("doc_id", "text").mapInPandas(
        batches, "doc_id long, n_words long, n_subwords long"
    )


@register(
    "bpe_encode_stats",
    f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           w -> length(w) > 0))::bigint AS n_words,
           TRUE AS subwords_ge_words_ok,
           TRUE AS subwords_le_initial_ok
    FROM documents
    """,
    doc="Corpus-wide application of the trained BPE merges (the encode "
    "half of the tokenizer): per-document word and subword counts from "
    "one Arrow-batched pass with per-batch word memoization. CONTRACT "
    "view: n_words is replayed exactly by the oracle; the subword count "
    "is pinned by its provable bounds — at least one subword per word, "
    "at most the initial symbol count (len(word)+1 each; merges only "
    "shrink). Token-level exactness vs a pure-Python reference "
    "tokenizer is pinned in tests/test_pipeline_ops.py. Scale: training "
    "reads the word-frequency table; encoding is map-side (merge list "
    "ships in the closure) — no join, no shuffle beyond the word-count "
    "pass of training.",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs)
    ranked = [(l, r) for _, l, r, _, _ in merges]

    from collections.abc import Iterator

    def encode_word(w: str, cache: dict) -> int:
        got = cache.get(w)
        if got is not None:
            return got
        syms = list(w) + [EOW]
        for l, r in ranked:
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[w] = len(syms)
        return len(syms)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in it:
            words = pdf["text"].map(lambda t: [w for w in t.strip().split() if w])
            n_sub = words.map(lambda ws: sum(encode_word(w, cache) for w in ws))
            n_init = words.map(lambda ws: sum(len(w) + 1 for w in ws))
            n_words = words.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words.astype("int64"),
                    "subwords_ge_words_ok": (n_sub >= n_words).astype(bool),
                    "subwords_le_initial_ok": (n_sub <= n_init).astype(bool),
                }
            )

    return widen(docs).select("doc_id", "text").mapInPandas(
        batches,
        "doc_id long, n_words long, subwords_ge_words_ok boolean, "
        "subwords_le_initial_ok boolean",
    )
