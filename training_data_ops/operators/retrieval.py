"""Retrieval operators: inverted-index posting lists and BM25 ranking.

Library surface behind the registered ``inverted_index_postings`` /
``bm25_topk`` queries (plans/analytics_queries.py holds their DuckDB oracle
twins) — parameterized here so a user can run any query terms / constants,
not just the registry fixtures.

Cross-engine exactness rules (the house discipline, see
plans/analytics_queries.py module docstring): BM25 uses the RATIONAL idf
(N-df+0.5)/(df+0.5) — a documented monotone per-term transform of Okapi's
log idf; libm ln() is not bit-identical across JVM and C runtimes, division
is.  Per-(doc,term) scores are single values extracted with max(CASE) —
never a float SUM over rows — and the final score adds the per-term columns
in FIXED argument order, so any two engines run the identical IEEE sequence.

Scale shape: tokenize is a scan-side explode; (doc, term) tf and per-term
stats are partial-agg shuffles on high-cardinality keys; posting-list output
carries only a capped HEAD per term (a common term's full list is O(corpus)
and belongs in sharded segment files — the corpus_shard_manifest
discipline — never in one DataFrame row); BM25 top-k compiles to
TakeOrderedAndProject (per-partition heads merged on the driver), never a
single-partition global sort or window.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from training_data_ops.functions.rounding import trunc6
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE

__all__ = [
    "TOKEN_DELIM_RE",
    "tokenize_docs",
    "tokenize_positions",
    "phrase_match_topk",
    "doc_term_freq",
    "posting_lists",
    "bm25_topk_scores",
    "bm25_weighted_topk",
    "prf_expansion_terms",
    "bm25_batch_topk",
    "bm25_from_segments",
    "cosine_topk_ranks",
    "ivf_topk_ranks",
    "ivf_topk_ranks_batch",
    "rrf_fuse_batch",
    "posting_segment_assignments",
    "posting_segments_save",
    "posting_segments_load",
    "rrf_fuse",
]

def tokenize_docs(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, tok) — lowercased whitespace tokens, one row per occurrence."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), TOKEN_DELIM_RE)
        ).alias("tok"),
    )


def tokenize_positions(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, tok) — the POSITIONAL tokenize: one row per token
    occurrence carrying its 1-based offset in the document.  This is the
    base relation of a positional inverted index (phrase queries,
    proximity scoring); the position adds O(1) per posting over
    :func:`tokenize_docs`, and the relation partitions exactly the same
    way (scan-side explode, no shuffle)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), TOKEN_DELIM_RE)
        ).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")


def phrase_match_topk(
    docs: DataFrame, phrase: tuple[str, ...] | list[str], *, topn: int = 10
) -> DataFrame:
    """(doc_id, phrase_tf, rank) — top-``topn`` documents by EXACT phrase
    frequency, computed the way a positional IR engine answers ``"w0 w1
    …"``: intersect per-term position lists at fixed offsets.

    Dataflow: ONE positional tokenize filtered to the phrase's terms
    (the disjunctive filter pushes to the scan — the relation that leaves
    the scan is posting-list-sized, never the corpus token stream), then
    leg i is the term-i rows re-anchored to ``pos - i``; a phrase
    occurrence is an (doc_id, anchor) key present in EVERY leg, so the
    intersection is |phrase|-1 inner joins on a high-cardinality uniform
    key — each join input is df(term_i)-sized.  With a standing
    positional segment store the legs become index reads (the
    posting_segments_* discipline + a positions column); the shape of the
    intersection is identical.  Top-k is orderBy+limit
    (TakeOrderedAndProject — per-partition heads, no global sort), rank
    stamped on the ≤ topn survivors.  Ties break on doc_id so the result
    is total-ordered and cross-engine hashable."""
    pos = tokenize_positions(docs).where(F.col("tok").isin(*list(phrase)))
    legs = [
        pos.where(F.col("tok") == t).select(
            "doc_id", (F.col("pos") - i).alias("anchor")
        )
        for i, t in enumerate(phrase)
    ]
    hits = functools.reduce(lambda a, b: a.join(b, ["doc_id", "anchor"]), legs)
    counts = hits.groupBy("doc_id").agg(F.count("*").alias("phrase_tf"))
    top = counts.orderBy(F.col("phrase_tf").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("phrase_tf").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "phrase_tf", F.col("rank").cast("int").alias("rank")
    )


def doc_term_freq(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) — the retrieval-engine base relation.

    NOT persisted: every consumer pair derives identical subplans from the
    one returned object, so Catalyst's exchange reuse materializes the
    (doc_id, tok) shuffle once per job without pinning an O(corpus) cache
    in executor memory for the rest of the session (round-7 ADVICE —
    posting_lists/bm25 persisted this and never unpersisted)."""
    return (
        tokenize_docs(docs)
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )


def posting_lists(docs: DataFrame, *, head: int = 16) -> DataFrame:
    """(tok, df, cf, max_tf, head_postings) — segment-header stats over the
    FULL posting list plus its doc_id-ordered HEAD rendered ``doc:tf,...``
    (a string, so cross-engine hashes compare exact).

    Hot-term scale shape (round-7 verdict #1): a naive per-term window
    would route a stop-word's ENTIRE posting list (df ≈ corpus doc count
    under Zipf) through one task before the ``rn <= head`` cap applies.
    It does NOT here — and needs no hand-built pre-rank: because the
    row_number filter sits directly above the window, Catalyst's
    InferWindowGroupLimit rewrite (Spark 3.5+) plants a *Partial*
    WindowGroupLimit BELOW the term exchange, so every map task ships at
    most ``head`` smallest-doc_id rows per term and the final per-term
    task ranks ≤ partitions×head survivors — the two-stage brute-force
    top-k discipline (SCALE.md), executed natively in the JVM with one
    exchange (a manual ``spark_partition_id`` pre-stage was measured to
    produce the same bound with one MORE exchange+window).  The pin lives
    in tests/test_plans.py::test_posting_head_prunes_hot_terms_map_side;
    do not decouple the filter from the window or the rewrite is lost."""
    tf = doc_term_freq(docs)
    w = Window.partitionBy("tok").orderBy("doc_id")
    head_df = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= head)
        .groupBy("tok")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda x: F.concat_ws(":", x["doc_id"], x["tf"]),
                ),
            ).alias("head_postings")
        )
    )
    stats = tf.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.max("tf").alias("max_tf"),
    )
    return stats.join(head_df, "tok")


def bm25_topk_scores(
    docs: DataFrame,
    terms: tuple[str, ...] | list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    topn: int = 10,
) -> DataFrame:
    """(doc_id, score, n_hit, rank) — BM25 top-``topn`` documents for the
    fixed term set ``terms`` with the rational log-free idf."""
    toks = tokenize_docs(docs)
    tf = doc_term_freq(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("nd"), F.sum("dl").alias("total_len"))
    dfreq = (
        tf.where(F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    return _bm25_rank(tf, dl, stats, dfreq, terms, k1=k1, b=b, topn=topn)


def _bm25_rank(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    dfreq: DataFrame,
    terms: tuple[str, ...] | list[str],
    *,
    k1: float,
    b: float,
    topn: int,
) -> DataFrame:
    """The BM25 scoring tail shared by the corpus path
    (:func:`bm25_topk_scores`) and the segment-file path
    (:func:`bm25_from_segments`): same relations in → the identical IEEE
    operation sequence out, which is what lets the segment round-trip
    hash-match the in-memory ranking.  ``tf`` may be pre-filtered to the
    query terms (the dfreq join restricts to them anyway)."""
    avgdl = F.col("total_len").cast("double") / F.col("nd")
    s = (
        ((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", s.alias("s"))
    )

    def _term(t: str):
        return F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0)
        )

    score = _term(terms[0])
    for t in terms[1:]:
        score = score + _term(t)  # fixed argument order — IEEE-identical
    per_doc = per_term.groupBy("doc_id").agg(
        score.alias("score"), F.count("*").alias("n_hit")
    )
    top = per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        trunc6(F.col("score")).alias("score"),
        "n_hit",
        F.col("rank").cast("int").alias("rank"),
    )


def bm25_weighted_topk(
    docs: DataFrame,
    weighted_terms: list[tuple[str, float]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    topn: int = 10,
) -> DataFrame:
    """(doc_id, score, n_hit, rank) — BM25 with PER-TERM WEIGHTS
    ``score = Σ wᵢ · bm25(tᵢ, d)`` folded in the given list order (weight
    1.0 multiplications are skipped so an all-1.0 call is bit-identical to
    :func:`bm25_topk_scores`).  The weighted form is what query-expansion
    rankers (RM3/PRF) run: original terms at weight 1, expansion terms
    damped."""
    terms = [t for t, _ in weighted_terms]
    toks = tokenize_docs(docs)
    tf = doc_term_freq(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("nd"), F.sum("dl").alias("total_len"))
    dfreq = (
        tf.where(F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    avgdl = F.col("total_len").cast("double") / F.col("nd")
    s = (
        ((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", s.alias("s"))
    )

    def _wterm(t: str, w: float):
        base = F.coalesce(F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0))
        return base if w == 1.0 else base * F.lit(w)

    score = _wterm(*weighted_terms[0])
    for t, w in weighted_terms[1:]:
        score = score + _wterm(t, w)  # fixed argument order — IEEE-identical
    per_doc = per_term.groupBy("doc_id").agg(
        score.alias("score"), F.count("*").alias("n_hit")
    )
    top = per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        trunc6(F.col("score")).alias("score"),
        "n_hit",
        F.col("rank").cast("int").alias("rank"),
    )


def prf_expansion_terms(
    docs: DataFrame,
    terms: tuple[str, ...] | list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    fb_docs: int = 10,
    n_expand: int = 3,
) -> DataFrame:
    """(exp_rank, tok, sum_tf, df, weight) — RM3-style pseudo-relevance
    feedback term mining: run BM25 for ``terms``, take the top ``fb_docs``
    feedback documents, and rank every NON-query term that occurs in them
    by ``Σtf(feedback docs) × rational-idf``.  The feedback doc list and
    the candidate table are metadata-sized (≤ fb_docs ids; ≤ fb_docs ×
    doc-vocab candidate terms), so the mining joins broadcast — the corpus
    is scanned through the same tf relation the base ranking used (exchange
    reuse, no second tokenize).

    ``weight`` is engine-exact: integer sum_tf cast to double, multiplied
    by the same rational (nd-df+0.5)/(df+0.5) idf the scorer uses — one
    multiplication, one division, no log — so the expansion ranking (and
    therefore the expanded query itself) is bit-identical cross-engine."""
    fb = (
        bm25_topk_scores(docs, terms, k1=k1, b=b, topn=fb_docs)
        .select("doc_id")
    )
    tf = doc_term_freq(docs)
    dl = tokenize_docs(docs).groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("nd"))
    cand = (
        tf.join(F.broadcast(fb), "doc_id")
        .where(~F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.sum("tf").alias("sum_tf"))
    )
    dfc = (
        tf.join(F.broadcast(cand.select("tok")), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    scored = (
        cand.join(dfc, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            "sum_tf",
            "df",
            (
                F.col("sum_tf").cast("double")
                * ((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            ).alias("weight"),
        )
    )
    w = Window.orderBy(F.col("weight").desc(), F.col("tok"))
    return (
        scored.withColumn("exp_rank", F.row_number().over(w))
        .where(F.col("exp_rank") <= n_expand)
        .select(
            F.col("exp_rank").cast("int").alias("exp_rank"),
            "tok",
            "sum_tf",
            "df",
            trunc6(F.col("weight")).alias("weight"),
        )
    )


#: Per-query term-slot ceiling for the batched ranker: the per-(query,doc)
#: score folds term-POSITION columns in fixed order (max(CASE pos=k)) so
#: any two engines run the identical IEEE sequence for ANY query mix — a
#: float SUM over rows would not.  Raise it and both the Spark fold and
#: the oracle twin grow by one coalesce column per slot.
BM25_BATCH_MAX_TERMS = 3


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    topn: int = 10,
) -> DataFrame:
    """(query_id, doc_id, score, n_hit, rank) — BM25 top-``topn`` per
    query for a WHOLE BATCH of queries in one job (round-7 verdict #4):
    ``queries`` is a (query_id, pos, tok) relation (pos <
    BM25_BATCH_MAX_TERMS, terms distinct within a query), the shape an
    eval/ranking pipeline actually runs — never a per-query job.

    Scale shape: the corpus is tokenized and tf-aggregated ONCE for the
    whole batch; the query relation is broadcast onto tf (query-batch
    rows are metadata); per-(query, doc) scores fold the term-slot
    columns in fixed order (cross-engine IEEE-identical for arbitrary
    queries — the batched generalization of bm25_topk's fixed textual
    fold); the per-query top-k is the TWO-STAGE pre-rank (pre-rank per
    (input-partition, query), then rank the ≤ partitions×topn
    survivors) so no exchange ever partitions the scored relation by
    the few-key query_id alone — pinned in tests/test_plans.py."""
    toks = tokenize_docs(docs)
    tf = doc_term_freq(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("nd"), F.sum("dl").alias("total_len"))
    qterms = queries.select("tok").distinct()
    dfreq = (
        tf.join(F.broadcast(qterms), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    avgdl = F.col("total_len").cast("double") / F.col("nd")
    s = (
        ((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    per_term = (
        tf.join(F.broadcast(queries), "tok")
        .join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "pos", s.alias("s"))
    )

    def _slot(p: int):
        return F.coalesce(
            F.max(F.when(F.col("pos") == p, F.col("s"))), F.lit(0.0)
        )

    score = _slot(0)
    for p in range(1, BM25_BATCH_MAX_TERMS):
        score = score + _slot(p)  # fixed slot order — IEEE-identical
    per_qd = per_term.groupBy("query_id", "doc_id").agg(
        score.alias("score"), F.count("*").alias("n_hit")
    )
    pre = Window.partitionBy("_pid", "query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_qd.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prank", F.row_number().over(pre))
        .where(F.col("_prank") <= topn)
        .drop("_pid", "_prank")
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= topn)
        .select(
            "query_id",
            "doc_id",
            trunc6(F.col("score")).alias("score"),
            "n_hit",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cosine_topk_ranks(
    emb: DataFrame,
    query_vec_id: int,
    *,
    topn: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_id, rank) — the ``topn`` nearest corpus vectors to the corpus
    vector ``query_vec_id`` by exact cosine (self excluded), rank ties
    broken on id.  TakeOrderedAndProject top-k — the query is one
    broadcast row, the corpus is scanned once, nothing global-sorts."""
    from training_data_ops.functions.vectors import (
        as_double,
        cosine,
    )

    q = emb.where(F.col(id_col) == query_vec_id).select(
        as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        emb.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("doc_id"),
            cosine(as_double(F.col(vec_col)), F.col("qv")).alias("cos_sim"),
        )
    )
    top = scored.orderBy(F.col("cos_sim").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", F.col("rank").cast("int").alias("rank")
    )


#: Byte budget per posting segment file.  A knob: the test/registry value
#: keeps several segments alive at sf0.01 so the layout logic is exercised;
#: a production deployment sets ~512 MB.  A term never splits across
#: segments at this granularity (the corpus_shard_manifest discipline cut
#: at term boundaries); a true stop-word list bigger than one segment would
#: additionally block-split WITHIN the term by doc_id range — layered on
#: the same manifest, not implemented here.
POSTING_SEG_BYTES = 16384


def posting_entry_bytes() -> Column:
    """Rendered size of one ``doc:tf,`` posting entry — a deterministic
    integer both engines compute identically (no float, no estimate)."""
    return (
        F.length(F.col("doc_id").cast("string"))
        + F.length(F.col("tf").cast("string"))
        + F.lit(2)
    ).cast("long")


def posting_segment_assignments(
    tf: DataFrame, *, seg_bytes: int = POSTING_SEG_BYTES,
    num_partitions: int | None = None,
) -> DataFrame:
    """(tok, df, cf, term_bytes, segment_id) — byte-budget segment cuts
    over the tok-ordered full posting lists.

    The semantic is a GLOBAL byte prefix-sum over terms in tok order —
    SQL's one-partition window — which the distributed plan must never
    serialize: repartitionByRange(tok) + sortWithinPartitions gives the
    total order, ONE metadata-sized collect fetches per-partition byte
    subtotals, and an Arrow pass stamps
    ``segment_id = (offset[pid] + local_prefix) div seg_bytes`` — the
    corpus_shard_manifest discipline applied to the vocabulary relation
    (vocab-sized input, so every stage here is already the cheap side of
    the corpus scan that produced ``tf``).  Prefix sums depend only on
    the unique sort key, so the layout is partitioning-invariant and
    exactly reproducible."""
    from collections.abc import Iterator

    import pandas as pd

    from training_data_ops.operators.pipeline import (
        _sort_width,
    )

    per_term = tf.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.sum(posting_entry_bytes()).alias("term_bytes"),
    )
    width = _sort_width(per_term, num_partitions)
    # persisted because TWO actions walk it — the subtotal collect now and
    # the caller's materialization of the stamped result; the registry's
    # per-query clearCache reclaims it (an eager scoped unpersist would
    # drop the cache before the lazy result ever ran)
    arranged = (
        per_term.repartitionByRange(width, "tok")
        .sortWithinPartitions("tok")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    subtotal = {
        r["pid"]: r["b"]
        for r in arranged.groupBy("pid")
        .agg(F.sum("term_bytes").alias("b"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(subtotal):
        offsets[pid] = acc
        acc += subtotal[pid]

    def stamp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["pid"].iloc[0])]
            out = pdf[["tok", "df", "cf", "term_bytes"]].copy()
            prefix = pdf["term_bytes"].cumsum().shift(fill_value=0) + pos
            out["segment_id"] = prefix // seg_bytes
            pos = int(prefix.iloc[-1]) + int(pdf["term_bytes"].iloc[-1])
            yield out

    return arranged.mapInPandas(
        stamp,
        "tok string, df long, cf long, term_bytes long, segment_id long",
    )


def posting_segments_save(
    docs: DataFrame, out_dir: str, *, seg_bytes: int = POSTING_SEG_BYTES
) -> None:
    """Persist the FULL inverted index as sharded segment files — the
    layout ``inverted_index_postings``' head-capped DataFrame points at
    (its docstring: full lists belong in segment files, never in one
    row).  Three relations:

    - ``{out}/postings`` — (tok, doc_id, tf) PARTITIONED BY segment_id,
      sorted (tok, doc_id) within files: a query for a term reads only
      its segment's files (partition pruning), and within the file the
      postings are doc_id-contiguous — the on-disk shape every retrieval
      engine serves from (cf. the reference's own persist-then-serve
      full-cache scan, HttpInputFormatProvider.scala:126-161).
    - ``{out}/manifest`` — (tok, df, cf, term_bytes, segment_id): the
      vocabulary → segment map plus the exact per-term stats BM25 needs
      (df over the FULL list, not the stored head).
    - ``{out}/doclens`` — (doc_id, dl): document lengths, the other
      BM25 input; corpus-level nd/total_len are one agg over it at read
      time (two bigints — cheaper to recompute than to version).
    """
    from concurrent.futures import ThreadPoolExecutor

    tf = doc_term_freq(docs)

    # doclens shares nothing with the manifest→postings chain (independent
    # tokenize + per-doc count) — overlap it so the store build's wall is
    # max(manifest+postings, doclens) instead of their sum (guide §2.6).
    def _doclens() -> None:
        (
            tokenize_docs(docs)
            .groupBy("doc_id")
            .agg(F.count("*").alias("dl"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/doclens")
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        dl_fut = pool.submit(_doclens)
        manifest = posting_segment_assignments(tf, seg_bytes=seg_bytes)
        manifest.write.mode("overwrite").parquet(f"{out_dir}/manifest")
        seg_of = manifest.sparkSession.read.parquet(
            f"{out_dir}/manifest"
        ).select("tok", "segment_id")
        (
            tf.join(seg_of, "tok")
            .repartition("segment_id")
            .sortWithinPartitions("tok", "doc_id")
            .write.mode("overwrite")
            .partitionBy("segment_id")
            .parquet(f"{out_dir}/postings")
        )
        dl_fut.result()


def posting_segments_load(
    spark, out_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(manifest, postings, doclens) back from
    :func:`posting_segments_save`'s layout."""
    manifest = spark.read.parquet(f"{out_dir}/manifest")
    postings = spark.read.parquet(f"{out_dir}/postings").select(
        "tok", "doc_id", "tf", F.col("segment_id").cast("long").alias("segment_id")
    )
    doclens = spark.read.parquet(f"{out_dir}/doclens")
    return manifest, postings, doclens


def bm25_from_segments(
    spark,
    out_dirs: str | list[str] | tuple[str, ...],
    terms: tuple[str, ...] | list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    topn: int = 10,
) -> DataFrame:
    """BM25 top-``topn`` answered ENTIRELY from reloaded segment files —
    the corpus is never touched: term→segment lookups come from each
    store's manifest (which also carries the exact full-list df), the tf
    rows come from ONLY the probed segments' files (static partition
    pruning: the segment ids are collected driver-side — a handful of
    ints — and pushed as a literal IN filter on the partition column),
    dl/nd/total_len from the doclens relations.  Same integer inputs →
    the identical IEEE score sequence as :func:`bm25_topk_scores`; the
    round-trip is pinned by hash-match in the registry.

    ``out_dirs`` may be SEVERAL stores over disjoint doc sets (a base
    store plus delta stores from later ingests — the Lucene segment
    discipline): every BM25 input is additive over disjoint corpora
    (df/cf per term, doc count, total length are bigint sums), so
    serving base+delta together is EXACT — no merge/compaction required
    before the numbers are right (``bm25_delta_segments`` pins this
    against the full-corpus oracle); compaction is then purely an
    IO-amortization knob, exactly as in a real search engine."""
    if isinstance(out_dirs, str):
        out_dirs = [out_dirs]
    tfs, dls, dfreqs = [], [], []
    for d in out_dirs:
        manifest, postings, doclens = posting_segments_load(spark, d)
        probe = manifest.where(F.col("tok").isin(*terms)).select(
            "tok", "df", "segment_id"
        )
        seg_ids = [
            int(r["segment_id"])
            for r in probe.select("segment_id").distinct().collect()
        ]
        tfs.append(
            postings.where(
                F.col("segment_id").isin(seg_ids) & F.col("tok").isin(*terms)
            ).select("doc_id", "tok", "tf")
        )
        dfreqs.append(probe.select("tok", "df"))
        dls.append(doclens.select("doc_id", "dl"))
    tf = functools.reduce(DataFrame.unionByName, tfs)
    dl = functools.reduce(DataFrame.unionByName, dls)
    # per-store dfs sum exactly (disjoint doc sets); one store reduces to
    # its manifest value unchanged
    dfreq = (
        functools.reduce(DataFrame.unionByName, dfreqs)
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
    )
    stats = dl.agg(F.count("*").alias("nd"), F.sum("dl").alias("total_len"))
    return _bm25_rank(tf, dl, stats, dfreq, terms, k1=k1, b=b, topn=topn)


def ivf_topk_ranks(
    emb: DataFrame,
    cent: DataFrame,
    assign: DataFrame,
    query_vec_id: int,
    *,
    topn: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """(doc_id, rank) — approximate nearest neighbors of corpus vector
    ``query_vec_id`` answered FROM AN IVF INDEX (``cent`` = (cent_id, cv)
    centroids, ``assign`` = (vec_id, cell_id, v) — typically the reloaded
    cell_id-partitioned parquet of ``ivf_index_save``): rank the centroids
    for the one query, probe the top-``nprobe`` cells, exact-cosine rerank
    only their members.  The probe→assign join on cell_id dynamically
    prunes the partitioned index scan (DPP — pinned in
    tests/test_pipeline_ops.py), so a query batch reads ~nprobe/C of the
    index bytes instead of scanning the corpus, which is what makes this
    the production dense leg for hybrid retrieval (the exact-cosine
    ``cosine_topk_ranks`` scans the full corpus per query)."""
    from training_data_ops.functions.vectors import (
        as_double,
        cosine,
    )

    q = emb.where(F.col("vec_id") == query_vec_id).select(
        as_double(F.col("embedding")).alias("qv")
    )
    probes = (
        cent.crossJoin(F.broadcast(q))
        .select("cent_id", cosine(F.col("cv"), F.col("qv")).alias("psim"))
        .orderBy(F.col("psim").desc(), F.col("cent_id"))
        .limit(nprobe)
        .select(F.col("cent_id").alias("cell_id"))
    )
    cand = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_sim"),
        )
    )
    top = cand.orderBy(F.col("cos_sim").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", F.col("rank").cast("int").alias("rank")
    )


def ivf_topk_ranks_batch(
    queries: DataFrame,
    cent: DataFrame,
    assign: DataFrame,
    *,
    topn: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """(query_id, doc_id, rank) — the batched form of
    :func:`ivf_topk_ranks`: ``queries`` is a (query_id, qv) relation, all
    probed against the same (typically reloaded cell_id-partitioned) IVF
    index in ONE job.  Probe ranking windows over #queries × C
    broadcast-sized rows; the candidate join on cell_id dynamically
    prunes the partitioned index to the UNION of all queries' probed
    cells; the per-query top-``topn`` is the two-stage pre-rank (no
    query_id-only exchange sees the full score stream)."""
    from training_data_ops.functions.vectors import cosine

    wq = Window.partitionBy("query_id").orderBy(
        F.col("psim").desc(), F.col("cent_id")
    )
    probes = (
        queries.join(F.broadcast(cent))
        .select(
            "query_id", "qv", "cent_id",
            cosine(F.col("qv"), F.col("cv")).alias("psim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cent_id").alias("cell_id"))
    )
    scored = (
        probes.join(assign, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    pre = Window.partitionBy("_pid", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id")
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prank", F.row_number().over(pre))
        .where(F.col("_prank") <= topn)
        .drop("_pid", "_prank")
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= topn)
        .select("query_id", "doc_id", F.col("rank").cast("int").alias("rank"))
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def rrf_fuse(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    *,
    k: int = RRF_K,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two (doc_id, rank) lists →
    (doc_id, rrf_score, rank_a, rank_b, rank).

    ``rrf = 1/(k + rank_a) + 1/(k + rank_b)`` with a missing list
    contributing 0 (Cormack et al.'s convention) — TWO divisions and one
    addition in fixed argument order, so the float is bit-identical in
    any engine; ranks are integers, no float ever feeds a comparison
    except the final ordered output (ties broken on doc_id)."""
    a = ranks_a.select("doc_id", F.col("rank").alias("rank_a"))
    b = ranks_b.select("doc_id", F.col("rank").alias("rank_b"))
    fused = a.join(b, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf"),
        "rank_a",
        "rank_b",
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(topn)
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        trunc6(F.col("rrf")).alias("rrf_score"),
        F.col("rank_a").cast("int").alias("rank_a"),
        F.col("rank_b").cast("int").alias("rank_b"),
        F.col("rank").cast("int").alias("rank"),
    )


def rrf_fuse_batch(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    *,
    k: int = RRF_K,
    topn: int = 10,
) -> DataFrame:
    """Per-query reciprocal-rank fusion of two (query_id, doc_id, rank)
    pools → (query_id, doc_id, rrf_score, rank_a, rank_b, rank).  Same
    fixed-order float as :func:`rrf_fuse`; both pools are
    queries×pool-sized (metadata at any corpus scale), so the full-outer
    join and the per-query rank window are trivial."""
    a = ranks_a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    b = ranks_b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    fused = a.join(b, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf"),
        "rank_a",
        "rank_b",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topn)
        .select(
            "query_id",
            "doc_id",
            trunc6(F.col("rrf")).alias("rrf_score"),
            F.col("rank_a").cast("int").alias("rank_a"),
            F.col("rank_b").cast("int").alias("rank_b"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
