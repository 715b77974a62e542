"""Analytic SQL surface beyond the reference's own queries (which SURVEY.md
§2.C shows has no aggregation/window/set-op coverage at all): rollup
aggregation, analytic window functions, set operations, and TF-IDF term
ranking.  These are the query shapes a training-data warehouse runs daily;
each is expressed with stock Catalyst operators (no UDFs) and pinned to a
DuckDB oracle.

Cross-engine exactness rules applied here:
- only order-independent aggregates on floats (min/max) — no float SUM/AVG
  in compared output (addition order differs between engines);
- TF-IDF uses a *rational* idf (N/df, no logarithm): log() libm results
  are not guaranteed bit-identical across JVM and C runtimes, division is;
- timestamps compared as integer microseconds (``unix_micros`` vs
  ``epoch_us``), never via float seconds.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.functions.rounding import duck_trunc6, trunc6
from flink_http_full_cache_connector_spark.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table, register
from flink_http_full_cache_connector_spark.functions.tokenize import TOKEN_DELIM_RE

TFIDF_TOP_N = 3


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(DISTINCT doc_id)::bigint AS df FROM toks GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id)::double AS nd FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
               tf.tf::double * (n.nd / dfreq.df::double) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, tok, tf, df, score,
               row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, tok) AS rank
        FROM scored
    )
    SELECT doc_id, tok, tf, df, {duck_trunc6('score')} AS score, rank::int AS rank
    FROM ranked WHERE rank <= {TFIDF_TOP_N}
    """,
    doc=f"TF-IDF top-{TFIDF_TOP_N} terms per document (rational idf N/df — "
    "engine-exact, no libm log). explode → two partial-agg shuffles → "
    "term-key join → per-doc window; every stage keyed on high-cardinality "
    "columns, no skew.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), TOKEN_DELIM_RE)).alias("tok")
    )
    # df is derived from tf (one row per (doc, tok) already), not from the
    # raw token table: count replaces a two-phase countDistinct and the
    # aggregation input shrinks from token occurrences to distinct terms
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).persist()
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").cast("double").alias("nd"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (F.col("tf").cast("double") * (F.col("nd") / F.col("df").cast("double"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_N)
        .select(
            "doc_id", "tok", "tf", "df", trunc6(F.col("score")).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


POSTINGS_HEAD = 16  # head-of-list cap: the full list is sharded at scale
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "merge", "dup")  # two common + one rare (df-contrast)
BM25_TOP_N = 10


@register(
    "inverted_index_postings",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    ranked AS (
        SELECT tok, doc_id, tf,
               row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        FROM tf
    ),
    head AS (
        SELECT tok,
               string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
                   AS head_postings
        FROM ranked WHERE rn <= {POSTINGS_HEAD} GROUP BY tok
    ),
    stats AS (
        SELECT tok, count(*)::bigint AS df, sum(tf)::bigint AS cf,
               max(tf)::bigint AS max_tf
        FROM tf GROUP BY tok
    )
    SELECT s.tok, s.df, s.cf, s.max_tf, h.head_postings
    FROM stats s JOIN head h USING (tok)
    """,
    doc=f"Inverted-index posting lists (the retrieval-engine build step): "
    "tokenize → (doc, term) tf → per-term df/cf/max_tf plus the HEAD of "
    f"the doc_id-ordered posting list (first {POSTINGS_HEAD} entries, "
    "rendered 'doc:tf,...' — a string so the cross-engine hash compares "
    "exact).  The head cap is the scale posture, not a shortcut: a "
    "common term's full posting list is O(corpus) and belongs in sharded "
    "segment files (the corpus_shard_manifest discipline — sort by "
    "(term, doc_id), cut at byte budgets), never in one row of a "
    "DataFrame; df/cf/max_tf are the segment-header stats computed over "
    "the FULL list.  Plan: explode → one (doc,term) partial-agg shuffle "
    "→ one term-key shuffle shared by the stats agg and the head window; "
    "output is vocabulary-sized.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        posting_lists,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    return posting_lists(docs, head=POSTINGS_HEAD)


def _bm25_topk_oracle() -> str:
    """Shared by ``bm25_topk`` and ``bm25_segments_roundtrip`` — the
    segment round-trip must hash-match the in-memory ranking exactly, so
    both registrations pin the SAME SQL."""
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1
    ),
    per_term AS (
        SELECT tf.doc_id, tf.tok,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
                   AS score,
               count(*)::bigint AS n_hit
        FROM per_term GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, score, n_hit,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM per_doc
    )
    SELECT doc_id, {duck_trunc6('score')} AS score, n_hit, rank::int AS rank
    FROM ranked WHERE rank <= {BM25_TOP_N}
    """


@register(
    "bm25_topk",
    _bm25_topk_oracle(),
    doc=f"BM25 top-{BM25_TOP_N} retrieval for the fixed query "
    f"{BM25_TERMS} (k1={BM25_K1}, b={BM25_B}) with the RATIONAL idf "
    "(N-df+0.5)/(df+0.5) — the house log-free rule: libm ln() is not "
    "bit-identical across JVM and C runtimes, division is (documented "
    "monotone per-term transform of Okapi idf, not its logarithm).  "
    "Per-(doc,term) scores are single values extracted with max(CASE) — "
    "never a float SUM over rows — and the final score adds the three "
    "term columns in FIXED textual order, so both engines run the "
    "identical IEEE operation sequence and the hash compares exact.  "
    "Plan: explode → (doc,term) partial agg, broadcast df (|query| "
    "rows) + doc-length join, one per-doc agg; the global top-k window "
    "ranks the ~query-hit-sized relation.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_topk_scores,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    return bm25_topk_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topn=BM25_TOP_N
    )


PHRASE = ("hash", "join")  # the exact-phrase fixture (both high-df terms)


@register(
    "retrieval_phrase_match",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i::int AS pos, toks[i] AS tok
        FROM d, unnest(range(1, len(toks) + 1)) AS t(i)
    ),
    l0 AS (SELECT doc_id, pos AS anchor FROM pos WHERE tok = '{PHRASE[0]}'),
    l1 AS (SELECT doc_id, pos - 1 AS anchor FROM pos WHERE tok = '{PHRASE[1]}'),
    hits AS (SELECT doc_id, anchor FROM l0 JOIN l1 USING (doc_id, anchor)),
    cnt AS (SELECT doc_id, count(*)::bigint AS phrase_tf FROM hits GROUP BY 1),
    ranked AS (
        SELECT doc_id, phrase_tf,
               row_number() OVER (ORDER BY phrase_tf DESC, doc_id) AS rank
        FROM cnt
    )
    SELECT doc_id, phrase_tf, rank::int AS rank
    FROM ranked WHERE rank <= {BM25_TOP_N}
    """,
    doc=f"Exact-phrase top-{BM25_TOP_N}: documents ranked by occurrence "
    f"count of the phrase {' '.join(PHRASE)!r}, answered the way a "
    "positional IR engine does — per-term position lists intersected at "
    "fixed offsets (leg i re-anchored to pos-i, |phrase|-1 inner joins "
    "on the high-cardinality (doc_id, anchor) key).  ONE positional "
    "tokenize with the term filter pushed to the scan; the relation "
    "leaving the scan is posting-list-sized, never the corpus token "
    "stream.  Top-k compiles to TakeOrderedAndProject; ties break on "
    "doc_id so the ranking is total-ordered and cross-engine hashable.",
)
def retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        phrase_match_topk,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    return phrase_match_topk(docs, PHRASE, topn=BM25_TOP_N)


#: RM3-style pseudo-relevance feedback knobs: top-10 feedback docs, 3
#: expansion terms, expansion damping λ=0.5 (original terms stay at 1.0).
PRF_EXPAND = 3
PRF_LAMBDA = 0.5


def _prf_cte() -> str:
    """The shared oracle prefix for both PRF registrations: base BM25 on
    the fixed query, feedback-doc selection, and the expansion-term
    ranking.  Weight is sum_tf × rational idf — the identical IEEE ops the
    Spark side runs, so the expansion ranking (and the expanded query it
    induces) is bit-identical cross-engine."""
    return f"""
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    df1 AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1
    ),
    s1 AS (
        SELECT tf.doc_id, tf.tok,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf JOIN df1 d USING (tok) JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    base AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
                   AS score
        FROM s1 GROUP BY doc_id
    ),
    fb AS (SELECT doc_id FROM base ORDER BY score DESC, doc_id LIMIT {BM25_TOP_N}),
    cand AS (
        SELECT tf.tok, sum(tf.tf)::bigint AS sum_tf
        FROM tf JOIN fb USING (doc_id)
        WHERE tf.tok NOT IN {BM25_TERMS!r} GROUP BY 1
    ),
    dfc AS (
        SELECT tf.tok, count(*)::bigint AS df
        FROM tf JOIN (SELECT tok FROM cand) c USING (tok) GROUP BY 1
    ),
    expn AS (
        SELECT c.tok, c.sum_tf, d.df,
               c.sum_tf::double * ((s.nd - d.df + 0.5) / (d.df + 0.5)) AS weight
        FROM cand c JOIN dfc d USING (tok) CROSS JOIN stats s
    ),
    expsel AS (
        SELECT tok, sum_tf, df, weight,
               row_number() OVER (ORDER BY weight DESC, tok) AS exp_rank
        FROM expn
    )"""


@register(
    "bm25_prf_terms",
    f"""
    WITH {_prf_cte()}
    SELECT exp_rank::int AS exp_rank, tok, sum_tf, df,
           {duck_trunc6('weight')} AS weight
    FROM expsel WHERE exp_rank <= {PRF_EXPAND}
    """,
    doc=f"RM3-style pseudo-relevance-feedback term mining: BM25 top-"
    f"{BM25_TOP_N} feedback docs for the fixed query {BM25_TERMS}, then "
    f"every non-query term in them ranked by Σtf × rational idf; top-"
    f"{PRF_EXPAND} kept.  The feedback list broadcasts (≤{BM25_TOP_N} "
    "ids) and the candidate table is feedback-doc-vocab sized (metadata "
    "at any corpus scale), so only the base ranking ever touches the "
    "corpus — through the same tf relation, which exchange reuse "
    "materializes once.",
)
def bm25_prf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        prf_expansion_terms,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    return prf_expansion_terms(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B,
        fb_docs=BM25_TOP_N, n_expand=PRF_EXPAND,
    )


@register(
    "bm25_prf_expansion",
    f"""
    WITH {_prf_cte()},
    qexp AS (SELECT tok, exp_rank FROM expsel WHERE exp_rank <= {PRF_EXPAND}),
    df2 AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} OR tok IN (SELECT tok FROM qexp)
        GROUP BY 1
    ),
    s2 AS (
        SELECT tf.doc_id, tf.tok, q.exp_rank,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN df2 d USING (tok)
        LEFT JOIN qexp q USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN exp_rank = 1 THEN s END), 0.0) * {PRF_LAMBDA}
             + coalesce(max(CASE WHEN exp_rank = 2 THEN s END), 0.0) * {PRF_LAMBDA}
             + coalesce(max(CASE WHEN exp_rank = 3 THEN s END), 0.0) * {PRF_LAMBDA}
                   AS score,
               count(*)::bigint AS n_hit
        FROM s2 GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, score, n_hit,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM per_doc
    )
    SELECT doc_id, {duck_trunc6('score')} AS score, n_hit, rank::int AS rank
    FROM ranked WHERE rank <= {BM25_TOP_N}
    """,
    doc=f"The full RM3/PRF retrieval loop: mine {PRF_EXPAND} expansion "
    f"terms from the BM25 top-{BM25_TOP_N} feedback docs, then re-rank "
    f"with the EXPANDED weighted query (originals at 1.0, expansion at "
    f"λ={PRF_LAMBDA}, folded in fixed order original₀₁₂ then "
    "exp-rank₁₂₃ — cross-engine IEEE-identical for whatever terms the "
    "data picks).  The expansion terms are one ≤3-row metadata collect "
    "(the same contract as Lloyd centroids); both BM25 passes stream "
    "the corpus through the reused tf relation, never a per-term scan.  "
    "Spark extracts expansion scores by literal term, the oracle by "
    "exp_rank slot — same single (doc,term) value either way, so the "
    "fold sequences agree bit-for-bit.",
)
def bm25_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_weighted_topk,
        prf_expansion_terms,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    exp = (
        prf_expansion_terms(
            docs, BM25_TERMS, k1=BM25_K1, b=BM25_B,
            fb_docs=BM25_TOP_N, n_expand=PRF_EXPAND,
        )
        .orderBy("exp_rank")
        .collect()
    )
    wterms = [(t, 1.0) for t in BM25_TERMS] + [
        (r["tok"], PRF_LAMBDA) for r in exp
    ]
    return bm25_weighted_topk(
        docs, wterms, k1=BM25_K1, b=BM25_B, topn=BM25_TOP_N
    )


def _posting_segment_manifest_oracle() -> str:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        POSTING_SEG_BYTES,
    )

    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_DELIM_RE}')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    per_term AS (
        SELECT tok, count(*)::bigint AS df, sum(tf)::bigint AS cf,
               sum(length(doc_id::varchar) + length(tf::varchar) + 2)::bigint
                   AS term_bytes
        FROM tf GROUP BY tok
    ),
    ordered AS (
        SELECT tok, df, cf, term_bytes,
               sum(term_bytes) OVER (ORDER BY tok
                   ROWS UNBOUNDED PRECEDING) - term_bytes AS prefix
        FROM per_term
    )
    SELECT tok, df, cf, term_bytes,
           (prefix // {POSTING_SEG_BYTES})::bigint AS segment_id
    FROM ordered
    """


@register(
    "posting_segment_manifest",
    _posting_segment_manifest_oracle(),
    doc="Byte-budget segment layout for the FULL posting lists — the "
    "sharded segment files inverted_index_postings' head-capped rows "
    "point at (round-7 verdict #3): per term, the exact rendered bytes "
    "of its 'doc:tf,' entries (integers both engines compute "
    "identically), then segment_id = global byte prefix-sum in tok "
    "order div the budget — a term never splits at this granularity.  "
    "The prefix-sum is SQL's one-partition window; the Spark plan "
    "refuses to serialize it: repartitionByRange(tok) + "
    "sortWithinPartitions + ONE metadata-sized per-partition subtotal "
    "collect + an Arrow stamp pass (the corpus_shard_manifest "
    "discipline on the vocabulary relation).  Partitioning-invariant "
    "and exactly reproducible; posting_segments_save materializes this "
    "layout to parquet and bm25_segments_roundtrip pins losslessness.",
)
def posting_segment_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        doc_term_freq,
        posting_segment_assignments,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    return posting_segment_assignments(doc_term_freq(docs))


@register(
    "bm25_segments_roundtrip",
    _bm25_topk_oracle(),  # the round-trip must match the in-memory ranking
    doc=f"BM25 top-{BM25_TOP_N} answered ENTIRELY from reloaded posting "
    "segment files — the persist-then-serve posture (the reference's own "
    "full-cache scan pattern, HttpInputFormatProvider.scala:126-161, "
    "applied to text): posting_segments_save writes (tok, doc_id, tf) "
    "partitioned by byte-budget segment_id plus the manifest (exact "
    "full-list df/cf per term) and doclens; the query loads the "
    "manifest, resolves the query terms' segment ids (a handful of ints, "
    "pushed as a LITERAL partition filter — only those segments' files "
    "are read), and scores with the same integer inputs through the "
    "same _bm25_rank tail.  The oracle IS bm25_topk's oracle: the "
    "round-trip must hash-match the in-memory ranking exactly, proving "
    "the segment store lossless (the sim_ann_ivf_persisted gate, for "
    "text).",
)
def bm25_segments_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_from_segments,
        posting_segments_save,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="spark_graft_postseg_")
    try:
        posting_segments_save(docs, work)
        out = bm25_from_segments(
            spark, work, BM25_TERMS, k1=BM25_K1, b=BM25_B, topn=BM25_TOP_N
        )
        # materialize the top-N (metadata-sized) so the temp segment dir
        # can be removed (the relations read lazily from it)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: modulus of the deterministic md5 ingest split used by
#: bm25_delta_segments: bucket 0 (~20% of documents) arrives as the later
#: ingest, indexed into its own delta store.
SEG_DELTA_MOD = 5


@register(
    "bm25_delta_segments",
    _bm25_topk_oracle(),  # serving base+delta must equal the full corpus
    doc=f"BM25 top-{BM25_TOP_N} served from a BASE posting-segment store "
    "plus a DELTA store indexed from a later ingest (a deterministic "
    f"~1/{SEG_DELTA_MOD} md5 bucket of the documents) — the Lucene "
    "segment discipline on Spark, and the text twin of "
    "sim_ann_ivf_incremental: every BM25 input is ADDITIVE over disjoint "
    "corpora (per-term df/cf, doc count, total length are bigint sums), "
    "so querying both stores together is exact WITHOUT merging — the "
    "oracle is bm25_topk's full-corpus SQL and must hash-match, proving "
    "delta ingest never needs a compaction pass to be correct "
    "(compaction remains an IO-amortization knob only).  Each store's "
    "probed segments are still partition-pruned independently; the "
    "rank tail is the shared _bm25_rank.",
)
def bm25_delta_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_from_segments,
        posting_segments_save,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % SEG_DELTA_MOD
    )
    work = tempfile.mkdtemp(prefix="spark_graft_deltaseg_")
    try:
        # the base and delta stores are built over DISJOINT document sets
        # and share no state — build them as two concurrent driver threads
        # (guide §2.6) so the delta ingest back-fills the base build's
        # stage tails instead of waiting for them (r11 A/B evidence in
        # OPTIMIZATION_r11.md).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(
                posting_segments_save, docs.where(bucket != 0), f"{work}/base"
            )
            fd = pool.submit(
                posting_segments_save, docs.where(bucket == 0), f"{work}/delta"
            )
            fb.result()
            fd.result()
        out = bm25_from_segments(
            spark,
            [f"{work}/base", f"{work}/delta"],
            BM25_TERMS,
            k1=BM25_K1,
            b=BM25_B,
            topn=BM25_TOP_N,
        )
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


POSTINGS_UPDATE_SLICES = 3  # microbatches the streaming index build consumes


@register(
    "streaming_postings_update",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_DELIM_RE}')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2)
    SELECT tok, count(*)::bigint AS df, sum(tf)::bigint AS cf,
           max(tf)::bigint AS max_tf
    FROM tf GROUP BY tok
    """,
    doc="STREAMING inverted-index build — the posting-stats side of "
    "inverted_index_postings maintained by a continuous ingest (the "
    f"update-merge template): documents arrive in "
    f"{POSTINGS_UPDATE_SLICES} microbatches; per-document (tok, tf) is "
    "computed STATELESSLY inside the row — ONE aggregate() fold "
    "run-length-encodes the SORTED token array, referencing the "
    "sort+split subtree exactly once (HOF lambdas get no CSE; the "
    "array_distinct + filter-count draft that mentioned it per element "
    "re-tokenized the document per term and measured 7×/decade — "
    "reverted).  A document is whole within its row, so no second "
    "stateful aggregation is needed, which streaming disallows anyway; "
    "ONE stateful groupBy(tok) runs in UPDATE output mode — "
    "each microbatch emits only the terms whose df/cf/max_tf changed, "
    "never the whole vocabulary — and foreachBatch upserts the deltas "
    "into a versioned parquet state table.  The batch oracle (the exact "
    "full-corpus term stats) must hash-match: delta emission + external "
    "merge reconstructs the index stats exactly, the property that lets "
    "a retrieval deployment keep its segment-store manifest fresh "
    "without rebuilding (pairs with bm25_delta_segments for the "
    "postings themselves).",
)
def streaming_postings_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from flink_http_full_cache_connector_spark.streaming.upsert import (
        run_update_merge_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="spark_graft_postupd_")
    try:
        in_dir = f"{work}/in"
        # each ingest slice is written as ~SLICE_FILES files and the
        # trigger consumes SLICE_FILES per microbatch: a coalesce(1)
        # slice would make every microbatch a single-file = single-task
        # scan, serializing the per-doc tokenize fold (measured 6x per
        # decade at generated sf10 before this; real ingest arrives as
        # many files per batch anyway).  ONE write job for all slices
        # (write_slice_files); the deterministic sub-key spreads each
        # slice over ~slice_files tasks/files.
        slice_files = 8
        from flink_http_full_cache_connector_spark.streaming.upsert import (
            write_slice_files,
        )

        write_slice_files(
            docs, in_dir,
            F.col("doc_id") % POSTINGS_UPDATE_SLICES,
            POSTINGS_UPDATE_SLICES,
            files_per_slice=slice_files,
            sub_col=F.expr(f"doc_id div {POSTINGS_UPDATE_SLICES}")
            % slice_files,
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", str(slice_files))
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(in_dir)
        )
        # per-document tf WITHOUT a second stateful aggregation (streaming
        # allows only one): ONE aggregate() fold over the SORTED token
        # array run-length-encodes it — the accumulator carries (emitted
        # runs, current token, current count).  The sorted array is
        # referenced exactly ONCE: higher-order lambdas get no common-
        # subexpression elimination, so any formulation that mentions the
        # sort+split subtree per index re-tokenizes the document per
        # element (two earlier drafts measured 97 s at generated sf10 /
        # a >9-minute sf0.1 gate before this one — the round's
        # sweep-caught super-linear drafts #3a/#3b).
        s = F.array_sort(F.split(F.trim(F.lower(F.col("text"))), TOKEN_DELIM_RE))
        init = F.struct(
            F.expr(
                "cast(array() as array<struct<tok:string,tf:bigint>>)"
            ).alias("out"),
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("cnt"),
        )
        flush = lambda acc: F.concat(  # noqa: E731 — emit the open run
            acc["out"],
            F.array(
                F.struct(acc["prev"].alias("tok"), acc["cnt"].alias("tf"))
            ),
        )

        def step(acc, x):
            same = acc["prev"].isNotNull() & (x == acc["prev"])
            return F.when(
                same,
                F.struct(
                    acc["out"].alias("out"),
                    acc["prev"].alias("prev"),
                    (acc["cnt"] + F.lit(1)).alias("cnt"),
                ),
            ).otherwise(
                F.struct(
                    F.when(acc["prev"].isNull(), acc["out"])
                    .otherwise(flush(acc))
                    .alias("out"),
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("cnt"),
                )
            )

        entries = F.aggregate(
            s,
            init,
            step,
            lambda acc: F.when(acc["prev"].isNull(), acc["out"]).otherwise(
                flush(acc)
            ),
        )
        per_doc = stream.select(F.explode(entries).alias("e")).select(
            "e.tok", "e.tf"
        )
        stats = per_doc.groupBy("tok").agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.max("tf").alias("max_tf"),
        )
        merged = run_update_merge_stream(
            stats, key_cols=["tok"], out_dir=f"{work}/state"
        )
        # vocabulary-sized
        return spark.createDataFrame(merged.toArrow(), merged.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: The batched-retrieval fixture: (query_id, pos, tok) — four queries of
#: 1-3 distinct terms over the corpus vocabulary, mixing rare and
#: stop-word-grade df so the idf contrast is exercised in one batch.
BM25_BATCH = (
    (0, 0, "join"), (0, 1, "merge"),
    (1, 0, "dup"), (1, 1, "scan"), (1, 2, "filter"),
    (2, 0, "vector"), (2, 1, "hash"),
    (3, 0, "the"),
)


def _bm25_batch_oracle() -> str:
    values = ", ".join(f"({q}, {p}, '{t}')" for q, p, t in BM25_BATCH)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_DELIM_RE}')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    q AS (
        SELECT query_id::bigint AS query_id, pos::int AS pos, tok
        FROM (VALUES {values}) AS v(query_id, pos, tok)
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN (SELECT DISTINCT tok FROM q) GROUP BY 1
    ),
    per_term AS (
        SELECT q.query_id, tf.doc_id, q.pos,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN q USING (tok)
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_qd AS (
        SELECT query_id, doc_id,
               coalesce(max(CASE WHEN pos = 0 THEN s END), 0.0)
             + coalesce(max(CASE WHEN pos = 1 THEN s END), 0.0)
             + coalesce(max(CASE WHEN pos = 2 THEN s END), 0.0) AS score,
               count(*)::bigint AS n_hit
        FROM per_term GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, score, n_hit,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS rank
        FROM per_qd
    )
    SELECT query_id, doc_id, {duck_trunc6('score')} AS score, n_hit,
           rank::int AS rank
    FROM ranked WHERE rank <= {BM25_TOP_N}
    """


@register(
    "bm25_batch_topk",
    _bm25_batch_oracle(),
    doc=f"BATCHED multi-query BM25 (round-7 verdict #4): "
    f"{len(set(q for q, _, _ in BM25_BATCH))} queries as a (query_id, "
    "pos, tok) relation ranked in ONE job — the shape a ranking/eval "
    "pipeline actually runs (bm25_topk serves one literal query).  The "
    "corpus is tokenized/tf-aggregated once for the whole batch; the "
    "query relation broadcasts onto tf; per-(query,doc) scores fold the "
    "term-SLOT columns in fixed order (max(CASE pos=k)) so the IEEE "
    "sequence is engine-identical for ANY query mix; per-query top-k "
    "runs the two-stage pre-rank — no exchange ever partitions the "
    "scored relation by the few-key query_id alone (plan pin in "
    "tests/test_plans.py).",
)
def bm25_batch_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_batch_topk,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    queries = spark.createDataFrame(
        list(BM25_BATCH), "query_id long, pos int, tok string"
    )
    return bm25_batch_topk(
        docs, queries, k1=BM25_K1, b=BM25_B, topn=BM25_TOP_N
    )


RRF_POOL = 50  # per-ranker candidate pool fused down to BM25_TOP_N
RRF_QUERY_VEC = 0  # corpus vector used as the dense query
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def _hybrid_rrf_oracle() -> str:
    from flink_http_full_cache_connector_spark.functions.vectors import (
        duck_cosine,
    )

    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1
    ),
    per_term AS (
        SELECT tf.doc_id, tf.tok,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
                   AS score
        FROM per_term GROUP BY doc_id
    ),
    bm AS (
        SELECT doc_id, rank_a FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
            FROM per_doc
        ) WHERE rank_a <= {RRF_POOL}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
    cos_scored AS (
        SELECT e.vec_id AS doc_id, {duck_cosine('e.embedding', 'q.qv')} AS cs
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {RRF_QUERY_VEC}
    ),
    cb AS (
        SELECT doc_id, rank_b FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cs DESC, doc_id) AS rank_b
            FROM cos_scored
        ) WHERE rank_b <= {RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(bm.doc_id, cb.doc_id) AS doc_id,
               coalesce(1.0 / ({RRF_K} + bm.rank_a), 0.0)
             + coalesce(1.0 / ({RRF_K} + cb.rank_b), 0.0) AS rrf,
               bm.rank_a, cb.rank_b
        FROM bm FULL OUTER JOIN cb ON cb.doc_id = bm.doc_id
    ),
    out AS (
        SELECT doc_id, rrf, rank_a, rank_b,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
        FROM fused
    )
    SELECT doc_id, {duck_trunc6('rrf')} AS rrf_score,
           rank_a::int AS rank_a, rank_b::int AS rank_b, rank::int AS rank
    FROM out WHERE rank <= {BM25_TOP_N}
    """


@register(
    "hybrid_rrf_retrieval",
    _hybrid_rrf_oracle(),
    doc=f"Hybrid retrieval with reciprocal-rank fusion — the modern "
    f"lexical+dense search pattern: BM25 top-{RRF_POOL} for the fixed "
    f"query {BM25_TERMS} fused with exact-cosine top-{RRF_POOL} for "
    f"corpus query vector {RRF_QUERY_VEC} via "
    f"rrf = 1/({RRF_K}+rank_lex) + 1/({RRF_K}+rank_dense) (missing list "
    "contributes 0, Cormack et al.).  RRF works on integer RANKS, so "
    "the only float is two divisions and one addition in fixed argument "
    "order — bit-identical cross-engine by construction.  Both rankers "
    f"and the fused top-{BM25_TOP_N} use TakeOrderedAndProject "
    "(distributed top-k); the fusion join touches 2x pool rows — "
    "metadata-sized regardless of corpus scale.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_topk_scores,
        cosine_topk_ranks,
        rrf_fuse,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_topk_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topn=RRF_POOL
    ).select("doc_id", "rank")
    cos = cosine_topk_ranks(emb, RRF_QUERY_VEC, topn=RRF_POOL)
    return rrf_fuse(bm, cos, k=RRF_K, topn=BM25_TOP_N)


def _hybrid_rrf_ann_oracle() -> str:
    from flink_http_full_cache_connector_spark.functions.vectors import (
        duck_cosine,
    )
    from flink_http_full_cache_connector_spark.operators.similarity import (
        NPROBE,
        NUM_CENTROIDS,
    )

    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_DELIM_RE}')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1
    ),
    per_term AS (
        SELECT tf.doc_id, tf.tok,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
                   AS score
        FROM per_term GROUP BY doc_id
    ),
    bm AS (
        SELECT doc_id, rank_a FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
            FROM per_doc
        ) WHERE rank_a <= {RRF_POOL}
    ),
    -- the dense leg replays the PERSISTED IVF index: build (first
    -- {NUM_CENTROIDS} vectors as centroids, full-corpus nearest-centroid
    -- assignment), probe the query's top-{NPROBE} cells, exact-cosine
    -- rerank only their members
    cent AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
        WHERE vec_id < {NUM_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cent_id AS cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {duck_cosine('e.embedding', 'c.cv')} DESC,
                                c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = {RRF_QUERY_VEC}),
    probes AS (
        SELECT cell_id FROM (
            SELECT c.cent_id AS cell_id,
                   row_number() OVER (ORDER BY {duck_cosine('q.qv', 'c.cv')}
                       DESC, c.cent_id) AS rn
            FROM cent c CROSS JOIN q
        ) WHERE rn <= {NPROBE}
    ),
    cos_scored AS (
        SELECT a.vec_id AS doc_id, {duck_cosine('e.embedding', 'q.qv')} AS cs
        FROM assign a
        JOIN probes p USING (cell_id)
        JOIN embeddings e ON e.vec_id = a.vec_id
        CROSS JOIN q
        WHERE a.vec_id <> {RRF_QUERY_VEC}
    ),
    cb AS (
        SELECT doc_id, rank_b FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cs DESC, doc_id) AS rank_b
            FROM cos_scored
        ) WHERE rank_b <= {RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(bm.doc_id, cb.doc_id) AS doc_id,
               coalesce(1.0 / ({RRF_K} + bm.rank_a), 0.0)
             + coalesce(1.0 / ({RRF_K} + cb.rank_b), 0.0) AS rrf,
               bm.rank_a, cb.rank_b
        FROM bm FULL OUTER JOIN cb ON cb.doc_id = bm.doc_id
    ),
    out AS (
        SELECT doc_id, rrf, rank_a, rank_b,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
        FROM fused
    )
    SELECT doc_id, {duck_trunc6('rrf')} AS rrf_score,
           rank_a::int AS rank_a, rank_b::int AS rank_b, rank::int AS rank
    FROM out WHERE rank <= {BM25_TOP_N}
    """


@register(
    "hybrid_rrf_ann",
    _hybrid_rrf_ann_oracle(),
    doc=f"PRODUCTION hybrid retrieval (round-7 verdict #2): BM25 "
    f"top-{RRF_POOL} fused via RRF with an ANN top-{RRF_POOL} answered "
    "from the PERSISTED cell_id-partitioned IVF index — unlike "
    "hybrid_rrf_retrieval (kept as the exact-dense correctness anchor), "
    "the dense leg never scans the embedding corpus per query: the index "
    "is built once (ivf_index_save), reloaded, and the probe's candidate "
    "join dynamically prunes the partitioned parquet to the query's "
    "probed cells (DPP plan pin in tests/test_pipeline_ops.py).  The "
    "oracle replays the whole stack in SQL — index build (nearest-of-"
    "first-16 centroids assignment), top-nprobe probe, in-cell exact-"
    "cosine rerank, then the identical fixed-order RRF float.  Doubles "
    "round-trip parquet bit-exactly, so persistence is invisible to the "
    "hash.  ANN-vs-exact dense-leg overlap is pinned measured-minus-"
    "slack in tests/test_pipeline_ops.py.",
)
def hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_topk_scores,
        ivf_topk_ranks,
        rrf_fuse,
    )
    from flink_http_full_cache_connector_spark.operators.similarity import (
        NPROBE,
        ivf_index_load,
        ivf_index_save,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_topk_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topn=RRF_POOL
    ).select("doc_id", "rank")
    work = tempfile.mkdtemp(prefix="spark_graft_hybridivf_")
    try:
        ivf_index_save(emb, work)
        cent, assign = ivf_index_load(spark, work)
        dense = ivf_topk_ranks(
            emb, cent, assign, RRF_QUERY_VEC, topn=RRF_POOL, nprobe=NPROBE
        )
        out = rrf_fuse(bm, dense, k=RRF_K, topn=BM25_TOP_N)
        # materialize the fused top-N (metadata-sized) so the temp index
        # dir can be removed (the dense leg reads lazily from it)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _hybrid_rrf_batch_oracle() -> str:
    from flink_http_full_cache_connector_spark.functions.vectors import (
        duck_cosine,
    )
    from flink_http_full_cache_connector_spark.operators.similarity import (
        NPROBE,
        NUM_CENTROIDS,
    )

    values = ", ".join(f"({q}, {p}, '{t}')" for q, p, t in BM25_BATCH)
    qids = sorted({q for q, _, _ in BM25_BATCH})
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '{TOKEN_DELIM_RE}')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    qb AS (
        SELECT query_id::bigint AS query_id, pos::int AS pos, tok
        FROM (VALUES {values}) AS v(query_id, pos, tok)
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN (SELECT DISTINCT tok FROM qb) GROUP BY 1
    ),
    per_term AS (
        SELECT qb.query_id, tf.doc_id, qb.pos,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN qb USING (tok)
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_qd AS (
        SELECT query_id, doc_id,
               coalesce(max(CASE WHEN pos = 0 THEN s END), 0.0)
             + coalesce(max(CASE WHEN pos = 1 THEN s END), 0.0)
             + coalesce(max(CASE WHEN pos = 2 THEN s END), 0.0) AS score
        FROM per_term GROUP BY 1, 2
    ),
    bm AS (
        SELECT query_id, doc_id, rank_a FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS rank_a
            FROM per_qd
        ) WHERE rank_a <= {RRF_POOL}
    ),
    cent AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
        WHERE vec_id < {NUM_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cent_id AS cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {duck_cosine('e.embedding', 'c.cv')} DESC,
                                c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    qv AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id IN ({", ".join(str(q) for q in qids)})
    ),
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cent_id AS cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {duck_cosine('q.qv', 'c.cv')} DESC,
                                c.cent_id) AS rn
            FROM qv q CROSS JOIN cent c
        ) WHERE rn <= {NPROBE}
    ),
    cos_scored AS (
        SELECT p.query_id, a.vec_id AS doc_id,
               {duck_cosine('e.embedding', 'q.qv')} AS cs
        FROM probes p
        JOIN assign a ON a.cell_id = p.cell_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN qv q ON q.query_id = p.query_id
        WHERE a.vec_id <> p.query_id
    ),
    cb AS (
        SELECT query_id, doc_id, rank_b FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cs DESC, doc_id) AS rank_b
            FROM cos_scored
        ) WHERE rank_b <= {RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(bm.query_id, cb.query_id) AS query_id,
               coalesce(bm.doc_id, cb.doc_id) AS doc_id,
               coalesce(1.0 / ({RRF_K} + bm.rank_a), 0.0)
             + coalesce(1.0 / ({RRF_K} + cb.rank_b), 0.0) AS rrf,
               bm.rank_a, cb.rank_b
        FROM bm FULL OUTER JOIN cb
            ON cb.query_id = bm.query_id AND cb.doc_id = bm.doc_id
    ),
    out AS (
        SELECT query_id, doc_id, rrf, rank_a, rank_b,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id) AS rank
        FROM fused
    )
    SELECT query_id, doc_id, {duck_trunc6('rrf')} AS rrf_score,
           rank_a::int AS rank_a, rank_b::int AS rank_b, rank::int AS rank
    FROM out WHERE rank <= {BM25_TOP_N}
    """


@register(
    "hybrid_rrf_batch",
    _hybrid_rrf_batch_oracle(),
    doc=f"BATCHED production hybrid retrieval — the full serving shape: "
    f"{len(set(q for q, _, _ in BM25_BATCH))} queries run BM25 "
    f"(bm25_batch_topk pools, top-{RRF_POOL}) and the PERSISTED "
    "cell-partitioned IVF index (ivf_topk_ranks_batch — one probe job "
    "for the whole batch, candidate join DPP-pruned to the union of "
    "probed cells) in ONE job each, fused per query by fixed-order RRF "
    "(rrf_fuse_batch).  Every query_id doubles as its dense query "
    "vector's vec_id — the multimodal-query convention an eval harness "
    "uses.  Both pools are queries×pool-sized; the fusion join and the "
    "per-query rank are metadata work at any corpus scale.  Oracle "
    "replays the lexical batch, the index build+probe walk, and the "
    "fusion in SQL; two-stage pre-rank on both legs (plan pins shared "
    "with bm25_batch_topk / the DPP test).",
)
def hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from flink_http_full_cache_connector_spark.functions.vectors import (
        as_double,
    )
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_batch_topk,
        ivf_topk_ranks_batch,
        rrf_fuse_batch,
    )
    from flink_http_full_cache_connector_spark.operators.similarity import (
        NPROBE,
        ivf_index_load,
        ivf_index_save,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        list(BM25_BATCH), "query_id long, pos int, tok string"
    )
    bm = bm25_batch_topk(
        docs, queries, k1=BM25_K1, b=BM25_B, topn=RRF_POOL
    ).select("query_id", "doc_id", "rank")
    qids = sorted({q for q, _, _ in BM25_BATCH})
    qvecs = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
    )
    work = tempfile.mkdtemp(prefix="spark_graft_hybridbatch_")
    try:
        ivf_index_save(emb, work)
        cent, assign = ivf_index_load(spark, work)
        dense = ivf_topk_ranks_batch(
            qvecs, cent, assign, topn=RRF_POOL, nprobe=NPROBE
        )
        out = rrf_fuse_batch(bm, dense, k=RRF_K, topn=BM25_TOP_N)
        return spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _rank_agreement_oracle() -> str:
    from flink_http_full_cache_connector_spark.functions.vectors import (
        duck_cosine,
    )

    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::bigint AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT count(*)::bigint AS nd, sum(dl)::bigint AS total_len FROM dl
    ),
    dfreq AS (
        SELECT tok, count(*)::bigint AS df FROM tf
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1
    ),
    per_term AS (
        SELECT tf.doc_id, tf.tok,
               ((s.nd - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                  + {BM25_B} * dl.dl / (s.total_len::double / s.nd)))
                   AS s
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN tok = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + coalesce(max(CASE WHEN tok = '{BM25_TERMS[2]}' THEN s END), 0.0)
                   AS score
        FROM per_term GROUP BY doc_id
    ),
    bm AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM per_doc
        ) WHERE rnk <= {RRF_POOL}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
    cos_scored AS (
        SELECT e.vec_id AS doc_id, {duck_cosine('e.embedding', 'q.qv')} AS cs
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {RRF_QUERY_VEC}
    ),
    cb AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cs DESC, doc_id) AS rnk
            FROM cos_scored
        ) WHERE rnk <= {RRF_POOL}
    ),
    hy AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
            FROM (
                SELECT coalesce(bm.doc_id, cb.doc_id) AS doc_id,
                       coalesce(1.0 / ({RRF_K} + bm.rnk), 0.0)
                     + coalesce(1.0 / ({RRF_K} + cb.rnk), 0.0) AS rrf
                FROM bm FULL OUTER JOIN cb ON cb.doc_id = bm.doc_id
            )
        ) WHERE rnk <= {RRF_POOL}
    ),
    pairs AS (
        SELECT 'bm25_vs_cosine' AS pair, * FROM bm a
            FULL OUTER JOIN cb b ON b.doc_id = a.doc_id
        UNION ALL
        SELECT 'bm25_vs_hybrid', * FROM bm a
            FULL OUTER JOIN hy b ON b.doc_id = a.doc_id
        UNION ALL
        SELECT 'cosine_vs_hybrid', * FROM cb a
            FULL OUTER JOIN hy b ON b.doc_id = a.doc_id
    )
    SELECT pair,
           sum(CASE WHEN rnk IS NOT NULL AND rnk_1 IS NOT NULL
                    THEN 1 ELSE 0 END)::bigint AS n_common,
           sum(CASE WHEN rnk IS NOT NULL AND rnk_1 IS NOT NULL
                    THEN abs(rnk - rnk_1) ELSE 0 END)::bigint AS footrule,
           sum(CASE WHEN rnk IS NULL OR rnk_1 IS NULL
                    THEN 1 ELSE 0 END)::bigint AS n_only_one
    FROM pairs GROUP BY pair
    """


@register(
    "retrieval_rank_agreement",
    _rank_agreement_oracle(),
    doc=f"Offline ranker-comparison harness over the three retrieval "
    f"surfaces (BM25, exact-cosine, RRF hybrid; top-{RRF_POOL} pools): "
    "per ranker pair, the common-doc count, the Spearman FOOTRULE "
    "(sum |rank_a - rank_b| over common docs — pure integer arithmetic, "
    "no correlation float in sight) and the symmetric-difference count.  "
    "This is the eval loop a retrieval stack runs offline to decide "
    "whether a ranker change shifted results; all three pools are "
    "metadata-sized, so the whole comparison is a few tiny full-outer "
    "joins after the rankers' own scans.",
)
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.retrieval import (
        bm25_topk_scores,
        cosine_topk_ranks,
        rrf_fuse,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    # not persisted: the three pools are metadata-sized and every reuse
    # derives an identical subplan from the same object, so exchange reuse
    # shares the heavy scans; a persist here outlived the query (r7 ADVICE)
    bm = bm25_topk_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topn=RRF_POOL
    ).select("doc_id", "rank")
    cos = cosine_topk_ranks(emb, RRF_QUERY_VEC, topn=RRF_POOL)
    hy = rrf_fuse(bm, cos, k=RRF_K, topn=RRF_POOL).select(
        "doc_id", "rank"
    )

    def agreement(pair: str, a: DataFrame, b: DataFrame) -> DataFrame:
        j = a.select("doc_id", F.col("rank").alias("ra")).join(
            b.select("doc_id", F.col("rank").alias("rb")), "doc_id",
            "full_outer",
        )
        both = F.col("ra").isNotNull() & F.col("rb").isNotNull()
        return j.agg(
            F.lit(pair).alias("pair"),
            F.sum(F.when(both, 1).otherwise(0)).alias("n_common"),
            F.sum(
                F.when(both, F.abs(F.col("ra") - F.col("rb"))).otherwise(0)
            ).alias("footrule"),
            F.sum(F.when(~both, 1).otherwise(0)).alias("n_only_one"),
        )

    return (
        agreement("bm25_vs_cosine", bm, cos)
        .unionByName(agreement("bm25_vs_hybrid", bm, hy))
        .unionByName(agreement("cosine_vs_hybrid", cos, hy))
    )


#: NDCG@10 rank discounts 1/log2(i+1), materialized as PYTHON literals so
#: both engines receive the identical double constants — the log itself
#: never runs inside either engine (the house log-free rule; libm log2 is
#: not bit-identical across runtimes, a parsed decimal literal is).
NDCG_K = 10
NDCG_W = tuple(1.0 / math.log2(i + 1) for i in range(1, NDCG_K + 1))
NDCG_PREFIX = tuple(
    sum(NDCG_W[: j + 1]) for j in range(NDCG_K)
)  # IDCG for n_rel = 1..10 (left-fold — mirrored textually in both engines)


def _ndcg_oracle() -> str:
    from flink_http_full_cache_connector_spark.functions.vectors import (
        duck_cosine,
    )
    from flink_http_full_cache_connector_spark.operators.similarity import (
        NPROBE,
        NUM_CENTROIDS,
        NUM_QUERIES,
        TOP_K,
    )

    dcg = " + ".join(
        f"coalesce(max(CASE WHEN rank = {i + 1} THEN rel END), 0)::double"
        f" * {w!r}"
        for i, w in enumerate(NDCG_W)
    )
    prefix = ", ".join(repr(p) for p in NDCG_PREFIX)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS ql
        FROM embeddings WHERE vec_id < {NUM_QUERIES}
    ),
    exact_ranked AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {duck_cosine('e.embedding', 'q.qv')} DESC,
                                e.vec_id) AS rank
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
        ) WHERE rank <= {TOP_K}
    ),
    cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
             WHERE vec_id < {NUM_CENTROIDS}),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cent_id AS cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {duck_cosine('e.embedding', 'c.cv')} DESC,
                                c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cent_id AS cell_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {duck_cosine('q.qv', 'c.cv')} DESC,
                                c.cent_id) AS rn
            FROM q CROSS JOIN cent c
        ) WHERE rn <= {NPROBE}
    ),
    ivf_ranked AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY {duck_cosine('e.embedding', 'q2.qv')} DESC,
                                a.vec_id) AS rank
            FROM probes p
            JOIN assign a ON a.cell_id = p.cell_id
            JOIN embeddings e ON e.vec_id = a.vec_id
            JOIN q q2 ON q2.query_id = p.query_id
            WHERE a.vec_id <> p.query_id
        ) WHERE rank <= {TOP_K}
    ),
    both_ranked AS (
        SELECT 'exact' AS ranker, * FROM exact_ranked
        UNION ALL
        SELECT 'ivf', * FROM ivf_ranked
    ),
    rels AS (
        SELECT b.ranker, b.query_id, b.rank,
               CASE WHEN n.label = q.ql THEN 1 ELSE 0 END AS rel
        FROM both_ranked b
        JOIN embeddings n ON n.vec_id = b.neighbor_id
        JOIN q ON q.query_id = b.query_id
    ),
    nrel AS (
        SELECT q.query_id,
               (SELECT count(*) FROM embeddings e
                WHERE e.label = q.ql AND e.vec_id <> q.query_id)::bigint
                   AS n_rel
        FROM q
    ),
    dcgs AS (
        SELECT ranker, query_id, {dcg} AS dcg
        FROM rels GROUP BY ranker, query_id
    )
    SELECT d.ranker, d.query_id, nrel.n_rel,
           {duck_trunc6('d.dcg')} AS dcg,
           {duck_trunc6(f"d.dcg / ([{prefix}])[least(nrel.n_rel, {NDCG_K})]")}
               AS ndcg
    FROM dcgs d JOIN nrel USING (query_id)
    """


@register(
    "retrieval_eval_ndcg",
    _ndcg_oracle(),
    doc=f"Offline NDCG@{NDCG_K} evaluation of the dense rankers — the "
    "metric an eval harness actually reports: relevance = query/neighbor "
    "LABEL match (the embeddings' class labels as pseudo-qrels), rankers "
    "= exact cosine top-k and the IVF probe.  Engine-exact throughout "
    "the float path: the 1/log2(i+1) discounts and their prefix sums are "
    "PYTHON literals fed identically to both engines (no engine ever "
    "runs a log); per-query DCG folds the ten rank-slot terms in fixed "
    "textual order (max(CASE rank=i) pivots — never a float SUM over "
    "rows); IDCG is a literal-array lookup at least(n_rel, k).  Plan: "
    "both rankers are the established broadcast top-k shapes; the "
    "rel join attaches labels by uniform id; the DCG agg sees "
    "queries×k rows.",
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.operators.similarity import (
        sim_ann_ivf,
        topk_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )

    exact = topk_cosine(emb, emb.where(F.col("vec_id") < 10), k=NDCG_K).select(
        "query_id", "neighbor_id", "rank"
    )
    ivf = sim_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    both = exact.select(F.lit("exact").alias("ranker"), "*").unionByName(
        ivf.select(F.lit("ivf").alias("ranker"), "*")
    )
    rels = (
        both.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "ranker",
            "query_id",
            "rank",
            F.when(F.col("nl") == F.col("ql"), 1).otherwise(0).alias("rel"),
        )
    )
    dcg = None
    for i, w in enumerate(NDCG_W):
        term = F.coalesce(
            F.max(F.when(F.col("rank") == i + 1, F.col("rel"))), F.lit(0)
        ).cast("double") * F.lit(w)
        dcg = term if dcg is None else dcg + term  # fixed slot order
    dcgs = rels.groupBy("ranker", "query_id").agg(dcg.alias("dcg"))

    nrel = (
        q.join(
            labels.select(F.col("vec_id").alias("nid"), F.col("label").alias("nl")),
            F.col("nl") == F.col("ql"),
        )
        .where(F.col("nid") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )
    prefix_arr = F.array(*[F.lit(p) for p in NDCG_PREFIX])
    idcg = F.element_at(prefix_arr, F.least(F.col("n_rel"), F.lit(NDCG_K)).cast("int"))
    return (
        dcgs.join(F.broadcast(nrel), "query_id")
        .select(
            "ranker",
            "query_id",
            "n_rel",
            trunc6(F.col("dcg")).alias("dcg"),
            trunc6(F.col("dcg") / idcg).alias("ndcg"),
        )
    )


@register(
    "rollup_events",
    """
    SELECT event_type, ts::DATE::VARCHAR AS day, count(*)::bigint AS cnt,
           min(value) AS min_val, max(value) AS max_val
    FROM events
    GROUP BY ROLLUP (event_type, day)
    """,
    doc="Hierarchical rollup (type, day) -> (type) -> grand total in one "
    "pass — Spark expands grouping sets with partial aggregation before "
    "the single shuffle; float columns only under order-independent min/max.",
)
def rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        # day as ISO string: a DATE column round-trips as python date objects
        # on the Spark side but datetime64 from DuckDB — strings compare exact
        events.select("event_type", F.to_date("ts").cast("string").alias("day"), "value")
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


@register(
    "window_funcs_events",
    """
    SELECT event_id, user_id, ts::TIMESTAMP AS ts,
           row_number() OVER w AS seq,
           (epoch_us(ts::TIMESTAMP)
              - lag(epoch_us(ts::TIMESTAMP)) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    doc="Analytic windows: per-user event sequence number and inter-event "
    "gap (lag) — gaps compared as exact integer microseconds. Key space = "
    "users (uniform), one shuffle + per-key sort.",
)
def window_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).alias("seq"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@register(
    "set_ops_users",
    """
    SELECT 'both' AS kind, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'click_only' AS kind, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
    doc="Set operations (INTERSECT / EXCEPT as hash semi/anti joins): users "
    "who both clicked and purchased vs clicked only.",
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id")
    buys = events.where(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(buys).select(F.lit("both").alias("kind"), "user_id")
    # subtract = EXCEPT (set) semantics; exceptAll would keep a user whose
    # click count merely exceeds their purchase count
    only = clicks.subtract(buys).select(F.lit("click_only").alias("kind"), "user_id")
    return both.unionByName(only)


PRICING_CUTOFF = "2001-09-02"


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
           sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
           sum(l_extendedprice::DECIMAL(18,2)
               * (1 - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
           sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))
               * (1 + l_tax::DECIMAL(18,2)))::DOUBLE AS sum_charge,
           count(*)::bigint AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-flavor pricing summary. Float SUMs are order-dependent "
    "across engines, so the money math runs in exact DECIMAL (cast, "
    "multiply, aggregate) and only the final value drops to DOUBLE — "
    "bit-exact on any partitioning. Filter pushed to the parquet scan; one "
    "6-group partial-agg shuffle.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = widen(load_table(spark, sf_dir, "lineitem")).where(
        F.col("l_shipdate") <= F.lit(f"{PRICING_CUTOFF} 00:00:00").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price * (F.lit(1) + dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_events",
    f"""
    SELECT user_id,
           {', '.join(f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::bigint AS {t}"
                      for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    doc="Pivot (long -> wide): per-user event counts by type. Explicit pivot "
    "values keep it one pass + one shuffle (no distinct-values pre-query).",
)
def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )
    return out


@register(
    "semi_anti_joins",
    """
    SELECT 'with_orders' AS kind, c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'no_orders' AS kind, c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi and left-anti joins (EXISTS / NOT EXISTS): customers "
    "with and without orders — probe side never widens, build side "
    "broadcastable.",
)
def semi_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = cust.join(orders, "c_custkey", "left_semi").select(
        F.lit("with_orders").alias("kind"), "c_custkey"
    )
    anti = cust.join(orders, "c_custkey", "left_anti").select(
        F.lit("no_orders").alias("kind"), "c_custkey"
    )
    return semi.unionByName(anti)


@register(
    "star_join_revenue",
    """
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           sum(l.l_extendedprice::DECIMAL(18,2)
               * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
           count(*)::bigint AS line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    doc="Star-schema revenue rollup (TPC-H Q5 flavor): fact-fact shuffle "
    "join (lineitem x orders), then broadcast dimension chain (nation, "
    "region pinned broadcast; customer left to AQE) — decimal-exact money.",
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = widen(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        joined.groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("line_count"),
        )
    )


@register(
    "scalar_subquery_spenders",
    """
    WITH spend AS (
        SELECT o_custkey AS c_custkey,
               sum(o_totalprice::DECIMAL(18,2)) AS s
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT sum(s) AS ts, count(*)::bigint AS n FROM spend)
    SELECT spend.c_custkey, spend.s::DOUBLE AS spend
    FROM spend, tot
    WHERE spend.s * tot.n > tot.ts
    """,
    doc="Scalar-aggregate predicate (customers spending above the mean), "
    "decorrelated as agg -> broadcast 1-row total -> filter. The mean test "
    "is rearranged to `s * n > total` so the comparison stays in exact "
    "DECIMAL — no cross-engine float division.",
)
def scalar_subquery_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    )
    tot = spend.agg(F.sum("s").alias("ts"), F.count("*").alias("n"))
    return (
        spend.crossJoin(F.broadcast(tot))
        .where(F.col("s") * F.col("n") > F.col("ts"))
        .select("c_custkey", F.col("s").cast("double").alias("spend"))
    )


@register(
    "json_props_stats",
    """
    SELECT event_type,
           min(json_extract(props, '$.k')::int) AS min_k,
           max(json_extract(props, '$.k')::int) AS max_k,
           count(DISTINCT json_extract(props, '$.k')::int)::bigint AS distinct_k
    FROM events GROUP BY event_type
    """,
    doc="JSON column extraction in the query path (the reference's JSON "
    "handling is source-internal only): per-type stats over a JSON props "
    "field — JVM-side get_json_object, no Python.",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.countDistinct(k).alias("distinct_k"),
    )


@register(
    "percentiles_events",
    f"""
    SELECT event_type,
           {duck_trunc6('quantile_cont("value", 0.5)')} AS p50,
           {duck_trunc6('quantile_cont("value", 0.95)')} AS p95,
           count(*)::bigint AS cnt
    FROM events GROUP BY event_type
    """,
    doc="Exact linear-interpolated percentiles per group (Spark `percentile`"
    " vs DuckDB `quantile_cont`, both type-7) — the exact baseline for "
    "approx_percentile at scale.",
)
def percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        trunc6(F.expr("percentile(value, 0.5)")).alias("p50"),
        trunc6(F.expr("percentile(value, 0.95)")).alias("p95"),
        F.count("*").alias("cnt"),
    )


@register(
    "funnel_users",
    """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END)::TIMESTAMP AS t_signup,
               min(CASE WHEN event_type = 'click' THEN ts END)::TIMESTAMP AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)::TIMESTAMP AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, t_signup, t_click, t_purchase,
           CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                     AND t_purchase IS NOT NULL
                     AND t_signup < t_click AND t_click < t_purchase
                THEN 'full' 
                WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                     AND t_signup < t_click
                THEN 'engaged'
                WHEN t_signup IS NOT NULL THEN 'signed_up'
                ELSE 'other' END AS stage
    FROM firsts
    """,
    doc="Funnel analysis (signup -> click -> purchase ordering per user): "
    "conditional-min first-touch timestamps in ONE pass + one shuffle — no "
    "per-stage self-joins; stage classification is pure projection.",
)
def funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    ).alias(f"t_{t}")
    firsts = events.groupBy("user_id").agg(
        first("signup"), first("click"), first("purchase")
    )
    sg, ck, pu = F.col("t_signup"), F.col("t_click"), F.col("t_purchase")
    stage = (
        F.when(
            sg.isNotNull() & ck.isNotNull() & pu.isNotNull() & (sg < ck) & (ck < pu),
            F.lit("full"),
        )
        .when(sg.isNotNull() & ck.isNotNull() & (sg < ck), F.lit("engaged"))
        .when(sg.isNotNull(), F.lit("signed_up"))
        .otherwise(F.lit("other"))
    )
    return firsts.select(
        "user_id", "t_signup", "t_click", "t_purchase", stage.alias("stage")
    )


@register(
    "supplier_part_revenue",
    """
    SELECT n.n_name AS supp_nation, p.p_type,
           sum(l.l_extendedprice::DECIMAL(18,2)
               * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
           count(*)::bigint AS line_count,
           max(p.p_retailprice) AS max_retail
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
    doc="Supplier/part revenue matrix (completes table coverage: all 10 "
    "testdata tables are exercised by the registry): two broadcastable "
    "dimension joins on the fact scan, decimal-exact money, one final "
    "low-cardinality agg shuffle after partial aggregation.",
)
def supplier_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = widen(load_table(spark, sf_dir, "lineitem"))
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
    )
    return (
        joined.groupBy(F.col("n_name").alias("supp_nation"), "p_type")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("line_count"),
            F.max("p_retailprice").alias("max_retail"),
        )
    )


@register(
    "sketch_stats",
    """
    SELECT event_type,
           count(*)::BIGINT AS cnt,
           count(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS approx_users_ok,
           TRUE AS approx_p50_ok
    FROM events GROUP BY event_type
    """,
    doc="Sketch-based aggregates for 100 TB cardinality/quantile work: HLL++ "
    "approx_count_distinct and approx_percentile per event type — constant "
    "memory per group where the exact twins (pivot/percentiles, both "
    "oracle-checked) need full sets. Estimator outputs are engine-specific, "
    "so the DRIVER-CHECKED columns are the declared error contracts: "
    "approx_users within 4 sigma of exact (HLL++ pinned to rsd 0.01 — the "
    "default rsd 0.05 lands outside 1 sigma routinely, observed at "
    "sf0.1), approx_p50 within the exact p45..p55 band (accuracy 10000 ⇒ "
    "rank error ≤ 1/10000 ≪ 5%). The oracle recomputes the exact counts "
    "and expects TRUE — a hash-checkable tolerance gate, with the "
    "estimator-vs-exact tolerance test kept in tests/.",
)
def sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # The sketch columns and their exact verification twins are computed in
    # SEPARATE aggregations joined on the 5-row group key.  Mixing
    # count_distinct into the sketch aggregate routes the rsd-0.01 HLL++
    # buffer (~16 KB) through the distinct-rewrite Expand, whose first
    # aggregation phase groups by (event_type, user_id) — one HLL buffer
    # per USER, measured 0.7 s -> 6.8 s at sf0.1.  The split keeps the
    # production shape (sketch-only, one pass) intact; the exact pass
    # exists only for the tolerance contract.
    sketch = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.count("*").alias("cnt"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.expr("percentile(value, 0.45)").alias("_p45"),
        F.expr("percentile(value, 0.55)").alias("_p55"),
    )
    return sketch.join(exact, "event_type").select(
        "event_type",
        "cnt",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.04 * F.col("exact_users")
        ).alias("approx_users_ok"),
        F.col("approx_p50").between(F.col("_p45"), F.col("_p55")).alias(
            "approx_p50_ok"
        ),
    )


@register(
    "scd2_intervals",
    """
    SELECT user_id, event_id, value,
           ts::TIMESTAMP AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts)::TIMESTAMP
               AS valid_to
    FROM events WHERE event_type = 'signup'
    """,
    doc="SCD2 dimension build: per-key validity intervals via lead() — "
    "[valid_from, valid_to) rows an as-of join (operators/asof.py) can "
    "probe; NULL valid_to marks the current version. One key shuffle + "
    "per-key sort.",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return events.where(F.col("event_type") == "signup").select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "ntile_buckets",
    """
    WITH b AS (
        SELECT event_type, value,
               ntile(4) OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS quartile
        FROM events
    )
    SELECT event_type, quartile::int AS quartile, count(*)::bigint AS cnt,
           min(value) AS min_val, max(value) AS max_val
    FROM b GROUP BY event_type, quartile
    """,
    doc="Distribution bucketing: per-type value quartiles via ntile "
    "(event_id tie-break keeps equal values deterministic) — the feature-"
    "binning shape; min/max envelope per bucket, exact aggregates only.",
)
def ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", F.col("quartile").cast("int").alias("quartile"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


HH_K = 5


@register(
    "sketch_heavy_hitters",
    f"""
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS cnt
        FROM events GROUP BY event_type, user_id
    ),
    topk AS (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, user_id) AS rn
        FROM counts
    )
    SELECT event_type, cnt::BIGINT AS approx_count,
           count(*)::BIGINT AS n_users,
           min(rn)::INT AS min_rank
    FROM topk WHERE rn <= {HH_K}
    GROUP BY event_type, cnt
    """,
    doc=f"Heavy hitters per event type (approx_top_k, k={HH_K}): the "
    "frequent-items sketch completing the sketch family next to "
    "sketch_stats' HLL/percentile — constant memory per group where the "
    "exact twin needs a full (type, user) count table. In the "
    "under-capacity regime (distinct users < maxItemsTracked=10000) the "
    "sketch counts are exact; WHICH user is returned inside a count tie is "
    "estimator-private, so the driver-checked shape is the tie-robust "
    "top-k count multiset per type (count, how many of the top-k share "
    "it, rank of its first row) — identical for every valid tie-break, "
    "recomputed exactly by the oracle. Item-level exactness is pinned by "
    "the estimator-vs-exact test in tests/.",
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    top = events.groupBy("event_type").agg(
        F.expr(f"approx_top_k(user_id, {HH_K})").alias("hh")
    )
    items = top.select(
        "event_type",
        F.posexplode("hh").alias("rank0", "item"),
    ).select(
        "event_type",
        (F.col("rank0") + 1).cast("int").alias("rank"),
        F.col("item.count").alias("approx_count"),
    )
    return items.groupBy("event_type", "approx_count").agg(
        F.count("*").alias("n_users"),
        F.min("rank").alias("min_rank"),
    )


Q3_CUTOFF = "1998-06-01"
Q3_SEGMENT = "BUILDING"
Q3_TOP_N = 10


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey,
           sum(l.l_extendedprice::DECIMAL(18,2)
               * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
           o.o_orderdate::TIMESTAMP AS o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
      AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT {Q3_TOP_N}
    """,
    doc=f"Shipping-priority top-{Q3_TOP_N} (TPC-H Q3 shape): 3-table "
    "selective star join -> revenue aggregate -> global top-k. Filters "
    "reach both parquet scans (pushed predicates prune before the joins); "
    "the filtered customer side is broadcast, so only the orders<->lineitem "
    "join shuffles on the uniform orderkey; the final ordering is "
    "TakeOrderedAndProject (per-partition heaps, O(k) driver bytes), never "
    "a global sort. Revenue is exact DECIMAL until the final DOUBLE cast; "
    "ties break on l_orderkey so the LIMIT boundary is deterministic.",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(f"{Q3_CUTOFF} 00:00:00").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        widen(load_table(spark, sf_dir, "lineitem"))
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(Q3_TOP_N)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "array_funcs_users",
    """
    WITH t AS (
        SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(types)::int AS n_types,
           array_to_string(types, ',') AS types_str,
           array_to_string(list_filter(types, t -> starts_with(t, 'p')), ',')
               AS p_types_str,
           len(list_filter(types, t -> t = 'error')) > 0 AS had_error
    FROM t
    """,
    doc="Higher-order array functions (the lambda surface: filter / exists "
    "over an aggregated array): per-user sorted distinct event-type list, "
    "prefix-filtered sublist, membership flag. collect_set is array_sort-ed "
    "before any emission (Spark's collect order is nondeterministic by "
    "contract); arrays leave the query joined as strings so the comparison "
    "is value-typed. One user-key shuffle; lambdas run inside codegen.",
)
def array_funcs_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t = events.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    return t.select(
        "user_id",
        F.size("types").cast("int").alias("n_types"),
        F.array_join("types", ",").alias("types_str"),
        F.array_join(
            F.filter("types", lambda x: x.startswith("p")), ","
        ).alias("p_types_str"),
        F.exists("types", lambda x: x == "error").alias("had_error"),
    )


@register(
    "map_funcs_users",
    """
    SELECT user_id,
           count(DISTINCT event_type)::int AS n_types,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::bigint
               AS click_cnt,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::bigint
               AS purchase_cnt,
           count(DISTINCT CASE WHEN cnt_per_type >= 3 THEN event_type END)::int
               AS n_frequent
    FROM (
        SELECT user_id, event_type,
               count(*) OVER (PARTITION BY user_id, event_type) AS cnt_per_type
        FROM events
    )
    GROUP BY user_id
    """,
    doc="MapType surface (absent from the reference's type system, SURVEY.md "
    "§1.5): per-user event_type -> count map built with map_from_entries "
    "over sorted collected pairs, probed with element_at (missing key -> "
    "0), sized with cardinality, and reduced with map_filter (types seen "
    ">= 3x). The DuckDB oracle computes the same VALUES via conditional "
    "aggregation — maps are engine-internal representation, the contract "
    "is the numbers. One user-key shuffle; all map ops inside codegen.",
)
def map_funcs_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    zero = F.lit(0).cast("long")
    return maps.select(
        "user_id",
        F.cardinality("m").cast("int").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), zero).alias("click_cnt"),
        F.coalesce(F.element_at("m", F.lit("purchase")), zero).alias("purchase_cnt"),
        F.cardinality(F.map_filter("m", lambda k, v: v >= 3)).cast("int").alias(
            "n_frequent"
        ),
    )


@register(
    "window_dist_events",
    """
    SELECT event_id, user_id,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
    doc="Distribution-ranking windows (percent_rank / cume_dist — the "
    "remaining analytic-window family next to rank/dense_rank/ntile/"
    "row_number): each event's value position within its user's history. "
    "The ORDER BY carries an event_id tie-break so ranks are unique and "
    "both ratios are exact small-integer divisions (engine-identical "
    "doubles). Partitioned by high-cardinality user_id — one uniform key "
    "shuffle, never a few-group serialization.",
)
def window_dist_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "variant_props_stats",
    """
    SELECT event_type,
           min(json_extract(props, '$.k')::int) AS min_k,
           max(json_extract(props, '$.k')::int) AS max_k,
           sum(json_extract(props, '$.k')::bigint)::bigint AS sum_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured VariantType surface (Spark 4): props parsed ONCE "
    "into the binary variant encoding (parse_json), then field-extracted "
    "with variant_get — at 100 TB this replaces per-extraction string "
    "re-parsing (get_json_object, the json_props_stats twin) with "
    "parse-once binary access, the engine answer to schemaless columns. "
    "Same aggregates as the string-path twin so the oracle (DuckDB "
    "json_extract) pins both representations to identical values.",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return events.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").cast("long").alias("sum_k"),
    )


@register(
    "window_first_last_events",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val,
           nth_value(value, 3) OVER w AS third_val
    FROM (SELECT event_id, user_id, value, epoch_us(ts::TIMESTAMP) AS us
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Value-navigation windows (first_value / last_value / nth_value — "
    "completing the analytic family next to lag/rank/ntile/percent_rank): "
    "each event annotated with its user's first, last, and third "
    "chronological value. The frame is explicitly UNBOUNDED FOLLOWING "
    "(last_value under the default frame is the running current row — a "
    "classic cross-engine trap), ordering carries an event_id tie-break, "
    "and values are carried not computed, so floats stay bit-identical. "
    "One uniform user-key shuffle.",
)
def window_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "user_id", "value", F.unix_micros(F.col("ts")).alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 3).over(w).alias("third_val"),
    )


@register(
    "outliers_iqr_events",
    f"""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           {duck_trunc6('b.q1 - 1.5 * (b.q3 - b.q1)')} AS lo,
           {duck_trunc6('b.q3 + 1.5 * (b.q3 - b.q1)')} AS hi
    FROM events e JOIN bounds b USING (event_type)
    WHERE e.value < b.q1 - 1.5 * (b.q3 - b.q1)
       OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
    """,
    doc="Robust outlier detection (Tukey fences: outside q1/q3 ± 1.5·IQR "
    "per group) — the data-quality filter every metrics/training pipeline "
    "runs before aggregation, immune to the outliers it hunts (unlike "
    "mean/stddev z-scores). Two passes by necessity (exact quantiles, "
    "then filter) but the bounds relation is one tiny row per group and "
    "broadcasts — the second pass is a map-side filter on the scan. Both "
    "engines compute type-7 linear-interpolated quantiles; emitted "
    "bounds are trunc6'd, the comparison itself uses the full-precision "
    "double on both sides.",
)
def outliers_iqr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    b = bounds.select(
        "event_type",
        (F.col("q1") - 1.5 * iqr).alias("lo_f"),
        (F.col("q3") + 1.5 * iqr).alias("hi_f"),
    )
    return (
        events.join(F.broadcast(b), "event_type")
        .where((F.col("value") < F.col("lo_f")) | (F.col("value") > F.col("hi_f")))
        .select(
            "event_id",
            "event_type",
            "value",
            trunc6(F.col("lo_f")).alias("lo"),
            trunc6(F.col("hi_f")).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# market-basket pair mining — co-purchase association (support + lift)
# ---------------------------------------------------------------------------

BASKET_TOP_K = 20
BASKET_MAX_ITEMS = 64  # TPC-H orders hold <=7 items; cap guards pathological baskets


@register(
    "market_basket_pairs",
    f"""
    WITH distinct_items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    items AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT l_orderkey, l_partkey,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_partkey) AS rn
            FROM distinct_items
        ) WHERE rn <= {BASKET_MAX_ITEMS}
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey)::bigint AS n FROM items),
    item_supp AS (
        SELECT l_partkey, count(*)::bigint AS supp FROM items GROUP BY l_partkey
    ),
    pair_supp AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::bigint AS pair_support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    top AS (
        SELECT part_a, part_b, pair_support
        FROM pair_supp ORDER BY pair_support DESC, part_a, part_b
        LIMIT {BASKET_TOP_K}
    )
    SELECT t.part_a, t.part_b, t.pair_support,
           sa.supp AS a_support, sb.supp AS b_support,
           {duck_trunc6("(t.pair_support::double * o.n::double)"
                        " / (sa.supp::double * sb.supp::double)")} AS lift
    FROM top t
    JOIN item_supp sa ON sa.l_partkey = t.part_a
    JOIN item_supp sb ON sb.l_partkey = t.part_b
    CROSS JOIN n_orders o
    """,
    doc=f"Market-basket pair mining: top-{BASKET_TOP_K} co-purchased part "
    "pairs by support with lift = P(ab)/(P(a)P(b)). Plan: ONE shuffle "
    "groups each order's distinct parts into a sorted basket array; all "
    "C(n,2) pairs generate MAP-SIDE from the array (baskets are small by "
    f"domain, capped at {BASKET_MAX_ITEMS} items as the pathology guard) — "
    "the classic SQL self-join per order never happens, so cost is "
    "Σ basket² instead of a second data shuffle. Top-k is a TakeOrdered; "
    "the k rows broadcast onto the dimension-sized item-support table. "
    "Lift is double with fixed multiply order; supports exact integers.",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = widen(load_table(spark, sf_dir, "lineitem"))
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .withColumn("parts", F.slice("parts", 1, BASKET_MAX_ITEMS))
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_supp = (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count("*").alias("pair_support"))
    )
    item_supp = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("supp"))
    )
    n_orders = baskets.agg(F.count("*").alias("n"))
    top = pair_supp.orderBy(
        F.col("pair_support").desc(), "part_a", "part_b"
    ).limit(BASKET_TOP_K)
    with_a = item_supp.join(
        F.broadcast(top), item_supp["l_partkey"] == top["part_a"]
    ).select("part_a", "part_b", "pair_support", F.col("supp").alias("a_support"))
    lift = (F.col("pair_support").cast("double") * F.col("n").cast("double")) / (
        F.col("a_support").cast("double") * F.col("b_support").cast("double")
    )
    return (
        item_supp.withColumnRenamed("l_partkey", "pk2")
        .join(F.broadcast(with_a), F.col("pk2") == F.col("part_b"))
        .select(
            "part_a", "part_b", "pair_support", "a_support",
            F.col("supp").alias("b_support"),
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "pair_support", "a_support", "b_support",
            trunc6(lift).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) analysis — classify parts by cumulative revenue share
# ---------------------------------------------------------------------------

ABC_A_PCT = 80  # class A: parts covering the first 80% of revenue
ABC_B_PCT = 95  # class B: up to 95%; the tail is class C


@register(
    "abc_analysis_parts",
    f"""
    WITH rev AS (
        SELECT l_partkey,
               sum(l_extendedprice::DECIMAL(18,2)
                   * (1 - l_discount::DECIMAL(18,2))) AS revenue
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, revenue,
               row_number() OVER (ORDER BY revenue DESC, l_partkey) AS rnk,
               sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                   ROWS UNBOUNDED PRECEDING) AS cum_rev,
               (SELECT sum(revenue) FROM rev) AS total_rev
        FROM rev
    )
    SELECT l_partkey, revenue::DOUBLE AS revenue, rnk::bigint AS rnk,
           CASE WHEN cum_rev * 100 <= total_rev * {ABC_A_PCT} THEN 'A'
                WHEN cum_rev * 100 <= total_rev * {ABC_B_PCT} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
    doc=f"ABC / Pareto analysis: rank parts by discounted revenue and "
    f"classify by cumulative share (A <= {ABC_A_PCT}%, B <= {ABC_B_PCT}%, "
    "C = tail) — the inventory-prioritization classic. Money stays exact "
    "DECIMAL through the aggregation, the running total, AND the "
    "threshold tests (cum*100 <= total*pct — integer-scaled decimal "
    "comparison, no float ever decides a class); only the display column "
    "drops to DOUBLE. The ranking window runs over the DIMENSION-SIZED "
    "per-part aggregate (parts ~ 0.2% of lineitems), after one "
    "partial-agg shuffle on l_partkey.",
)
def abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = widen(load_table(spark, sf_dir, "lineitem"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
            "revenue"
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), "l_partkey")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = rev.agg(F.sum("revenue").alias("total_rev"))
    ranked = (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("cum_rev", F.sum("revenue").over(wc))
        .crossJoin(F.broadcast(total))
    )
    return ranked.select(
        "l_partkey",
        F.col("revenue").cast("double").alias("revenue"),
        "rnk",
        F.when(
            F.col("cum_rev") * 100 <= F.col("total_rev") * ABC_A_PCT, F.lit("A")
        )
        .when(F.col("cum_rev") * 100 <= F.col("total_rev") * ABC_B_PCT, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


@register(
    "skyline_pareto",
    """
    WITH by_size AS (
        SELECT p_size, min(p_retailprice) AS size_min_price
        FROM part GROUP BY p_size
    ),
    aug AS (
        SELECT p_size, size_min_price,
               min(size_min_price) OVER (ORDER BY p_size DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS larger_min_price
        FROM by_size
    )
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p JOIN aug a USING (p_size)
    WHERE p.p_retailprice <= a.size_min_price
      AND (a.larger_min_price IS NULL
           OR p.p_retailprice < a.larger_min_price)
    """,
    doc="Skyline / Pareto-frontier query (maximize p_size, minimize "
    "p_retailprice, strict dominance in >= 1 dimension): a part survives "
    "iff no other part is at least as large AND at least as cheap with "
    "one strict.  The naive skyline is an O(n^2) self-join; this plan is "
    "the scale shape: one partial-agg shuffle to the per-size min-price "
    "relation (|distinct sizes| rows), the running-min-over-larger-sizes "
    "window on THAT metadata-sized relation only, then a broadcast join "
    "back — the fact table is never globally sorted.  Tie semantics are "
    "classical: equal (size, price) rows all stay on the frontier (no "
    "strict dominator).  Float comparisons are deterministic because both "
    "engines compare the same bit-identical parquet doubles.",
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    by_size = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("size_min_price")
    )
    # metadata-sized relation (one row per distinct size): the single
    # unpartitioned window below sorts ~50 rows, never the part table
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    aug = by_size.select(
        "p_size",
        "size_min_price",
        F.min("size_min_price").over(w).alias("larger_min_price"),
    )
    return (
        part.join(F.broadcast(aug), "p_size")
        .where(
            (F.col("p_retailprice") <= F.col("size_min_price"))
            & (
                F.col("larger_min_price").isNull()
                | (F.col("p_retailprice") < F.col("larger_min_price"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


ZORDER_BITS = 8  # 8 bits per dimension -> 16-bit z-value
ZORDER_FILE_SHIFT = 8  # z >> 8 -> 256 target files


def _zorder_expr(ub: str, vb: str, shift_op: tuple[str, str]) -> str:
    """16-bit Morton interleave of two 8-bit bucket expressions, emitted
    for either dialect (``shift_op = ("<<", ">>")`` for DuckDB,
    ``("shiftleft", "shiftright")`` handled by the caller for Spark via the
    same infix operators, which Spark SQL 4.x also parses).  Disjoint bits
    mean ``+`` is exactly bitwise OR, so the expression stays pure integer
    arithmetic both engines fold identically."""
    shl, shr = shift_op
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({ub} {shr} {i}) & 1) {shl} {2 * i + 1})")
        terms.append(f"((({vb} {shr} {i}) & 1) {shl} {2 * i})")
    return " + ".join(terms)


_Z_DUCK = _zorder_expr("ub", "vb", ("<<", ">>"))


@register(
    "zorder_layout",
    f"""
    WITH bucketed AS (
        SELECT (user_id & 255)::bigint AS ub,
               least(255, floor(value)::bigint) AS vb
        FROM events
    ),
    z AS (SELECT ub, vb, ({_Z_DUCK})::bigint AS zval FROM bucketed)
    SELECT (zval >> {ZORDER_FILE_SHIFT})::bigint AS file_id,
           count(*)::bigint AS cnt,
           min(ub)::bigint AS min_ub, max(ub)::bigint AS max_ub,
           min(vb)::bigint AS min_vb, max(vb)::bigint AS max_vb,
           ((max(ub) - min(ub) + 1) * (max(vb) - min(vb) + 1))::bigint
               AS prune_surface
    FROM z GROUP BY 1
    """,
    doc="Z-order (Morton) clustering layout — the Delta/Iceberg OPTIMIZE "
    "ZORDER primitive that makes multi-column min/max file pruning work at "
    "100 TB: interleave 8-bit buckets of (user_id, value) into a 16-bit "
    "z-value, assign each row to one of 256 z-contiguous target files, and "
    "report per-file min/max envelopes for BOTH dimensions plus the "
    "prune_surface (envelope area a scan predicate must intersect; "
    "z-clustered files keep it near |file| while linear layouts stretch "
    "one dimension to the full domain).  The interleave is pure integer "
    "shift/mask arithmetic inside whole-stage codegen (one expression, no "
    "UDF), and the layout stats need exactly one partial-agg shuffle on "
    "256 file keys.  Writing the files themselves is `df.repartitionByRange"
    "(n, zval)` + sortWithinPartitions — this query is the stats/plan half "
    "an optimizer would inspect.",
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucketed = events.select(
        F.expr("cast(user_id & 255 as bigint)").alias("ub"),
        F.least(F.lit(255), F.floor(F.col("value")).cast("long")).alias("vb"),
    )
    zval = F.expr(_zorder_expr("ub", "vb", ("<<", ">>"))).cast("long")
    z = bucketed.select("ub", "vb", zval.alias("zval"))
    return (
        z.groupBy(
            F.shiftright(F.col("zval"), ZORDER_FILE_SHIFT)
            .cast("long")
            .alias("file_id")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("vb").alias("min_vb"),
            F.max("vb").alias("max_vb"),
            (
                (F.max("ub") - F.min("ub") + 1)
                * (F.max("vb") - F.min("vb") + 1)
            ).alias("prune_surface"),
        )
    )


FO_SPLIT_TS = "2024-01-16 00:00:00"  # events span 2024-01-01 .. 2024-01-30


@register(
    "full_outer_reconcile",
    f"""
    WITH early AS (
        SELECT user_id, count(*)::bigint AS n_early
        FROM events WHERE ts < TIMESTAMP '{FO_SPLIT_TS}' GROUP BY user_id
    ),
    late AS (
        SELECT user_id, count(*)::bigint AS n_late
        FROM events WHERE ts >= TIMESTAMP '{FO_SPLIT_TS}' GROUP BY user_id
    )
    SELECT coalesce(e.user_id, l.user_id) AS user_id,
           coalesce(e.n_early, 0)::bigint AS n_early,
           coalesce(l.n_late, 0)::bigint AS n_late,
           CASE WHEN e.user_id IS NULL THEN 'new'
                WHEN l.user_id IS NULL THEN 'churned'
                ELSE 'retained' END AS status
    FROM early e FULL OUTER JOIN late l ON e.user_id = l.user_id
    """,
    doc="FULL OUTER join — the one join variety the surface lacked: "
    "period-over-period user reconciliation (first vs second half of the "
    "event timeline) labeling each user retained / churned / new, "
    "null-sides coalesced to zero counts.  Both inputs pre-aggregate to "
    "user cardinality BEFORE the join (partial aggs, then one uniform "
    "user_id exchange each); the full-outer itself is a same-key "
    "sort-merge/hash join on already-reduced relations — the cheap shape, "
    "never a fact×fact outer.  Timestamp split prunes at the scan.",
)
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_http_full_cache_connector_spark.plans.registry import (
        normalize_events_ts,
    )

    events = normalize_events_ts(load_table(spark, sf_dir, "events"))
    split = F.lit(FO_SPLIT_TS).cast("timestamp")
    early = (
        events.where(F.col("ts") < split)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_early"))
    )
    late = (
        events.where(F.col("ts") >= split)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_late"))
    )
    e, l = early.alias("e"), late.alias("l")
    return e.join(l, F.col("e.user_id") == F.col("l.user_id"), "full_outer").select(
        F.coalesce(F.col("e.user_id"), F.col("l.user_id")).alias("user_id"),
        F.coalesce(F.col("n_early"), F.lit(0)).cast("long").alias("n_early"),
        F.coalesce(F.col("n_late"), F.lit(0)).cast("long").alias("n_late"),
        F.when(F.col("e.user_id").isNull(), F.lit("new"))
        .when(F.col("l.user_id").isNull(), F.lit("churned"))
        .otherwise(F.lit("retained"))
        .alias("status"),
    )
