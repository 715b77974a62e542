"""Unigram language-model scoring — the perplexity-proxy quality filter.

The standard cheap quality gate of an LLM data pipeline (the CCNet /
Gopher recipe uses a KenLM n-gram model; the unigram form is its
join-free distributed skeleton): train token frequencies on the corpus
itself, then score each document by its mean token surprisal
``-log p(w)``.  Gibberish and boilerplate both surface as outliers —
gibberish scores high (rare tokens), degenerate repetition scores low.

Scale design: the model is a TOP-K vocabulary (K = LM_VOCAB_K) with
add-one smoothing for out-of-vocabulary tokens.  Scoring joins exploded
corpus tokens against the vocab — on the raw Zipf-skewed word key that
join would be the classic skew-killer, so the vocab is capped at K rows
and BROADCAST: scoring becomes map-side, shuffle-free (one partial-agg
doc_id shuffle to re-assemble per-doc means).  K is a constant knob
(64k-256k in practice), independent of corpus size.

Exactness: ln() on bit-identical doubles may differ by 1 ulp across
engines (libm vs JVM); per-token surprisals sum ~1e2-1e4 terms, keeping
the drift far below the trunc6 pin — the same contract tfidf_top_terms
has shipped green since round 1.  Top-K vocabulary ties break
deterministically (freq desc, then word).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from training_data_ops.functions.rounding import duck_trunc6, trunc6
from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE

#: vocabulary cap: constant-size model, broadcastable at any corpus SF.
LM_VOCAB_K = 50_000


@register(
    "text_surprisal_lm",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
        FROM documents
    ),
    toks_ne AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
    vocab AS (
        SELECT w, count(*)::bigint AS freq
        FROM toks_ne GROUP BY w
        ORDER BY freq DESC, w LIMIT {LM_VOCAB_K}
    ),
    n_total AS (SELECT sum(freq)::bigint AS n FROM vocab),
    scored AS (
        SELECT t.doc_id,
               ln((coalesce(v.freq, 0) + 1)::DOUBLE) AS ln_f
        FROM toks_ne t LEFT JOIN vocab v ON t.w = v.w
    )
    SELECT s.doc_id,
           count(*)::bigint AS n_tokens,
           {duck_trunc6("ln((nt.n + 1)::DOUBLE) - sum(s.ln_f) / count(*)")}
               AS avg_surprisal
    FROM scored s CROSS JOIN n_total nt
    GROUP BY s.doc_id, nt.n
    """,
    doc="Unigram-LM mean surprisal per document (perplexity-proxy quality "
    f"filter): top-{LM_VOCAB_K} corpus vocabulary with add-one OOV "
    "smoothing; score = ln(N+1) - mean ln(freq+1). The vocab is "
    "constant-size by construction and broadcasts, so scoring is "
    "map-side over the exploded token stream — no join on the "
    "Zipf-skewed raw word key; one doc_id partial-agg shuffle "
    "re-assembles per-doc means. trunc6-pinned floats (tfidf "
    "precedent).",
)
def text_surprisal_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)).alias("w")
    ).where(F.length("w") > 0)
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(LM_VOCAB_K)
        .persist()
    )
    n_total = vocab.agg(F.sum("freq").alias("n"))
    scored = toks.join(F.broadcast(vocab), "w", "left").select(
        "doc_id",
        F.log((F.coalesce(F.col("freq"), F.lit(0)) + 1).cast("double")).alias("ln_f"),
    )
    return (
        scored.join(F.broadcast(n_total))
        .groupBy("doc_id", "n")
        .agg(F.count("*").alias("n_tokens"), F.sum("ln_f").alias("sum_ln"))
        .select(
            "doc_id",
            "n_tokens",
            trunc6(
                F.log((F.col("n") + 1).cast("double"))
                - F.col("sum_ln") / F.col("n_tokens")
            ).alias("avg_surprisal"),
        )
    )


#: Bigram-model knobs: capped model size (broadcastable at any corpus SF),
#: Jelinek-Mercer interpolation weight, and the keep-gate threshold.
#: PPL_MU is written out as the PYTHON value of 1-λ (0.30000000000000004)
#: so both engines multiply by the identical double.
LM_BIGRAM_K = 50_000
PPL_LAMBDA = 0.7
PPL_MU = 1.0 - PPL_LAMBDA
PPL_KEEP_MAX = 4.0


@register(
    "text_perplexity_bigram",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, toks[i] AS v, toks[i + 1] AS w
        FROM d, unnest(range(1, len(toks))) AS t(i)
    ),
    c2 AS (
        SELECT v, w, count(*)::bigint AS f2 FROM pairs GROUP BY 1, 2
        ORDER BY f2 DESC, v, w LIMIT {LM_BIGRAM_K}
    ),
    c1 AS (SELECT v, count(*)::bigint AS f1v FROM pairs GROUP BY 1),
    model AS (SELECT c2.v, c2.w, c2.f2, c1.f1v FROM c2 JOIN c1 USING (v)),
    uni AS (
        SELECT w, count(*)::bigint AS fu
        FROM (SELECT unnest(toks) AS w FROM d) GROUP BY 1
        ORDER BY fu DESC, w LIMIT {LM_VOCAB_K}
    ),
    ntot AS (SELECT sum(fu)::bigint AS n FROM uni),
    scored AS (
        SELECT p.doc_id,
               -ln({PPL_LAMBDA!r} * coalesce(m.f2::double / m.f1v, 0.0)
                   + {PPL_MU!r} * ((coalesce(u.fu, 0) + 1)::double
                                   / (ntot.n + 1))) AS surp
        FROM pairs p
        LEFT JOIN model m ON p.v = m.v AND p.w = m.w
        LEFT JOIN uni u ON p.w = u.w
        CROSS JOIN ntot
    ),
    agg AS (
        SELECT doc_id, count(*)::bigint AS n_bigrams,
               {duck_trunc6('sum(surp) / count(*)')} AS avg_surprisal
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, avg_surprisal,
           (avg_surprisal <= {PPL_KEEP_MAX!r}) AS keep
    FROM agg
    """,
    doc="Bigram-LM mean surprisal per document — the CCNet/KenLM "
    "perplexity filter one order up from text_surprisal_lm: "
    "p(w|v) = λ·c(v,w)/c(v) + (1-λ)·(c(w)+1)/(N+1) (Jelinek-Mercer "
    f"interpolation, λ={PPL_LAMBDA}), model = top-{LM_BIGRAM_K} bigrams "
    "WITH their context counts attached + the unigram vocab — both "
    "constant-size and broadcast, so scoring is map-side over bigram "
    "pairs built from the token array (map-side transform, no window "
    "and no self-join), with one doc_id shuffle for the per-doc mean.  "
    "keep gates on the trunc6-pinned mean so both engines decide "
    "identically.  Docs with < 2 tokens have no bigrams and no row.",
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return bigram_surprisal(docs)


def bigram_surprisal(
    docs: DataFrame,
    *,
    bigram_k: int = LM_BIGRAM_K,
    vocab_k: int = LM_VOCAB_K,
    lam: float = PPL_LAMBDA,
    keep_max: float = PPL_KEEP_MAX,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_surprisal, keep) — see the registration
    docstring.  Parameterized so a pipeline can pick its own model caps,
    interpolation weight, and keep threshold."""
    mu = 1.0 - lam
    toks_arr = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), TOKEN_DELIM_RE).alias("toks")
    )
    n = F.size("toks")
    bg = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("v"),
                F.element_at(F.col("toks"), i + 1).alias("w"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))
    pairs = toks_arr.select("doc_id", F.explode(bg).alias("bg")).select(
        "doc_id", F.col("bg.v").alias("v"), F.col("bg.w").alias("w")
    )
    c2 = (
        pairs.groupBy("v", "w")
        .agg(F.count("*").alias("f2"))
        .orderBy(F.col("f2").desc(), "v", "w")
        .limit(bigram_k)
    )
    c1 = pairs.groupBy("v").agg(F.count("*").alias("f1v"))
    model = c2.join(c1, "v").select("v", "w", "f2", "f1v")
    uni = (
        toks_arr.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("fu"))
        .orderBy(F.col("fu").desc(), "w")
        .limit(vocab_k)
        .persist()
    )
    ntot = uni.agg(F.sum("fu").alias("n"))
    p = F.lit(lam) * F.coalesce(
        F.col("f2").cast("double") / F.col("f1v"), F.lit(0.0)
    ) + F.lit(mu) * (
        (F.coalesce(F.col("fu"), F.lit(0)) + 1).cast("double") / (F.col("n") + 1)
    )
    scored = (
        pairs.join(F.broadcast(model), ["v", "w"], "left")
        .join(F.broadcast(uni), "w", "left")
        .crossJoin(F.broadcast(ntot))
        .select("doc_id", (-F.log(p)).alias("surp"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        trunc6(F.sum("surp") / F.count("*")).alias("avg_surprisal"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_surprisal",
        (F.col("avg_surprisal") <= F.lit(keep_max)).alias("keep"),
    )
