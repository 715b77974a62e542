"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.D): exact (hash-groupBy), n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup — each with a DuckDB oracle twin
built from the same constants, over the ``documents`` / ``embeddings``
tables.

Scale design (100 TB):

- **exact**: one hash-partitioned groupBy on a 128-bit digest — the only
  shuffle is on the digest key, which is uniformly distributed (no skew).
- **minhash_lsh**: the scale path for near-dup.  Cost is linear in corpus
  size: shingle→signature is map-side; candidate generation shuffles on
  (band, band-key) — tiny keys, bounded bucket sizes; verification touches
  candidate pairs only.  No O(n²) stage anywhere.
- **ngram_jaccard**: the *exact* pairwise method; its shingle self-join is
  quadratic in per-shingle document frequency, so it's the correctness
  baseline the LSH path is verified against, not the 100 TB path.
- **simhash**: map-side signature (explode tokens → 60 bit-votes →
  fingerprint); near-neighbor search then bands the fingerprint bits.
- **embedding_cosine**: brute-force double-precision cosine over all pairs
  (exact baseline for **embedding_lsh**, the linear random-hyperplane
  bucketed path below; the query-time ANN variants live in
  ``operators.similarity``).

All hashing is md5-prefix based — portable, engine-identical (verified
bit-for-bit against DuckDB) — never engine-private hashes.
"""

from __future__ import annotations

import math
import re as _re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from training_data_ops.functions.vectors import (
    as_double,
    cosine,
    duck_cosine,
)
from training_data_ops.functions.rounding import duck_trunc6, trunc6
from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import (
    load_table,
    normalize_events_ts,
)
from training_data_ops.registry import register
from flink_http_full_cache_connector_spark.streaming.pipeline import (
    scoped_stream_shuffle,
)
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE

#: compiled once at import: the Arrow kernels split with the SAME regex the
#: JVM expression path passes to F.split (value parity by construction)
_TOKEN_PAT = _re.compile(TOKEN_DELIM_RE)

# ---------------------------------------------------------------------------
# shared constants (identical in Spark exprs and DuckDB SQL twins)
# ---------------------------------------------------------------------------

P = 2147483647  # 2^31 - 1: keeps every intermediate product < 2^62 (no overflow)
NUM_MINHASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_MINHASHES // BANDS
JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.4
SIMHASH_BITS = 60  # 15 md5 hex chars → fits signed 64-bit with headroom

#: fixed affine minhash coefficients (a_j odd, < P; b_j < P)
MINHASH_A = [(2 * j + 1) * 12345679 % P for j in range(NUM_MINHASHES)]
MINHASH_B = [(j * 987654321 + 13) % P for j in range(NUM_MINHASHES)]

_DUCK_TOKENS = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"
_DUCK_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_DUCK_TOKENS})-1), "
    f"i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i+1] || ' ' || {_DUCK_TOKENS}[i+2]))"
)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (document → set of shingles).

    Documents shorter than ``n`` tokens yield an empty set — guarded
    explicitly because Spark's ``sequence(0, negative)`` DESCENDS instead
    of returning empty (DuckDB's ``range`` never descends, so an unguarded
    short doc would diverge from every shingle oracle).
    """
    toks = F.split(F.trim(text), TOKEN_DELIM_RE)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.array_distinct(F.transform(idx, gram))


def md5_mod_p(col: Column) -> Column:
    """Portable 31-bit hash: first 8 md5 hex chars mod P."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % P


def _doc_shingles(txt: str | None, n: int = 3):
    """Yield ``(shingle, md5_hexdigest)`` for ONE document — the single
    Python definition of the tokenize → n-gram → first-occurrence-distinct
    → md5 rule every Arrow shingle kernel shares (round-9 ADVICE: the loop
    was hardcoded separately in ``_shingle_table`` and
    ``minhash_signatures``, so a tokenizer change had to land in three
    places alongside :func:`word_shingles`).

    Value contract (pinned by the kernels-agree fixtures): same delimiter
    regex as ``word_shingles`` (``TOKEN_DELIM_RE`` verbatim), same
    space-only trim as ``F.trim``, UTF-8 md5, first-occurrence distinct.
    Callers derive their hash domain from the hexdigest (``[:8] % P`` for
    the minhash domain, ``[:15]`` for the 60-bit join fingerprint)."""
    import hashlib

    toks = _TOKEN_PAT.split((txt or "").strip(" "))
    seen: set[str] = set()
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s in seen:
            continue
        seen.add(s)
        yield s, hashlib.md5(s.encode("utf-8")).hexdigest()


def _shingle_table(
    docs: DataFrame,
    *,
    max_df: int | None = None,
    kernel: str = "arrow",
    n: int = 3,
) -> DataFrame:
    """(doc_id, s, h, fp) — exploded distinct shingles with portable
    hashes: ``h`` (31-bit, the minhash domain) and ``fp`` (60-bit identity
    fingerprint the equi-joins key on — round-8 verdict #5), both
    md5-prefix-derived.

    ``kernel="arrow"`` (default since the round-9 sf100 profile) builds
    the shingles in one Arrow-batched map pass — tokenize, 3-gram
    concat, first-occurrence dedup, md5 — in plain Python per document.
    Why: ``word_shingles`` is a ``transform`` HOF and therefore
    CodegenFallback (the round-8 interpreted-fold discovery applies to
    STRING kernels too) plus an O(len²)-comparison ``array_distinct``;
    the sf100 profile measured the shingle materialization alone at
    495.8 s of dedup_minhash_capped's 607 s wall.  The Python pass emits
    IDENTICAL values by construction: same delimiter regex
    (``TOKEN_DELIM_RE`` verbatim), same space-only trim as ``F.trim``,
    same UTF-8 md5 hex prefixes, same first-occurrence distinct — and
    every consumer is oracle-gated, so any divergence fails the hash
    gates immediately.  ``kernel="fold"`` keeps the pure-JVM expression
    pipeline for cross-checks.

    Input is widened to cluster parallelism first: the shingle fan-out
    is the map-side hot path, and a single-file input would otherwise run
    it on one core (no-op on already-wide scans).

    ``max_df`` drops shingles appearing in more than that many documents
    (boilerplate chrome/licenses/templates — what ``boilerplate_shingles``
    mines).  This is THE knob that keeps shingle-join dedup affordable: the
    equi-join costs Σ df², so uncapped boilerplate shingles dominate the
    join at corpus scale.  Shape: one partially-aggregated shuffle counts
    df per shingle; the stop list (df > cap) is small by construction, so
    the removal is a broadcast anti-join — map-side, no second data
    shuffle.
    """
    docs = widen(docs)
    if kernel == "arrow":
        import pandas as pd

        def _sh(batches):
            for pdf in batches:
                ids: list[int] = []
                ss: list[str] = []
                hs: list[int] = []
                fps: list[int] = []
                for did, txt in zip(pdf["doc_id"], pdf["text"]):
                    for s, d in _doc_shingles(txt, n):
                        ids.append(did)
                        ss.append(s)
                        hs.append(int(d[:8], 16) % P)
                        fps.append(int(d[:15], 16))
                yield pd.DataFrame(
                    {"doc_id": ids, "s": ss, "h": hs, "fp": fps}
                )

        sh = docs.select("doc_id", "text").mapInPandas(
            _sh, "doc_id long, s string, h long, fp long"
        )
    elif kernel == "fold":
        sh = docs.select(
            "doc_id", F.explode(word_shingles(F.col("text"), n)).alias("s")
        ).withColumn("h", md5_mod_p(F.col("s"))).withColumn(
            "fp",
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long"),
        )
    else:  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    if max_df is not None:
        stop = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(stop), "s", "left_anti")
    return sh


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*)::bigint AS dup_count
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup via hash-groupBy on a text digest; shuffle key is uniform (no skew).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


@register(
    "streaming_dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*)::bigint AS dup_count
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup as a STATEFUL STREAMING aggregation: documents consumed "
    "as a file stream, groupBy(digest) state across microbatches, complete-"
    "mode memory sink — final state must equal the batch result (oracle).",
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    agg = stream.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count")
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:12]}"
    with scoped_stream_shuffle(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        finalize_memory_sink,
    )

    return finalize_memory_sink(spark.table(name), name)


def stateful_dedup_stream(hashed: DataFrame) -> DataFrame:
    """First-occurrence streaming dedup as a CUSTOM STATEFUL OPERATOR
    (``applyInPandasWithState``): per text-hash group state remembers
    whether the hash was already emitted; later microbatches containing the
    same hash emit nothing.  Input: (doc_id, text_hash) stream; output: one
    row per first-seen hash with the batch-local min doc_id and count.

    State is one small tuple per distinct hash — at 100 TB the state store
    scales with distinct documents, partitioned by the uniform hash key.

    Spark 4's successor API (``transformWithStateInPandas`` +
    ``StatefulProcessor``, RocksDB-backed with timers/TTL) expresses the
    same operator, but its driver worker requires the python ``protobuf``
    package (``pyspark/sql/streaming/proto/StateMessage_pb2``), absent in
    this environment — verified to crash at runner init without it, so the
    operator stays on ``applyInPandasWithState``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def first_seen(key, pdfs, state: GroupState):
        min_id, cnt = None, 0
        for pdf in pdfs:
            cnt += len(pdf)
            m = int(pdf["doc_id"].min())
            min_id = m if min_id is None else min(min_id, m)
        if state.exists:
            seen_min, seen_cnt = state.get
            state.update((min(seen_min, min_id), seen_cnt + cnt))
            return iter(())  # already emitted: suppress duplicates
        state.update((min_id, cnt))
        yield pd.DataFrame(
            {"text_hash": [key[0]], "keep_id": [min_id], "dup_count": [cnt]}
        )

    return hashed.groupBy("text_hash").applyInPandasWithState(
        first_seen,
        outputStructType="text_hash string, keep_id long, dup_count long",
        stateStructType="seen_min long, seen_cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_dedup_stateful",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*)::bigint AS dup_count
    FROM documents GROUP BY md5(text)
    """,
    doc="First-occurrence dedup as a CUSTOM stateful streaming operator "
    "(applyInPandasWithState, per-hash state); single-batch run equals the "
    "batch groupBy oracle, cross-batch suppression pinned by unit test.",
)
def streaming_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    )
    deduped = stateful_dedup_stream(stream)
    name = f"stateful_dedup_{uuid.uuid4().hex[:12]}"
    with scoped_stream_shuffle(spark):
        query = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        finalize_memory_sink,
    )

    return finalize_memory_sink(spark.table(name), name)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise near-dup baseline)
# ---------------------------------------------------------------------------

#: df cap used by the registered *_capped twins.  Sized to bite on the test
#: corpus (max shingle df is 7 at sf0.01); production corpora pass a value
#: derived from boilerplate_shingles' df distribution instead.
MAX_SHINGLE_DF = 4


def _shingle_cte(max_df: int | None) -> str:
    """DuckDB CTE producing the (doc_id, s, fp) shingle relation, optionally
    df-capped exactly like :func:`_shingle_table`; ``fp`` is the 60-bit md5
    fingerprint the Spark side equi-joins on (round-8 verdict #5)."""
    base = (
        "SELECT doc_id, s, ('0x' || substr(md5(s), 1, 15))::bigint AS fp "
        f"FROM (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM documents)"
    )
    if max_df is None:
        return f"sh AS MATERIALIZED ({base})"
    return (
        f"sh0 AS MATERIALIZED ({base}),\n"
        f"stop AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > {max_df}),\n"
        f"sh AS MATERIALIZED (SELECT doc_id, s, fp FROM sh0 WHERE s NOT IN (SELECT s FROM stop))"
    )


def _ngram_oracle(max_df: int | None) -> str:
    return f"""
WITH {_shingle_cte(max_df)},
sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {duck_trunc6('i / (sa.n + sb.n - i)')} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


def _ngram_jaccard(
    spark: SparkSession, sf_dir: str, *, max_df: int | None = None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the shingle table feeds three subplans (sizes + both join sides);
    # persist so explode+md5 runs once (MEMORY_AND_DISK: spills, never OOMs)
    # join key = the 60-bit fp, not the shingle string (round-8 verdict
    # #5: 8-byte longs shuffle ~4x slimmer; both engines hash identically
    # so the gate stays exact at any scale).  Collision honesty (round-9
    # ADVICE): expected colliding DISTINCT-shingle pairs ≈ S²/2^61, ≪1
    # only up to S ≈ 1.5e9 distinct shingles — a 100 TB corpus (S ≈
    # 1e11+) expects thousands, each inflating one pair's i by 1, so at
    # that scale this family is NEAR-exact; key on the full 128-bit md5
    # (two longs) if strict exactness is required.
    sh = _shingle_table(docs, max_df=max_df).select("doc_id", "fp").persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sh.select(F.col("doc_id").alias("doc_b"), "fp")
    inter = (
        a.join(b, on=["fp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", trunc6(jac).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    _ngram_oracle(None),
    doc="Exact 3-gram-shingle Jaccard near-dup pairs (>= 0.5); correctness baseline for LSH.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard(spark, sf_dir)


@register(
    "dedup_ngram_jaccard_capped",
    _ngram_oracle(MAX_SHINGLE_DF),
    doc=f"df-capped exact shingle Jaccard (max_df={MAX_SHINGLE_DF}): "
    "boilerplate shingles (df above the cap) are anti-joined out before "
    "pairing, so the equi-join cost Σdf² is bounded by cap·|corpus| — the "
    "production form of the shingle-join family (SCALE.md); the oracle "
    "applies the identical cap.",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard(spark, sf_dir, max_df=MAX_SHINGLE_DF)


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame,
    *,
    shingles: DataFrame | None = None,
    kernel: str | None = None,
) -> DataFrame:
    """(doc_id, n [shingle count], m0..m{K-1}).

    ``kernel=None`` (default) resolves to ``"arrow"`` when no shingle
    relation is supplied and ``"fold"`` when one is: the arrow kernel
    re-tokenizes in-row and CANNOT consume a prebuilt shingle relation,
    so the explicit combination ``kernel="arrow", shingles=...`` raises
    instead of silently degrading to the fold path (round-9 ADVICE).

    ``kernel="arrow"`` (default since the round-9 sf100 profile) computes
    each document's signature INSIDE the tokenize pass — the document is
    whole within its row, so the K affine minima are per-row integer
    arithmetic and the whole relation emits map-side with ZERO shuffle
    (the fold path's groupBy moved the ~265 M-row shingle relation through
    an exchange: 90.6 s of the sf100 wall).  The tokenize/shingle/md5
    rule is the shared :func:`_doc_shingles` helper (one definition for
    every Arrow kernel).  All-integer math — numpy int64 (a_j·h + b_j <
    2^62 by construction) replays the JVM fold's mod exactly, so the
    signatures are identical, not merely close.  The second tokenize
    pass this costs (the verify join still persists the shingle relation
    separately) is ~half the shuffle it replaces.

    ``kernel="fold"`` groups the shingle relation: pass ``shingles`` (a
    ``_shingle_table`` result, typically persisted) when the caller also
    needs it — otherwise the shingle fan-out would execute twice."""
    if kernel is None:
        kernel = "arrow" if shingles is None else "fold"
    if kernel == "arrow":
        if shingles is not None:
            raise ValueError(
                "minhash_signatures: kernel='arrow' re-tokenizes documents "
                "in-row and cannot reuse a prebuilt shingle relation — "
                "pass kernel='fold' (or omit kernel) with shingles="
            )
        import numpy as np
        import pandas as pd

        A = np.array(MINHASH_A, dtype=np.int64)
        B = np.array(MINHASH_B, dtype=np.int64)

        def _sig(batches):
            for pdf in batches:
                out: dict[str, list[int]] = {"doc_id": [], "n": []}
                for j in range(NUM_MINHASHES):
                    out[f"m{j}"] = []
                for did, txt in zip(pdf["doc_id"], pdf["text"]):
                    hs: set[int] = set()
                    n_sh = 0
                    for _s, d in _doc_shingles(txt):
                        n_sh += 1
                        hs.add(int(d[:8], 16) % P)
                    if not hs:
                        continue  # no shingles → no signature row (= fold)
                    hv = np.fromiter(hs, dtype=np.int64, count=len(hs))
                    m = ((A[:, None] * hv[None, :] + B[:, None]) % P).min(axis=1)
                    out["doc_id"].append(did)
                    out["n"].append(n_sh)
                    for j in range(NUM_MINHASHES):
                        out[f"m{j}"].append(int(m[j]))
                yield pd.DataFrame(out)

        schema = "doc_id long, n long, " + ", ".join(
            f"m{j} long" for j in range(NUM_MINHASHES)
        )
        return widen(docs).select("doc_id", "text").mapInPandas(_sig, schema)
    if kernel != "fold":  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    sh = _shingle_table(docs) if shingles is None else shingles
    aggs = [F.count("*").alias("n")] + [
        F.min((F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % P).alias(f"m{j}")
        for j in range(NUM_MINHASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) — one row per document per LSH band, bkey the
    underscore-joined minhash slice.  Shared by the full-corpus candidate
    join and the incremental band-bucket store (same string rule the
    oracles replay)."""
    bands = None
    for band in range(BANDS):
        cols = [f"m{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        one = sig.select(
            "doc_id",
            F.lit(band).alias("band"),
            F.concat_ws("_", *[F.col(c).cast("string") for c in cols]).alias("bkey"),
        )
        bands = one if bands is None else bands.unionByName(one)
    return bands


def lsh_candidate_pairs(
    sig: DataFrame, *, bucket_cap: int | None = None
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one LSH band bucket.

    ``bucket_cap`` is the production knob (round-8 sf100 sweep): the
    within-bucket self-join costs Σ bucket² pairs, and bucket sizes grow
    ∝ corpus whenever a band key concentrates — boilerplate in real data,
    the small token vocabulary in the synthetic corpus (a doc's minimum
    hash over ~50 shingles drawn from a bounded shingle space repeats
    across many documents).  Measured: 639.7 s at generated sf100 for the
    uncapped join vs linear growth for everything else in the operator.
    With a cap, buckets holding more than ``bucket_cap`` docs are dropped
    BEFORE the self-join (one count window over the same (band, bkey)
    shuffle the join needs anyway — no extra exchange), bounding pair
    work by cap·bands·corpus.  A pair is still found if ANY of its
    matching bands lands in a sane bucket; only pairs whose every common
    band is a mega-bucket are lost — and a mega-bucket, by construction,
    is a band slice shared by ~everything, i.e. no evidence of pairwise
    similarity (the same reasoning as the df-capped shingle twins)."""
    bands = _band_rows(sig)
    if bucket_cap is not None:
        wb = Window.partitionBy("band", "bkey")
        bands = bands.withColumn("_bc", F.count("*").over(wb)).where(
            F.col("_bc") <= bucket_cap
        )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    return (
        a.join(b, on=["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _minhash_oracle(bucket_cap: int | None = None) -> str:
    mh = ", ".join(
        f"min(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {P}) AS m{j}"
        for j in range(NUM_MINHASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, ".format(band=band)
        + " || '_' || ".join(
            f"m{band * ROWS_PER_BAND + r}::varchar" for r in range(ROWS_PER_BAND)
        )
        + " AS bkey FROM sig"
        for band in range(BANDS)
    )
    capped = (
        f""",
bands AS (
    SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               count(*) OVER (PARTITION BY band, bkey) AS bc
        FROM bands_all)
    WHERE bc <= {bucket_cap}
)"""
        if bucket_cap is not None
        else ""
    )
    bands_name = "bands_all" if bucket_cap is not None else "bands"
    return f"""
WITH sh AS MATERIALIZED (
    SELECT doc_id, s, ('0x' || substr(md5(s), 1, 8))::bigint % {P} AS h,
           ('0x' || substr(md5(s), 1, 15))::bigint AS fp
    FROM (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM documents)
),
sig AS MATERIALIZED (SELECT doc_id, count(*) AS n, {mh} FROM sh GROUP BY doc_id),
{bands_name} AS ({band_rows}){capped},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a.doc_id < b.doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.fp = x.fp
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, {duck_trunc6('i.i / (sa.n + sb.n - i.i)')} AS jaccard
FROM inter i
JOIN sig sa ON sa.doc_id = i.doc_a
JOIN sig sb ON sb.doc_id = i.doc_b
WHERE i.i / (sa.n + sb.n - i.i) >= {JACCARD_THRESHOLD}
"""


#: production bucket cap for dedup_minhash_capped: pair work bounded by
#: cap·bands·corpus; chosen well above any honest near-dup cluster at the
#: fixture scales (capped ≡ uncapped at sf0.001–sf1) while amputating the
#: vocab-concentration mega-buckets the sf100 sweep measured.
MINHASH_BUCKET_CAP = 32


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    doc=f"MinHash({NUM_MINHASHES})+LSH({BANDS}x{ROWS_PER_BAND}) near-dup: linear-cost "
    "candidates, Jaccard-verified (>= 0.5).  UNCAPPED bucket join — the "
    "correctness anchor: the within-bucket self-join is Σ bucket² pairs, "
    "and bucket sizes grow with the corpus wherever a band key "
    "concentrates (boilerplate; the bounded shingle space of the "
    "synthetic corpus), measured 639.7 s at generated sf100 vs 90 s for "
    "the capped twin.  dedup_minhash_capped is the production path.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(spark, sf_dir, bucket_cap=None)


@register(
    "dedup_minhash_capped",
    _minhash_oracle(MINHASH_BUCKET_CAP),
    doc=f"MinHash({NUM_MINHASHES})+LSH({BANDS}x{ROWS_PER_BAND}) near-dup with the "
    f"PRODUCTION bucket cap ({MINHASH_BUCKET_CAP}): band buckets holding "
    "more docs are dropped before the self-join (one count window on the "
    "same (band, bkey) shuffle — no extra exchange), bounding candidate "
    "work by cap·bands·corpus.  A true pair is lost only if EVERY band "
    "it matches on is a mega-bucket — a slice shared by ~everything, "
    "which is no evidence of pairwise similarity (the df-capped shingle "
    "discipline applied to LSH).  Oracle replays the cap with the "
    "identical window rule; capped ≡ uncapped at the fixture scales.",
)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(
        spark, sf_dir, bucket_cap=MINHASH_BUCKET_CAP
    )


def _minhash_verified_pairs(
    spark: SparkSession, sf_dir: str, *, bucket_cap: int | None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the persisted shingle relation feeds the Jaccard verify ONLY (fp is
    # the join key — round-8 verdict #5; keeping strings in the cache
    # tripled cached bytes and spilled at sf100); signatures come from the
    # zero-shuffle map-side kernel instead of aggregating this relation
    sh = _shingle_table(docs).select("doc_id", "fp").persist()
    # signatures feed ~10 subplans (4 band selects x 2 join sides + 2 size
    # lookups); persisting them is the 100 TB design too — K longs per doc,
    # tiny next to the corpus, and avoids re-tokenizing per band
    sig = minhash_signatures(docs).persist()
    cand = lsh_candidate_pairs(sig, bucket_cap=bucket_cap)
    # verification: true Jaccard on candidate pairs only.  The match key is
    # the 60-bit fp, NOT the shingle string (round-8 verdict #5: the sf100
    # wall was this join's linear shingle shuffle spilling at 128 GiB —
    # 8-byte longs cut shuffle bytes ~4x).  A cross-doc fp collision
    # between DISTINCT shingles would inflate i by 1 for that pair; both
    # engines hash identically so the gate is exact either way.
    # Collision honesty (round-9 ADVICE): expected colliding distinct-
    # shingle pairs ≈ S²/2^61 — ≪1 up to S ≈ 1.5e9 distinct shingles,
    # but a 100 TB corpus (S ≈ 1e11+) expects thousands, so at that
    # scale the verified Jaccard is NEAR-exact (±1 in i per collided
    # pair); widen the key to the full 128-bit md5 (two longs) if strict
    # exactness is the intent.
    x = sh.select(F.col("doc_id").alias("doc_a"), "fp")
    y = sh.select(F.col("doc_id").alias("doc_b"), "fp")
    inter = (
        cand.join(x, "doc_a").join(y, ["doc_b", "fp"]).groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("i")
        )
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", trunc6(jac).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# incremental MinHash-LSH (persisted band-bucket store)
# ---------------------------------------------------------------------------


def minhash_store_save(spark: SparkSession, hist: DataFrame, store_dir: str) -> None:
    """Write the standing MinHash-LSH store for the historical corpus —
    the ``ivf_index_save`` / ``incremental_span_hits`` discipline applied
    to the flagship near-dup family (round-10 verdict #2):

    - ``bands``:  (doc_id, bkey) band rows, parquet-partitioned by band —
      the relation a new ingest probes with its own band keys;
    - ``fps``:    (doc_id, fp) 60-bit shingle fingerprints — feeds the
      Jaccard verify for candidate pairs only (slim longs, round-8
      verdict #5: never shuffle shingle strings);
    - ``sizes``:  (doc_id, n) shingle counts — the Jaccard denominators.

    Signatures come from the fused map-side Arrow kernel
    (:func:`minhash_signatures`), persisted across the two consumers
    (band rows + sizes) so history tokenizes once.  The store never
    rewrites on ingest: appending a processed batch is writing ITS rows
    next to the existing ones (same contract as ``ivf_index_append``)."""
    from concurrent.futures import ThreadPoolExecutor

    sig = minhash_signatures(hist).persist()
    try:
        # the fps store needs its own corpus pass (the fused signature
        # kernel keeps no shingle relation) and shares nothing with the
        # sig-derived writes — overlap it so the store build's wall is
        # max(bands+sizes, fps) instead of their sum (guide §2.6: submit
        # independent jobs concurrently; Spark's scheduler back-fills the
        # tails).  Job descriptions are thread-local, but SQL conf set via
        # spark.conf.set is SESSION-WIDE across Python threads — the real
        # invariant here (r11 ADVICE) is that no session-conf mutation
        # (scoped_stream_shuffle / scoped_cached_plan_aqe / ...) may
        # overlap these pooled writes; both threads only WRITE to
        # disjoint dirs and neither touches the conf.
        def _fps() -> None:
            _shingle_table(hist).select("doc_id", "fp").write.mode(
                "overwrite"
            ).parquet(f"{store_dir}/fps")

        with ThreadPoolExecutor(max_workers=1) as pool:
            fps_fut = pool.submit(_fps)
            _band_rows(sig).write.mode("overwrite").partitionBy("band").parquet(
                f"{store_dir}/bands"
            )
            sig.select("doc_id", "n").write.mode("overwrite").parquet(
                f"{store_dir}/sizes"
            )
            fps_fut.result()
    finally:
        sig.unpersist()


def minhash_incremental_pairs(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    *,
    bucket_cap: int = MINHASH_BUCKET_CAP,
) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard) INVOLVING AT LEAST
    ONE batch document, answered from the persisted band-bucket store.

    Marginal-cost shape (the reason this exists): everything after the
    store scans is batch-sized —

    1. batch signatures: one fused map-side Arrow pass over the batch;
    2. store probe: history band rows semi-joined to the batch's distinct
       bucket keys (slim parquet scan with the join key pushed to the
       scan side; AQE broadcasts the batch key set when it is small) —
       surviving history rows ≤ corpus-bucket-size per touched bucket;
    3. the cap is applied ACROSS store ∪ batch: one count window over the
       touched buckets' union rows — identical to the full-corpus window
       rule restricted to touched buckets, because a bucket's total count
       does not depend on rows in other buckets.  Buckets above
       ``bucket_cap`` drop whole, exactly as in the from-scratch run;
    4. candidates: batch rows × (batch ∪ history) rows within surviving
       buckets — ≤ cap·bands·batch pairs by construction, history×history
       pairs never generated (they were this store's PREVIOUS ingests);
    5. verify: exact Jaccard via the fp store, semi-joined to candidate
       doc ids first so only candidate documents' fingerprints shuffle.

    Append ≡ from-scratch: steps 3-4 reproduce the full-corpus capped
    candidate set restricted to pairs with a batch member, and the verify
    rule is shared — the registry oracle replays the FULL-corpus capped
    pipeline filtered to batch docs and the hash gate proves equality."""
    sig_b = minhash_signatures(batch).persist()
    bands_b = _band_rows(sig_b).select(
        "doc_id", "band", "bkey", F.lit(1).alias("_nb")
    )
    hist_bands = spark.read.parquet(f"{store_dir}/bands")
    touched = bands_b.select("band", "bkey").distinct()
    hb = hist_bands.join(touched, ["band", "bkey"], "left_semi").select(
        "doc_id", "band", "bkey", F.lit(0).alias("_nb")
    )
    rows = bands_b.unionByName(hb)
    wb = Window.partitionBy("band", "bkey")
    rows_c = (
        rows.withColumn("_bc", F.count("*").over(wb))
        .where(F.col("_bc") <= bucket_cap)
        .drop("_bc")
    )
    # fused candidate generation (r11 verdict #1, guide §2.3/§2.4): the
    # previous a⋈b self-join on (band, bkey) re-read and re-SORTED both
    # sides of the very relation the cap window had just hash-partitioned
    # on the same key.  One collect_list aggregation rides the window's
    # own (band, bkey) partitioning — NO new Exchange, and the agg
    # buffers are ≤ bucket_cap rows per group because the cap filter sits
    # below it (the window stays the spill-safe counting form: a
    # mega-bucket is counted and dropped without ever being collected) —
    # then an in-row double explode emits the identical batch×bucket pair
    # set (collect_list skips the NULLs the _nb==1 CASE leaves on
    # history rows).
    g = rows_c.groupBy("band", "bkey").agg(
        F.collect_list(
            F.when(F.col("_nb") == 1, F.col("doc_id"))
        ).alias("ba"),
        F.collect_list("doc_id").alias("ds"),
    )
    pair = (
        g.select(F.explode("ba").alias("_da"), "ds")
        .select("_da", F.explode("ds").alias("_db"))
        .where(F.col("_da") != F.col("_db"))
    )
    cand = (
        pair.select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
        )
        .distinct()
        .persist()  # feeds the id semi-joins AND the verify join
    )
    # one read of the persisted cand instead of a two-branch union
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh_b = _shingle_table(batch).select("doc_id", "fp")
    sh_h = spark.read.parquet(f"{store_dir}/fps")
    # candidate documents only: batch fps are batch-sized already; history
    # fps semi-join to candidate ids before any wide join
    sh = (
        sh_b.join(ids, "doc_id", "left_semi")
        .unionByName(sh_h.join(ids, "doc_id", "left_semi"))
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), "fp")
    y = sh.select(F.col("doc_id").alias("doc_b"), "fp")
    inter = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "fp"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sizes = sig_b.select("doc_id", "n").unionByName(
        spark.read.parquet(f"{store_dir}/sizes")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", trunc6(jac).alias("jaccard"))
    )


def _minhash_incr_oracle() -> str:
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )

    return f"""
SELECT doc_a, doc_b, jaccard FROM ({_minhash_oracle(MINHASH_BUCKET_CAP)})
WHERE doc_a % {NEW_BATCH_MOD} = 0 OR doc_b % {NEW_BATCH_MOD} = 0
"""


@register(
    "dedup_minhash_incremental",
    _minhash_incr_oracle(),
    doc="Incremental-ingest MinHash-LSH near-dup (round-10 verdict #2): "
    "the incoming batch (doc_id % 5 == 0, the dedup_substring_incremental "
    "split) computes its signatures with the fused map-side Arrow kernel "
    "and probes a PERSISTED (band)-partitioned band-bucket store over the "
    "historical corpus (written, reloaded, semi-join probed — the "
    "ivf_index_save discipline).  The production bucket cap is applied "
    "across store ∪ batch with the identical count-window rule, so capped "
    "incremental candidates == capped from-scratch candidates restricted "
    "to pairs with a batch member; Jaccard verification reuses the fp "
    "store, semi-joined to candidate ids so only candidate documents "
    "shuffle.  The oracle replays the FULL-corpus capped pipeline "
    "filtered to batch docs — the hash match proves append-mode ingest "
    "== from-scratch.  Marginal cost per ingest is batch-sized after two "
    "slim store scans; history×history pair work is never repaid.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import time

    from training_data_ops.operators.scale import record_phase
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % NEW_BATCH_MOD != 0)
    batch = docs.where(F.col("doc_id") % NEW_BATCH_MOD == 0)
    work = tempfile.mkdtemp(prefix="spark_graft_minhash_store_")
    # the store build is the history's ONE-TIME cost (amortized across every
    # future ingest); the lazily-executed remainder is the per-batch probe —
    # bench artifacts carry the split as build_s/serve_s
    _t0 = time.perf_counter()
    minhash_store_save(spark, hist, work)
    record_phase("build_s", time.perf_counter() - _t0)
    return minhash_incremental_pairs(
        spark, batch, work, bucket_cap=MINHASH_BUCKET_CAP
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::bigint AS th
    FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents)
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, ({fp})::bigint AS simhash FROM votes
"""


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit TF-weighted fingerprint, map-side only."""
    toks = widen(docs).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)).alias("t")
    ).withColumn("th", F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else (fp + term)
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


@register(
    "dedup_simhash",
    _simhash_oracle(),
    doc=f"SimHash: {SIMHASH_BITS}-bit term-frequency-weighted fingerprint per document "
    "(map-side only; near-neighbor search bands the bits).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


def simhash_near_pairs(simhash_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance over banded fingerprints.

    Scale path: split the fingerprint into ``max_hamming + 1`` bands — two
    fingerprints within ``max_hamming`` bits must agree exactly on at least
    one band (pigeonhole), so candidates come from equi-joins on band
    values (shuffle on small keys), then exact popcount verification.
    """
    nbands = max_hamming + 1
    width = SIMHASH_BITS // nbands
    bands = None
    for band in range(nbands):
        key = F.shiftright(F.col("simhash"), band * width).bitwiseAND((1 << width) - 1)
        one = simhash_df.select(
            F.col("doc_id"),
            F.col("simhash"),
            F.lit(band).alias("band"),
            key.alias("bkey"),
        )
        bands = one if bands is None else bands.unionByName(one)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "bkey"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "bkey"
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.where(ham <= max_hamming).select(
        "doc_a", "doc_b", ham.alias("hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (exact baseline; ANN path in operators.similarity)
# ---------------------------------------------------------------------------

_COSINE_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {duck_trunc6(duck_cosine('a.embedding', 'b.embedding'))} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {COSINE_DUP_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine",
    _COSINE_ORACLE,
    doc="Embedding near-dup: exact all-pairs double cosine (>= 0.4); "
    "brute-force baseline for the LSH/IVF ANN path.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # widen the streamed side: the broadcast nested-loop scoring is the hot
    # path and must use every core, not the input's (single) file split;
    # norms are precomputed per vector (bit-identical, 1/pair -> 1/vector)
    a = widen(emb).select(
        F.col("vec_id").alias("vec_a"), as_double("embedding").alias("ea")
    ).withColumn("na", norm(F.col("ea")))
    b = emb.select(
        F.col("vec_id").alias("vec_b"), as_double("embedding").alias("eb")
    ).withColumn("nb", norm(F.col("eb")))
    sim = cosine_with_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .where(sim >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", trunc6(sim).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over verified pair edges
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Undirected connected components by min-label propagation.

    Hybrid execution, the shape production CC uses: the *pair graph* of a
    near-dup job is orders of magnitude smaller than the corpus that
    produced it (edges = verified duplicates).  When it fits comfortably on
    the driver (``<= local_threshold`` edges) a single-pass union-find
    finishes it with zero extra cluster rounds; above the threshold the
    distributed min-label propagation runs — one equi-join + partial-agg
    shuffle per round, converging in O(component diameter) rounds, with a
    per-round eager ``localCheckpoint`` + convergence count keeping BOTH
    the data and the logical plan flat (each round references the label
    table twice, so an un-truncated plan doubles per round and a
    long-diameter graph OOMs the driver merely rendering it).
    Both paths produce identical labels (pinned by the union-find property
    test at ``local_threshold=0`` and default).

    Returns (id, label) with label = min vertex id of the component.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()

    n_edges = sym.count()
    if n_edges <= local_threshold:
        from pyspark.sql.types import LongType, StructField, StructType

        from flink_http_full_cache_connector_spark.rows import rows_table

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in sym.collect():
            ra, rb = find(r.a), find(r.b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = sorted((v, find(v)) for v in parent)
        sym.unpersist()
        schema = StructType(
            [StructField("id", LongType()), StructField("label", LongType())]
        )
        return edges.sparkSession.createDataFrame(rows_table(rows, schema), schema)
    labels = sym.select(F.col("a").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )

    sc = edges.sparkSession.sparkContext

    def _persisted_ids() -> set[int]:
        try:
            return set(dict(sc._jsc.getPersistentRDDs()))
        except Exception:
            return set()

    def _release(ids: set[int]) -> None:
        # best-effort: drop a finished round's localCheckpoint blocks now
        # rather than waiting for GC + ContextCleaner — an O(diameter)-round
        # run otherwise stacks up to `diameter` copies of the label table in
        # block-manager storage between GC cycles.
        # ASSUMPTION: the snapshot diff around localCheckpoint attributes
        # every newly-persisted RDD in that window to this loop — true for
        # the single-threaded driver this runs in; a concurrent query
        # persisting an RDD in the same SparkContext during the window
        # would get its blocks dropped.  If this ever runs multi-threaded,
        # scope by the checkpointed DataFrame's own RDD id instead.
        try:
            jmap = dict(sc._jsc.getPersistentRDDs())
            for i in ids:
                if i in jmap:
                    jmap[i].unpersist(False)
        except Exception:
            pass

    prev_ids: set[int] = set()
    for _ in range(max_iters):
        neigh = (
            sym.join(labels, sym["b"] == labels["id"])
            .select(sym["a"].alias("id"), "label")
            .groupBy("id")
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the previous label alongside the new one: convergence is a
        # filter-count on this frame, not a second join against old labels.
        # localCheckpoint (NOT persist) — each round references `labels`
        # twice, so without truncating the LOGICAL plan the tree doubles
        # per round and an O(diameter)-round graph OOMs the driver just
        # RENDERING the plan string (persist caches data but keeps the
        # nested plan).  eager=False defers the checkpoint to the count()
        # below, so truncation costs ZERO extra jobs per round — the
        # eager=True form ran a separate materialization job per round,
        # the +1.1 s dedup_canonicalize regression the r5 verdict flagged.
        pre = _persisted_ids()
        new = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("_old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.where(F.col("label") != F.col("_old")).count()
        mine = _persisted_ids() - pre
        # this round is fully materialized — the previous round's blocks
        # are now unreachable from any live plan and can be dropped
        _release(prev_ids)
        prev_ids = mine
        labels = new.drop("_old")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def _components_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh),
verts AS (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
    SELECT id, id AS r FROM verts
    UNION
    SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
)
SELECT id AS doc_id, min(r)::bigint AS component FROM reach GROUP BY id
"""


@register(
    "dedup_components",
    _components_oracle(),
    doc="Near-dup cluster assignment: connected components (min-label "
    "propagation, one join+agg shuffle per round) over the MinHash-LSH "
    "verified pair graph; oracle is a recursive-CTE transitive closure.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )


def _canonicalize_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh),
verts AS (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
    SELECT id, id AS r FROM verts
    UNION
    SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
),
comp AS (SELECT id AS doc_id, min(r)::bigint AS component FROM reach GROUP BY id),
ranked AS (
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id)::bigint AS component,
           row_number() OVER (PARTITION BY coalesce(c.component, d.doc_id)
                              ORDER BY d.n_chars DESC, d.doc_id) AS rk
    FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, component, (rk = 1) AS is_canonical,
       CASE WHEN rk = 1 THEN 'keep' ELSE 'drop' END AS action
FROM ranked
"""


@register(
    "dedup_canonicalize",
    _canonicalize_oracle(),
    doc="The production OUTPUT of near-dup dedup: one keep/drop decision "
    "per document. Canonical representative per near-dup cluster = most "
    "content (max n_chars, ties to min doc_id); every doc outside the "
    "pair graph is its own singleton and kept. Plan: the cluster table "
    "(from the LSH pair graph) is small by construction, so members get "
    "their rank from a window over a BROADCAST-joined slice while "
    "singletons pass through a broadcast anti-join — the full corpus is "
    "never shuffled, which is what makes the decision sweep affordable "
    "at 100 TB.",
)
def dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), F.col("label").alias("component")
    )
    members = docs.join(F.broadcast(comp), "doc_id").select(
        "doc_id", "component", "n_chars"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    member_out = members.select(
        "doc_id", "component", (F.row_number().over(w) == 1).alias("is_canonical")
    )
    singles = docs.join(
        F.broadcast(comp.select("doc_id")), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("doc_id").alias("component"),
        F.lit(True).alias("is_canonical"),
    )
    return member_out.unionByName(singles).withColumn(
        "action",
        F.when(F.col("is_canonical"), F.lit("keep")).otherwise(F.lit("drop")),
    )


@register(
    "streaming_dedup_watermarked",
    """
    SELECT DISTINCT user_id FROM events
    """,
    doc="dropDuplicatesWithinWatermark: streaming key dedup whose per-key "
    "state EXPIRES once the watermark passes it — the bounded-memory "
    "variant of streaming dedup (plain dropDuplicates state grows forever "
    "on an unbounded stream). Output projected to the key set, which a "
    "single availableNow pass makes value-exact against DISTINCT.",
)
def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from flink_http_full_cache_connector_spark.plans.registry import load_table

    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .transform(normalize_events_ts)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    name = f"stream_ddww_{uuid.uuid4().hex[:12]}"
    with scoped_stream_shuffle(spark):
        query = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        finalize_memory_sink,
    )

    return finalize_memory_sink(spark.table(name), name)


# ---------------------------------------------------------------------------
# embedding near-dup, LSH scale path (linear twin of dedup_embedding_cosine)
# ---------------------------------------------------------------------------

# dedup wants high recall at the (loose) 0.4-cosine near-dup threshold;
# collision probability per table is (1 - θ/π)^bits ≈ 0.063 there, so the
# dedup path runs MORE tables than the ANN path (recall 1-(1-p)^L ≈ 0.65
# at L=16 vs 0.23 at the ANN default L=4) — the standard L-vs-cost knob.
DEDUP_LSH_TABLES = 16
DEDUP_LSH_BITS = 6  # floor; grows with log2(corpus) via _lsh_bits_for()
# target mean bucket occupancy: with FIXED bits, occupancy grows linearly
# with the corpus and same-bucket candidate pairs grow QUADRATICALLY —
# measured 16.8x wall at 10x data (sf0.1→sf1, BENCH round-5 scaling run).
# Growing bits with log2(n) pins occupancy ≈ DEDUP_LSH_OCCUPANCY, making
# candidate volume ~n·L (linear).  Per-table recall shrinks by ~0.63 per
# added bit at the 0.4 threshold — tables (cost-linear) is the knob users
# raise to buy recall back at scale.
DEDUP_LSH_OCCUPANCY = 32


def _lsh_bits_for(n: int) -> int:
    """bits = max(floor, bit_length(ceil(n/occupancy) - 1)) — pure integer
    arithmetic so the SQL twin (length(bin(m-1))) matches exactly."""
    m = (n + DEDUP_LSH_OCCUPANCY - 1) // DEDUP_LSH_OCCUPANCY
    return max(DEDUP_LSH_BITS, (m - 1).bit_length() if m > 1 else 1)


def _embedding_lsh_oracle(bucket_cap: int | None = None) -> str:
    from training_data_ops.functions.vectors import duck_dot
    from training_data_ops.operators.similarity import (
        LSH_PLANE_BASE,
    )

    capped = (
        f""",
sigs_c AS (
    SELECT vec_id, table_id, bucket FROM (
        SELECT vec_id, table_id, bucket,
               count(*) OVER (PARTITION BY table_id, bucket) AS bc
        FROM sigs)
    WHERE bc <= {bucket_cap}
)"""
        if bucket_cap is not None
        else ""
    )
    sigs_name = "sigs_c" if bucket_cap is not None else "sigs"
    return f"""
WITH cfg AS (
    -- adaptive bits: integer bit-length of ceil(n/occupancy)-1, floored at
    -- {DEDUP_LSH_BITS} — the exact integer formula of _lsh_bits_for()
    SELECT greatest({DEDUP_LSH_BITS},
                    CASE WHEN m <= 1 THEN 1 ELSE length(bin(m - 1)) END)::bigint
               AS bits
    FROM (SELECT (count(*) + {DEDUP_LSH_OCCUPANCY - 1})
                     // {DEDUP_LSH_OCCUPANCY} AS m
          FROM embeddings)
),
pl AS (
    SELECT (t.p // cfg.bits) AS table_id,
           (1 << (t.p % cfg.bits))::bigint AS weight,
           list_transform(range(1, len(a.embedding) + 1),
                          i -> a.embedding[i]::double - b.embedding[i]::double) AS dv
    FROM cfg,
         unnest(range(0, {DEDUP_LSH_TABLES} * cfg.bits)) AS t(p)
    JOIN embeddings a ON a.vec_id = {LSH_PLANE_BASE} + 2 * t.p
    JOIN embeddings b ON b.vec_id = {LSH_PLANE_BASE} + 2 * t.p + 1
),
sigs AS MATERIALIZED (
    SELECT e.vec_id, pl.table_id,
           sum(CASE WHEN {duck_dot('e.embedding', 'pl.dv')} >= 0
                    THEN pl.weight ELSE 0 END)::bigint AS bucket
    FROM embeddings e CROSS JOIN pl
    GROUP BY 1, 2
){capped},
cand AS (
    SELECT DISTINCT s1.vec_id AS vec_a, s2.vec_id AS vec_b
    FROM {sigs_name} s1 JOIN {sigs_name} s2 USING (table_id, bucket)
    WHERE s1.vec_id < s2.vec_id
)
SELECT c.vec_a, c.vec_b,
       {duck_trunc6(duck_cosine('a.embedding', 'b.embedding'))} AS cos_sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {COSINE_DUP_THRESHOLD}
"""


#: GEMM-prune safety margin for the arrow kernel: the in-bucket pairwise
#: cosines are computed on a float32 vector carry (relative error ≲ 1e-5),
#: so a pair is forwarded to the exact-fold verify whenever its float32
#: cosine clears threshold − margin.  1e-3 dwarfs the float32 error by two
#: orders, so no pair whose EXACT cosine clears the threshold can be
#: pruned; the handful of margin-band extras just pay one fold each.
EMB_LSH_PRUNE_MARGIN = 1e-3


@register(
    "dedup_embedding_lsh",
    _embedding_lsh_oracle(),
    doc="Embedding near-dup at scale: random-hyperplane LSH bucketing "
    "generates same-bucket candidate pairs and only candidates pay the "
    "exact cosine verify. bits grows with log2(corpus) (integer "
    "bit-length formula, SQL twin identical) pinning mean bucket "
    "occupancy at ~32, so candidate volume is LINEAR in corpus size. "
    "Round-10 arrow kernel: the r10 sf10 profile measured the VERIFY "
    "stage at 182 s of 215 s — 63 M candidate id-pairs re-attached "
    "their 512 B vectors through two joins and paid an interpreted fold "
    "cosine each.  Verification now happens INSIDE the buckets (one "
    "numpy GEMM per (table,bucket) group over a float32 vector carry, "
    "occupancy-bounded blocks) as a PRUNE with a 1e-3 safety margin; "
    "only the ~1% survivors are distinct-ed and re-scored with the "
    "exact fold, WHICH MAKES THE FINAL DECISION — so within a fixed "
    "candidate set, GEMM ulps can only cost a wasted fold, never flip "
    "a row.  Caveat (round-10 ADVICE): the stage-1 SIGN test itself "
    "runs on a float64 GEMM whose summation order differs from the "
    "sequential fold the fold twin / oracle use, so a plane dot within "
    "~1e-12 of zero can bucket a vector differently and change the "
    "candidate SET (a pair reachable only through that bucket would be "
    "dropped, not re-folded).  Per-sign probability ~1e-15 on this "
    "corpus (see _embedding_lsh_survivors_arrow); output is "
    "bit-identical GIVEN sign-stable plane dots, which every parity "
    "fixture and 3-decade scale run has observed.  The O(n²) "
    "twin dedup_embedding_cosine is the recall baseline.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_lsh_pairs(spark, sf_dir)


#: production bucket cap for dedup_embedding_lsh_capped: 8× the pinned
#: mean occupancy (DEDUP_LSH_OCCUPANCY = 32) — far above any honest
#: near-dup cluster at the fixture scales (capped ≡ uncapped there,
#: pinned in tests) while bounding per-bucket GEMM work at cap² when a
#: real corpus concentrates a halfspace slice (boilerplate embeddings).
EMB_LSH_BUCKET_CAP = 256
#: shuffle-granularity knob: cap applyInPandas groups at 16·2^g by
#: grouping 2^(bits−g) ADJACENT buckets per group — the sf100 profile
#: measured ~1 M per-bucket groups as the survivor stage's dominant cost
#: (per-group pandas/UDF overhead, not GEMM flops).  2^10 groups per
#: table keeps every core busy at any SF while the in-group bucket split
#: is one sort + np.unique.
EMB_LSH_GROUP_BITS = 10


@register(
    "dedup_embedding_lsh_capped",
    _embedding_lsh_oracle(EMB_LSH_BUCKET_CAP),
    doc="Embedding near-dup, PRODUCTION form (round-10 verdict #3): "
    "dedup_embedding_lsh's adaptive-bits LSH + in-bucket GEMM prune + "
    f"exact-fold decision, with (a) the bucket cap ({EMB_LSH_BUCKET_CAP} "
    "= 8× target occupancy): (table, bucket) groups holding more vectors "
    "emit no pairs — a true pair is lost only if EVERY table "
    "mega-buckets it, and a mega-bucket is a halfspace slice shared by "
    "~everything (no evidence of pairwise similarity; the "
    "MINHASH_BUCKET_CAP reasoning verbatim), bounding per-bucket work "
    "at cap² on boilerplate-heavy real corpora; and (b) coarsened "
    f"shuffle groups (≤16·2^{EMB_LSH_GROUP_BITS} applyInPandas groups, "
    "adjacent buckets split in-kernel by sort + np.unique) — the sf100 "
    "profile measured the ~1 M per-bucket groups, not GEMM flops, as "
    "the survivor stage's 194.5 s cost.  Pair semantics are bucket-"
    "exact (grouping only coarsens the shuffle key); the oracle replays "
    "the cap with the identical count-window rule; capped ≡ uncapped "
    "at fixture scales.  The uncapped dedup_embedding_lsh keeps the "
    "anchor role.",
)
def dedup_embedding_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_lsh_pairs(
        spark,
        sf_dir,
        bucket_cap=EMB_LSH_BUCKET_CAP,
        group_bits=EMB_LSH_GROUP_BITS,
    )


def _embedding_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    kernel: str = "arrow",
    bucket_cap: int | None = None,
    group_bits: int | None = None,
) -> DataFrame:
    """See :func:`dedup_embedding_lsh`.  ``kernel="fold"`` keeps the pure
    expression pipeline (fold-dot signatures → id-pair bucket self-join →
    fold verify on every candidate) as the cross-check twin.
    ``bucket_cap`` / ``group_bits`` are the production knobs of
    :func:`dedup_embedding_lsh_capped` (see the arrow kernel docstring);
    the fold kernel applies the cap as a count window on the same
    (table_id, bucket) shuffle its self-join needs (the
    lsh_candidate_pairs rule) and ignores ``group_bits`` (it has no
    per-group overhead to amortize)."""
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )
    from training_data_ops.operators.similarity import (
        lsh_planes,
        lsh_signatures,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one metadata-sized count to size the hash family (SCALE.md rule 1:
    # driver actions are fine when the payload is O(1))
    bits = _lsh_bits_for(emb.count())
    planes = lsh_planes(emb, tables=DEDUP_LSH_TABLES, bits=bits)
    if kernel == "arrow":
        surv = _embedding_lsh_survivors_arrow(
            emb, planes, bits, bucket_cap=bucket_cap, group_bits=group_bits
        )
    elif kernel == "fold":
        vecs = widen(emb).select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        # candidate generation on IDS ONLY; persist: the bucket SELF-join
        # consumes sigs twice, and without a materialization Spark
        # re-executes the whole signature subtree per side (measured 2x)
        sigs = (
            lsh_signatures(vecs, planes, tables=DEDUP_LSH_TABLES)
            .select("vec_id", "table_id", "bucket")
            .persist()
        )
        if bucket_cap is not None:
            wb = Window.partitionBy("table_id", "bucket")
            sigs = sigs.withColumn("_bc", F.count("*").over(wb)).where(
                F.col("_bc") <= bucket_cap
            )
        a = sigs.select(F.col("vec_id").alias("vec_a"), "table_id", "bucket")
        b = sigs.select(F.col("vec_id").alias("vec_b"), "table_id", "bucket")
        surv = (
            a.join(b, ["table_id", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()
        )
    else:  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    # the DECISION pass — identical in both kernels: exact fold cosine on
    # the candidate/survivor pairs, threshold applied to the FOLD value
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), as_double(F.col("embedding")).alias("va")
    ).withColumn("na", norm(F.col("va")))
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), as_double(F.col("embedding")).alias("vb")
    ).withColumn("nb", norm(F.col("vb")))
    sim = cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        surv.join(ea, "vec_a")
        .join(eb, "vec_b")
        .where(sim >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", trunc6(sim).alias("cos_sim"))
    )


def _embedding_lsh_survivors_arrow(
    emb: DataFrame,
    planes: DataFrame,
    bits: int,
    *,
    bucket_cap: int | None = None,
    group_bits: int | None = None,
) -> DataFrame:
    """Distinct (vec_a, vec_b) id pairs that share a bucket AND clear the
    float32 GEMM prune at ``COSINE_DUP_THRESHOLD - EMB_LSH_PRUNE_MARGIN``
    — a SUPERSET of the fold twin's above-threshold pairs (margin ≫
    float32 error), never a miss; the exact fold downstream makes the
    decision.

    Stage 1 (map-only): sign bits via one float64 GEMM per Arrow batch
    against the collected (L·B)×dim plane matrix (metadata-sized); the
    sign test replays the fold's ``dot(v, dv) >= 0`` — float64 GEMM ulp
    noise flips a sign only for |dot| ≲ 1e-14 (pinned by the near-zero
    fixture; probability ~1e-15 per test on real data).  Emits one row
    per (vector, table) carrying the vector as float32 — half the
    shuffle bytes of the double form, and the carry feeds only the
    PRUNE, never an emitted value.

    Stage 2 (one (table,bucket) shuffle): per-bucket pairwise cosines as
    a row-blocked numpy GEMM (blocks sized so a pathological mega-bucket
    bounds memory instead of OOMing a task), emitting only pairs above
    threshold − margin.

    Production knobs (round-10 verdict #3, ``dedup_embedding_lsh_capped``):

    - ``bucket_cap``: buckets holding more than this many vectors emit NO
      pairs — the MINHASH_BUCKET_CAP discipline.  A true pair survives
      unless EVERY table mega-buckets it, and a mega-bucket (a halfspace
      slice shared by ~everything — boilerplate-heavy real corpora) is no
      evidence of pairwise similarity.  Bounds per-bucket GEMM work at
      cap² regardless of corpus shape.
    - ``group_bits``: the sf100 profile measured the survivor stage at
      194.5 s, dominated not by GEMM flops but by ~1 M applyInPandas
      GROUPS (per-group pandas/UDF overhead at 16·2^bits buckets).  With
      ``group_bits = g``, the shuffle key is (table_id, bucket >> (bits −
      g)) — at most 16·2^g groups, each holding ~2^(bits−g) ADJACENT
      buckets — and the kernel splits buckets inside the group with one
      sort + np.unique (vector work, no per-bucket pandas).  Pair
      semantics are unchanged: pairs still require the full bucket to
      match; only the shuffle granularity coarsens.

    Defaults (None, None) preserve the uncapped anchor's exact plan."""
    import numpy as np
    import pandas as pd

    pl = sorted(
        (int(r["table_id"]), int(r["weight"]), list(r["dv"]))
        for r in planes.collect()  # L*B rows — metadata-sized
    )
    DV = np.stack([np.asarray(dv, dtype=np.float64) for _, _, dv in pl])
    W = np.array([w for _, w, _ in pl], dtype=np.int64)
    T = np.array([t for t, _, _ in pl], dtype=np.int64)
    n_tables = int(T.max()) + 1 if len(T) else 0

    def _sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            bits_m = (V @ DV.T) >= 0.0  # float64 signs, fold-compatible
            contrib = bits_m * W[None, :]
            ids = pdf["vec_id"].to_numpy()
            v32 = [x.astype(np.float32) for x in pdf["v"].to_numpy()]
            out_id, out_t, out_b, out_v = [], [], [], []
            for t in range(n_tables):
                mask = T == t
                bk = contrib[:, mask].sum(axis=1)
                out_id.append(ids)
                out_t.append(np.full(len(ids), t, dtype=np.int64))
                out_b.append(bk)
                out_v.extend(v32)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "table_id": np.concatenate(out_t),
                    "bucket": np.concatenate(out_b),
                    "v32": out_v,
                }
            )

    sigs = (
        widen(emb)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .mapInPandas(
            _sig, "vec_id long, table_id long, bucket long, v32 array<float>"
        )
    )

    cut = np.float32(COSINE_DUP_THRESHOLD - EMB_LSH_PRUNE_MARGIN)
    empty = pd.DataFrame(
        {"vec_a": np.array([], dtype=np.int64),
         "vec_b": np.array([], dtype=np.int64)}
    )

    def _one_bucket(ids, V, aa, bb):
        m = len(ids)
        Vn = np.maximum(np.sqrt((V * V).sum(axis=1)), np.float32(1e-30))
        U = V / Vn[:, None]
        # row-blocked gram: block*m floats stay ≤ ~32 MB even for a
        # pathological mega-bucket (the occupancy target is ~32)
        block = max(1, (1 << 22) // m)
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            S = U[lo:hi] @ U.T
            r, c = np.nonzero(S >= cut)
            keep = (lo + r) < c  # a < b by position = by sorted vec_id
            aa.append(ids[lo + r[keep]])
            bb.append(ids[c[keep]])

    def _bucket(key, pdf):
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(["bucket", "vec_id"])
        ids_all = pdf["vec_id"].to_numpy()
        bks = pdf["bucket"].to_numpy()
        V_all = np.stack(pdf["v32"].to_numpy())
        # bucket boundaries inside the (possibly coarsened) group: one
        # sorted np.unique — vector work, no per-bucket pandas frames
        _, starts = np.unique(bks, return_index=True)
        bounds = np.append(starts, len(bks))
        aa: list = []
        bb: list = []
        for i in range(len(starts)):
            lo0, hi0 = int(bounds[i]), int(bounds[i + 1])
            m = hi0 - lo0
            if m < 2 or (bucket_cap is not None and m > bucket_cap):
                continue
            _one_bucket(ids_all[lo0:hi0], V_all[lo0:hi0], aa, bb)
        if not aa:
            return empty
        return pd.DataFrame(
            {"vec_a": np.concatenate(aa), "vec_b": np.concatenate(bb)}
        )

    shift = 0 if group_bits is None else max(0, bits - group_bits)
    if shift == 0:
        grouped = sigs.groupBy("table_id", "bucket")
    else:
        grouped = sigs.groupBy(
            "table_id", F.shiftrightunsigned(F.col("bucket"), shift).alias("_g")
        )
    return grouped.applyInPandas(_bucket, "vec_a long, vec_b long").distinct()


SIMHASH_MAX_HAMMING = 3  # < #bands: pigeonhole guarantees banded search is complete


def _simhash_pairs_oracle() -> str:
    return f"""
WITH sigs AS MATERIALIZED ({_simhash_oracle()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::int AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@register(
    "dedup_simhash_pairs",
    _simhash_pairs_oracle(),
    doc=f"SimHash near-pair search, banded (4 x 15-bit pigeonhole): with "
    f"max_hamming={SIMHASH_MAX_HAMMING} < 4 bands, any qualifying pair MUST "
    "share at least one band, so the linear banded search is provably "
    "complete — the oracle is the brute-force all-pairs Hamming scan and "
    "the results must match EXACTLY (not just recall-bounded). Fingerprint "
    "relation persisted (band self-join consumes it twice).",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = simhash(load_table(spark, sf_dir, "documents")).persist()
    return simhash_near_pairs(sigs, max_hamming=SIMHASH_MAX_HAMMING)


CONTAINMENT_THRESHOLD = 0.6


def _containment_oracle(max_df: int | None) -> str:
    return f"""
    WITH {_shingle_cte(max_df)},
    sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {duck_trunc6('i / sa.n')} AS cont_a_in_b,
           {duck_trunc6('i / sb.n')} AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / sa.n >= {CONTAINMENT_THRESHOLD}
       OR i / sb.n >= {CONTAINMENT_THRESHOLD}
    """


def _containment(
    spark: SparkSession, sf_dir: str, *, max_df: int | None = None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fp join key, same rationale as _ngram_jaccard (round-8 verdict #5)
    sh = _shingle_table(docs, max_df=max_df).select("doc_id", "fp").persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sh.select(F.col("doc_id").alias("doc_b"), "fp")
    inter = (
        a.join(b, on=["fp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont_ab = F.col("i") / F.col("na")
    cont_ba = F.col("i") / F.col("nb")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            (cont_ab >= CONTAINMENT_THRESHOLD) | (cont_ba >= CONTAINMENT_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            trunc6(cont_ab).alias("cont_a_in_b"),
            trunc6(cont_ba).alias("cont_b_in_a"),
        )
    )


@register(
    "dedup_containment",
    _containment_oracle(None),
    doc="Asymmetric shingle containment |A∩B|/|A| — the near-dup measure "
    "symmetric Jaccard structurally misses: a short document quoted inside "
    "a long one has high containment but low Jaccard (and minhash-LSH, "
    "which estimates Jaccard, cannot recall it). Candidate generation is "
    "the shingle-hash equi-join itself: one shuffle keyed on the (uniform, "
    "high-cardinality) shingle value, pair aggregation collapses "
    "co-occurrences map-side — the boilerplate/quote-detection pass of a "
    "corpus cleanup. Both directions emitted when either crosses the "
    "threshold.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment(spark, sf_dir)


@register(
    "dedup_containment_capped",
    _containment_oracle(MAX_SHINGLE_DF),
    doc=f"df-capped containment (max_df={MAX_SHINGLE_DF}): the stop-shingle "
    "anti-join bounds the Σdf² pair explosion the uncapped baseline pays — "
    "containment scores are computed over the non-boilerplate shingle sets "
    "(which is also the semantically better measure: chrome/license "
    "shingles no longer fake containment). Oracle applies the identical "
    "cap. This is the production shape for 100 TB corpora.",
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment(spark, sf_dir, max_df=MAX_SHINGLE_DF)


# ---------------------------------------------------------------------------
# semantic dedup: cluster-bounded representative selection (SemDeDup-style)
# ---------------------------------------------------------------------------

#: within-cluster near-dup threshold.  Lower than COSINE_DUP_THRESHOLD on
#: purpose: semantic dedup prunes *redundant* examples (same region of
#: embedding space), not just verbatim twins — the published recipe
#: (Abbas et al. 2023, "SemDeDup") uses an aggressive in-cluster epsilon.
SEMANTIC_DUP_THRESHOLD = 0.3
SEMANTIC_MIN_CELLS = 16


def semantic_cells_for(n: int) -> int:
    """cells = max(min_cells, isqrt(n)).

    √n balances the two cost terms of flat cluster-bounded dedup —
    assignment is n·C cosines, in-cell pair checking is n·(n/C) — at the
    optimal n^1.5 total; growing C any slower makes pair volume blow up
    quadratically, any faster and assignment does.  ``math.isqrt`` is
    exact; the SQL twin floors ``sqrt(n::double)`` and then corrects the
    ±1 double-rounding cases with integer comparisons, so both engines
    compute the identical cell count for every n.
    """
    return max(SEMANTIC_MIN_CELLS, math.isqrt(n))


def _semantic_oracle() -> str:
    sim_uv = duck_cosine("u.v", "v.v")
    return f"""
WITH params AS (
    -- exact integer sqrt: floor(sqrt) corrected for double rounding
    SELECT greatest({SEMANTIC_MIN_CELLS},
                    s - CASE WHEN s * s > n THEN 1 ELSE 0 END
                      + CASE WHEN (s + 1) * (s + 1) <= n THEN 1 ELSE 0 END
           )::bigint AS c
    FROM (SELECT n, floor(sqrt(n::double))::bigint AS s
          FROM (SELECT count(*) AS n FROM embeddings))
),
cent AS (
    SELECT vec_id AS cent_id, embedding AS cv
    FROM embeddings, params WHERE vec_id < params.c
),
scored AS (
    SELECT e.vec_id, c.cent_id, e.embedding AS v,
           {duck_cosine('e.embedding', 'c.cv')} AS sim
    FROM embeddings e CROSS JOIN cent c
),
assign AS MATERIALIZED (
    SELECT vec_id, cent_id AS cell_id, v, sim AS cent_sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
        FROM scored) WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT v.vec_id
    FROM assign u JOIN assign v
      ON u.cell_id = v.cell_id
     AND (u.cent_sim < v.cent_sim
          OR (u.cent_sim = v.cent_sim AND u.vec_id < v.vec_id))
    WHERE {sim_uv} >= {SEMANTIC_DUP_THRESHOLD}
)
SELECT a.vec_id, a.cell_id::int AS cell_id,
       {duck_trunc6('a.cent_sim')} AS cent_sim,
       (d.vec_id IS NULL) AS is_kept
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


@register(
    "dedup_semantic",
    _semantic_oracle(),
    doc="Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): "
    "k-means-style cells bound the pairwise search, then within each cell "
    "an example is dropped when a LOWER-ordered clustermate sits within "
    "epsilon cosine — order is (centroid_sim ASC, vec_id), so the kept "
    "representative of every redundancy group is the one FARTHEST from "
    "the centroid, the paper's best-performing keep policy.  Cell count "
    "= isqrt(n) (exact integer sqrt, same value in the SQL twin), which "
    "balances the n·C assignment term against the n·(n/C) in-cell pair "
    "term at the optimal n^1.5 flat-clustering total — never all-pairs; "
    "a two-level (coarse-quantizer) assignment is the documented "
    "extension that takes the assignment term to n·√C at extreme "
    "corpus sizes.  Plan: broadcast centroid "
    "assignment with a map-side max_by partial agg (one shuffle per "
    "vector); candidate generation self-joins SLIM rows (ids + the "
    "ordering double, never vectors — wide rows through the pair shuffle "
    "sort is the exact memory anti-pattern dedup_embedding_lsh documents), "
    "then two uniform vec_id joins re-attach each vector once for the "
    "epsilon check.  Reference has no dedup surface (SURVEY.md §2.C); "
    "this is §2.D scope.  MEASURED super-linear (sf10 spot sweep: 74x "
    "wall at 10x data — the n^1.5 law is an observation, not a "
    "docstring caveat), hence a baseline: dedup_semantic_2level is "
    "the production twin (n/B cells through a coarse quantizer, "
    "near-linear); this flat form remains the correctness anchor the "
    "two-level variant's keep policy is verified against.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one metadata-sized count to size the cell grid (SCALE.md rule 1)
    cells = semantic_cells_for(emb.count())
    cent = emb.where(F.col("vec_id") < cells).select(
        F.col("vec_id").alias("cent_id"), as_double(F.col("embedding")).alias("cv")
    )
    # SLIM assignment: unlike ivf_assign (whose max_by struct carries the
    # vector, forcing a SORT aggregate over the n×C expansion — fine at
    # C=16, deadly when C grows with the corpus), every aggregated value
    # here is scalar, so Spark hash-aggregates with map-side combine and
    # the shuffle carries ONE (vec_id, cell_id, cent_sim) row per vector
    v = widen(emb).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    sim = cosine_with_norms(F.col("v"), F.col("cv"), F.col("nv"), norm(F.col("cv")))
    order = F.struct(F.col("sim"), (-F.col("cent_id")).alias("neg"))
    assign = (
        v.join(F.broadcast(cent))
        .select("vec_id", "cent_id", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(F.col("cent_id"), order).alias("cell_id"),
            F.max(F.col("sim")).alias("cent_sim"),
        )
        .persist()  # feeds both self-join sides + the output
    )
    return _semantic_prune(emb, assign)


SEMANTIC_COARSE_MIN = 4
#: target in-cell population for the two-level variant.  With the coarse
#: quantizer paying only ~2√C assignment cosines per vector, the cell count
#: no longer needs to stay at √n for balance: C = n/B bounds in-cell pair
#: work at n·B and total cost at ~n·(B + 2√(n/B)) — near-linear, where the
#: flat variant's C = √n is stuck at the n^1.5 optimum.  B trades recall
#: (smaller cells split redundancy groups) against cost; 64 matches the
#: SemDeDup paper's ~n/C cluster-size regime.  Measured at generated sf10
#: (200 k vectors): the √n sizing put BOTH variants at ~65-74× for 10×
#: data (pair term n²/C dominating); n/64 cells cut the 2-level variant's
#: candidate pairs from 208 M to ~n·B-scale (see SCALE.md round-6 section).
SEMANTIC_CELL_TARGET = 64


def semantic_2level_cells_for(n: int) -> int:
    """fine cells for the two-level variant: max(min_cells, n // B)."""
    return max(SEMANTIC_MIN_CELLS, n // SEMANTIC_CELL_TARGET)


def semantic_coarse_for(cells: int) -> int:
    """coarse cells = max(min, isqrt(C)) — the IVF coarse-quantizer width.

    Two-level assignment visits √C coarse centroids, then the ~C/√C = √C
    fine centroids of the winning coarse cell: n·2√C cosines total versus
    the flat variant's n·C."""
    return max(SEMANTIC_COARSE_MIN, math.isqrt(cells))


def _semantic_assign_ctes(n_where: str = "") -> str:
    """The WITH-body prefix (params → coarse/fine grids → top-2 coarse
    probe → fine assignment) shared by the 2-level SemDeDup oracle and
    the prototype-pruning oracle — both consume the same ``assign``
    relation (vec_id, cell_id, v, cent_sim).

    ``n_where``: optional SQL predicate restricting the corpus COUNT the
    grid is sized from (the incremental twin sizes cells/k from the
    HISTORY cohort — the standing index predates the batch — while
    centroid selection and assignment still read the full table: ids
    below ``cells`` are forced into the history split by construction,
    and frozen-index assignment is per-vector, so assigning the union
    through the history-sized grid IS the incremental semantics)."""
    n_filter = f" WHERE {n_where}" if n_where else ""
    return f"""params AS (
    -- C = max(min_cells, n div B); K = exact isqrt(C)
    SELECT c, greatest({SEMANTIC_COARSE_MIN},
                    t - CASE WHEN t * t > c THEN 1 ELSE 0 END
                      + CASE WHEN (t + 1) * (t + 1) <= c THEN 1 ELSE 0 END
           )::bigint AS k
    FROM (SELECT c, floor(sqrt(c::double))::bigint AS t FROM (
          SELECT greatest({SEMANTIC_MIN_CELLS},
                          n // {SEMANTIC_CELL_TARGET})::bigint AS c
          FROM (SELECT count(*) AS n FROM embeddings{n_filter})))
),
coarse AS (
    SELECT vec_id AS co_id, embedding AS qv
    FROM embeddings, params WHERE vec_id < params.k
),
fine AS (
    SELECT vec_id AS cent_id, embedding AS cv
    FROM embeddings, params WHERE vec_id < params.c
),
fine_grouped AS MATERIALIZED (
    -- each fine centroid joins the coarse cell it is nearest to; fine
    -- centroid j < k anchors its own coarse cell (orphan-proofing, same
    -- CASE rule as two_level_index)
    SELECT g.cent_id,
           CASE WHEN g.cent_id < p.k THEN g.cent_id ELSE g.co_id END AS co_id,
           g.cv
    FROM (
        SELECT cent_id, co_id, cv FROM (
            SELECT f.cent_id, c.co_id, f.cv,
                   row_number() OVER (
                       PARTITION BY f.cent_id
                       ORDER BY {duck_cosine('f.cv', 'c.qv')} DESC, c.co_id) AS rn
            FROM fine f CROSS JOIN coarse c) WHERE rn = 1
    ) g, params p
),
v_coarse AS MATERIALIZED (
    -- stage 1: every vector keeps its TOP-2 coarse cells (multi-probe —
    -- the balanced assignment, round-7 verdict #2)
    SELECT vec_id, co_id, v FROM (
        SELECT e.vec_id, c.co_id, e.embedding AS v,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {duck_cosine('e.embedding', 'c.qv')} DESC, c.co_id
               ) AS rn
        FROM embeddings e CROSS JOIN coarse c) WHERE rn <= 2
),
assign AS MATERIALIZED (
    -- stage 2: best fine centroid across BOTH probed coarse cells
    SELECT vec_id, cent_id AS cell_id, v, sim AS cent_sim FROM (
        SELECT vc.vec_id, fg.cent_id, vc.v,
               {duck_cosine('vc.v', 'fg.cv')} AS sim,
               row_number() OVER (
                   PARTITION BY vc.vec_id
                   ORDER BY {duck_cosine('vc.v', 'fg.cv')} DESC, fg.cent_id
               ) AS rn
        FROM v_coarse vc JOIN fine_grouped fg ON fg.co_id = vc.co_id
    ) WHERE rn = 1
)"""


def _semantic_2level_oracle() -> str:
    sim_uv = duck_cosine("u.v", "v.v")
    return f"""
WITH {_semantic_assign_ctes()},
dropped AS (
    SELECT DISTINCT v.vec_id
    FROM assign u JOIN assign v
      ON u.cell_id = v.cell_id
     AND (u.cent_sim < v.cent_sim
          OR (u.cent_sim = v.cent_sim AND u.vec_id < v.vec_id))
    WHERE {sim_uv} >= {SEMANTIC_DUP_THRESHOLD}
)
SELECT a.vec_id, a.cell_id::int AS cell_id,
       {duck_trunc6('a.cent_sim')} AS cent_sim,
       (d.vec_id IS NULL) AS is_kept
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


@register(
    "dedup_semantic_2level",
    _semantic_2level_oracle(),
    doc="Two-level (coarse-quantizer) SemDeDup — the scale extension "
    "dedup_semantic's docstring names, with the cell count the coarse "
    "quantizer UNLOCKS: C = n/B fine cells (B=64 target members — "
    "bounded in-cell pair work n·B) instead of the flat variant's "
    "C = √n, because assignment through K = isqrt(C) coarse cells costs "
    "only n·(K + C/K) ≈ n·2√C cosines regardless of C.  Total "
    "~n·(B + 2√(n/B)) — near-linear, where flat is pinned at the n^1.5 "
    "balance point (measured at generated sf10: √n sizing sent both "
    "variants to 65-74× wall for 10× data, the pair term n²/C "
    "dominating and funnel skew inflating it 2.3× further; n/B sizing "
    "is the fix, SCALE.md round-6).  Assignment MULTI-PROBES the top-2 "
    "coarse cells (coarse_probes=2, round-7 verdict #2): stage 2 picks "
    "the best fine centroid across both cells' fine sets, flattening "
    "the coarse→fine funnel skew the sf10 probe measured at 2.3x — for "
    "2x stage-2 cosines (~n·2C/K, still never n·C); the top-2 coarse "
    "selection is a zero-shuffle map-side fold over the broadcast "
    "centroid array.  Every fine centroid is "
    "pre-assigned to its nearest coarse cell (C×K metadata-sized work); "
    "at corpus sizes where the C-row fine table outgrows broadcast "
    "comfort, stage 2's broadcast becomes a co_id-keyed shuffle join — "
    "same plan shape, documented extension.  The keep policy inside the "
    "final cells is UNCHANGED (cent_sim ASC, vec_id — farthest from "
    "centroid kept first); only the cell a vector lands in can differ "
    "from the flat variant (standard IVF approximation: the globally "
    "nearest fine centroid may live in a losing coarse cell).  Every "
    "coarse cell is non-empty by CONSTRUCTION, independent of floating "
    "point: fine centroid j < K is pinned to its own coarse cell j "
    "(two_level_index CASE rule, replayed by the oracle) — a "
    "colinear-but-scaled duplicate centroid beating the self-pair by an "
    "ulp can therefore never orphan a cell and silently drop rows "
    "(round-7 ADVICE fix).  Both argmax "
    "stages are scalar max_by hash aggregates (map-side combine, one "
    "slim row per vector through each shuffle); the vector is re-attached "
    "once by a uniform vec_id join between the stages.  Oracle replays "
    "coarse assignment, fine-within-coarse assignment, and the drop rule "
    "with the identical fold order and tie-breaks.  Hash-gate residual: "
    "the arrow index kernel's GEMM dots sum in a different order than "
    "the oracle's fold — a sub-1e-16-relative near-tie in the C×K "
    "fine→coarse argmax could shift a cell (two_level_index docstring; "
    "1e-14 parity pinned, one-time arrow-vs-fold spot-check advised on "
    "large generated corpora before trusting a hash gate).",
)
def dedup_semantic_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one metadata-sized count sizes both grid levels (SCALE.md rule 1)
    cells = semantic_2level_cells_for(emb.count())
    k = semantic_coarse_for(cells)
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    # coarse_probes=2: the balanced assignment — stage 2 picks the best
    # fine centroid across the top-2 coarse cells, flattening the
    # coarse→fine funnel skew the sf10 sweep measured at 2.3x (the
    # residual super-unit term of this operator's 18x/10x ratio)
    assign = two_level_assign(
        emb, coarse, fine_grouped, coarse_probes=2
    ).persist()
    # persist: assign feeds both self-join sides + the output
    return _semantic_prune(emb, assign)


def semantic_index_save(
    hist: DataFrame, out_dir: str, *, cells: int, k: int
) -> None:
    """Persist the standing SemDeDup two-level index for the historical
    corpus — the ``two_level_index_save`` layout adapted to the semantic
    family (grid sized by the caller from the HISTORY count, not
    re-derived, because the incremental contract freezes the grid the
    history was indexed under):

    - ``coarse`` / ``fine``: the quantizer relations (K and C rows);
    - ``assign``: (vec_id, cell_id, cent_sim) partitioned by co_id —
      K = isqrt(C) directories at any corpus size (never a dir per fine
      cell: the small-files antipattern) — and sorted within partitions
      by cell_id so a touched-cell probe prunes partitions to the
      batch's coarse cells and row-groups to its fine cells.  Vectors
      are NOT stored: the prune re-attaches them from the corpus table
      by a uniform vec_id join, which semi-joins history bytes down to
      touched-cell members only."""
    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    from concurrent.futures import ThreadPoolExecutor

    coarse, fine_grouped = two_level_index(hist, cells=cells, k=k)
    cell_map = fine_grouped.select(
        F.col("cent_id").alias("cell_id"), "co_id"
    )
    # the coarse/fine quantizer writes are K- and C-row jobs sharing
    # nothing with the corpus-sized assignment chain — overlap them on a
    # second driver thread so the store build's wall is
    # max(assign, coarse+fine) instead of the sum (guide §2.6, the
    # posting_segments_save / minhash_store_save discipline).  Invariant:
    # no session-conf mutation may overlap the pooled writes (SQL conf is
    # session-wide across Python threads); all three jobs only WRITE to
    # disjoint dirs.
    def _quantizers() -> None:
        coarse.write.mode("overwrite").parquet(f"{out_dir}/coarse")
        fine_grouped.select("cent_id", "co_id", "cv", "nc").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/fine")

    with ThreadPoolExecutor(max_workers=1) as pool:
        q_fut = pool.submit(_quantizers)
        (
            two_level_assign(hist, coarse, fine_grouped, coarse_probes=2)
            .join(F.broadcast(cell_map), "cell_id")  # C rows: metadata-sized
            .sortWithinPartitions("co_id", "cell_id")
            .write.mode("overwrite")
            .partitionBy("co_id")
            .parquet(f"{out_dir}/assign")
        )
        q_fut.result()


def _semantic_incr_oracle() -> str:
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )

    sim_uv = duck_cosine("u.v", "v.v")
    ctes = _semantic_assign_ctes(
        n_where=f"vec_id % {NEW_BATCH_MOD} <> 0"
    )
    return f"""
WITH {ctes},
dropped AS (
    SELECT DISTINCT v.vec_id
    FROM assign u JOIN assign v
      ON u.cell_id = v.cell_id
     AND (u.cent_sim < v.cent_sim
          OR (u.cent_sim = v.cent_sim AND u.vec_id < v.vec_id))
    WHERE {sim_uv} >= {SEMANTIC_DUP_THRESHOLD}
)
SELECT a.vec_id, a.cell_id::int AS cell_id,
       {duck_trunc6('a.cent_sim')} AS cent_sim,
       (d.vec_id IS NULL) AS is_kept
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id, params p
WHERE a.vec_id % {NEW_BATCH_MOD} = 0 AND a.vec_id >= p.c
"""


@register(
    "dedup_semantic_incremental",
    _semantic_incr_oracle(),
    doc="Incremental-ingest SemDeDup (the dedup_minhash_incremental / "
    "sim_ann_ivf_incremental discipline applied to the semantic family): "
    "the standing two-level index is built from the HISTORY cohort "
    "(grid sized from the history count — the index predates the batch; "
    "centroid ids are forced into history exactly as sim_ann_ivf_"
    "incremental keeps centroid ids in its base split) and persisted "
    "(semantic_index_save: coarse/fine + co_id-partitioned cell-sorted "
    "assignment).  The incoming batch (vec_id % 5 == 0, ids >= C) is "
    "drift-gated with the same cross-dim-fraction rule as the IVF "
    "ingest, then ASSIGNED THROUGH THE FROZEN INDEX; the SemDeDup drop "
    "rule runs over store-members ∪ batch restricted to the batch's "
    "TOUCHED cells (a left-semi probe of the store — partition-pruned "
    "to the touched coarse cells, row-group-skipped to the touched fine "
    "cells), and the output is the batch rows' keep flags.  Frozen-"
    "index assignment is per-vector, so store ∪ batch assignment IS "
    "full-corpus assignment through the history grid, and a batch row's "
    "drop decision sees exactly its cell's full membership: the oracle "
    "replays full-corpus assignment over the HISTORY-sized grid and "
    "restricts to batch ids — the hash match proves ingest ≡ "
    "from-scratch-on-frozen-index.  Marginal cost per ingest: "
    "batch·2√C assignment cosines + touched-cell members (≈B=64 per "
    "touched cell) through one B²-bounded GEMM prune; history×history "
    "pair work is never repaid.  A drifted batch takes the retrain "
    "branch (rebuild on the union — exercised on crafted shifted data "
    "in tests; this synthetic corpus never drifts past the fraction).",
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import time

    from training_data_ops.operators.scale import (
        record_phase,
    )
    from training_data_ops.operators.similarity import (
        cohort_drift_flags,
        two_level_assign,
        two_level_index,
    )
    from training_data_ops.operators.substring_dedup import (
        NEW_BATCH_MOD,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # grid sized from the history cohort ONLY (the standing index
    # predates the batch); ids below C are then forced into history so
    # centroid selection never reaches into the batch — the non-circular
    # two-step the oracle replays
    n_hist0 = emb.where(F.col("vec_id") % NEW_BATCH_MOD != 0).count()
    cells = semantic_2level_cells_for(n_hist0)
    k = semantic_coarse_for(cells)
    is_base = (F.col("vec_id") % NEW_BATCH_MOD != 0) | (
        F.col("vec_id") < cells
    )
    hist = emb.where(is_base)
    batch = emb.where(~is_base)
    work = tempfile.mkdtemp(prefix="spark_graft_sem_store_")
    _t0 = time.perf_counter()
    # the drift gate (one emb pass + a dims-sized agg) shares nothing
    # with the index build — run it on a second driver thread so the
    # ingest pays max(build, gate) instead of the sum (guide §2.6; r11
    # verdict #3 "fold the drift-gate first() into the build window").
    # Neither side mutates session conf (the pooled-write invariant).
    from concurrent.futures import ThreadPoolExecutor

    def _gate():
        # same drift gate as sim_ann_ivf_incremental: per-dim int8 flags
        # detect, the cross-dim fraction decides (retrain iff >1/3 flag)
        return (
            cohort_drift_flags(widen(emb), is_base)
            .agg(
                F.sum(F.col("drifted").cast("long")).alias("n_drifted"),
                F.count("*").alias("n_dims"),
            )
            .first()
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        gate_fut = pool.submit(_gate)
        semantic_index_save(hist, work, cells=cells, k=k)
        row = gate_fut.result()
    record_phase("build_s", time.perf_counter() - _t0)
    if 3 * row["n_drifted"] > row["n_dims"]:
        # drifted ingest: rebuild on the union, union-sized grid (the
        # crafted-shift test exercises this branch; the synthetic corpus
        # never takes it)
        cells_u = semantic_2level_cells_for(emb.count())
        k_u = semantic_coarse_for(cells_u)
        coarse, fine_grouped = two_level_index(emb, cells=cells_u, k=k_u)
        assign = two_level_assign(
            emb, coarse, fine_grouped, coarse_probes=2
        ).persist()
        return _semantic_prune(emb, assign).where(
            (F.col("vec_id") % NEW_BATCH_MOD == 0)
            & (F.col("vec_id") >= cells)
        )

    coarse = spark.read.parquet(f"{work}/coarse")
    fine_grouped = spark.read.parquet(f"{work}/fine")
    batch_assign = two_level_assign(
        batch, coarse, fine_grouped, coarse_probes=2
    ).persist()
    touched = batch_assign.select("cell_id").distinct()
    store = spark.read.parquet(f"{work}/assign").select(
        "vec_id", F.col("cell_id").cast("long").alias("cell_id"), "cent_sim"
    )
    members = (
        store.join(touched, "cell_id", "left_semi")
        .unionByName(batch_assign)
        .persist()
    )
    return _semantic_prune(emb, members).where(
        (F.col("vec_id") % NEW_BATCH_MOD == 0) & (F.col("vec_id") >= cells)
    )


def _semantic_prune(
    emb: DataFrame, assign: DataFrame, *, kernel: str = "arrow"
) -> DataFrame:
    """Shared SemDeDup within-cell drop rule over an ``assign`` relation
    ``(vec_id, cell_id, cent_sim)`` (persisted by the caller).

    ``kernel="arrow"`` (default since the round-8 sf100 profile) computes
    every cell's pairwise-cosine block as ONE numpy GEMM inside
    ``applyInPandas`` grouped on cell_id — the fold form below evaluates
    n·B pair cosines on the interpreted HOF path (CodegenFallback) and
    was the dominant residual of dedup_semantic_2level at sf100 (305 s
    total).  The earlier-rule and drop decision use the EXACT ``cent_sim``
    values the assignment emitted (fold-re-scored, bit-identical to the
    SQL twin); only the ≥ ε pair comparison rides numpy doubles, whose
    few-ulp difference from the fold matters only for a pair sitting
    within ~1e-15 of the threshold.  Cell blocks are B²-bounded (B=64
    target members; the flat baseline's √n cells stay comfortably in a
    task).  The ``"fold"`` kernel is the pure-JVM reference: slim id-pair
    self-join on cell_id ordered by (cent_sim ASC, vec_id), vectors
    re-attached by two uniform vec_id joins for the epsilon check."""
    if kernel == "arrow":
        return _semantic_prune_arrow(emb, assign)
    if kernel != "fold":  # pragma: no cover
        raise ValueError(f"kernel must be 'arrow' or 'fold', got {kernel}")
    from training_data_ops.functions.vectors import (
        cosine_with_norms,
        norm,
    )

    u = assign.select(
        "cell_id", F.col("vec_id").alias("uid"), F.col("cent_sim").alias("us")
    )
    v = assign.select(
        "cell_id", F.col("vec_id").alias("vid"), F.col("cent_sim").alias("vs")
    )
    earlier = (F.col("us") < F.col("vs")) | (
        (F.col("us") == F.col("vs")) & (F.col("uid") < F.col("vid"))
    )
    pairs = u.join(v, "cell_id").where(earlier).select("uid", "vid")
    ea = emb.select(
        F.col("vec_id").alias("uid"), as_double(F.col("embedding")).alias("uv")
    ).withColumn("un", norm(F.col("uv")))
    eb = emb.select(
        F.col("vec_id").alias("vid"), as_double(F.col("embedding")).alias("vv")
    ).withColumn("vn", norm(F.col("vv")))
    pair_sim = cosine_with_norms(F.col("uv"), F.col("vv"), F.col("un"), F.col("vn"))
    dropped = (
        pairs.join(ea, "uid")
        .join(eb, "vid")
        .where(pair_sim >= SEMANTIC_DUP_THRESHOLD)
        .select(F.col("vid").alias("vec_id"))
        .distinct()
        .withColumn("is_kept", F.lit(False))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell_id").cast("int").alias("cell_id"),
            trunc6(F.col("cent_sim")).alias("cent_sim"),
            F.coalesce(F.col("is_kept"), F.lit(True)).alias("is_kept"),
        )
    )


def _semantic_prune_arrow(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """Arrow kernel for :func:`_semantic_prune` — see its docstring."""
    import numpy as np
    import pandas as pd

    att = assign.join(
        widen(emb).select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ),
        "vec_id",
    )

    def _cell(key, pdf):
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        V = np.stack(pdf["v"].to_numpy())
        Vn = np.sqrt((V * V).sum(axis=1))
        S = (V @ V.T) / (Vn[:, None] * Vn[None, :])
        cs = pdf["cent_sim"].to_numpy()
        # earlier[u, v]: u precedes v under (cent_sim ASC, vec_id ASC) —
        # the keep-the-farthest-from-centroid-first rule
        earlier = (cs[:, None] < cs[None, :]) | (
            (cs[:, None] == cs[None, :]) & (ids[:, None] < ids[None, :])
        )
        dup = (S >= SEMANTIC_DUP_THRESHOLD) & earlier
        return pd.DataFrame({"vec_id": ids[dup.any(axis=0)]})

    dropped = (
        att.groupBy("cell_id")
        .applyInPandas(_cell, "vec_id long")
        .withColumn("is_kept", F.lit(False))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell_id").cast("int").alias("cell_id"),
            trunc6(F.col("cent_sim")).alias("cent_sim"),
            F.coalesce(F.col("is_kept"), F.lit(True)).alias("is_kept"),
        )
    )


#: fraction of each cell pruned as "too prototypical", in exact ppm —
#: the drop count per cell is the INTEGER floor(cnt * ppm / 1e6), so both
#: engines decide membership with integer arithmetic, never a float cut.
PROTO_PRUNE_PPM = 250_000


@register(
    "corpus_prune_prototypes",
    f"""
WITH {{ctes}},
sized AS (
    SELECT vec_id, cell_id, cent_sim,
           row_number() OVER (
               PARTITION BY cell_id ORDER BY cent_sim DESC, vec_id) AS rn,
           count(*) OVER (PARTITION BY cell_id) AS cnt
    FROM assign
)
SELECT vec_id, cell_id::int AS cell_id,
       {duck_trunc6('cent_sim')} AS cent_sim,
       (rn > (cnt * {PROTO_PRUNE_PPM}) // 1000000) AS is_kept
FROM sized
""".format(ctes=_semantic_assign_ctes()),
    doc="Prototypicality pruning (Sorscher et al. 2022 'Beyond neural "
    "scaling laws' / the SemDeDup-family keep-the-hard-examples rule): "
    "within every fine cell of the SAME corpus-scaled two-level "
    "quantizer dedup_semantic_2level uses, the 25% of members MOST "
    "similar to their centroid (cent_sim DESC, vec_id tie-break) are "
    "marked dropped — prototypical near-redundant points the cluster "
    "already represents — and the diverse tail is kept.  This is the "
    "complement of semantic DEDUP: no pair threshold, no self-join at "
    "all — the decision is per-row against the cell's rank/count, so "
    "the whole operator is the two assignment shuffles plus ONE "
    "cell-keyed window over cells bounded at ~B=64 members (cnt*ppm "
    "integer floor keeps the cut engine-exact).  At 100 TB this is the "
    "cheapest member of the family: cost ≡ assignment cost, and the "
    "keep fraction is a tunable data-budget knob (25% here).",
)
def corpus_prune_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = semantic_2level_cells_for(emb.count())
    k = semantic_coarse_for(cells)
    coarse, fine_grouped = two_level_index(emb, cells=cells, k=k)
    assign = two_level_assign(emb, coarse, fine_grouped, coarse_probes=2)
    wc = Window.partitionBy("cell_id")
    w = wc.orderBy(F.col("cent_sim").desc(), "vec_id")
    return (
        assign.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wc))
        .select(
            "vec_id",
            F.col("cell_id").cast("int").alias("cell_id"),
            trunc6(F.col("cent_sim")).alias("cent_sim"),
            (
                F.col("rn")
                > F.expr(f"(cnt * {PROTO_PRUNE_PPM}) div 1000000")
            ).alias("is_kept"),
        )
    )
