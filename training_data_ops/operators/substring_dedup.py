"""Exact-substring (span-level) dedup — the suffix-array dedup of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") re-expressed as Spark dataflow.

Document-level dedup (dedup.py: exact / minhash / simhash / containment)
keeps or drops WHOLE documents; the span-level form finds the duplicated
*regions* — boilerplate headers, license blocks, quoted passages — and can
scrub just those tokens while keeping the surrounding novel text.  The
published implementation builds one giant suffix array; that is a
single-machine construction.  The Spark-first equivalent:

1. every token position emits the md5 fingerprint of the ``K``-token
   window starting there (map-side ``transform`` over the token array —
   no join, no self-comparison, one row per position);
2. ONE partial-agg shuffle on the fingerprint finds windows occurring in
   ≥ 2 distinct documents (cross-document duplication — the corpus-dedup
   flavor; a phrase repeated only inside one document is not a dup here);
3. a per-document gaps-and-islands window coalesces consecutive duplicated
   window starts into MAXIMAL duplicated spans — exactly the runs the
   suffix-array walk would emit, because a shared substring of length
   L ≥ K is shared at every one of its L-K+1 window starts.

Scale shape: the fingerprint agg and the fingerprint join-back are both
keyed on md5 values (uniform by construction; a boilerplate window shared
by millions of docs makes a hot JOIN key — linear fan-out, never
quadratic, and AQE's skew split handles the partition balance).  The
islands window partitions by doc_id — bounded by document length, never
by corpus.  The scrub's drop-position explode is ≤ K rows per duplicated
window occurrence, and the final reassembly is one doc_id shuffle.

Cross-engine exactness: positions are 1-based integers in both engines;
fingerprints are md5 hex over the identical space-joined window string;
the canonical copy (the ONE occurrence of each duplicated window that
survives the scrub) is the lexicographic minimum of (doc_id, pos) —
integer comparisons only, so no float and no engine tie-break anywhere.

Reference anchor: the reference connector has no text operators at all
(SURVEY.md §2.C) — this family is driver-mandated §2.D scope, cited to
the public ExactSubstr design, not to reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from training_data_ops.functions.tokenize import TOKEN_DELIM_RE
from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

__all__ = [
    "SUBSTR_K",
    "NEW_BATCH_MOD",
    "token_positions",
    "kgram_positions",
    "duplicated_spans",
    "scrub_duplicated_spans",
    "incremental_span_hits",
]

#: Window width in tokens.  Lee et al. use 50 BPE tokens ≈ 30–40 words on
#: web text; the engine fixtures are 10–100-word synthetic docs, so the
#: registered queries pin K=8 — long enough that random 30-word-vocab
#: collisions are ~30^-8, short enough that the planted near-duplicate
#: pairs (TESTDATA.md: ~5 % carry copied runs) are actually found.
SUBSTR_K = 8

_DUCK_TOKS = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"


def _tok_array(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.split(F.trim(F.col("text")), TOKEN_DELIM_RE).alias("toks")
    )


def token_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) with 1-based positions."""
    return (
        _tok_array(docs)
        .select("doc_id", F.posexplode("toks").alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "tok")
    )


def kgram_positions(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, pos, fp) — md5 of the k-token window starting at each
    1-based position ``pos`` ≤ len-k+1.  Built map-side from the token
    array (``transform`` over a bounded index sequence, then one
    posexplode) — the corpus never self-joins to form windows."""
    n = F.size("toks")
    windows = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        _tok_array(docs)
        .select("doc_id", F.posexplode(windows).alias("pos0", "fp"))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "fp")
    )


def _annotated_kgrams(kg: DataFrame) -> DataFrame:
    """``kg`` with per-fingerprint annotations computed in ONE fp-keyed
    window pass: ``_mn``/``_mx`` (min/max doc_id sharing the window — the
    cross-document test is ``_mn != _mx``, exactly ``countDistinct >= 2``
    for the ≥2 rule since doc_id is total-ordered) and ``_c`` (the
    canonical lexicographic-min (doc_id, pos) occurrence).

    This shape exists for scale (round-8 sf10 sweep): the first draft
    derived the duplicated-fp set with a countDistinct aggregate and
    joined it back to a SECOND evaluation of ``kg`` — Catalyst gave the
    two subtrees no exchange reuse, so the dominant map cost (md5 over
    every k-token window ≈ K× the corpus bytes) ran twice, the distinct
    aggregate added an expand + two exchanges, and the dup-fp set came
    back as a BROADCAST (under real boilerplate that set is corpus-sized
    — a driver OOM at 100 TB, not a plan detail).  The window form hashes
    the windows once, shuffles once on the uniform md5 key, buffers only
    one fp group at a time (WindowExec spills; no collect_list, no
    broadcast), and every consumer row keeps its annotations without any
    join."""
    w = Window.partitionBy("fp")
    return (
        kg.withColumn("_mn", F.min("doc_id").over(w))
        .withColumn("_mx", F.max("doc_id").over(w))
        .withColumn("_c", F.min(F.struct("doc_id", "pos")).over(w))
    )


def _spans_from_hits(hits: DataFrame, k: int) -> DataFrame:
    """Coalesce duplicated window starts (doc_id, pos) into maximal spans
    via gaps-and-islands; the window partitions by doc_id — bounded by
    document length at any corpus scale."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            F.col("span_tokens").cast("int").alias("span_tokens"),
        )
    )


def duplicated_spans(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens) — maximal token spans
    covered by cross-document duplicated k-gram windows (ExactSubstr's
    reported regions).  span_end is inclusive; span_tokens ≥ k always."""
    kg = kgram_positions(docs, k)
    hits = (
        _annotated_kgrams(kg)
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos")
    )
    return _spans_from_hits(hits, k)


def scrub_duplicated_spans(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, n_tokens, n_kept, clean_text) — the production OUTPUT of
    span dedup: every token covered by a duplicated window is dropped
    EXCEPT in the window's canonical occurrence (min (doc_id, pos)), so
    exactly one copy of each duplicated region survives corpus-wide —
    Lee et al.'s "leave a single copy" rule, decided by integer
    lexicographic minimum instead of suffix-array order.  Overlapping
    windows with different canonical owners may scrub into a retained
    region; the rule stays deterministic and partitioning-invariant
    because ownership never consults row order."""
    kg = kgram_positions(docs, k)
    dropocc = (
        _annotated_kgrams(kg)
        .where(F.col("_mn") != F.col("_mx"))
        .where(
            ~(
                (F.col("doc_id") == F.col("_c.doc_id"))
                & (F.col("pos") == F.col("_c.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    droppos = (
        dropocc.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "p"
            ),
        )
        .select("doc_id", F.col("p").cast("int").alias("pos"))
        .distinct()
    )
    kept = token_positions(docs).join(droppos, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = _tok_array(docs).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


#: Incremental-ingest split: doc_id % 5 == 0 is the incoming batch, the
#: rest is the historical corpus (the dedup_incremental convention).
NEW_BATCH_MOD = 5


def incremental_span_hits(
    spark: SparkSession,
    hist: DataFrame,
    batch: DataFrame,
    store_dir: str,
    k: int = SUBSTR_K,
) -> DataFrame:
    """(doc_id, pos) duplicated-window starts for the INCOMING BATCH only,
    answered from a PERSISTED fingerprint store over the historical corpus
    (the standing-index discipline of sim_ann_ivf_persisted applied to
    ExactSubstr): the store is written once (distinct historical fps,
    uniform md5 keys), reloaded, and probed with a semi-join; batch-internal
    duplication adds its own ≥2-distinct-docs fingerprints.  A batch
    window is duplicated iff SOME other document shares it — historical
    (store hit) or batch (internal hit) — which is exactly the full-corpus
    cross-doc rule restricted to batch docs, so the registry oracle can
    replay it as full-corpus spans filtered to the batch (hash-match).

    Per-ingest marginal cost is batch-sized: one batch tokenize, one store
    semi-join, one batch-internal agg; the store never rewrites (append =
    write the batch's new fps next to it).  At 100 TB the store is
    fp-partitioned parquet and the semi-join is a shuffle on uniform md5
    keys — never a broadcast of the corpus-sized store."""
    kgram_positions(hist, k).select("fp").distinct().write.mode(
        "overwrite"
    ).parquet(f"{store_dir}/fps")
    store = spark.read.parquet(f"{store_dir}/fps")
    # ONE evaluation of the batch k-grams: the fp-keyed window annotates
    # batch-internal duplication (_mn != _mx) in the same pass whose
    # partitioning the store probe then reuses; the first draft ran the
    # batch tokenize+md5 three times (semi-join ×2 + a countDistinct agg)
    # and needed a distinct() to undo the union's double-emission
    ann = _annotated_kgrams(kgram_positions(batch, k))
    flagged = ann.join(
        store.withColumn("_h", F.lit(1)), "fp", "left"
    )
    return flagged.where(
        F.col("_h").isNotNull() | (F.col("_mn") != F.col("_mx"))
    ).select("doc_id", "pos")


def _kg_cte(k: int) -> str:
    return f"""
    d AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    kg AS (
        SELECT doc_id, i::int AS pos,
               md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')) AS fp
        FROM d, unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS t(i)
    )"""


@register(
    "dedup_substring_spans",
    f"""
    WITH {_kg_cte(SUBSTR_K)},
    dup AS (
        SELECT fp FROM kg GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT kg.doc_id, kg.pos FROM kg JOIN dup USING (fp)),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM hits
    )
    SELECT doc_id,
           min(pos)::int AS span_start,
           (max(pos) + {SUBSTR_K - 1})::int AS span_end,
           (max(pos) - min(pos) + {SUBSTR_K})::int AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    doc=f"ExactSubstr span report (Lee et al. 2022), K={SUBSTR_K} tokens: "
    "maximal cross-document duplicated token spans per doc.  Map-side "
    "k-gram fingerprints -> one md5-key partial-agg shuffle -> per-doc "
    "gaps-and-islands; no self-join, windows bounded by doc length.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return duplicated_spans(docs, SUBSTR_K)


@register(
    "dedup_substring_scrub",
    f"""
    WITH {_kg_cte(SUBSTR_K)},
    canon AS (
        SELECT fp, min(doc_id) AS cdoc
        FROM kg GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    ),
    canon2 AS (
        SELECT kg.fp, canon.cdoc, min(kg.pos) AS cpos
        FROM kg JOIN canon ON kg.fp = canon.fp AND kg.doc_id = canon.cdoc
        GROUP BY 1, 2
    ),
    dropocc AS (
        SELECT kg.doc_id, kg.pos
        FROM kg JOIN canon2 USING (fp)
        WHERE NOT (kg.doc_id = canon2.cdoc AND kg.pos = canon2.cpos)
    ),
    droppos AS (
        SELECT DISTINCT doc_id, p::int AS pos
        FROM dropocc, unnest(range(pos, pos + {SUBSTR_K})) AS u(p)
    ),
    toks AS (
        SELECT doc_id, i::int AS pos, toks[i] AS tok
        FROM d, unnest(range(1, len(toks) + 1)) AS t(i)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toks t LEFT JOIN droppos dp
          ON t.doc_id = dp.doc_id AND t.pos = dp.pos
        WHERE dp.pos IS NULL
    ),
    agg AS (
        SELECT doc_id, count(*)::bigint AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    ),
    base AS (SELECT doc_id, len(toks)::bigint AS n_tokens FROM d)
    SELECT base.doc_id, base.n_tokens,
           coalesce(agg.n_kept, 0)::bigint AS n_kept,
           coalesce(agg.clean_text, '') AS clean_text
    FROM base LEFT JOIN agg USING (doc_id)
    """,
    doc="ExactSubstr scrub: drop every token covered by a cross-document "
    f"duplicated K={SUBSTR_K} window except its canonical (min (doc_id, "
    "pos)) occurrence — one surviving copy corpus-wide, integer-decided. "
    "Drop-position explode is <= K rows per dup occurrence; reassembly "
    "is one doc_id shuffle with a pos-sorted fold.",
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return scrub_duplicated_spans(docs, SUBSTR_K)


@register(
    "dedup_substring_incremental",
    f"""
    WITH {_kg_cte(SUBSTR_K)},
    dup AS (
        SELECT fp FROM kg GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
        SELECT kg.doc_id, kg.pos FROM kg JOIN dup USING (fp)
        WHERE kg.doc_id % {NEW_BATCH_MOD} = 0
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM hits
    )
    SELECT doc_id,
           min(pos)::int AS span_start,
           (max(pos) + {SUBSTR_K - 1})::int AS span_end,
           (max(pos) - min(pos) + {SUBSTR_K})::int AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    doc="Incremental-ingest ExactSubstr: the incoming batch (doc_id % "
    f"{NEW_BATCH_MOD} == 0) is span-deduped against a PERSISTED "
    "fingerprint store over the historical corpus (written, reloaded, "
    "semi-join probed) plus batch-internal >=2-doc fingerprints.  "
    "Duplicated-iff-some-other-doc-shares-it makes this EXACTLY the "
    "full-corpus span report restricted to batch docs — the oracle "
    "replays it that way, so the hash match proves append-mode serving "
    "== from-scratch.  Marginal cost per ingest is batch-sized; the "
    "store never rewrites.",
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    docs = widen(load_table(spark, sf_dir, "documents"))
    hist = docs.where(F.col("doc_id") % NEW_BATCH_MOD != 0)
    batch = docs.where(F.col("doc_id") % NEW_BATCH_MOD == 0)
    work = tempfile.mkdtemp(prefix="spark_graft_substr_store_")
    hits = incremental_span_hits(spark, hist, batch, work, SUBSTR_K)
    return _spans_from_hits(hits, SUBSTR_K)
