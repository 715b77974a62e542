"""Deterministic hash-based sampling / dataset splitting (SURVEY.md §2.D
training-pipeline extension).

A 100 TB corpus can't be split train/val/test with ``rand()`` — the
assignment must be (a) reproducible across runs and engines, (b) stable
under repartitioning, (c) computable map-side with zero shuffle.  The
standard trick: bucket each record by a cryptographic hash of its key and
carve the bucket space.  ``md5`` prefix → integer is portable across
Spark and the DuckDB oracle (same lowercase hex, same prefix arithmetic —
the idiom proven engine-identical in ``operators/dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from training_data_ops.operators import dedup as _dedup
from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

NUM_BUCKETS = 1000
# bucket space carve: [0, 800) train, [800, 900) val, [900, 1000) test
SPLITS = (("train", 0, 800), ("val", 800, 900), ("test", 900, 1000))


def hash_bucket(key: Column, buckets: int = NUM_BUCKETS) -> Column:
    """Stable bucket in [0, buckets): first 8 md5 hex chars of the key's
    string form, mod buckets.  Map-side only — no shuffle, no state."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % buckets


def split_column(key: Column) -> Column:
    """train/val/test label from the hash bucket (80/10/10)."""
    b = hash_bucket(key)
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(SPLITS):
        expr = F.when((b >= lo) & (b < hi), F.lit(name)).otherwise(expr)
    return expr


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep a stable ``fraction`` of rows by hash bucket — same rows every
    run, every engine, any partitioning (unlike ``DataFrame.sample``)."""
    keep = int(round(fraction * NUM_BUCKETS))
    return df.where(hash_bucket(F.col(key_col)) < keep)


def _duck_bucket(key_sql: str) -> str:
    return f"(('0x' || substr(md5({key_sql}::varchar), 1, 8))::bigint % {NUM_BUCKETS})"


@register(
    "sample_hash_split",
    f"""
    WITH b AS (SELECT doc_id, {_duck_bucket('doc_id')} AS bucket FROM documents)
    SELECT doc_id, bucket,
           CASE {' '.join(f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
                          for name, lo, hi in SPLITS)} END AS split
    FROM b
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by md5 hash bucket "
    "— map-side, shuffle-free, reproducible across engines and partitionings.",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).alias("bucket"),
        split_column(F.col("doc_id")).alias("split"),
    )


# per-stratum keep thresholds out of NUM_BUCKETS (stratified rates:
# oversample rare-but-valuable strata, downsample bulk)
STRATA_RATES = {"click": 500, "view": 100}
DEFAULT_RATE = 50


@register(
    "sample_stratified",
    f"""
    SELECT event_type, count(*)::bigint AS sampled,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    WHERE {_duck_bucket('event_id')} <
          CASE {' '.join(f"WHEN event_type = '{t}' THEN {r}"
                         for t, r in STRATA_RATES.items())}
               ELSE {DEFAULT_RATE} END
    GROUP BY event_type
    """,
    doc="Stratified deterministic sampling: per-stratum keep rates (50% "
    "clicks, 10% views, 5% rest) applied via hash bucket — map-side "
    "filter, reproducible, no per-stratum passes and no rand().",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    thr = F.lit(DEFAULT_RATE)
    for t, r in reversed(list(STRATA_RATES.items())):
        thr = F.when(F.col("event_type") == t, F.lit(r)).otherwise(thr)
    kept = events.where(hash_bucket(F.col("event_id")) < thr)
    return kept.groupBy("event_type").agg(
        F.count("*").alias("sampled"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "sample_weighted",
    f"""
    SELECT doc_id, n_chars, {_duck_bucket('doc_id')} AS bucket
    FROM documents
    WHERE {_duck_bucket('doc_id')} < n_chars
    """,
    doc="Deterministic weighted Bernoulli sampling: each document kept with "
    "probability n_chars/1000 (longer docs proportionally more likely) by "
    "comparing its md5 hash bucket to its own weight — per-row importance "
    "sampling with zero shuffle, zero state, and exact reproducibility "
    "across engines, runs, and partitionings (what weighted rand() "
    "sampling can never give a 100 TB corpus).",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    b = hash_bucket(F.col("doc_id"))
    return docs.where(b < F.col("n_chars")).select(
        "doc_id", "n_chars", b.alias("bucket")
    )


@register(
    "split_leakage_report",
    f"""
    WITH {_dedup._shingle_cte(_dedup.MAX_SHINGLE_DF)},
    sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.n + sb.n - i) >= {_dedup.JACCARD_THRESHOLD}
    ),
    split AS (
        SELECT doc_id,
               CASE {' '.join(f"WHEN {_duck_bucket('doc_id')} >= {lo} AND {_duck_bucket('doc_id')} < {hi} THEN '{name}'" for name, lo, hi in SPLITS)}
               END AS sp
        FROM documents
    )
    SELECT least(x.sp, y.sp) AS split_lo, greatest(x.sp, y.sp) AS split_hi,
           (x.sp <> y.sp) AS leaks, count(*)::bigint AS pairs
    FROM pairs JOIN split x ON x.doc_id = doc_a JOIN split y ON y.doc_id = doc_b
    GROUP BY 1, 2, 3
    """,
    doc="Train/test leakage audit over the NEAR-dup pair graph: every "
    "Jaccard>=0.5 document pair bucketed by the split pair its members "
    "landed in — the eval-contamination check every corpus build must "
    "run (near-identical texts carry different doc_ids, so an id-hash "
    "split happily strands copies across train and test; rows with "
    "leaks=true are exactly that). Pairs come from the df-CAPPED "
    "shingle join (dedup_ngram_jaccard_capped, max_df="
    f"{_dedup.MAX_SHINGLE_DF}) — the uncapped source scaled as Σdf² "
    "(measured 11x wall at 10x data, round-5 scaling run) and the "
    "pairs it adds over the capped form share only boilerplate "
    "shingles, which is not leakage. One uniform shingle-key shuffle "
    "+ map-side split assignment; output is a <=6-row split-pair "
    "matrix. The fix this report motivates: dedup or cluster BEFORE "
    "splitting (pipeline.build_training_corpus splits after "
    "dedup-keep-first).",
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.dedup import (
        dedup_ngram_jaccard_capped,
    )

    pairs = dedup_ngram_jaccard_capped(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    split = docs.select("doc_id", split_column(F.col("doc_id")).alias("sp"))
    sx = split.select(F.col("doc_id").alias("doc_a"), F.col("sp").alias("sp_a"))
    sy = split.select(F.col("doc_id").alias("doc_b"), F.col("sp").alias("sp_b"))
    return (
        pairs.join(sx, "doc_a")
        .join(sy, "doc_b")
        .groupBy(
            F.least("sp_a", "sp_b").alias("split_lo"),
            F.greatest("sp_a", "sp_b").alias("split_hi"),
            (F.col("sp_a") != F.col("sp_b")).alias("leaks"),
        )
        .agg(F.count("*").alias("pairs"))
    )


# ---------------------------------------------------------------------------
# corpus mixture — downsample sources to a target blend
# ---------------------------------------------------------------------------

#: target mixture over document sources (shares must sum to <= 1; sources
#: not listed are excluded).  src0..src3 here; a production pipeline feeds
#: its own weighting (web/code/wiki/books/...).
MIXTURE_TARGET: dict[str, float] = {
    "src0": 0.4,
    "src1": 0.3,
    "src2": 0.2,
    "src3": 0.1,
}


@register(
    "corpus_mixture",
    f"""
    WITH target(source, share) AS (VALUES {", ".join(
        f"('{s}', {w})" for s, w in MIXTURE_TARGET.items()
    )}),
    counts AS (
        SELECT d.source, t.share, count(*)::bigint AS n_total
        FROM documents d JOIN target t ON d.source = t.source
        GROUP BY d.source, t.share
    ),
    scaled AS (
        SELECT source, share, n_total,
               (SELECT min(n_total / share) FROM counts) AS corpus_scale
        FROM counts
    ),
    rates AS (
        SELECT source, n_total,
               floor(share * corpus_scale)::bigint AS n_target,
               floor((share * corpus_scale / n_total) * {NUM_BUCKETS})::bigint AS keep_buckets
        FROM scaled
    )
    SELECT r.source, r.n_total, r.n_target,
           (SELECT count(*) FROM documents d
            WHERE d.source = r.source
              AND (('0x' || substr(md5(d.doc_id::varchar), 1, 8))::bigint % {NUM_BUCKETS})
                  < r.keep_buckets)::bigint AS n_kept
    FROM rates r
    """,
    doc="Corpus mixture sampling: downsample each source to hit a target "
    "blend (40/30/20/10 over src0..src3 here) while keeping as much data "
    "as possible — corpus_scale = min(n_s/share_s) makes the scarcest "
    "source the binding constraint, every other source is hash-downsampled "
    "to its share. Two tiny aggregations (per-source counts, global min) "
    "broadcast back onto the scan; row selection is the md5-bucket filter "
    "— map-side, shuffle-free, reproducible. The standard data-mixing "
    "step before training (fixed blend across corpus growth).",
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    target = docs.sparkSession.createDataFrame(
        list(MIXTURE_TARGET.items()), "source string, share double"
    )
    counts = (
        docs.join(F.broadcast(target), "source")
        .groupBy("source", "share")
        .agg(F.count("*").alias("n_total"))
    )
    scale = counts.agg(
        F.min(F.col("n_total") / F.col("share")).alias("corpus_scale")
    )
    rates = counts.crossJoin(F.broadcast(scale)).select(
        "source",
        "n_total",
        F.floor(F.col("share") * F.col("corpus_scale")).alias("n_target"),
        F.floor(
            (F.col("share") * F.col("corpus_scale") / F.col("n_total")) * NUM_BUCKETS
        ).alias("keep_buckets"),
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .where(hash_bucket(F.col("doc_id")) < F.col("keep_buckets"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            "n_target",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# temperature sampling — α-scaled source mixing (upsampling allowed)
# ---------------------------------------------------------------------------

#: temperature exponent α = 1/2: source share ∝ n^α.  α=1 is natural
#: frequency, α→0 is uniform-over-sources; 0.5 is the classic multilingual/
#: multi-corpus rebalancing value (mT5/XLM-R style).


def _temperature_oracle() -> str:
    return f"""
    WITH counts AS (
        SELECT source, count(*)::bigint AS n_total FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_total,
               floor(sqrt(n_total) * 1000000)::bigint AS weight_micro
        FROM counts
    ),
    tot AS (
        SELECT sum(n_total)::bigint AS n_corpus,
               sum(weight_micro)::bigint AS w_sum
        FROM w
    ),
    derived AS (
        SELECT source, n_total, weight_micro,
               (t.n_corpus * weight_micro) // t.w_sum AS n_target,
               ((t.n_corpus * weight_micro) // t.w_sum) // n_total AS epochs,
               ((((t.n_corpus * weight_micro) // t.w_sum) % n_total)
                   * {NUM_BUCKETS}) // n_total AS rem_keep_buckets
        FROM w, tot t
    )
    SELECT d.source, d.n_total, d.weight_micro, d.n_target, d.epochs,
           d.rem_keep_buckets,
           (d.epochs * d.n_total
            + (SELECT count(*) FROM documents x
               WHERE x.source = d.source
                 AND {_duck_bucket('x.doc_id')} < d.rem_keep_buckets))::bigint
               AS n_sampled
    FROM derived d
    """


@register(
    "sample_temperature",
    _temperature_oracle(),
    doc="Temperature-scaled source mixing (share ∝ n^0.5, the mT5/XLM-R "
    "rebalancing): scarce sources UPSAMPLE via whole epochs plus an "
    "md5-bucket remainder draw, abundant sources downsample — unlike "
    "corpus_mixture's fixed target blend, the blend derives from the "
    "counts. All selection arithmetic is integer (weights in micro-units "
    "summed exactly — float addition order can never flip a share; "
    "IEEE sqrt is correctly rounded, so the per-source weight is "
    "bit-identical cross-engine). Two tiny aggs broadcast back onto the "
    "scan; the remainder draw is the map-side shuffle-free bucket filter. "
    "Weights sized for <=1e9 docs/source before int64 overflow (switch to "
    "DECIMAL beyond).",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    counts = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    w = counts.withColumn(
        "weight_micro",
        F.floor(F.sqrt(F.col("n_total")) * 1_000_000).cast("long"),
    )
    tot = w.agg(
        F.sum("n_total").alias("n_corpus"), F.sum("weight_micro").alias("w_sum")
    )
    derived = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("n_target", F.expr("(n_corpus * weight_micro) div w_sum"))
        .withColumn("epochs", F.expr("n_target div n_total"))
        .withColumn(
            "rem_keep_buckets",
            F.expr(f"((n_target % n_total) * {NUM_BUCKETS}) div n_total"),
        )
        .select(
            "source", "n_total", "weight_micro", "n_target", "epochs",
            "rem_keep_buckets",
        )
    )
    rem = (
        docs.join(F.broadcast(derived), "source")
        .where(hash_bucket(F.col("doc_id")) < F.col("rem_keep_buckets"))
        .groupBy("source")
        .agg(F.count("*").alias("n_rem"))
    )
    return derived.join(rem, "source", "left").select(
        "source",
        "n_total",
        "weight_micro",
        "n_target",
        "epochs",
        "rem_keep_buckets",
        (
            F.col("epochs") * F.col("n_total") + F.coalesce(F.col("n_rem"), F.lit(0))
        ).alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# per-entity capping — "at most N per key-window" (the domain-cap /
# rate-limit guard every crawl-derived corpus applies before training)
# ---------------------------------------------------------------------------

CAP_PER_ENTITY = 3  # keep at most N events per (user, hour)


@register(
    "cap_events_per_entity",
    f"""
    WITH ranked AS (
        SELECT event_id, user_id, date_trunc('hour', ts) AS hour_start,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT event_id, user_id, hour_start, rn::bigint AS rn,
           (rn <= {CAP_PER_ENTITY}) AS keep
    FROM ranked
    """,
    doc=f"Per-entity capping: keep at most {CAP_PER_ENTITY} events per "
    "(user, hour), earliest-first with event_id tie-break — the "
    "domain-cap/rate-limit guard a crawl corpus applies so no single "
    "entity dominates training. One shuffle on the HIGH-CARDINALITY "
    "composite key (user x hour — not the skewed user alone), "
    "watermark-friendly at stream scale. Deterministic total order per "
    "group; emits the keep decision rather than dropping, so downstream "
    "stages can audit what the cap removed.",
)
def cap_events_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = widen(load_table(spark, sf_dir, "events"))
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    w = Window.partitionBy("user_id", "hour_start").orderBy("ts", "event_id")
    return (
        events.select("event_id", "user_id", "ts", hour)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .select(
            "event_id",
            "user_id",
            "hour_start",
            "rn",
            (F.col("rn") <= CAP_PER_ENTITY).alias("keep"),
        )
    )


@register(
    "split_balance_audit",
    f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE {' '.join(f"WHEN {_duck_bucket('doc_id')} >= {lo} AND {_duck_bucket('doc_id')} < {hi} THEN '{name}'"
                              for name, lo, hi in SPLITS)} END AS split
        FROM documents
    ),
    per_cell AS (
        SELECT lang, split, count(*)::bigint AS n_docs,
               sum(n_chars)::bigint AS sum_chars
        FROM assigned GROUP BY lang, split
    ),
    per_lang AS (
        SELECT lang, sum(n_docs)::bigint AS lang_docs FROM per_cell GROUP BY lang
    )
    SELECT c.lang, c.split, c.n_docs,
           (c.n_docs * 1000000 // l.lang_docs) AS split_share_ppm,
           (c.sum_chars * 1000000 // c.n_docs) AS mean_chars_ppm
    FROM per_cell c JOIN per_lang l ON c.lang = l.lang
    """,
    doc="Split-neutrality audit: per (lang, split) document share and mean "
    "length — hash-bucket splits must not correlate with content "
    "features, and this is the report that proves it (shares near "
    "800k/100k/100k ppm, comparable mean lengths across splits within a "
    "language). Shares and means in exact integer ppm (bigint // "
    "bigint, engine-identical truncation). One (lang, split) partial "
    "agg; the per-lang totals re-aggregate the 15-row cell table — "
    "metadata-sized; split assignment itself is the map-side md5 "
    "bucket, shuffle-free.",
)
def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    assigned = docs.select(
        "lang", "n_chars", split_column(F.col("doc_id")).alias("split")
    )
    per_cell = (
        assigned.groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        # 15-row cell table; persisted so the per-lang totals branch reads
        # the cache instead of re-scanning the corpus
        .persist()
    )
    per_lang = per_cell.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    return (
        per_cell.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            F.expr("n_docs * 1000000 div lang_docs").alias("split_share_ppm"),
            F.expr("sum_chars * 1000000 div n_docs").alias("mean_chars_ppm"),
        )
    )
