"""Composite training-data pipeline: the §2.D operators chained the way a
real 100 TB corpus-cleaning job chains them —

    language filter → quality filter → exact dedup (keep first)

One scan computes every per-row signal (lang-ID ladder, quality heuristic,
md5 fingerprint); one uniform-key shuffle does the dedup groupBy.  Nothing
else moves data: the plan is scan → filter → partial agg → exchange →
final agg, the shape that survives a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from training_data_ops.operators.text import (
    _docs,
    duck_lang_expr,
    duck_quality_expr,
    lang_id,
    md5_fingerprint,
    quality_score,
)
from training_data_ops.registry import register
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE

QUALITY_CUT = 0.5
KEEP_LANG = "en"


@register(
    "pipeline_clean_corpus",
    f"""
    WITH scored AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
               {duck_lang_expr()} AS lang_pred,
               {duck_quality_expr()} AS quality
        FROM documents
    )
    SELECT fp, min(doc_id) AS keep_id, count(*)::bigint AS dup_count,
           min(quality) AS quality
    FROM scored
    WHERE lang_pred = '{KEEP_LANG}' AND quality >= {QUALITY_CUT}
    GROUP BY fp
    """,
    doc="Composite corpus-cleaning pipeline: lang filter + quality filter + "
    "exact dedup keep-first, in one scan + one uniform-key shuffle.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    # NB: measured wall time for this query is dominated by per-plan Janino
    # codegen compilation of the marker-ladder expressions (~2s fixed), not
    # execution — scan-speed at scale; see tests/test_determinism.py for the
    # partitioning-invariance pin
    scored = docs.select(
        "doc_id",
        md5_fingerprint(text).alias("fp"),
        lang_id(text).alias("lang_pred"),
        quality_score(text).alias("quality"),
    )
    return (
        scored.where((F.col("lang_pred") == KEEP_LANG) & (F.col("quality") >= QUALITY_CUT))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
            F.min("quality").alias("quality"),
        )
    )


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    *,
    num_shards: int = 8,
    keep_lang: str = KEEP_LANG,
    quality_cut: float = QUALITY_CUT,
) -> DataFrame:
    """End-to-end training-corpus build — the full §2.D story in one call:

        score (lang-ID + quality + fingerprint, one scan)
        → filter (language, quality)
        → exact-dedup keep-first (min doc_id per fingerprint)
        → deterministic train/val/test split (md5 bucket)
        → hash-sharded parquet write (`split=*/shard=N/`)

    Two data-sized shuffles total (dedup groupBy + shard repartition); the
    split/score/filter stages are map-side.  Returns the per-split summary
    (split, docs, min/max doc_id) after the write — reading it back from
    the sink, so the summary doubles as a write verification.
    """
    from training_data_ops.operators.sampling import split_column
    from training_data_ops.sinks import write_training_shards

    docs = _docs(spark, sf_dir)
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        "text",
        md5_fingerprint(text).alias("fp"),
        lang_id(text).alias("lang_pred"),
        quality_score(text).alias("quality"),
    )
    clean = scored.where(
        (F.col("lang_pred") == keep_lang) & (F.col("quality") >= quality_cut)
    )
    # keep-first dedup as ONE aggregation (guide §2.4/§3): the old
    # groupBy(fp).min(doc_id) + join-back re-evaluated the whole scan +
    # lang/quality ladder on the second join branch (Catalyst shares no
    # common sub-plans across DataFrame references) and paid a second
    # data shuffle for the join.  min_by(struct, doc_id) keeps exactly
    # the min-doc_id row per fingerprint — doc_id is unique, so there are
    # no ties and the kept (doc_id, text, quality) triple is identical —
    # and the map-side partial agg ships at most one candidate row per
    # (fp, partition), strictly fewer bytes than the join shuffled.
    keep = clean.groupBy("fp").agg(
        F.min_by(
            F.struct("doc_id", "text", "quality"), F.col("doc_id")
        ).alias("r")
    )
    kept = keep.select("r.doc_id", "r.text", "r.quality").withColumn(
        "split", split_column(F.col("doc_id"))
    )
    write_training_shards(
        kept.select("doc_id", "text", "quality", "split"),
        out_path,
        key_col="doc_id",
        num_shards=num_shards,
        split_col="split",
    )
    return (
        spark.read.parquet(out_path)
        .groupBy("split")
        .agg(
            F.count("*").alias("docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "observe_corpus_metrics",
    f"""
    WITH scored AS (
        SELECT {duck_lang_expr()} AS lang_pred,
               {duck_quality_expr()} AS quality
        FROM documents
    )
    SELECT count(*)::bigint AS n_docs,
           sum(CASE WHEN lang_pred = '{KEEP_LANG}' THEN 1 ELSE 0 END)::bigint
               AS n_en,
           sum(CASE WHEN quality >= {QUALITY_CUT} THEN 1 ELSE 0 END)::bigint
               AS n_quality_pass,
           sum(CASE WHEN lang_pred = '{KEEP_LANG}' AND quality >= {QUALITY_CUT}
                    THEN 1 ELSE 0 END)::bigint AS n_kept,
           min(quality) AS min_quality, max(quality) AS max_quality
    FROM scored
    """,
    doc="Zero-extra-pass pipeline monitoring via df.observe(Observation): "
    "the corpus-cleaning scan carries accumulator-style aggregates (doc "
    "counts, filter pass rates, quality envelope) computed DURING the "
    "action — at 100 TB the data-quality dashboard costs no second scan. "
    "The observed metrics come back as a 1-row local DataFrame; the "
    "oracle recomputes them with plain aggregation, proving the "
    "observation path is value-exact (counts exact, floats only under "
    "order-independent min/max).",
)
def observe_corpus_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    docs = _docs(spark, sf_dir)
    text = F.col("text")
    scored = docs.select(
        lang_id(text).alias("lang_pred"), quality_score(text).alias("quality")
    )
    is_en = (F.col("lang_pred") == KEEP_LANG).cast("long")
    passes = (F.col("quality") >= QUALITY_CUT).cast("long")
    obs = Observation("corpus_metrics")
    observed = scored.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_en).alias("n_en"),
        F.sum(passes).alias("n_quality_pass"),
        F.sum(is_en * passes).alias("n_kept"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_docs"],
                m["n_en"],
                m["n_quality_pass"],
                m["n_kept"],
                float(m["min_quality"]),
                float(m["max_quality"]),
            )
        ],
        "n_docs long, n_en long, n_quality_pass long, n_kept long, "
        "min_quality double, max_quality double",
    )


@register(
    "training_corpus_build",
    f"""
    WITH scored AS (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
               {duck_lang_expr()} AS lang_pred,
               {duck_quality_expr()} AS quality
        FROM documents
    ),
    clean AS (
        SELECT doc_id, fp FROM scored
        WHERE lang_pred = '{KEEP_LANG}' AND quality >= {QUALITY_CUT}
    ),
    keep AS (SELECT fp, min(doc_id) AS doc_id FROM clean GROUP BY fp),
    labeled AS (
        SELECT k.doc_id,
               CASE WHEN (('0x' || substr(md5(k.doc_id::varchar), 1, 8))::bigint
                          % 1000) < 800 THEN 'train'
                    WHEN (('0x' || substr(md5(k.doc_id::varchar), 1, 8))::bigint
                          % 1000) < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM keep k
    )
    SELECT split, count(*)::bigint AS docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM labeled GROUP BY split
    """,
    doc="End-to-end training-corpus capstone, value-pinned: score (lang-ID + "
    "quality + fingerprint, one scan) -> filter -> exact-dedup keep-first "
    "-> deterministic 80/10/10 split -> hash-sharded parquet WRITE "
    "(split=*/shard=N/ layout) -> read the sink back and summarize per "
    "split. The oracle recomputes the whole declarative spec in SQL, so "
    "the gate proves the bytes that landed in the sink are exactly the "
    "corpus the pipeline promised — write path, shard routing, and "
    "read-back partition pruning included. Two data-sized shuffles total "
    "(dedup groupBy + shard repartition).",
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_corpus_")
    return build_training_corpus(spark, sf_dir, f"{out}/corpus")


# ---------------------------------------------------------------------------
# sequence packing — fill fixed-size training context windows
# ---------------------------------------------------------------------------

PACK_WINDOW = 512  # tokens per training sequence
PACK_BUCKETS = 32  # packing parallelism: packs are built independently per
#                    bucket, so the window cumsum never becomes one global
#                    serial scan; size this to cluster parallelism at scale


@register(
    "pack_sequences",
    f"""
    WITH toks AS (
        SELECT doc_id,
               (('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint
                   % {PACK_BUCKETS}) AS bucket,
               len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))::bigint AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, bucket, n_tokens,
               sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS prefix_tokens
        FROM toks
    )
    SELECT doc_id, bucket::int AS bucket, n_tokens,
           (prefix_tokens // {PACK_WINDOW})::bigint AS pack_id,
           (prefix_tokens % {PACK_WINDOW})::bigint AS pack_offset
    FROM packed
    """,
    doc=f"Sequence packing for training batches: greedy contiguous fill of "
    f"{PACK_WINDOW}-token context windows. Docs are hash-bucketed "
    f"({PACK_BUCKETS} buckets = the parallelism knob) and packed "
    "independently per bucket with a running token prefix-sum window — "
    "the global-order cumsum a naive packer needs would serialize the "
    "whole corpus through one partition. One bucket-key shuffle; "
    "(pack_id, pack_offset) are exact integer arithmetic, so assignment "
    "is repartition-invariant and oracle-identical.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from training_data_ops.operators.sampling import (
        hash_bucket,
    )
    from training_data_ops.operators.text import token_count

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), PACK_BUCKETS).alias("bucket"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("prefix_tokens")
    packed = toks.select("doc_id", "bucket", "n_tokens", prefix)
    return packed.select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        "n_tokens",
        F.expr(f"prefix_tokens div {PACK_WINDOW}").alias("pack_id"),
        (F.col("prefix_tokens") % PACK_WINDOW).alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination — n-gram overlap against an eval set
# ---------------------------------------------------------------------------

DECON_NGRAM = 8  # word n-gram length (long enough that collisions mean copying)
DECON_EVAL_MOD = 97  # doc_id % MOD == 0 stands in for the benchmark set


def _duck_ngrams(n: int) -> str:
    toks = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"
    gram = " || ' ' || ".join(f"{toks}[i+{k}]" for k in range(n))
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> {gram}))"
    )


@register(
    "decontaminate",
    f"""
    WITH eval_sh AS MATERIALIZED (
        SELECT DISTINCT unnest({_duck_ngrams(DECON_NGRAM)}) AS s
        FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0
    ),
    train_sh AS MATERIALIZED (
        SELECT doc_id, unnest({_duck_ngrams(DECON_NGRAM)}) AS s
        FROM documents WHERE doc_id % {DECON_EVAL_MOD} <> 0
    ),
    hits AS (
        SELECT t.doc_id, count(*) AS n_hits
        FROM train_sh t JOIN eval_sh e ON t.s = e.s
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hits, 0)::bigint AS n_hits,
           (coalesce(h.n_hits, 0) > 0) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
    """,
    doc=f"Benchmark decontamination: flag training docs sharing any "
    f"{DECON_NGRAM}-gram with the eval set (doc_id % {DECON_EVAL_MOD} = 0 "
    "stands in for the benchmark corpus). The eval shingle set is small by "
    "construction, so the overlap test is a broadcast join against it — "
    "the train side streams map-side, one doc_id shuffle for the hit "
    "counts; at 100 TB this is the standard eval-leakage sweep before "
    "training (the n-gram length makes collisions evidence of copying, "
    "not chance).",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.dedup import (
        _shingle_table,
    )

    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    # 8-gram relations via the Arrow shingle kernel (word_shingles is an
    # interpreted transform HOF; same values by the pinned kernel fixture)
    eval_sh = (
        _shingle_table(docs.where(is_eval), n=DECON_NGRAM)
        .select("s")
        .distinct()
    )
    train = docs.where(~is_eval)
    hits = (
        _shingle_table(train, n=DECON_NGRAM)
        .select("doc_id", "s")
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# token-budget corpus selection — keep the highest-quality docs until a
# target token budget is hit
# ---------------------------------------------------------------------------

BUDGET_NUM, BUDGET_DEN = 1, 2  # budget = 1/2 of the corpus' total tokens
QS_COARSE = 1000  # quality micro-units -> milli-units for the group key


def _token_budget_oracle() -> str:
    from training_data_ops.operators.sampling import (
        _duck_bucket,
    )
    from training_data_ops.operators.text import (
        _DUCK_TOKENS,
        duck_quality_expr,
    )

    return f"""
    WITH base AS (
        SELECT doc_id,
               round({duck_quality_expr()} * 1000000)::bigint // {QS_COARSE}
                   AS qs_m,
               {_duck_bucket('doc_id')} AS bucket,
               len({_DUCK_TOKENS})::bigint AS n_tokens
        FROM documents
    ),
    tot AS (
        SELECT (sum(n_tokens)::bigint * {BUDGET_NUM}) // {BUDGET_DEN} AS budget
        FROM base
    ),
    ordered AS (
        SELECT *,
               sum(n_tokens) OVER (ORDER BY qs_m DESC, bucket, doc_id
                   ROWS UNBOUNDED PRECEDING)::bigint AS cum
        FROM base
    )
    SELECT doc_id, qs_m, bucket::int AS bucket, n_tokens,
           (cum <= (SELECT budget FROM tot)) AS keep
    FROM ordered
    """


@register(
    "corpus_token_budget",
    _token_budget_oracle(),
    doc=f"Token-budget corpus selection: keep the best-quality documents "
    f"(quality score in milli-units, ties broken by md5 bucket then doc_id "
    f"— a tie-free deterministic total order) until {BUDGET_NUM}/{BUDGET_DEN} "
    "of the corpus' tokens are selected. The oracle takes one global "
    "cumulative-sum window; the Spark side NEVER builds that global order: "
    "per-(score, bucket) token sums (a metadata-sized partial agg) get the "
    "running total, groups broadcast back onto the scan, and only the ONE "
    "boundary group — the group the budget line crosses — pays a doc-level "
    "window, over just its own rows. Map-side keep decisions for everything "
    "else; the standard threshold-plus-boundary-resolution shape for exact "
    "global cuts at 100 TB.",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from training_data_ops.operators.sampling import (
        hash_bucket,
    )
    from training_data_ops.operators.text import (
        quality_score,
        token_count,
    )

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")) * 1_000_000).cast("long").alias(
            "qs_micro"
        ),
        hash_bucket(F.col("doc_id")).cast("int").alias("bucket"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).withColumn("qs_m", F.expr(f"qs_micro div {QS_COARSE}")).drop("qs_micro")

    grp = base.groupBy("qs_m", "bucket").agg(F.sum("n_tokens").alias("gtok"))
    # the aggregated frame is metadata-sized (<= 1001 scores x 1000 buckets),
    # so the unpartitioned running-total window is a driver-scale sort, not
    # a data shuffle
    wg = Window.orderBy(F.col("qs_m").desc(), F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gcum = grp.select(
        "qs_m", "bucket", "gtok", F.sum("gtok").over(wg).alias("cum")
    )
    budget = grp.agg(
        F.expr(f"(sum(gtok) * {BUDGET_NUM}) div {BUDGET_DEN}").alias("budget")
    )
    groups = gcum.crossJoin(F.broadcast(budget))

    ann = base.join(F.broadcast(groups), ["qs_m", "bucket"])
    cum_before = F.col("cum") - F.col("gtok")
    kept = ann.where(F.col("cum") <= F.col("budget")).withColumn(
        "keep", F.lit(True)
    )
    dropped = ann.where(cum_before >= F.col("budget")).withColumn(
        "keep", F.lit(False)
    )
    boundary = ann.where(
        (F.col("cum") > F.col("budget")) & (cum_before < F.col("budget"))
    )
    wb = (
        Window.partitionBy("qs_m", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = boundary.withColumn(
        "doc_cum", F.sum("n_tokens").over(wb)
    ).withColumn(
        "keep", F.col("doc_cum") <= (F.col("budget") - cum_before)
    ).drop("doc_cum")

    out_cols = ["doc_id", "qs_m", "bucket", "n_tokens", "keep"]
    return (
        kept.select(*out_cols)
        .unionByName(dropped.select(*out_cols))
        .unionByName(resolved.select(*out_cols))
    )


# ---------------------------------------------------------------------------
# curriculum ordering: the global training-order materializer
# ---------------------------------------------------------------------------

CURRICULUM_PARTITIONS = 32  # minimum range-partition width of the ordinal sort


def _sort_width(df, override: int | None, floor: int = 32) -> int:
    """Width of a distributed total-order sort (repartitionByRange).

    Derived from the input's own partition count — a hardcoded width
    would make the range sort THE bottleneck stage at 100 TB (everything
    funnels through N fixed tasks).  The manifests' results are
    partitioning-invariant by construction (ordinals/prefix sums depend
    only on the unique sort key, never on where range boundaries fall —
    pinned byte-identical at widths 7 and 64 in
    ``tests/test_pipeline_ops.py``), so the width is purely a
    parallelism knob.  ``override`` exists for those tests."""
    if override is not None:
        return override
    return max(floor, df.rdd.getNumPartitions())


@register(
    "corpus_curriculum",
    """
    SELECT doc_id,
           (length(bin(n_chars)) - 1)::int AS tier,
           (row_number() OVER (
               ORDER BY (length(bin(n_chars)) - 1),
                        md5(doc_id::varchar),
                        doc_id) - 1)::bigint AS ordinal
    FROM documents
    """,
    doc="Curriculum training order: documents ascend difficulty tiers "
    "(integer log2 of n_chars — short/easy examples first), shuffled "
    "WITHIN each tier by md5(doc_id) so the order is epoch-stable and "
    "engine-reproducible where rand() never is.  The oracle's global "
    "row_number() is the semantic; the Spark plan refuses the "
    "1-partition window it implies and materializes the SAME total "
    "order scale-correctly: repartitionByRange on the sort key + "
    "sortWithinPartitions (Spark's distributed total-order sort), one "
    "metadata-sized per-partition count collect, then each partition "
    "stamps ordinal = broadcast_offset[pid] + local position inside a "
    "single Arrow pass.  The ordinal depends only on the (unique) sort "
    "key, never on where range boundaries fall, so the result is "
    "partitioning-invariant.  Complements corpus_token_budget (global "
    "CUT without global order) with the global ORDER a training "
    "dataloader manifest needs.",
)
def corpus_curriculum(
    spark: SparkSession, sf_dir: str, num_partitions: int | None = None
) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from flink_http_full_cache_connector_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("int").alias("tier"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    width = _sort_width(keyed, num_partitions, CURRICULUM_PARTITIONS)
    arranged = keyed.repartitionByRange(
        width, "tier", "h", "doc_id"
    ).sortWithinPartitions("tier", "h", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    arranged = arranged.persist()
    # metadata-sized collect: one (pid, count) row per partition
    sizes = dict(
        arranged.groupBy("pid").count().collect()
    )
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    def stamp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["pid"].iloc[0])]
            n = len(pdf)
            out = pdf[["doc_id", "tier"]].copy()
            out["ordinal"] = range(pos, pos + n)
            pos += n
            yield out

    return arranged.mapInPandas(
        stamp, "doc_id long, tier int, ordinal long"
    )


# ---------------------------------------------------------------------------
# shard manifest: token-balanced output shards over a global hash order
# ---------------------------------------------------------------------------

SHARD_TOKEN_BUDGET = 2048  # tokens per output shard
SHARD_SORT_PARTITIONS = 32  # minimum range-partition width of the global sort


@register(
    "corpus_shard_manifest",
    f"""
    WITH toks AS (
        SELECT doc_id, md5(doc_id::varchar) AS h,
               len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))::bigint AS n_tokens
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS prefix_tokens
        FROM toks
    )
    SELECT doc_id, n_tokens,
           (prefix_tokens // {SHARD_TOKEN_BUDGET})::bigint AS shard_id,
           (prefix_tokens % {SHARD_TOKEN_BUDGET})::bigint AS shard_offset
    FROM ordered
    """,
    doc=f"Token-balanced shard manifest: every output shard carries "
    f"~{SHARD_TOKEN_BUDGET} tokens, docs assigned in md5(doc_id) order so "
    "shards are content-shuffled (no topical clumping from ingest order). "
    "The semantic is a GLOBAL token prefix-sum — the oracle's "
    "one-partition window — which the Spark plan refuses to serialize: "
    "repartitionByRange(h, doc_id) + sortWithinPartitions gives the "
    "distributed total order, ONE metadata-sized collect fetches per-"
    "partition token subtotals, and a single Arrow pass stamps "
    "shard_id = (offset[pid] + local_prefix) div budget.  Prefix depends "
    "only on the unique sort key, never on range boundaries, so the "
    "manifest is partitioning-invariant and exactly reproducible — the "
    "property a resumable dataloader needs.  Completes the manifest "
    "family: pack_sequences (bucketed local prefix), corpus_token_budget "
    "(global cut), corpus_curriculum (global order), this (global "
    "balance).",
)
def corpus_shard_manifest(
    spark: SparkSession, sf_dir: str, num_partitions: int | None = None
) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from training_data_ops.operators.text import token_count

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    width = _sort_width(toks, num_partitions, SHARD_SORT_PARTITIONS)
    arranged = (
        toks.repartitionByRange(width, "h", "doc_id")
        .sortWithinPartitions("h", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    # metadata-sized collect: one (pid, token subtotal) row per partition
    subtotal = {
        r["pid"]: r["toks"]
        for r in arranged.groupBy("pid")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    offsets = {}
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
            out = pdf[["doc_id", "n_tokens"]].copy()
            prefix = pdf["n_tokens"].cumsum().shift(fill_value=0) + pos
            out["shard_id"] = prefix // SHARD_TOKEN_BUDGET
            out["shard_offset"] = prefix % SHARD_TOKEN_BUDGET
            pos = int(prefix.iloc[-1]) + int(pdf["n_tokens"].iloc[-1])
            yield out

    return arranged.mapInPandas(
        stamp, "doc_id long, n_tokens long, shard_id long, shard_offset long"
    )


# ---------------------------------------------------------------------------
# hashed n-gram importance weighting (DSIR-style data selection)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # hashed feature space for bigram counts
DSIR_TARGET_MOD = 13  # doc_id % MOD == 0 stands in for the curated target set
DSIR_SCALE = 1_000_000  # integer micro-units for the importance ratio


@register(
    "corpus_importance_weights",
    f"""
    WITH ws AS (
        SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               ('0x' || substr(md5(g), 1, 8))::bigint % {DSIR_BUCKETS} AS bucket
        FROM ws, unnest(list_transform(range(1, len(w)),
                                       i -> w[i] || ' ' || w[i+1])) AS t(g)
    ),
    raw AS (SELECT bucket, count(*)::bigint AS r FROM grams GROUP BY bucket),
    tgt AS (SELECT bucket, count(*)::bigint AS t FROM grams
            WHERE doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY bucket),
    wt AS (SELECT raw.bucket,
                  ((coalesce(tgt.t, 0) + 1) * {DSIR_SCALE}) // (raw.r + 1) AS w
           FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
    score AS (SELECT g.doc_id, sum(wt.w)::bigint AS score
              FROM grams g JOIN wt ON g.bucket = wt.bucket
              GROUP BY g.doc_id),
    tot AS (SELECT count(*)::bigint AS n_docs,
                   sum(coalesce(s.score, 0))::bigint AS total
            FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id)
    SELECT d.doc_id, coalesce(s.score, 0)::bigint AS score,
           (coalesce(s.score, 0) * (SELECT n_docs FROM tot)
                >= (SELECT total FROM tot)) AS keep
    FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id
    """,
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling' — public method): hashed "
    "word-bigram features, per-bucket importance weight = smoothed "
    f"target/raw count ratio in exact integer micro-units (x{DSIR_SCALE}, "
    "integer div truncation identical in Spark and DuckDB), per-document "
    "score = sum of its occurrences' bucket weights, keep = above-mean "
    "via cross-multiplied integers (score*n_docs >= total — no float "
    "division anywhere).  Plan: ONE gram explode feeds both count "
    f"profiles; the two bucket aggs partial-combine to {DSIR_BUCKETS} "
    "rows each and the weight table BROADCASTS back onto the gram "
    "stream, so the only data-sized shuffle is the uniform doc_id "
    "rollup; the global mean is one metadata row cross-joined.  The "
    "target set here is the doc_id % MOD slice (the decontaminate "
    "convention); production swaps in any curated corpus without "
    "changing the dataflow.",
)
def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ws = docs.select("doc_id", F.split(F.trim(F.col("text")), TOKEN_DELIM_RE).alias("w"))
    # guard: sequence(1, 0) is the DESCENDING [1, 0] in Spark (it never
    # returns empty), so a single-token doc would index element_at(w, 0)
    # and abort the query; DuckDB's range(1, 1) is empty for the same doc
    grams = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
                "ELSE array() END"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    raw = grams.groupBy("bucket").agg(F.count("*").alias("r"))
    tgt = (
        grams.where(F.col("doc_id") % DSIR_TARGET_MOD == 0)
        .groupBy("bucket")
        .agg(F.count("*").alias("t"))
    )
    wt = raw.join(tgt, "bucket", "left").select(
        "bucket",
        F.expr(f"((coalesce(t, 0) + 1) * {DSIR_SCALE}) div (r + 1)").alias("w"),
    )
    score = (
        grams.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
        .persist()  # referenced by the totals branch AND the output join
    )
    scored = (
        docs.select("doc_id")
        .join(score, "doc_id", "left")
        .select("doc_id", F.coalesce("score", F.lit(0)).cast("long").alias("score"))
    )
    totals = scored.agg(
        F.count("*").alias("n_docs"), F.sum("score").alias("total")
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "score",
        (F.col("score") * F.col("n_docs") >= F.col("total")).alias("keep"),
    )
