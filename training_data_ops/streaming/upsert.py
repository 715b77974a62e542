"""Streaming CDC upsert sink: merge each microbatch into a parquet
snapshot keeping the latest record per key — the *materialization* half of
the changelog→snapshot story (``latest_event_per_user`` is the batch
compaction twin, and serves as this operator's value-exact oracle).

``foreachBatch`` is the sanctioned Spark escape for sinks with merge
semantics the built-in file sink can't express (it is append-only).  Each
batch unions the incoming rows with the previous snapshot, re-ranks per
key, and writes a NEW versioned directory — never overwriting the
directory it just read (lazy reads + overwrite of the same path is the
classic self-clobber).  At 100 TB the same shape runs against a real
table format's MERGE with file-level pruning; the per-batch cost here is
snapshot + batch, i.e. O(keys + delta), and the key shuffle is uniform.

Merging latest-by-(order-cols) is associative and commutative, so the
final snapshot is independent of how the input happens to be sliced into
microbatches — pinned by the oracle equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

UPSERT_SLICES = 3


def write_slice_files(
    df: DataFrame,
    in_dir: str,
    slice_col,
    n_slices: int,
    *,
    files_per_slice: int = 1,
    sub_col=None,
) -> None:
    """Write the microbatch ingest slices of a streaming twin in ONE job.

    The r11 profile showed every update-merge twin paying ``n_slices``
    separate scan+filter+write jobs to lay out its ingest directory (one
    per slice).  ``partitionBy`` on the slice key writes every slice dir
    in a single pass over the source; the slice-keyed repartition puts
    each (slice [, sub]) group in exactly one task, reproducing the
    1-file-per-slice layout (or ~``files_per_slice`` files via
    ``sub_col``) the loop produced.  Microbatch BOUNDARIES may shift when
    hash collisions merge sub-groups — harmless by construction: every
    consumer merges with an associative+commutative rule and is pinned to
    the batch oracle, so the final state is slicing-invariant (the same
    property the docstrings already claim for arrival order).  Two layout
    edge cases (r11 ADVICE), both covered by the same invariance: a
    (slice, sub) hash collision can yield FEWER than ``files_per_slice``
    files for a slice, and an EMPTY slice writes no directory at all
    (the old per-slice coalesce(1) loop wrote one empty file), so the
    stream simply sees fewer microbatches.  A caller needing a pinned
    per-slice file count would repartition on an exact deterministic
    partition-id expression instead; no current consumer does — they all
    assert final-state equality, never batch counts.

    ``recursiveFileLookup=true`` readers skip partition inference, so the
    stream's declared schema never sees the ``_slice`` column (partition
    values live in dir names, not in the files)."""
    out = df.withColumn("_slice", slice_col)
    keys = ["_slice"]
    if files_per_slice > 1:
        assert sub_col is not None
        out = out.withColumn("_sub", sub_col)
        keys.append("_sub")
    (
        out.repartition(n_slices * files_per_slice, *keys)
        .drop(*keys[1:])
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(in_dir)
    )


def run_upsert_stream(
    stream_df: DataFrame,
    *,
    key_cols: list[str],
    order_cols: list[str],
    out_dir: str,
) -> DataFrame:
    """Consume ``stream_df`` with availableNow, foreachBatch-merging into a
    versioned parquet snapshot; returns the final snapshot DataFrame."""
    spark = stream_df.sparkSession
    state: dict[str, str | None] = {"current": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merged = batch_df
        if state["current"] is not None:
            merged = spark.read.parquet(state["current"]).unionByName(batch_df)
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_dir = f"{out_dir}/v{batch_id}"
        latest.write.mode("overwrite").parquet(new_dir)
        state["current"] = new_dir

    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        scoped_stream_shuffle,
    )

    with scoped_stream_shuffle(spark):
        query = (
            stream_df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", f"{out_dir}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    assert state["current"] is not None, "stream produced no batches"
    return spark.read.parquet(state["current"])


def run_update_merge_stream(
    agg_stream: DataFrame,
    *,
    key_cols: list[str],
    out_dir: str,
    batch_rows: list[int] | None = None,
) -> DataFrame:
    """Consume an UPDATE-mode streaming aggregation with availableNow,
    foreachBatch-upserting its per-batch deltas into a versioned parquet
    state table; returns the final merged state DataFrame.

    Update mode delivers only the keys whose aggregate CHANGED in the
    microbatch, carrying their new TOTALS — so the merge (anti-join old
    keys, union the batch) is idempotent per key and the sink traffic is
    O(changed keys), not O(all keys): the pattern that stays cheap when
    the monitored key space is NOT metadata-sized (the complete-mode
    monitors' documented limit).  ``batch_rows`` (optional) collects each
    delta's row count for tests pinning the delta-not-full-relation
    property."""
    spark = agg_stream.sparkSession
    state: dict[str, str | None] = {"current": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_rows is not None:
            batch_rows.append(batch_df.count())
        new = batch_df
        if state["current"] is not None:
            old = spark.read.parquet(state["current"])
            kept = old.join(
                batch_df.select(*key_cols), key_cols, "left_anti"
            )
            new = kept.unionByName(batch_df)
        new_dir = f"{out_dir}/v{batch_id}"
        new.write.mode("overwrite").parquet(new_dir)
        state["current"] = new_dir

    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        scoped_stream_shuffle,
    )

    with scoped_stream_shuffle(spark):
        query = (
            agg_stream.writeStream.foreachBatch(merge)
            .outputMode("update")
            .option("checkpointLocation", f"{out_dir}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    assert state["current"] is not None, "stream produced no batches"
    return spark.read.parquet(state["current"])


@register(
    "streaming_upsert_snapshot",
    """
    SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us, event_type, value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="Streaming CDC upsert materialization: the events table is sliced "
    f"into {UPSERT_SLICES} files consumed as separate microbatches "
    "(maxFilesPerTrigger=1); foreachBatch merges each into a versioned "
    "parquet snapshot keeping the latest record per user (ts, event_id "
    "tie-break). Latest-per-key merge is associative + commutative, so "
    "the final snapshot is slice-order independent and must equal the "
    "one-shot batch compaction — the latest_event_per_user oracle IS the "
    "gate. The append-only file sink can't express merges; foreachBatch "
    "with alternating version dirs (never overwrite what you just read) "
    "is the idiomatic Spark shape for it.",
)
def streaming_upsert_snapshot(spark, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us"),
        "event_type", "value",
    )
    work = tempfile.mkdtemp(prefix="spark_graft_upsert_")
    in_dir = f"{work}/in"
    write_slice_files(
        ev, in_dir, F.col("event_id") % UPSERT_SLICES, UPSERT_SLICES
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(in_dir)
    )
    return run_upsert_stream(
        stream,
        key_cols=["user_id"],
        order_cols=["us", "event_id"],
        out_dir=f"{work}/snap",
    )
