"""Training-data sink: deterministic hash-sharded parquet layout.

A 100 TB corpus feeding distributed trainers needs output files that are
(a) deterministically sharded — the same record lands in the same shard on
every run, so dataloader order is reproducible and incremental re-runs
overwrite in place; (b) balanced — shards are hash-uniform regardless of
key skew; (c) internally ordered — rows sorted within each file so reads
are stable and delta-friendly.

``rand()``-based `repartition(n)` gives none of these.  This sink derives
the shard from the same md5 bucket space as `operators/sampling.py`
(map-side, engine-portable), repartitions on the shard id (one shuffle —
each shard is written by exactly one task, so exactly one file per shard
per split), and sorts within partitions by the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from training_data_ops.operators.sampling import hash_bucket


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    num_shards: int,
    split_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``path/[split=*/]shard=N/*.parquet``.

    Shard = stable md5 bucket of ``key_col`` mod ``num_shards`` — adding
    executors, repartitioning upstream, or re-running never moves a record
    between shards.  One shuffle total; no driver materialization.
    """
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    out = df.withColumn(
        "shard", (hash_bucket(F.col(key_col)) % num_shards).cast("int")
    )
    partition_cols = ([split_col] if split_col else []) + ["shard"]
    (
        out.repartition(num_shards, F.col("shard"))
        .sortWithinPartitions(key_col)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
