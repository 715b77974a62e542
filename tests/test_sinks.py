"""Training-shard sink: layout, determinism, and round-trip fidelity."""

import glob

import pytest
from pyspark.sql import functions as F

from training_data_ops.operators.sampling import split_column
from training_data_ops.sinks import write_training_shards

SF_DIR = "/root/testdata/sf0.01"


def test_shard_layout_and_roundtrip(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "split", split_column(F.col("doc_id"))
    )
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, key_col="doc_id", num_shards=4, split_col="split")

    # layout: split=*/shard=N directories, one data file per shard dir
    shard_dirs = glob.glob(f"{out}/split=*/shard=*")
    assert shard_dirs, out
    for d in shard_dirs:
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r.shard for r in back.select("shard").distinct().collect()} <= {0, 1, 2, 3}

    # determinism: a second write lands every doc in the same shard
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, key_col="doc_id", num_shards=4, split_col="split")
    a = {(r.doc_id): (r.split, r.shard) for r in back.select("doc_id", "split", "shard").collect()}
    b = {
        (r.doc_id): (r.split, r.shard)
        for r in spark.read.parquet(out2).select("doc_id", "split", "shard").collect()
    }
    assert a == b


def test_shard_rejects_bad_count(spark):
    df = spark.range(5)
    with pytest.raises(ValueError, match="num_shards"):
        write_training_shards(df, "/tmp/x", key_col="id", num_shards=0)
