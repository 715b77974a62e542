"""SQL catalog registration and parquet compaction."""

from pyspark.sql import functions as F

from training_data_ops.catalog import (
    compact_parquet,
    register_tables,
)

SF_DIR = "/root/testdata/sf0.01"


def test_register_tables_enables_sql(spark):
    register_tables(spark, SF_DIR)
    row = spark.sql(
        """
        SELECT r_name, count(*) AS nations
        FROM region JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name LIMIT 1
        """
    ).collect()[0]
    assert row.r_name == "AFRICA" and row.nations > 0
    # the events view must carry the µs-timestamp fix
    assert spark.sql("SELECT max(ts) FROM events").collect()[0][0].year >= 2024


def test_compact_parquet_merges_small_files(spark, tmp_path):
    src = str(tmp_path / "frag")
    # fragment: 16 files for a tiny table
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(16).write.parquet(src)
    total_before = spark.read.parquet(src).count()

    before, after = compact_parquet(spark, src, target_files=2)
    assert before == 16 and after <= 2
    back = spark.read.parquet(src)
    assert back.count() == total_before
    assert back.agg(F.sum("v")).collect()[0][0] == sum(i % 7 for i in range(1000))
