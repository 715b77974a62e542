"""Scale machinery: salted join equivalence, session builder, kafka reader
options, widen() no-op on wide inputs."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from training_data_ops.operators.scale import widen
from training_data_ops.operators.skew import salted_join


@pytest.fixture()
def skewed_tables(spark):
    # hot key: 90% of probe rows hit user 1
    probe = spark.createDataFrame(
        [Row(pid=i, user_id=1 if i % 10 else i % 5 + 1, amt=float(i)) for i in range(1000)]
    )
    build = spark.createDataFrame(
        [Row(user_id=u, name=f"user{u}") for u in range(1, 8)]
    )
    return probe, build


def test_salted_join_matches_plain_inner(spark, skewed_tables):
    probe, build = skewed_tables
    plain = probe.join(build, "user_id", "inner").select("pid", "user_id", "name")
    salted = salted_join(probe, build, on=[("user_id", "user_id")], how="inner").select(
        "pid", probe["user_id"], "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain_left(spark, skewed_tables):
    probe, build = skewed_tables
    probe = probe.withColumn("user_id", F.col("user_id") + 3)  # create misses
    plain = probe.join(build, "user_id", "left").select("pid", "user_id", "name")
    salted = salted_join(probe, build, on=[("user_id", "user_id")], how="left").select(
        "pid", probe["user_id"], "name"
    )
    assert sorted(map(tuple, salted.collect()), key=str) == sorted(
        map(tuple, plain.collect()), key=str
    )


def test_salted_join_rejects_bad_args(spark, skewed_tables):
    probe, build = skewed_tables
    with pytest.raises(ValueError, match="how"):
        salted_join(probe, build, on=[("user_id", "user_id")], how="full")
    with pytest.raises(ValueError, match="salt"):
        salted_join(probe, build, on=[("user_id", "user_id")], salt=0)


def test_widen_is_noop_on_wide_input(spark):
    wide = spark.range(0, 1000, 1, 64)
    assert widen(wide.toDF("id")).rdd.getNumPartitions() == 64


def test_parquet_num_rows_skips_staging_and_hidden_files(spark, tmp_path):
    """Footer row counts cover only the parts Spark's reader sees: files
    under ``_temporary/`` and hidden files are skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from training_data_ops.operators.scale import parquet_num_rows

    table_dir = tmp_path / "t.parquet"
    (table_dir / "_temporary").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}), table_dir / "part-0.parquet")
    pq.write_table(pa.table({"x": [4, 5]}), table_dir / "_temporary" / "part-0.parquet")
    pq.write_table(pa.table({"x": [6]}), table_dir / ".x.parquet")
    assert parquet_num_rows(str(tmp_path), "t") == 3
    assert spark.read.parquet(str(table_dir)).count() == 3


def test_build_session_reuses_active_with_aqe(spark):
    # getOrCreate returns the active session; confs on the active session
    # are what bench/tests actually run with
    from flink_http_full_cache_connector_spark.session import build_session

    s = build_session()
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"


def test_kafka_reader_is_declarative(spark):
    from flink_http_full_cache_connector_spark.sources.kafka import (
        kafka_reader,
        parse_json_value,
    )

    # assembling the reader must not require the kafka jar
    reader = kafka_reader(spark, "broker:9092", "orders", starting_offsets="earliest")
    assert reader is not None
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    raw = spark.createDataFrame(
        [Row(value=bytearray(b'{"id": 7, "name": "x"}')), Row(value=bytearray(b'{"id": 8}'))]
    )
    parsed = {r.id: r.name for r in parse_json_value(raw, schema).collect()}
    assert parsed == {7: "x", 8: None}  # missing field -> NULL (flink-json parity)


# --- r11 optimization helpers -------------------------------------------


def test_scoped_stream_shuffle_sets_and_restores(spark):
    """The streaming scope must apply its partition count (8) inside the
    block and restore the previous session value on exit, including on
    error — a leaked value would silently resize every later batch query's
    shuffles."""
    from flink_http_full_cache_connector_spark.streaming.pipeline import (
        scoped_stream_shuffle,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "8"  # else a restore would not show
    with scoped_stream_shuffle(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    with pytest.raises(RuntimeError):
        with scoped_stream_shuffle(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_write_slice_files_layout_and_content(spark, tmp_path):
    """ONE partitionBy pass must reproduce the per-slice loop's layout:
    every slice directory exists, 1 file per slice by default, the slice
    key never leaks into the file schema, and the union of files is
    exactly the input relation."""
    import glob

    from training_data_ops.streaming.upsert import (
        write_slice_files,
    )

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = str(tmp_path / "slices")
    write_slice_files(df, out, F.col("k") % 3, 3)
    for s in range(3):
        files = glob.glob(f"{out}/_slice={s}/*.parquet")
        assert len(files) == 1, files
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )
    assert back.columns == ["k", "v"]  # _slice stays in dir names only
    assert back.count() == 300
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    # files_per_slice spreads each slice over ~n sub-files.  The lower
    # bound is 1, not 2 (r11 ADVICE): how many of the 12 (slice, sub)
    # groups land in distinct partitions depends on Murmur3 hash spread,
    # which a Spark upgrade may change — only the cap and the total
    # spread are the helper's contract.
    out2 = str(tmp_path / "slices2")
    write_slice_files(
        df, out2, F.col("k") % 3, 3,
        files_per_slice=4, sub_col=F.expr("k div 3") % 4,
    )
    total2 = 0
    for s in range(3):
        files = glob.glob(f"{out2}/_slice={s}/*.parquet")
        assert 1 <= len(files) <= 4, files
        total2 += len(files)
    assert total2 > 3  # the sub split does spread beyond 1 file/slice
    back2 = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out2)
    )
    assert back2.count() == 300 and back2.columns == ["k", "v"]


def test_pca_gram_matches_numpy_and_kernels(spark):
    """pca_gram's per-batch GEMM partials must sum to numpy's exact X^T X
    (float-sum ulps only), and the gram-kernel trainer (the r11 default)
    must land on the same direction as the pass-per-step arrow kernel."""
    import numpy as np

    from training_data_ops.operators.similarity import (
        pca_gram,
        pca_power_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    G, n = pca_gram(emb)
    X = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    assert n == len(X)
    assert np.allclose(G, X.T @ X, rtol=1e-12, atol=1e-9)
    vg, lg = pca_power_train(emb, kernel="gram")
    va, la = pca_power_train(emb, kernel="arrow")
    vg, va = np.asarray(vg), np.asarray(va)
    assert abs(abs(float(vg @ va)) - 1.0) < 1e-9
    assert abs(lg - la) <= 1e-6 * abs(la)


def test_two_level_assign_carry_through_matches_scored_selection(spark):
    """r12 training-loop fusion: with score=False the kernel now skips the
    chosen⋈v re-attach join and (with carry_vec) passes the vector through
    the stage-2 cogroup instead.  The SELECTION must equal the scored
    kernel's selection row-for-row, and the carried vector must be the
    double-widened input vector itself."""
    from training_data_ops.operators.similarity import (
        two_level_assign,
        two_level_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    coarse, fine = two_level_index(emb, cells=16, k=4)
    scored = two_level_assign(emb, coarse, fine, coarse_probes=2)
    fast = two_level_assign(
        emb, coarse, fine, coarse_probes=2, carry_vec=True, score=False
    )
    a = {r["vec_id"]: r["cell_id"] for r in scored.collect()}
    rows = fast.collect()
    b = {r["vec_id"]: r["cell_id"] for r in rows}
    assert a == b  # identical selection, join or no join
    vs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    for r in rows:
        assert [float(x) for x in r["v"]] == vs[r["vec_id"]]


def test_fused_minhash_probe_candidates_match_self_join(spark):
    """r12 probe fusion: the collect_list + double-explode candidate stage
    must emit exactly the pair set of the reference windowed self-join
    formulation, including the bucket-cap boundary (bucket == cap kept,
    bucket == cap+1 dropped whole)."""
    from pyspark.sql import Window, functions as F

    cap = 3
    rows = []
    # bucket A: 2 batch + 1 history (size 3 == cap -> kept)
    rows += [(1, 0, "A", 1), (2, 0, "A", 1), (10, 0, "A", 0)]
    # bucket B: 1 batch + 3 history (size 4 > cap -> dropped whole)
    rows += [(3, 0, "B", 1), (11, 0, "B", 0), (12, 0, "B", 0), (13, 0, "B", 0)]
    # bucket C on another band: 1 batch + 1 history
    rows += [(1, 1, "C", 1), (14, 1, "C", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, band int, bkey string, _nb int"
    )

    wb = Window.partitionBy("band", "bkey")
    rows_c = (
        df.withColumn("_bc", F.count("*").over(wb))
        .where(F.col("_bc") <= cap)
        .drop("_bc")
    )
    # reference: the pre-r12 windowed self-join
    a = rows_c.where(F.col("_nb") == 1).select(
        F.col("doc_id").alias("_da"), "band", "bkey"
    )
    b = rows_c.select(F.col("doc_id").alias("_db"), "band", "bkey")
    ref = sorted(
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, ["band", "bkey"])
        .where(F.col("_da") != F.col("_db"))
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
        )
        .distinct()
        .collect()
    )
    # fused form (mirrors minhash_incremental_pairs)
    g = rows_c.groupBy("band", "bkey").agg(
        F.collect_list(F.when(F.col("_nb") == 1, F.col("doc_id"))).alias("ba"),
        F.collect_list("doc_id").alias("ds"),
    )
    fused = sorted(
        (r["doc_a"], r["doc_b"])
        for r in g.select(F.explode("ba").alias("_da"), "ds")
        .select("_da", F.explode("ds").alias("_db"))
        .where(F.col("_da") != F.col("_db"))
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
        )
        .distinct()
        .collect()
    )
    assert fused == ref == [(1, 2), (1, 10), (1, 14), (2, 10)]
