"""Bloom-filter semi-join reduction (SURVEY.md §2.D scale tooling).

The join-pruning pattern for a 100 TB fact ⋈ selective-dimension join whose
dimension key set is too large to broadcast as a hash set but tiny as bits:
build a Bloom filter of the dimension keys (10 bits/key ≈ 1% false
positives — a 100 M-key dimension is ~125 MB of bits vs ~1 GB+ as a
broadcast hash relation), broadcast it, and drop non-matching fact rows
*before* the shuffle join.  False positives are harmless: the real join
still runs and removes them, so the rewrite is semantics-neutral — proven
by registering the prefiltered join against the PLAIN join's DuckDB oracle.

Spark 4's ``bloom_filter_agg``/``might_contain`` expressions are not
exposed through the public function registry, so the filter is built with
plain DataFrame aggregation — which also keeps every step visible to the
plan tests:

- build: k = ``NUM_HASHES`` positions per key via seeded ``xxhash64``,
  explode → (word, bit) → ``bit_or(1 << bit)`` grouped by word — a
  partial-aggregating shuffle of at most ``m/64`` rows;
- pack: densify over ``range(m/64)`` (absent words → 0), then
  ``sort_array(collect_list(struct))`` → ``transform`` into ONE row
  holding the whole bitmap as a positional ``array<long>``;
- probe: cross-join the broadcast 1-row bitmap, test all k bits with
  O(1) ``element_at`` word lookups — pure JVM expressions inside
  codegen, no Python.

Everything is deterministic (fixed seeds), so the pruned fact set is
stable across engines, runs, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register

NUM_BITS = 1 << 17  # m: bits in the filter (128 Ki ≈ 10 bits/key for ~13k keys)
NUM_WORDS = NUM_BITS // 64
NUM_HASHES = 7  # k ≈ (m/n) ln 2 at 10 bits/key


def _positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """Array of k bit positions for a key (seeded xxhash64 per hash)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(j)), F.lit(num_bits))
            for j in range(num_hashes)
        ]
    )


def bloom_build(
    dim: DataFrame,
    key_col: str,
    num_bits: int = NUM_BITS,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """One-row DataFrame holding the packed bitmap: ``bloom_bits`` is a
    dense positional ``array<long>`` of length ``num_bits/64`` (index i =
    word i), so probes are O(1) ``element_at`` lookups.

    The heavy part (one row per key × k hashes) collapses under partial
    aggregation: the shuffle carries ≤ ``num_bits/64`` (word, bits) rows;
    densification joins against a ``range(num_bits/64)`` frame of the same
    (tiny, constant) size.
    """
    spark = dim.sparkSession
    num_words = num_bits // 64
    pos = F.explode(_positions(F.col(key_col), num_bits, num_hashes)).alias("pos")
    words = (
        dim.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    dense = (
        spark.range(num_words)
        .withColumnRenamed("id", "word")
        .join(words, "word", "left")
        .select("word", F.coalesce(F.col("bits"), F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("word", "bits"))),
            lambda s: s["bits"],
        ).alias("bloom_bits")
    )


def bloom_might_contain(
    bloom_bits: Column, key: Column, num_bits: int = NUM_BITS, num_hashes: int = NUM_HASHES
) -> Column:
    """True iff all k bits for ``key`` are set (possible false positives,
    never false negatives).  ``F.get`` is the 0-indexed array lookup that
    accepts a computed index column."""
    pred = F.lit(True)
    for j in range(num_hashes):
        pos = F.pmod(F.xxhash64(key, F.lit(j)), F.lit(num_bits))
        word = (pos / 64).cast("int")
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int"))
        pred = pred & ((F.get(bloom_bits, word).bitwiseAND(bit)) != 0)
    return pred


def bloom_prefiltered_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim with a broadcast Bloom prefilter on the first key pair.

    The filter prunes fact rows map-side before the join shuffle; the join
    itself then removes Bloom false positives, so results are identical to
    the plain join (the oracle gate proves it).
    """
    fact_key, dim_key = on[0]
    bloom = bloom_build(dim, dim_key)
    pruned = (
        fact.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain(F.col("bloom_bits"), F.col(fact_key)))
        .drop("bloom_bits")
    )
    cond = [pruned[fk] == dim[dk] for fk, dk in on]
    return pruned.join(dim, cond, how)


BLOOM_PART_SIZE = 10  # selective dimension predicate: small parts only


@register(
    "bloom_join_lineitem",
    f"""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, p.p_name, p.p_size
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size < {BLOOM_PART_SIZE}
    """,
    doc="Bloom-filter semi-join reduction registered against the PLAIN "
    "join's oracle: lineitem rows are pruned map-side by a broadcast "
    "128Ki-bit / 7-hash Bloom filter of the selective part keys before "
    "the join shuffle, and the real join removes the false positives — "
    "provably semantics-neutral. At 100 TB this is the pattern for "
    "selective dim joins whose key set broadcasts as bits (~10 bits/key) "
    "when it cannot as a hash relation (~64+ bits/key + overhead).",
)
def bloom_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") < BLOOM_PART_SIZE)
        .select("p_partkey", "p_name", "p_size")
    )
    return bloom_prefiltered_join(li, part, on=[("l_partkey", "p_partkey")]).select(
        "l_orderkey", "l_linenumber", "l_partkey", "p_name", "p_size"
    )
