"""Skew-resilient shuffle join (100 TB design tool).

When the dimension side is broadcastable, ``lookup_join`` already avoids
shuffles entirely — salting is for the remaining case: a shuffle equi-join
whose probe side has hot keys (one user/id dominating the table), where
hash partitioning would send a whole key to one reducer.

``salted_join`` scatters each probe row into one of ``salt`` sub-buckets of
its key and replicates the build side across all buckets, turning one
pathological reducer into ``salt`` even ones.  Semantics are identical to
the plain equi-join (inner/left), verified by test.

Spark's AQE skew-join (``spark.sql.adaptive.skewJoin.enabled``, on in
:func:`...session.build_session`) handles *sort-merge* skew
automatically at runtime; explicit salting remains useful when AQE can't
split (e.g. aggregations after the join keyed the same way, or forced
shuffled-hash joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[tuple[str, str]],
    how: str = "inner",
    *,
    salt: int = DEFAULT_SALT,
) -> DataFrame:
    """Equi-join with probe-side key salting.

    ``on`` is a list of (probe_col, build_col) pairs, like ``lookup_join``.
    The probe row's bucket is a deterministic hash of its whole row spread
    over ``salt`` buckets (hot *keys* scatter because their rows differ in
    other columns); the build side is exploded x``salt`` so every bucket
    finds its partners.  Build-side growth is the price — use only when the
    build side is small-ish but above the broadcast threshold, or when AQE
    skew handling is unavailable (see module docstring).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")

    probe_salted = probe.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt))
    )
    build_salted = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))

    cond = F.col("_salt") == F.col("_bsalt")
    build_salted = build_salted.withColumnRenamed("_salt", "_bsalt")
    for probe_col, build_col in on:
        cond = cond & (probe_salted[probe_col] == build_salted[build_col])
    return probe_salted.join(build_salted, cond, how).drop("_salt", "_bsalt")


def _key_profile(df, key_col: str, key_name: str):
    from pyspark.sql import functions as F

    per_key = df.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count("*").alias("cnt")
    )
    return per_key.agg(
        F.lit(key_name).alias("key_name"),
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.expr("max(cnt) * 1000000 div sum(cnt)").alias("top_share_ppm"),
        F.expr("max(cnt) * count(*) * 1000000 div sum(cnt)").alias(
            "skew_factor_ppm"
        ),
    )


def _register_skew_profile() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from flink_http_full_cache_connector_spark.plans.registry import load_table
    from training_data_ops.registry import register

    def one(key_expr: str, key_name: str, table: str) -> str:
        return f"""
        SELECT '{key_name}' AS key_name,
               count(*)::bigint AS n_keys,
               sum(cnt)::bigint AS total_rows,
               max(cnt)::bigint AS max_cnt,
               (max(cnt) * 1000000 // sum(cnt))::bigint AS top_share_ppm,
               (max(cnt) * count(*) * 1000000 // sum(cnt))::bigint
                   AS skew_factor_ppm
        FROM (SELECT {key_expr}::varchar AS k, count(*)::bigint AS cnt
              FROM {table} GROUP BY 1)
        """

    @register(
        "skew_profile",
        " UNION ALL ".join(
            [
                one("user_id", "events.user_id", "events"),
                one("event_type", "events.event_type", "events"),
                one("o_custkey", "orders.o_custkey", "orders"),
                one("l_partkey", "lineitem.l_partkey", "lineitem"),
            ]
        ),
        doc="Join-key skew diagnostics — the profile you read BEFORE "
        "choosing broadcast/salting/AQE-skew-join strategy: per candidate "
        "key, cardinality, max key weight, top-key share and skew factor "
        "(max/avg) in exact integer ppm (integer division — no float "
        "ratios to drift). One partial-agg shuffle per profiled key, "
        "second-level aggregates are key-cardinality-sized. The "
        "operational companion to salted_join_orders: its output decides "
        "when that operator's salting is worth the fan-out.",
    )
    def skew_profile(spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        parts = [
            _key_profile(events, "user_id", "events.user_id"),
            _key_profile(events, "event_type", "events.event_type"),
            _key_profile(orders, "o_custkey", "orders.o_custkey"),
            _key_profile(li, "l_partkey", "lineitem.l_partkey"),
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


_register_skew_profile()
