"""Central query registry backing the driver contract (__spark_entry__.py).

Every reference query shape from SURVEY.md §2.B registers a
:class:`QueryDef` here: a Spark callable ``(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs
over the same parquet tables.  Column names are aliased identically on both
sides — the driver's compare hashes values after sorting columns by name.
The training-data operator set registers its queries apart, in
``training_data_ops.registry``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def clear_cache_first(fn: SparkQuery) -> SparkQuery:
    """Wrap a query so it first drops cached relations left by PREVIOUS
    queries: a harness that sweeps every registered query through one
    session (the driver's correctness gate, bench.py, the oracle-parity
    tests) would otherwise accumulate every persist() any query ever made."""

    @functools.wraps(fn)
    def gated(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        return fn(spark, sf_dir)

    return gated


def register(
    name: str, oracle: str | None, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = QueryDef(
            name=name, spark=clear_cache_first(fn), oracle=oracle, doc=doc
        )
        # return the UNwrapped function: intra-module composition must not
        # clear the caller's own cache mid-build
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    # Import the registrant lazily to avoid an import cycle; it appends to
    # the registry at import time.
    from flink_http_full_cache_connector_spark.plans import (  # noqa: F401
        reference_queries,
    )

    return dict(_REGISTRY)


def short_keys(names: list[str]) -> dict[str, str]:
    """Deterministic short key per query name for the bench JSON line.

    The driver keeps only the last 2000 bytes of bench.py stdout
    (BENCH_r01.json: ``tail`` is exactly 2000 chars and ``parsed`` is null
    because the full-name line was ~4 KB).  Keys compress each ``_``-word to
    its first letters (2 for the head word, 1 for the rest — tightened when
    the registry passed ~135 names and the 3+2 scheme overflowed the budget
    even at 1 decimal); collisions widen the suffix-word slice until unique.
    Independent of input order (widening applies to whole colliding groups
    at once), so the mapping depends only on the SET of registered names.
    Full mapping is written to BENCH_KEYS.json next to the bench output.

    When the word-compressed keys can no longer fit a 1-decimal line in the
    driver's 2000-byte window (the registry crossed that point at 168
    names), the scheme switches WHOLESALE to dense base36 codes assigned by
    sorted name — still a pure function of the name set, ~2 bytes/key, good
    to 1296 names.  Readability lives in BENCH_KEYS.json / BENCH_FULL.json
    either way; the machine line's job is to survive the stdout window with
    per-query precision intact.
    """

    def key(name: str, k: int) -> str:
        words = name.split("_")
        return words[0][:2] + "".join(w[:k] for w in words[1:])

    out: dict[str, str] = {}
    remaining = list(names)
    k = 1
    while remaining:
        cand = {n: key(n, k) for n in remaining}
        counts: dict[str, int] = {}
        for s in cand.values():
            counts[s] = counts.get(s, 0) + 1
        taken = set(out.values())
        next_round = []
        for n, s in cand.items():
            if counts[s] == 1 and s not in taken:
                out[n] = s
            else:
                next_round.append(n)
        if next_round == remaining:  # widening no longer separates; bail out
            for i, n in enumerate(sorted(next_round)):
                out[n] = f"{key(n, k)}{i}"
            break
        remaining = next_round
        k += 1
    # budget check: fixed JSON overhead ~135 B + per entry quotes/colon/
    # comma + a typical 3-char 1-decimal value.  Past the window, dense
    # codes keep per-query precision where the word keys would force the
    # 0-decimal fallback.
    est = 135 + sum(len(s) + 7 for s in out.values())
    if est > 1900:
        digits = "0123456789abcdefghijklmnopqrstuvwxyz"
        code_len = 1 if len(names) <= 36 else 2
        ordered = sorted(names)
        if len(ordered) > 36 * 36:
            raise ValueError("short_keys: > 1296 names")
        codes = {
            n: (digits[i // 36] + digits[i % 36])[-code_len:]
            for i, n in enumerate(ordered)
        }
        return {n: codes[n] for n in names}
    return {n: out[n] for n in names}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver parquet table.

    ``events.parquet`` has shipped ``ts`` in two physical forms across
    driver rounds: parquet TIMESTAMP(NANOS) (round 1 — Spark's vectorized
    reader rejects it, so it must be read as nanos-since-epoch longs and
    µs-truncated) and plain TIMESTAMP(MICROS) (round 2+ — reads directly
    as TIMESTAMP_NTZ).  Handle both by inspecting the footer schema; either
    way the returned ``ts`` is a session-tz TIMESTAMP whose wall-clock
    values match what the DuckDB oracle sees (UTC sessions — build_session
    pins spark.sql.session.timeZone=UTC).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events relation's ``ts`` to a session-tz TIMESTAMP,
    whichever physical form the parquet shipped (see :func:`load_table`).
    Works on batch and streaming DataFrames alike — dtype dispatch happens
    at plan-build time on the declared schema.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos-as-long; integer division: (ts / 1000).cast("long")
        # would round-trip through a double and lose ulps at ~1.7e18
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # parquet µs timestamps are tz-naive wall-clock values; the whole
        # query surface (windowing, unix_micros, oracle hashing) was built
        # against session-tz TIMESTAMP, so normalize (UTC session ⇒ same
        # instant, same wall clock)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
