"""``observed_lookup_join``'s witness path against its marker path.

The witness path counts ``count(1)`` / ``count(witness)`` over the plain
join; the marker path marks one cache row per key with a Window and is
exact on any cache, so it is the reference.  Both must give the same
``(lookup_total, lookup_hits)`` as a pure-Python count of lookup requests,
and the same join output rows, on random caches with unique, duplicate
and null keys, null non-key values, and key columns only.  The caches are
in-memory local relations built from Arrow; ``create_lookup_df`` snapshots
(Arrow-batch relations) are profiled too, from the table they were built
from and with no Spark job, and a cache whose rows may change between
evaluations must take the marker path unprofiled.  The profile over an
Arrow table is checked against the Spark-side profile it replaced.
"""

from __future__ import annotations

import functools
import gc
import operator
import re
import warnings
import weakref
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Observation, Row
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StringType, StructType

from flink_http_full_cache_connector_spark.operators import lookup_join as lj
from flink_http_full_cache_connector_spark.sources import lookup
from flink_http_full_cache_connector_spark.sources.datasource import register
from flink_http_full_cache_connector_spark.sources.lookup import create_lookup_df
from flink_http_full_cache_connector_spark.streaming.refresh import RefreshingLookupCache
from tests.conftest import RELATION_THRESHOLD, USERS_V1, session_conf
from tests.test_lookup_source import USERS_SCHEMA

#: value column names: plain, or a dotted second one (a top-level column
#: whose name Spark would parse as a field access unless quoted)
NAMES = (("v0", "v1"), ("v0", "geo.lat"))

#: join shapes: cache key columns, probe key columns, the ``on`` form that
#: names them, and the probe's other column — under "pairs" it takes the
#: name of the cache's first value column, so that column cannot be the witness
SHAPES = {
    "str": (("id",), ("id",), "id", "n"),
    "list": (("id",), ("id",), ["id"], "n"),
    "pairs": (("id",), ("pid",), [("pid", "id")], "v0"),
    "multi": (("a", "b"), ("a", "b"), ["a", "b"], "n"),
    "multi_pairs": (("a", "b"), ("pa", "pb"), [("pa", "a"), ("pb", "b")], "n"),
}

key = st.one_of(st.none(), st.integers(0, 3))
value = st.one_of(st.none(), st.text("xyz", max_size=2))


def arrow_table(rows, ddl):
    """``rows`` as an Arrow table of the DDL schema ``ddl``, and that schema."""
    schema = StructType.fromDDL(ddl)
    columns = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, to_arrow_type(f.dataType)) for c, f in zip(columns, schema)],
        names=schema.names,
    )
    return table, schema


def local_df(spark, rows, ddl):
    """``rows`` as an in-memory local relation, built from Arrow as
    ``create_lookup_df`` builds a snapshot."""
    return spark.createDataFrame(*arrow_table(rows, ddl))


@st.composite
def cases(draw):
    shape = draw(st.sampled_from(sorted(SHAPES)))
    width = len(SHAPES[shape][0])
    # 0 value columns: a cache with key columns only
    n_values = draw(st.integers(0, 2))
    mode = draw(st.sampled_from(["unique", "duplicate", "nullable"]))
    if mode == "nullable":
        keys = draw(st.lists(st.tuples(*[key] * width), min_size=1, max_size=6))
    else:
        keys = draw(
            st.lists(st.tuples(*[st.integers(0, 3)] * width), min_size=1, max_size=4, unique=True)
        )
        if mode == "duplicate":
            keys += draw(st.lists(st.sampled_from(keys), min_size=1, max_size=3))
    # "v0" is non-null on every row in half the cases: a witness candidate
    non_null_v0 = draw(st.booleans())
    cache_rows = [
        k + tuple(
            draw(st.text("xyz", max_size=2) if (i == 0 and non_null_v0) else value)
            for i in range(n_values)
        )
        for k in keys
    ]
    # probe keys aimed at the cache's keys, or anywhere
    probe_key = st.one_of(st.sampled_from(keys), st.tuples(*[key] * width))
    probe_rows = [draw(probe_key) + (n,) for n in range(draw(st.integers(1, 8)))]
    how = draw(st.sampled_from(["left", "inner"]))
    names = draw(st.sampled_from(NAMES))
    return shape, n_values, cache_rows, probe_rows, how, names


def python_counts(cache_keys, probe_rows, width, how):
    """Lookup requests and hits: a probe row hits when its non-null key
    equals the non-null key of some cache row."""
    present = {k for k in cache_keys if None not in k}
    hits = sum(1 for r in probe_rows if r[:width] in present)
    return (len(probe_rows) if how == "left" else hits), hits


def observe(df_fn):
    obs = Observation()
    df = df_fn(obs)
    rows = sorted(df.collect(), key=repr)
    got = obs.get
    return df, rows, (got["lookup_total"], got["lookup_hits"])


@settings(max_examples=30, deadline=None)
@given(cases())
# a duplicated key that a probe row hits
@example(("list", 1, [(1, "a"), (1, "b"), (2, "c")], [(1, 0), (2, 1), (3, 2)], "left", NAMES[0]))
# a null value in the only non-key column, on a row a probe row hits
@example(("str", 1, [(1, None), (2, "b")], [(1, 0), (2, 1)], "left", NAMES[0]))
# null keys on both sides; the non-null columns are the second one and
# the one whose name the probe takes
@example(("pairs", 2, [(None, None, None), (1, "y", "x")], [(None, 0), (1, 1)], "left", NAMES[0]))
# the dotted column is the witness
@example(("multi", 2, [(1, 2, None, "p"), (2, 1, "q", "r")], [(1, 2, 0), (2, 2, 1)], "left", NAMES[1]))
# key columns only
@example(("multi_pairs", 0, [(1, 2), (2, 1)], [(1, 2, 0), (2, 2, 1)], "inner", NAMES[0]))
def test_witness_path_matches_marker_path_and_python(spark, case):
    shape, n_values, cache_rows, probe_rows, how, names = case
    cache_keys, probe_keys, on, other = SHAPES[shape]
    width = len(cache_keys)
    cache = local_df(
        spark,
        cache_rows,
        ", ".join([f"{k} int" for k in cache_keys] + [f"`{n}` string" for n in names[:n_values]]),
    )
    probe = spark.createDataFrame(
        probe_rows, ", ".join([f"{k} int" for k in probe_keys] + [f"{other} int"])
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        fast, fast_rows, fast_counts = observe(
            lambda obs: lj.observed_lookup_join(probe, cache, on, how, observation=obs)
        )
    ref, ref_rows, ref_counts = observe(
        lambda obs: lj._marked_join(probe, cache, on, how, obs, cache_keys)
    )
    plain = lj.lookup_join(probe, cache, on, how)
    plain_rows = sorted(plain.collect(), key=repr)

    assert fast_counts == ref_counts == python_counts(
        [r[:width] for r in cache_rows], probe_rows, width, how
    )
    assert fast_rows == ref_rows == plain_rows
    assert fast.columns == ref.columns == plain.columns
    assert lj._HIT_MARKER not in fast.columns

    # the witness path runs exactly when the model says it can
    matchable = [r for r in cache_rows if None not in r[:width]]
    unique = len({r[:width] for r in matchable}) == len(matchable)
    witness = any(
        all(r[width + i] is not None for r in matchable)
        for i in range(n_values)
        if names[i] != other
    )
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # with no matchable row the optimizer empties the cache side, Window
    # and all, whichever path built it
    if matchable:
        assert ("Window" not in plan) == (unique and witness)


@pytest.mark.parametrize(
    ("cache_rows", "cache_ddl", "probe_rows", "probe_ddl", "on", "n_rows", "counts"),
    [
        # Spark's join equates NaN with NaN, Python's == does not
        (
            [(0.0, "a"), (float("nan"), "b"), (float("nan"), "c")], "k double, v string",
            [(0.0,), (float("nan"),), (1.0,)], "k double", "k", 4, (3, 2),
        ),
        # the key named in another case than the cache column
        (
            [(1, "a"), (2, "b")], "id int, v string",
            [(1,), (3,)], "ID int", "ID", 2, (2, 1),
        ),
    ],
    ids=["floating-key", "key-case"],
)
def test_declined_keys_take_the_marker_path(
    spark, cache_rows, cache_ddl, probe_rows, probe_ddl, on, n_rows, counts
):
    cache = local_df(spark, cache_rows, cache_ddl)
    probe = spark.createDataFrame(probe_rows, probe_ddl)
    df, rows, got = observe(
        lambda obs: lj.observed_lookup_join(probe, cache, on, observation=obs)
    )
    assert (len(rows), got) == (n_rows, counts)
    assert "Window" in df._jdf.queryExecution().executedPlan().toString()


#: per key type, a value for each small int the ``cases`` keys draw: every
#: type the witness path profiles, and the floating types it declines
KEY_VALUES = {
    "boolean": lambda i: i % 2 == 1,
    "tinyint": lambda i: i - 2,
    "smallint": lambda i: i * 1000,
    "int": lambda i: i,
    "bigint": lambda i: i << 40,
    "decimal(5,2)": lambda i: Decimal(i) / 4,
    "date": lambda i: date(2024, 1, 1 + i),
    "timestamp": lambda i: datetime(2024, 1, 1, i, tzinfo=timezone.utc),
    "timestamp_ntz": lambda i: datetime(2024, 1, 1, 0, 0, i),
    "binary": lambda i: bytes([i]) * i,
    "string": lambda i: "é" * i,
    "double": lambda i: i / 2,
    "float": lambda i: i / 2,
}


def spark_profile(cache, keys):
    """The Spark-side profile that the profile over the snapshot's table
    replaced: one job collects the matchable rows' keys and the non-key
    columns' null flags as Arrow."""
    types = {f.name: f.dataType for f in cache.schema}
    others = [c for c in types if c not in keys]
    exact = all(
        isinstance(types.get(k), lj._EXACT_KEY_TYPES) or types.get(k) == StringType()
        for k in keys
    )
    if not others or not exact:
        return ()
    matchable = functools.reduce(operator.and_, (lj._quoted(k).isNotNull() for k in keys))
    table = (
        cache.where(matchable)
        .select(*map(lj._quoted, keys), *(lj._quoted(c).isNotNull() for c in others))
        .toArrow()
    )
    if len(set(zip(*(table.column(i).to_pylist() for i in range(len(keys)))))) != table.num_rows:
        return ()
    return tuple(
        c for i, c in enumerate(others, len(keys))
        if pc.all(table.column(i), min_count=0).as_py()
    )


@pytest.mark.parametrize(
    ("key_type", "key_case"),
    [(t, False) for t in KEY_VALUES] + [("int", True)],
    ids=[*KEY_VALUES, "key-case"],
)
@settings(max_examples=6, deadline=None)
@given(case=cases())
# a witness, unless declined: the null value is on a row a null key
# keeps from matching
@example(
    case=("str", 2, [(None, None, "x"), (1, "a", None), (2, "b", "y")], [], "left", NAMES[0])
)
# a duplicated key, among null ones
@example(case=("multi", 1, [(1, None, "a"), (1, 2, "b"), (1, 2, "c")], [], "left", NAMES[1]))
def test_table_profile_matches_spark_profile(spark, key_type, key_case, case):
    """The profile over an Arrow table gives the Spark-side profile's
    witnesses, over the snapshot relation built from the table and over
    a local relation of it; declined key types and a key named in another
    case have none."""
    shape, n_values, cache_rows, _, _, names = case
    cache_keys = SHAPES[shape][0]
    width = len(cache_keys)
    value = KEY_VALUES[key_type]
    rows = [tuple(k if k is None else value(k) for k in r[:width]) + r[width:] for r in cache_rows]
    columns = [f"{k} {key_type}" for k in cache_keys] + [f"`{n}` string" for n in names[:n_values]]
    table, schema = arrow_table(rows, ", ".join(columns))
    keys = tuple(k.upper() for k in cache_keys) if key_case else cache_keys
    want = spark_profile(lookup._arrow_relation(spark, table, schema), keys)
    assert lj._profile(table, schema, keys) == want
    assert lj._candidates(spark.createDataFrame(table, schema), keys) == want
    if key_case or key_type in ("double", "float"):
        assert want == ()


def own_arrow_batches(spark, df):
    """``df``'s rows as ``createDataFrame(arrow_table)`` under threshold 0."""
    with session_conf(spark, RELATION_THRESHOLD, "0"):
        own = spark.createDataFrame(df.toArrow(), df.schema)
    assert "Scan ExistingRDD arrow" in own._jdf.queryExecution().executedPlan().toString()
    return own


@pytest.mark.parametrize(
    "build",
    [
        # an RDD scan
        lambda spark, base: spark.createDataFrame(base.collect(), base.schema),
        lambda spark, base: base.withColumn("r", F.rand()),
        lambda spark, base: base.withColumn("t", F.current_timestamp()),
        lambda spark, base: spark.range(1, 3).withColumn("v", F.lit("a")),
        # the caller's own Arrow-batch relation, the kind a snapshot is,
        # which the engine did not build
        own_arrow_batches,
    ],
    ids=["rdd", "rand", "clock", "range", "own-arrow-batches"],
)
def test_caches_whose_rows_may_change_are_not_profiled(spark, build):
    """Each cache has unique keys and a non-null ``v``; of these, only the
    bare local relation is profiled and finds ``v``."""
    base = local_df(spark, [(1, "a"), (2, "b")], "id bigint, v string")
    assert lj._candidates(base, ("id",)) == ("v",)
    assert lj._candidates(build(spark, base), ("id",)) == ()


@pytest.mark.parametrize("threshold", [None, "0", "1g"])
def test_snapshot_is_profiled_at_any_relation_threshold(spark, http_server, threshold):
    """A ``create_lookup_df`` snapshot is the Arrow-batch relation whatever
    the session's threshold, and is profiled; a query over it is not."""
    with session_conf(spark, RELATION_THRESHOLD, threshold):
        snapshot = create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA)
    assert "Scan ExistingRDD arrow" in snapshot._jdf.queryExecution().executedPlan().toString()
    assert lj._candidates(snapshot, ("id",)) == ("name", "username", "email")
    assert lj._candidates(snapshot.where("id > 0"), ("id",)) == ()


def test_data_source_cache_counts_every_generation_exactly(spark, http_server):
    """A data-source cache fetches again on every evaluation, so a profile
    of one generation would not hold for the next.  It takes the marker
    path with no profile fetch, and stays exact when the second
    generation duplicates a key."""
    register(spark)
    cache = (
        spark.read.format("http-lookup-full-cache")
        .schema("id INT, name STRING")
        .option("url", http_server.url)
        .load()
    )
    probe = spark.createDataFrame([Row(user_id=i) for i in (1, 2, 11)])

    def counts():
        obs = Observation()
        df = lj.observed_lookup_join(probe, cache, [("user_id", "id")], observation=obs)
        df.write.format("noop").mode("overwrite").save()
        return obs.get

    assert counts() == {"lookup_total": 3, "lookup_hits": 2}
    http_server.set_payload(USERS_V1 + [dict(USERS_V1[0], name="again")])
    assert counts() == {"lookup_total": 3, "lookup_hits": 2}
    assert http_server.request_count == 2


def operators(df) -> list[str]:
    """Operator names of ``df``'s executed plan, root first: the final
    adaptive plan, without the adaptive wrappers."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]
    names = [
        m.group(1)
        for m in (re.match(r"[\s:+\-|]*(?:\*\(\d+\) )?(\w+)", ln) for ln in plan.splitlines())
        if m
    ]
    return [n for n in names if n not in ("AdaptiveSparkPlan", "ResultQueryStage")]


def test_unique_snapshot_plan_and_one_profile_per_snapshot(spark, http_server, monkeypatch):
    """On a unique-keyed refresh snapshot the observe is the plan's last
    operator, over a join with no Window and no cache-side shuffle, and the
    snapshot is profiled once, then once more after a reload.  The old
    snapshot's record, kept table and profile, goes with it."""
    profiles = []
    profile = lj._profile
    monkeypatch.setattr(
        lj,
        "_profile",
        lambda table, schema, keys: profiles.append(keys) or profile(table, schema, keys),
    )
    cache = RefreshingLookupCache(
        spark, {"url": http_server.url, "cache.refresh-interval": "PT1H"}, USERS_SCHEMA
    )
    probe = spark.createDataFrame([Row(user_id=i % 12 + 1) for i in range(12)])

    def join():
        obs = Observation()
        df = lj.observed_lookup_join(
            probe, cache.current(), [("user_id", "id")], observation=obs
        )
        df.write.format("noop").mode("overwrite").save()
        assert obs.get == {"lookup_total": 12, "lookup_hits": 10}
        return df

    ops = operators(join())
    assert ops[0] == "CollectMetrics", ops
    assert "Window" not in ops and "Exchange" not in ops, ops
    assert "BroadcastHashJoin" in ops
    assert profiles == [("id",)]
    join()
    assert profiles == [("id",)]  # same snapshot object: no second profile
    record = weakref.ref(lookup.RECORDS[cache.current()])
    assert record().table.num_rows == len(USERS_V1)
    assert record().witnesses == {("id",): ("name", "username", "email")}
    cache.check_and_reload(force=True)
    gc.collect()
    assert record() is None
    join()
    assert profiles == [("id",), ("id",)]


def test_observed_join_over_a_snapshot_starts_no_job(spark, http_server):
    """Building an observed join over a ``create_lookup_df`` or
    ``RefreshingLookupCache`` snapshot profiles it from the kept table:
    no Spark job runs until the join's own action."""
    refreshing = RefreshingLookupCache(
        spark, {"url": http_server.url, "cache.refresh-interval": "PT1H"}, USERS_SCHEMA
    )
    snapshots = {
        "create_lookup_df": create_lookup_df(spark, {"url": http_server.url}, USERS_SCHEMA),
        "refreshing": refreshing.current(),
    }
    probe = spark.createDataFrame([Row(user_id=i % 12 + 1) for i in range(12)])
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()

    def jobs(group):
        listener_bus.waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    for name, snapshot in snapshots.items():
        group = f"observed-join-over-{name}"
        sc.setJobGroup(group, "build an observed join, then run it")
        try:
            obs = Observation()
            joined = lj.observed_lookup_join(
                probe, snapshot, [("user_id", "id")], observation=obs
            )
            built = jobs(group)
            joined.write.format("noop").mode("overwrite").save()
            ran = jobs(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert built == [] and ran, (name, built, ran)
        assert obs.get == {"lookup_total": 12, "lookup_hits": 10}
        assert "Window" not in operators(joined)


@pytest.mark.parametrize("on", [[], ()], ids=["list", "tuple"])
@pytest.mark.parametrize(
    "join",
    [
        lj.lookup_join,
        lambda probe, cache, on: lj.observed_lookup_join(
            probe, cache, on, observation=Observation()
        ),
    ],
    ids=["lookup_join", "observed_lookup_join"],
)
def test_empty_on_is_refused(spark, join, on):
    """An ``on`` that names no join key is refused at the boundary, with
    an error that names the argument."""
    cache = local_df(spark, [(1, "a")], "id int, v string")
    probe = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match=r"^on must name at least one join key"):
        join(probe, cache, on)


def test_unsupported_how_is_refused_before_the_warning_and_the_profile(spark):
    """``observed_lookup_join`` checks ``how`` first: a ``how`` that
    ``lookup_join`` refuses raises its ``ValueError`` with no warning about
    ``lookup_total`` and no profile of the cache, so no Spark job, even
    over a bare local relation, which one ``toArrow`` job would profile."""
    cache = local_df(spark, [(1, "a")], "id int, v string")
    probe = spark.createDataFrame([(1,)], "id int")
    sc = spark.sparkContext
    group = "observed-join-unsupported-how"
    sc.setJobGroup(group, "build an observed join with an unsupported how")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            with pytest.raises(ValueError, match=r"^lookup_join supports inner/left, got 'right'$"):
                lj.observed_lookup_join(probe, cache, "id", "right", observation=Observation())
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert lookup.RECORDS.get(cache) is None
