"""Driver-contract parity: every registered query — the driver contract's
reference queries and the training-data operator set's — must match its
DuckDB oracle at sf0.01 (row count + schema + order-insensitive values) — a
local replica of the driver's CORRECTNESS gate."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from training_data_ops.registry import all_queries

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize values, sort rows — order-insensitive."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(np.asarray(v).round(6).tolist())
                if isinstance(v, (list, np.ndarray))
                else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def queries_and_oracles():
    """``(name, fn, sql)`` for the driver contract's queries, then for the
    training-data operator set's."""
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    return [(name, qs[name], osql.get(name)) for name in sorted(qs)] + [
        (name, qd.spark, qd.oracle)
        for name, qd in sorted(all_queries().items())
        if name not in qs
    ]


def full_sweep():
    """Every query as a parameter; the training-data operator set's are
    marked slow."""
    driver = set(entry_mod.queries())
    return [
        pytest.param(
            name, fn, sql, id=name, marks=() if name in driver else pytest.mark.slow
        )
        for name, fn, sql in queries_and_oracles()
    ]


def _parity_check(spark, oracle_con, name, fn, sql):
    sdf = fn(spark, SF_DIR).toPandas()
    if sql is None:
        assert len(sdf) >= 0  # rows-only check (driver's weaker gate)
        return
    odf = oracle_con.execute(sql).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: column names differ"
    s_norm, o_norm = normalize(sdf), normalize(odf)
    pd.testing.assert_frame_equal(s_norm, o_norm, check_dtype=False, check_exact=False, atol=1e-6)


def _fast_sample(items, stride: int = 10):
    """Deterministic ~1/stride sample by md5(name) order — rotates nothing
    (pure function of the name set), touches every family over time as the
    registry grows, and keeps the fast tier's oracle coverage meaningful."""
    import hashlib

    ordered = sorted(items, key=lambda t: hashlib.md5(t[0].encode()).hexdigest())
    return ordered[::stride]


#: The FULL registry sweep is the driver's own correctness gate replicated
#: locally.  The driver contract's queries run in full in the default tier;
#: the rest of the sweep is ~6 min of wall, so the slow tier runs all of it
#: and the fast tier keeps the deterministic sample below.
@pytest.mark.parametrize(("name", "fn", "sql"), full_sweep())
def test_query_matches_oracle(spark, oracle_con, name, fn, sql):
    _parity_check(spark, oracle_con, name, fn, sql)


@pytest.mark.parametrize(
    ("name", "fn", "sql"),
    _fast_sample(queries_and_oracles()),
    ids=[n for n, _, _ in _fast_sample(queries_and_oracles())],
)
def test_query_matches_oracle_fast_sample(spark, oracle_con, name, fn, sql):
    _parity_check(spark, oracle_con, name, fn, sql)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "o_orderkey" in df.columns and "c_name" in df.columns
