"""Driver-identical canonicalization gate.

The per-round driver compares each registered Spark query against its DuckDB
oracle by (1) row count, (2) column-name set, (3) a value hash computed after
pandas ``sort_values`` over ALL columns.  Step (3) is stricter than
``tests/test_oracle_parity.py`` in two ways the parity test cannot see:

- ``sort_values`` **throws** on unhashable cells — an array-typed output
  column is a permanent driver error even though ``assert_frame_equal``
  happily compares it (this is exactly how ``embedding_quantize_int8``
  shipped a schema the round-2 driver could never check);
- the hash compares values **exactly** — no ``atol``, so a 1-ulp float
  divergence that the parity test's ``round(6)`` forgives is a driver
  ``hash_match: false``.

This suite replays that gate locally for every registered query at sf0.01:
canonicalize exactly like the driver (column sort, then ``sort_values`` over
the raw frame), then hash a normalized string form of every cell and require
the Spark and oracle hashes to be identical.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

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


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization step, replicated: sort columns by name,
    then ``sort_values`` over all columns on the RAW frame.  Raises
    ``TypeError`` for any schema the driver cannot hash (array cells)."""
    df = df[sorted(df.columns)].copy()
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _norm_col(s: pd.Series) -> pd.Series:
    """Normalize representation differences that are NOT value differences
    (physical dtype width, decimal vs float, date objects vs datetime64) so
    the hash only diverges when actual values diverge."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return pd.to_datetime(s).astype("datetime64[us]").astype("int64").astype(str)
    if pd.api.types.is_bool_dtype(s):
        return s.astype(object).map(lambda v: str(bool(v)) if v is not None and v == v else "NULL")
    if pd.api.types.is_float_dtype(s):
        return s.astype("float64").map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
    if pd.api.types.is_integer_dtype(s):
        return s.astype("int64").astype(str)
    # object columns: dates, decimals, strings, None
    def conv(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "NULL"
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
        if isinstance(v, datetime.datetime):
            return str(pd.Timestamp(v).to_datetime64().astype("datetime64[us]"))
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        return str(v)

    return s.map(conv)


def value_hash(df: pd.DataFrame) -> str:
    cols = [_norm_col(df[c]) for c in df.columns]
    if not cols:
        return hashlib.md5(str(len(df)).encode()).hexdigest()
    joined = pd.concat(cols, axis=1)
    payload = "\n".join(
        "|".join(row) for row in joined.itertuples(index=False, name=None)
    )
    return hashlib.md5(payload.encode()).hexdigest()


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


def _fast_sample(items, stride: int = 10, offset: int = 5):
    """Deterministic ~1/stride sample by md5(name) order (offset 5 so the
    canon sample and test_oracle_parity's sample cover DIFFERENT queries —
    ~10% of the registry each, hash-level here, value-level there)."""
    import hashlib

    ordered = sorted(items, key=lambda t: hashlib.md5(t[0].encode()).hexdigest())
    return ordered[offset::stride]


#: Full-registry driver-gate replica — the driver contract's queries in the
#: default tier, the rest in the slow tier (see test_oracle_parity's note;
#: the fast tier keeps the offset sample below).
@pytest.mark.parametrize(("name", "fn", "sql"), full_sweep())
def test_driver_gate_replica(spark, oracle_con, name, fn, sql):
    _canon_check(spark, oracle_con, name, fn, sql)


@pytest.mark.parametrize(
    ("name", "fn", "sql"),
    _fast_sample(queries_and_oracles()),
    ids=[n for n, _, _ in _fast_sample(queries_and_oracles())],
)
def test_driver_gate_replica_fast_sample(spark, oracle_con, name, fn, sql):
    _canon_check(spark, oracle_con, name, fn, sql)


def _canon_check(spark, oracle_con, name, fn, sql):
    sdf = fn(spark, SF_DIR).toPandas()
    # the driver canonicalizes the Spark frame even for no-oracle queries —
    # an unhashable schema errors regardless, so exercise canon always
    s_canon = driver_canon(sdf)
    if sql is None:
        assert len(s_canon) >= 0  # rows-only check (driver's weaker gate)
        return
    odf = oracle_con.execute(sql).df()
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: columns differ"
    o_canon = driver_canon(odf)
    sh, oh = value_hash(s_canon), value_hash(o_canon)
    if sh != oh:
        # surface the first differing row for debugging instead of bare hashes
        sn = pd.concat([_norm_col(s_canon[c]) for c in s_canon.columns], axis=1)
        on = pd.concat([_norm_col(o_canon[c]) for c in o_canon.columns], axis=1)
        diff = (sn.values != on.values)
        idx = np.argwhere(diff)[:3]
        detail = [
            (s_canon.columns[j], i, sn.iat[i, j], on.iat[i, j]) for i, j in idx
        ]
        pytest.fail(f"{name}: value hash mismatch; first diffs {detail}")
