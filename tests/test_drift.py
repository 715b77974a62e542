"""split_drift_ks: numpy replay of the two-sample KS statistic (built the
classic way — sort pooled values, step the two ECDFs — rather than the
query's cross-multiplied-cumulative form) and the critical-gate algebra."""

import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from training_data_ops.registry import all_queries
from training_data_ops.plans.timeseries_queries import KS_CRIT_C

SF_DIR = "/root/testdata/sf0.001"


def _model(sf_dir):
    df = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
    ts = pd.to_datetime(df["ts"])
    wk = (ts.dt.dayofweek >= 5).to_numpy()  # pandas: 0=Mon, weekend >= 5
    v = np.floor(df["value"].to_numpy() * 1e6).astype(np.int64)
    out = {}
    for et in sorted(df["event_type"].unique()):
        m = (df["event_type"] == et).to_numpy()
        a = np.sort(v[m & ~wk])  # weekday sample
        b = np.sort(v[m & wk])  # weekend sample
        n0, n1 = len(a), len(b)
        grid = np.unique(np.concatenate([a, b]))
        f0 = np.searchsorted(a, grid, side="right")
        f1 = np.searchsorted(b, grid, side="right")
        ks_num = int(np.abs(f0.astype(object) * n1 - f1.astype(object) * n0).max())
        ks = ks_num / (n0 * n1)
        crit = KS_CRIT_C * math.sqrt((n0 + n1) / (n0 * n1))
        out[et] = (n0, n1, ks_num, ks, ks > crit)
    return out


def test_matches_classic_ecdf_construction(spark):
    rows = all_queries()["split_drift_ks"].spark(spark, SF_DIR).collect()
    model = _model(SF_DIR)
    assert len(rows) == len(model)
    for r in rows:
        n0, n1, ks_num, ks, drifted = model[r.event_type]
        assert (r.n_weekday, r.n_weekend, r.ks_num) == (n0, n1, ks_num), r
        assert abs(r.ks_stat - ks) < 1e-6
        assert r.drifted == drifted


def test_detects_a_planted_shift(spark, tmp_path):
    """Shift the weekend distribution by construction and the gate must
    fire; identical distributions must not."""
    import pyspark.sql.functions as F

    base = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    # identical weekday/weekend: copy each event to a Saturday and a Monday
    ident = pd.concat(
        [
            base.assign(ts=pd.Timestamp("2024-01-06 12:00:00")),  # Sat
            base.assign(ts=pd.Timestamp("2024-01-08 12:00:00")),  # Mon
        ]
    )
    shifted = ident.copy()
    sat = pd.to_datetime(shifted["ts"]).dt.dayofweek >= 5
    shifted.loc[sat, "value"] = shifted.loc[sat, "value"] + 1000.0

    for name, frame, expect in [("ident", ident, False), ("shift", shifted, True)]:
        d = tmp_path / name
        d.mkdir()
        frame.to_parquet(d / "events.parquet", index=False)
        rows = all_queries()["split_drift_ks"].spark(spark, str(d)).collect()
        assert rows and all(r.drifted == expect for r in rows), (name, rows)
