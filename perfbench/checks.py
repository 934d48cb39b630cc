"""Independent answers, recomputed in pandas/NumPy, for every output the
benchmark checks.

Tier metrics are rebuilt from raw turns the way ``lib/stats/c_*.c``
defines them: NULL text is skipped by the length statistics, every turn
counts in ``turn_cnt``.  Gap fills are a plain per-key linear
interpolation; holistic stats come from ``grass_spark.functions.oracle``.
Each ``diff_*`` function returns the number of mismatching rows (0 when
the output is correct).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from grass_spark.functions import oracle

KEYS = ["conv_id", "bucket_start"]
ROLES = ("user", "assistant", "system", "tool")
INT_METRICS = ["turn_cnt", *[f"n_{r}" for r in ROLES], "tool_calls",
               "len_cnt", "len_sum", "len_min", "len_max"]
TIER_FREQ = {"t1m": "min", "t1h": "h", "t1d": "D"}
_MISSING = -(2**62)


def as_ns(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s).astype("datetime64[ns]")


def turn_lengths(raw: pd.DataFrame) -> pd.Series:
    """Characters per turn; NaN where the text is NULL."""
    return raw["text"].str.len()


def reference_tier(raw: pd.DataFrame, tier: str) -> pd.DataFrame:
    """One row per (conv_id, bucket_start) with the tier's integer metrics."""
    ln = turn_lengths(raw)
    per_turn = pd.DataFrame({
        "conv_id": raw["conv_id"].to_numpy(),
        "bucket_start": as_ns(raw["ts"]).dt.floor(TIER_FREQ[tier]).to_numpy(),
        "turn_cnt": 1,
        **{f"n_{r}": (raw["role"] == r).astype(np.int64).to_numpy() for r in ROLES},
        "tool_calls": raw["tool"].notna().astype(np.int64).to_numpy(),
        "len_cnt": ln.notna().astype(np.int64).to_numpy(),
        "len": ln.to_numpy(dtype=np.float64),
    })
    g = per_turn.groupby(KEYS, sort=True)
    out = g[INT_METRICS[:-3]].sum()
    out["len_sum"] = g["len"].sum(min_count=1)
    out["len_min"] = g["len"].min()
    out["len_max"] = g["len"].max()
    return out[INT_METRICS].astype("Int64").reset_index()


def diff_rows(actual: pd.DataFrame, expected: pd.DataFrame, cols: list[str],
              keys: list[str] = KEYS, rtol: float = 0.0) -> int:
    """Rows present on one side only, or differing in any of ``cols``
    (exactly, or within ``rtol`` for floats).  NULL equals NULL."""
    a = actual.assign(**{k: as_ns(actual[k]) for k in keys if k == "bucket_start"})
    e = expected.assign(**{k: as_ns(expected[k]) for k in keys if k == "bucket_start"})
    a = a.set_index(keys)[cols]
    e = e.set_index(keys)[cols]
    if a.index.has_duplicates:
        return int(a.index.duplicated().sum()) + diff_rows(
            actual.drop_duplicates(keys), expected, cols, keys, rtol)
    idx = a.index.union(e.index)
    a = a.reindex(idx).astype("float64").fillna(_MISSING).to_numpy()
    e = e.reindex(idx).astype("float64").fillna(_MISSING).to_numpy()
    if rtol:
        same = np.isclose(a, e, rtol=rtol, atol=0.0)
    else:
        same = a == e
    return int((~same.all(axis=1)).sum())


def reference_gapfill(series: pd.DataFrame, value_cols: list[str],
                      freq: str) -> pd.DataFrame:
    """Linear interpolation across every run of missing granules between
    two present ones, per conversation; present rows pass through."""
    rows = []
    step = pd.Timedelta(1, unit=freq)
    for conv, grp in series.sort_values(KEYS).groupby("conv_id", sort=False):
        ts = as_ns(grp["bucket_start"]).tolist()
        vals = grp[value_cols].to_numpy(dtype=np.float64)
        for i, t in enumerate(ts):
            rows.append((conv, t, *vals[i]))
            if i + 1 == len(ts):
                break
            k = int((ts[i + 1] - t) / step)
            for j in range(1, k):
                pos = j / k
                rows.append((conv, t + j * step,
                             *((1.0 - pos) * vals[i] + pos * vals[i + 1])))
    return pd.DataFrame(rows, columns=[*KEYS, *value_cols])


def reference_holistic(raw: pd.DataFrame) -> pd.DataFrame:
    """Exact median and average turn length per (conversation, hour)."""
    df = pd.DataFrame({
        "conv_id": raw["conv_id"].to_numpy(),
        "bucket_start": as_ns(raw["ts"]).dt.floor("h").to_numpy(),
        "len": turn_lengths(raw).to_numpy(dtype=np.float64),
    })
    rows = [
        (conv, b, oracle.median(v), oracle.average(v))
        for (conv, b), v in df.groupby(KEYS, sort=True)["len"]
    ]
    out = pd.DataFrame(rows, columns=[*KEYS, "median", "average"])
    # granules whose values are all NULL produce no row
    return out.dropna(subset=["median", "average"], how="all")
