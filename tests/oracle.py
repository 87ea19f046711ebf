"""Pure-pandas oracle for the reference query semantics (SURVEY.md §5).

Independent reimplementation of the four query types with the exact
reference behaviors (half-open ranges, lb-anchored windows, bit-pattern
sentinels, empty-range-empty-result), used to verify the Spark operators.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

DOUBLE_SENTINEL = struct.unpack("<d", struct.pack("<Q", 0xFFF0000000000000))[0]
INT_SENTINEL = -(2**31)


def _scoped(pdf: pd.DataFrame, conv_id: str, lb_ms: int, ub_ms: int) -> pd.DataFrame:
    m = (pdf["conv_id"] == conv_id) & (pdf["ts_us"] >= lb_ms * 1000) & (pdf["ts_us"] < ub_ms * 1000)
    return pdf[m]


def oracle_latest(pdf: pd.DataFrame, conv_ids: list[str]) -> pd.DataFrame:
    sub = pdf[pdf["conv_id"].isin(conv_ids)]
    idx = sub.groupby("conv_id")["ts_us"].idxmax()
    return sub.loc[idx].reset_index(drop=True)


def oracle_time_range(pdf, conv_id, lb_ms, ub_ms, columns):
    return _scoped(pdf, conv_id, lb_ms, ub_ms)[columns].reset_index(drop=True)


def oracle_aggregate(pdf, conv_id, column, lb_ms, ub_ms, agg):
    sub = _scoped(pdf, conv_id, lb_ms, ub_ms)
    if len(sub) == 0:
        return pd.DataFrame({"conv_id": [], "ts_ms": [], "value": []})
    vals = sub[column].to_numpy()
    if agg == "AVG":
        value = float(vals.sum()) / len(vals) if np.issubdtype(vals.dtype, np.integer) \
            else vals.sum() / len(vals)
    else:
        value = vals.max()
    return pd.DataFrame({"conv_id": [conv_id], "ts_ms": [lb_ms], "value": [value]})


def oracle_downsample(pdf, conv_id, column, lb_ms, ub_ms, interval_ms, agg,
                      filter_op=None, filter_value=None):
    sub = _scoped(pdf, conv_id, lb_ms, ub_ms)
    if len(sub) == 0:
        return pd.DataFrame({"conv_id": [], "ts_ms": [], "value": []})
    n_windows = (ub_ms - lb_ms) // interval_ms
    is_int = np.issubdtype(sub[column].dtype, np.integer)
    rows = []
    for i in range(n_windows):
        w_lb = lb_ms * 1000 + i * interval_ms * 1000
        w = sub[(sub["ts_us"] >= w_lb) & (sub["ts_us"] < w_lb + interval_ms * 1000)]
        vals = w[column]
        if filter_op == "EQUAL":
            vals = vals[vals == filter_value]
        elif filter_op == "GREATER":
            vals = vals[vals > filter_value]
        if len(vals) == 0:
            value = (INT_SENTINEL if (agg == "MAX" and is_int) else DOUBLE_SENTINEL)
        elif agg == "AVG":
            v = vals.to_numpy()
            value = float(v.sum()) / len(v)
        else:
            value = vals.max()
        rows.append({"conv_id": conv_id, "ts_ms": lb_ms + i * interval_ms, "value": value})
    return pd.DataFrame(rows)


def oracle_canonical(rows: pd.DataFrame) -> pd.DataFrame:
    """Canonical per-turn rows of written transcript rows (conv_id,
    turn_idx, role, text, tool, ts): newest ts wins per (conv_id,
    turn_idx), ts_us in micros, text_len in characters, latency_s = ts
    gap to the previous turn_idx of the conversation (0 for the first)."""
    df = rows.copy()
    df["ts_us"] = df["ts"].astype("datetime64[us]").astype("int64")
    df = (df.sort_values(["conv_id", "turn_idx", "ts_us"])
            .drop_duplicates(["conv_id", "turn_idx"], keep="last"))
    df["text_len"] = df["text"].str.len().astype("int64")
    prev = df.groupby("conv_id")["ts_us"].shift(1)
    df["latency_s"] = ((df["ts_us"] - prev) / 1e6).fillna(0.0)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df.reset_index(drop=True)
