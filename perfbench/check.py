"""Oracle checks: every answer the benchmark gets is compared with an
independent pandas answer computed from the benchmark's own model of
what it wrote and expired.

The four reference query types go through `tests/oracle.py` (the same
oracle the test suite uses) with the suite's tolerances: exact frames for
latest and time range, rel=1e-12 for AVG, exact MAX, sentinel-aware
downsample windows. Percentiles: `n_turns` exact per (role, tool) and a
rank error below 0.02 (plus one rank step for groups under 100 turns).
Datapipe answers are checked against NumPy brute force (top-k cosine)
and exact shingle-set Jaccard (LSH pairs).

Each check returns None when the answer matches, else a one-line reason.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests"))

from oracle import (  # noqa: E402  (tests/oracle.py)
    DOUBLE_SENTINEL, INT_SENTINEL, oracle_aggregate, oracle_downsample,
    oracle_latest, oracle_time_range,
)

# rank-accuracy bound of the percentile tests (tests/test_engine_api.py)
RANK_TOL = 0.02
# The empirical rank of an estimate moves in steps of 1/n, so an exact
# quantile of n samples can already miss q by up to 1/n. The tests' bound
# applies as is where a step is at most half of it (n >= 100, the size of
# the suite's smallest fixture groups); smaller groups get one rank step
# on top of it.
RANK_FULL_N = 2 / RANK_TOL

ROW_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us",
               "text_len", "latency_s"]


def canonical_model(rows: pd.DataFrame) -> pd.DataFrame:
    """Canonical per-turn rows (the engine's derived columns) of a table
    of written transcript rows: newest ts wins per (conv_id, turn_idx),
    text_len in characters, latency = ts gap to the previous turn_idx of
    the same conversation in seconds (0 for the first)."""
    df = rows.copy()
    df["ts_us"] = df["ts"].astype("datetime64[us]").astype("int64")
    df = (df.sort_values(["conv_id", "turn_idx", "ts_us"])
            .drop_duplicates(["conv_id", "turn_idx"], keep="last"))
    df["text_len"] = df["text"].str.len().astype("int64")
    prev = df.groupby("conv_id")["ts_us"].shift(1)
    df["latency_s"] = ((df["ts_us"] - prev) / 1e6).fillna(0.0)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df[ROW_COLUMNS].reset_index(drop=True)


def _frames_equal(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]):
    cols = list(exp.columns)
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)} != {sorted(cols)}"
    g = got[cols].sort_values(keys).reset_index(drop=True)
    e = exp.sort_values(keys).reset_index(drop=True)
    if len(g) != len(e):
        return f"{len(g)} rows, expected {len(e)}"
    for c in cols:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if gv.dtype.kind in "iuf" and ev.dtype.kind in "iuf":
            same = np.array_equal(gv.astype(np.float64), ev.astype(np.float64))
        else:
            same = list(map(str, gv)) == list(map(str, ev))
        if not same:
            return f"column {c} differs"
    return None


def check_latest(got: pd.DataFrame, model: pd.DataFrame,
                 conv_ids: list[str] | None) -> str | None:
    ids = sorted(model["conv_id"].unique()) if conv_ids is None else conv_ids
    exp = oracle_latest(model, ids)[ROW_COLUMNS]
    return _frames_equal(got, exp, ["conv_id"])


def check_time_range(got, model, conv_id, lb_ms, ub_ms, columns):
    exp = oracle_time_range(model, conv_id, lb_ms, ub_ms, columns)
    return _frames_equal(got, exp, ["ts_us"] if "ts_us" in columns
                         else list(columns))


def check_aggregate(got, model, conv_id, column, lb_ms, ub_ms, agg):
    exp = oracle_aggregate(model, conv_id, column, lb_ms, ub_ms, agg)
    if len(exp) == 0 or len(got) == 0:
        return None if len(exp) == len(got) else \
            f"{len(got)} rows, expected {len(exp)}"
    if int(got["ts_ms"].iloc[0]) != lb_ms:
        return "result ts is not lb"
    g, e = float(got["value"].iloc[0]), float(exp["value"].iloc[0])
    ok = (g == e) if agg == "MAX" else abs(g - e) <= 1e-12 * abs(e)
    return None if ok else f"{agg}({column}) {g!r} != {e!r}"


def check_downsample(got, model, conv_id, column, lb_ms, ub_ms,
                     interval_ms, agg, filter_op=None, filter_value=None):
    exp = oracle_downsample(model, conv_id, column, lb_ms, ub_ms,
                            interval_ms, agg, filter_op, filter_value)
    if len(got) != len(exp):
        return f"{len(got)} windows, expected {len(exp)}"
    if len(exp) == 0:
        return None
    g = got.sort_values("ts_ms").reset_index(drop=True)
    if not np.array_equal(g["ts_ms"].to_numpy(np.int64),
                          exp["ts_ms"].to_numpy(np.int64)):
        return "window starts differ"
    gv, ev = g["value"].to_numpy(float), exp["value"].to_numpy(float)
    sent = (ev == DOUBLE_SENTINEL) | (ev == INT_SENTINEL)
    if not np.array_equal(gv[sent], ev[sent]):
        return "empty-window sentinels differ"
    if agg == "MAX":
        ok = np.array_equal(gv[~sent], ev[~sent])
    else:
        ok = np.allclose(gv[~sent], ev[~sent], rtol=1e-12, atol=0.0)
    return None if ok else f"{agg} window values differ"


def check_percentile(got, model, lb_ms, ub_ms, qs=(0.5, 0.9, 0.99)):
    sub = model[(model["ts_us"] >= lb_ms * 1000)
                & (model["ts_us"] < ub_ms * 1000)]
    groups = {k: v["latency_s"].to_numpy()
              for k, v in sub.groupby(["role", "tool"])}
    if len(got) != len(groups):
        return f"{len(got)} (role, tool) groups, expected {len(groups)}"
    for r in got.itertuples():
        lat = groups.get((r.role, r.tool))
        if lat is None:
            return f"unexpected group {(r.role, r.tool)}"
        if int(r.n_turns) != len(lat):
            return f"n_turns {r.n_turns} != {len(lat)} for {(r.role, r.tool)}"
        for q in qs:
            est = getattr(r, f"p{int(round(q * 100))}")
            tol = RANK_TOL + (0 if len(lat) >= RANK_FULL_N else 1 / len(lat))
            err = abs((lat <= est).mean() - q)
            if err >= tol:
                return (f"p{q} rank error {err:.4f} >= {tol:.4f} for "
                        f"{(r.role, r.tool)} n={len(lat)} est={est!r}")
    return None


# ---------- datapipe ----------

def shingle_set(text: str, n: int = 3) -> frozenset:
    """operators/datapipe.with_tokens + with_shingles, in plain Python."""
    toks = [t for t in text.lower().split(" ") if t != ""]
    if len(toks) >= n:
        return frozenset(" ".join(toks[i:i + n])
                         for i in range(len(toks) - n + 1))
    return frozenset([" ".join(toks)]) if toks else frozenset()


def check_lsh_pairs(got: pd.DataFrame, docs: pd.DataFrame) -> str | None:
    text = dict(zip(docs["doc_id"], docs["text"]))
    for r in got.itertuples():
        a, b = shingle_set(text[r.id_a]), shingle_set(text[r.id_b])
        exact = len(a & b) / len(a | b) if (a | b) else 0.0
        if abs(exact - r.jaccard) > 1e-12:
            return f"pair {(r.id_a, r.id_b)} jaccard {r.jaccard} != {exact}"
    return None


def check_topk(got: pd.DataFrame, vecs: np.ndarray, ids: np.ndarray,
               qvec: np.ndarray, k: int) -> str | None:
    cos = vecs @ qvec / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qvec))
    order = np.lexsort((ids, -cos))[:k]
    if len(got) != len(order):
        return f"{len(got)} rows, expected {len(order)}"
    exp = cos[order]
    if not np.allclose(got["cosine"].to_numpy(float), exp, rtol=0, atol=1e-9):
        return "cosine values differ from brute force"
    # ids must match wherever the cosine is not tied with a neighbour
    for gid, eid, c in zip(got["vec_id"], ids[order], exp):
        if gid != eid and np.sum(np.abs(cos - c) <= 1e-9) < 2:
            return f"top-k id {gid} != {eid}"
    return None
