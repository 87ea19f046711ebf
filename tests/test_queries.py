"""Spark query surface vs the pure-pandas oracle, reference semantics.

Covers: latest, time-range boundary hits, aggregate AVG/MAX (result ts =
lb, AVG->double), downsample with EQUAL/GREATER × AVG/MAX, sentinel rows
for all-filtered and empty windows, empty-range-empty-result, and the
(ub-lb) %% interval contract.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark.operators import queries as Q
from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize

from oracle import (
    oracle_aggregate, oracle_downsample, oracle_latest, oracle_time_range,
)

HOT = "conv-00000000"


@pytest.fixture(scope="module")
def canon(transcripts_df):
    return canonicalize(transcripts_df, n_buckets=8).cache()


@pytest.fixture(scope="module")
def canon_pdf(canon):
    return canon.toPandas()


def _bounds(canon_pdf, conv_id, interval_ms):
    sub = canon_pdf[canon_pdf["conv_id"] == conv_id]
    lb_ms = int(sub["ts_us"].min() // 1000)
    span = int(sub["ts_us"].max() // 1000) - lb_ms
    n = max(3, span // interval_ms + 1)
    return lb_ms, lb_ms + n * interval_ms


def test_latest_matches_oracle(canon, canon_pdf):
    convs = [HOT, "conv-00000003", "conv-00000007", "conv-does-not-exist"]
    got = Q.latest(canon, convs).toPandas().sort_values("conv_id").reset_index(drop=True)
    exp = oracle_latest(canon_pdf, convs).sort_values("conv_id").reset_index(drop=True)
    assert list(got["conv_id"]) == list(exp["conv_id"])  # missing conv skipped
    for c in ["turn_idx", "ts_us", "text", "role"]:
        assert list(got[c]) == list(exp[c]), c


def test_time_range_half_open(canon, canon_pdf):
    sub = canon_pdf[canon_pdf["conv_id"] == HOT].sort_values("ts_us")
    lb_us, ub_us = int(sub["ts_us"].iloc[2]), int(sub["ts_us"].iloc[10])
    lb_ms, ub_ms = lb_us // 1000, ub_us // 1000  # generator is ms-quantized
    assert lb_ms * 1000 == lb_us and ub_ms * 1000 == ub_us
    cols = ["conv_id", "turn_idx", "text", "ts_us"]
    got = (Q.time_range(canon, HOT, lb_ms, ub_ms, cols)
           .toPandas().sort_values("ts_us").reset_index(drop=True))
    exp = oracle_time_range(canon_pdf, HOT, lb_ms, ub_ms, cols)
    exp = exp.sort_values("ts_us").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # boundary: lb row included, ub row excluded
    assert lb_us in set(got["ts_us"]) and ub_us not in set(got["ts_us"])


def test_time_range_missing_conv_empty(canon):
    assert Q.time_range(canon, "conv-nope", 0, 10**13).count() == 0


@pytest.mark.parametrize("column,agg", [
    ("text_len", "AVG"), ("text_len", "MAX"),
    ("latency_s", "AVG"), ("latency_s", "MAX"),
    ("turn_idx", "AVG"), ("turn_idx", "MAX"),
])
def test_aggregate_matches_oracle(canon, canon_pdf, column, agg):
    lb_ms, ub_ms = _bounds(canon_pdf, HOT, 60_000)
    got = Q.aggregate(canon, HOT, column, lb_ms, ub_ms, agg).toPandas()
    exp = oracle_aggregate(canon_pdf, HOT, column, lb_ms, ub_ms, agg)
    assert len(got) == 1 and got["ts_ms"].iloc[0] == lb_ms
    g, e = got["value"].iloc[0], exp["value"].iloc[0]
    if agg == "AVG":
        assert got["value"].dtype == np.float64  # AVG is DOUBLE even for ints
        assert g == pytest.approx(e, rel=1e-12)
    else:
        assert g == e


def test_aggregate_empty_range_is_empty(canon):
    assert Q.aggregate(canon, HOT, "text_len", 1, 2, "AVG").count() == 0


@pytest.mark.parametrize("column,agg,op,val", [
    ("text_len", "AVG", "GREATER", 40),
    ("text_len", "MAX", "GREATER", 40),
    ("text_len", "AVG", "EQUAL", 0),
    ("text_len", "MAX", "EQUAL", 0),
    ("latency_s", "AVG", "GREATER", 30.0),
    ("latency_s", "MAX", "GREATER", 30.0),
    ("text_len", "AVG", None, None),
])
def test_downsample_matches_oracle(canon, canon_pdf, column, agg, op, val):
    interval = 120_000  # 2 min
    lb_ms, ub_ms = _bounds(canon_pdf, HOT, interval)
    got = Q.downsample(canon, HOT, column, lb_ms, ub_ms, interval, agg, op, val).toPandas()
    exp = oracle_downsample(canon_pdf, HOT, column, lb_ms, ub_ms, interval, agg, op, val)
    assert len(got) == len(exp) == (ub_ms - lb_ms) // interval
    assert list(got["ts_ms"]) == list(exp["ts_ms"])
    gv = got["value"].to_numpy(np.float64)
    ev = exp["value"].to_numpy(np.float64)
    # sentinel windows must match bit-exactly; value windows to 1e-12 rel
    sent = np.isinf(ev) | (ev == Q.INT_SENTINEL)
    assert (gv[sent].view(np.uint64) == ev[sent].view(np.uint64)).all()
    np.testing.assert_allclose(gv[~sent], ev[~sent], rtol=1e-12)
    if op == "EQUAL":
        assert sent.any(), "EQUAL fixture must exercise sentinel windows"


def test_downsample_int_max_sentinel_type(canon, canon_pdf):
    # EQUAL filter that matches nothing -> every window is the int sentinel
    interval = 300_000
    lb_ms, ub_ms = _bounds(canon_pdf, HOT, interval)
    got = Q.downsample(canon, HOT, "text_len", lb_ms, ub_ms, interval,
                       "MAX", "EQUAL", -12345).toPandas()
    assert (got["value"] == Q.INT_SENTINEL).all()


def test_downsample_empty_range_is_empty(canon):
    got = Q.downsample(canon, HOT, "text_len", 1000, 4000, 1000, "AVG", "GREATER", 0)
    assert got.count() == 0


def test_downsample_interval_contract(canon):
    with pytest.raises(ValueError):
        Q.downsample(canon, HOT, "text_len", 0, 1001, 10, "AVG")


def test_downsample_single_shuffle_plan(canon):
    """The whole downsample is one hash-agg + one global fold of its
    windows — no join, no window sort, no per-window jobs (scale
    check)."""
    got = Q.downsample(canon, HOT, "text_len", 0, 10**12, 10**9, "AVG", "GREATER", 0)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan, "skeleton and marker come from the aggregate"
