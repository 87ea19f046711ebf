"""Spark jobs and plan shape of the committed conversation-scoped reads.

On a committed store one conversation's downsample or aggregate touches
at most (ub - lb) / 1 min tier rows and a few segments, so per-job
overhead, not data, sets its wall. These pins hold each read to the
sources it needs, read once:

- the aligned downsample reads the conversation's 1m tier slice with one
  collected scan and assembles the answer from it (and from its
  straddle decode) in one partition, so its returned plan scans no tier
  file and it runs at most 4 jobs filtered, 3 unfiltered (building the
  query and `toPandas` together);
- a minute-aligned tier aggregate builds no edge decode plan;
- the unaligned fallback (the plain downsample) decodes its segments once.

Every answer is checked against the pandas oracle. The store spans 12 h
in 1 h chunks, with three turns a minute of mixed text length, so a
`text_len GREATER 10` filter straddles many minutes and covers others.
"""

import pandas as pd
import pytest

from lindorm_tsdb_contest_java_spark import engine as eng
from lindorm_tsdb_contest_java_spark.plans.audit import executed_plan
from oracle import oracle_aggregate, oracle_canonical, oracle_downsample
from test_manifest_pruning import _jobs_while

BASE_S = 1_704_067_200          # 2024-01-01T00:00Z
HOUR = 3_600_000
CONV = "rj-0"
LB = BASE_S * 1000 + HOUR       # hour-aligned, so minute-aligned
UB = LB + 8 * HOUR


def _rows():
    rows = []
    for c, step_s in ((0, 20), (1, 45), (2, 300)):
        for t in range(12 * 3600 // step_s):
            rows.append((f"rj-{c}", t, "user" if t % 2 else "assistant",
                         "w" * ((t * 7) % 23 + 1), "-",
                         pd.Timestamp((BASE_S + t * step_s + c) * 10**9)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    pdf = _rows()
    e = eng.connect(spark, str(tmp_path_factory.mktemp("jobs") / "db"),
                    n_buckets=4, chunk_us=HOUR * 1000)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    assert len(e._tier_1m.current().files) >= 12
    return e, oracle_canonical(pdf)


def _run(spark, query):
    """(jobs to build and collect `query()`, its DataFrame, its rows)."""
    out = []

    def run():
        df = query()
        out.extend((df, df.toPandas().sort_values("ts_ms")))

    jobs = _jobs_while(spark, run)
    return jobs, out[0], out[1]


def _check_downsample(got, model, lb, ub, agg, op, val, conv=CONV):
    exp = oracle_downsample(model, conv, "text_len", lb, ub, HOUR, agg,
                            op, val)
    assert len(exp) == (ub - lb) // HOUR
    assert list(got["ts_ms"]) == list(exp["ts_ms"])
    assert list(got["value"]) == pytest.approx(list(exp["value"]),
                                               rel=1e-12)


def test_aligned_filtered_downsample_reads_the_tier_once(spark, store):
    e, model = store
    jobs, df, got = _run(spark, lambda: e.execute_downsample_query(
        CONV, "text_len", LB, UB, HOUR, "AVG", "GREATER", 10))
    _check_downsample(got, model, LB, UB, "AVG", "GREATER", 10)
    # the filter straddles some minutes: the plan decodes segments
    assert any("/segments/" in f for f in df.inputFiles())
    assert not any("tier_conv_1m" in f for f in df.inputFiles())
    # tier collect + straddle-set broadcast + result, with one to spare
    assert jobs <= 4, jobs


def test_aligned_unfiltered_downsample_runs_three_jobs(spark, store):
    e, model = store
    jobs, df, got = _run(spark, lambda: e.execute_downsample_query(
        CONV, "text_len", LB, UB, HOUR, "MAX"))
    _check_downsample(got, model, LB, UB, "MAX", None, None)
    assert df.inputFiles() == []
    assert jobs <= 3, jobs


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_aligned_tier_aggregate_builds_no_edge_decode(spark, store):
    """An empty edge decode is optimized away, but building it costs a
    whole decode plan's analysis: the analyzed plan must not hold one."""
    e, model = store
    for column, agg in (("latency_s", "AVG"), ("text_len", "MAX")):
        df = e.execute_aggregate_query(CONV, column, LB, UB, agg)
        got = df.toPandas()
        exp = oracle_aggregate(model, CONV, column, LB, UB, agg)
        assert got["value"].iloc[0] == pytest.approx(exp["value"].iloc[0],
                                                      rel=1e-12)
        assert "blob_" not in _analyzed(df), column
    # an unaligned range still decodes its edges
    df = e.execute_aggregate_query(CONV, "latency_s", LB + 7, UB, "AVG")
    assert "blob_" in _analyzed(df)


def test_unaligned_downsample_decodes_once(spark, store):
    e, model = store
    lb, ub = LB + 7_000, UB + 7_000
    _, df, got = _run(spark, lambda: e.execute_downsample_query(
        CONV, "text_len", lb, ub, HOUR, "MAX", "GREATER", 10))
    _check_downsample(got, model, lb, ub, "MAX", "GREATER", 10)
    final = executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1, final
    assert "Coalesce" not in final


def test_session_turns_off_dataframe_debugging(spark):
    """The session comes from plans/session.get_spark, which turns off
    the per-call Python call-site capture that error messages use: it
    costs py4j round trips on every DataFrame and Column call."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
