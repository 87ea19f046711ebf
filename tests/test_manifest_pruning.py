"""Manifest-planned table reads (SnapshotTable.read, property 4).

Time-filtered engine reads hand their inclusive `time_chunk` span to the
manifest, which skips the files recording chunks outside it; files that
record no chunk (l0 delta appends, legacy full-overwrite layouts) are
always read. Pruning only skips files — every answer here is checked
against the pandas oracle at the chunk boundaries where an off-by-one
span would drop rows. The store uses 1 h chunks, so its ~2 days of data
are ~46 files per table: more than Spark's 32-path parallel-listing
threshold.
"""

import itertools
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark import engine as eng
from lindorm_tsdb_contest_java_spark.sources import table as table_mod
from lindorm_tsdb_contest_java_spark.sources.segments import chunk_range
from lindorm_tsdb_contest_java_spark.sources.table import SnapshotTable
from oracle import (
    oracle_aggregate, oracle_canonical, oracle_downsample, oracle_time_range,
)

BASE_S = 1_704_067_200          # 2024-01-01T00:00Z: hour- and day-aligned
HOUR = 3_600_000
CHUNK_US = HOUR * 1000          # 1 h chunks
GAP = (20, 24)                  # hours with no rows: chunks with no files
CONV = "mp-0"                   # its turns land exactly on chunk edges


def _rows(convs=range(6), turns=range(120), step_s=1500):
    rows = []
    for c in convs:
        for t in turns:
            s = t * step_s + c * 13
            if GAP[0] * 3600 <= s < GAP[1] * 3600:
                continue
            rows.append((f"mp-{c}", t, "user" if t % 2 else "assistant",
                         "w" * (t % 23 + 1), "tool" if t % 5 == 0 else "-",
                         pd.Timestamp((BASE_S + s) * 10**9)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A committed store over ~50 h in 1 h chunks, with a 4 h gap, and
    its oracle model."""
    pdf = _rows()
    e = eng.connect(spark, str(tmp_path_factory.mktemp("prune") / "db"),
                    n_buckets=4, chunk_us=CHUNK_US)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    return e, oracle_canonical(pdf)


def _ms(hours: float) -> int:
    return BASE_S * 1000 + int(hours * HOUR)


# (lb, ub) at the boundaries a chunk span can get wrong
EDGE_RANGES = [
    (_ms(5), _ms(7)),                # lb and ub exactly on chunk edges
    (_ms(5), _ms(7) - 1),            # ub - 1 ms
    (_ms(5) - 1, _ms(5) + 1),        # one ms either side of an edge
    (_ms(10), _ms(10) + 1),          # one ms: a single row on the edge
    (_ms(GAP[0]), _ms(GAP[1])),      # only chunks with no files
    (_ms(19), _ms(25)),              # across the gap
    (_ms(15), _ms(15)),              # empty range on an edge
    (_ms(15) + 7, _ms(15) + 7),      # empty range inside a chunk
    (_ms(30), _ms(29)),              # inverted
]


def _check_queries(e, model, lb, ub, conv=CONV):
    cols = ["conv_id", "turn_idx", "text", "ts_us", "latency_s"]
    got = (e.execute_time_range_query(conv, lb, ub, cols).toPandas()
           .sort_values("ts_us").reset_index(drop=True))
    exp = (oracle_time_range(model, conv, lb, ub, cols)
           .sort_values("ts_us").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    for column, agg in (("text_len", "AVG"), ("latency_s", "MAX"),
                        ("turn_idx", "MAX")):
        got = e.execute_aggregate_query(conv, column, lb, ub, agg).toPandas()
        exp = oracle_aggregate(model, conv, column, lb, ub, agg)
        assert len(got) == len(exp), (column, agg, lb, ub)
        if len(exp):
            assert got["value"].iloc[0] == pytest.approx(
                exp["value"].iloc[0], rel=1e-12), (column, agg, lb, ub)


def _check_downsample(e, model, lb, ub, interval, conv=CONV):
    for column, agg, op, val in (("text_len", "AVG", "GREATER", 8),
                                 ("text_len", "MAX", None, None),
                                 ("latency_s", "MAX", "GREATER", 1400.0)):
        got = (e.execute_downsample_query(conv, column, lb, ub, interval,
                                          agg, op, val)
               .toPandas().sort_values("ts_ms"))
        exp = oracle_downsample(model, conv, column, lb, ub, interval, agg,
                                op, val)
        assert list(got["ts_ms"]) == list(exp["ts_ms"]), (column, lb, ub)
        assert list(got["value"]) == pytest.approx(
            list(exp["value"]), rel=1e-12), (column, agg, lb, ub)


@pytest.mark.parametrize("lb,ub", EDGE_RANGES)
def test_time_filtered_queries_at_chunk_edges(store, lb, ub):
    e, model = store
    _check_queries(e, model, lb, ub)


@pytest.mark.parametrize("lb,ub,interval", [
    (_ms(5), _ms(7), HOUR),                     # aligned, tier route
    (_ms(19), _ms(25), 2 * HOUR),               # across the empty chunks
    (_ms(5) + 1, _ms(7) + 1, HOUR),             # unaligned: decode route
    (_ms(15), _ms(15), HOUR),                   # empty range
])
def test_downsample_at_chunk_edges(store, lb, ub, interval):
    e, model = store
    _check_downsample(e, model, lb, ub, interval)


def test_chunk_range_is_the_inclusive_span():
    assert chunk_range(0, HOUR, CHUNK_US) == (0, 0)
    assert chunk_range(0, HOUR + 1, CHUNK_US) == (0, 1)
    assert chunk_range(HOUR - 1, HOUR, CHUNK_US) == (0, 0)
    assert chunk_range(-1, 1, CHUNK_US) == (-1, 0)
    lo, hi = chunk_range(HOUR, HOUR, CHUNK_US)
    assert hi < lo
    lo, hi = chunk_range(3 * HOUR, HOUR, CHUNK_US)
    assert hi < lo


def _recorded(tbl: SnapshotTable, lo: int, hi: int) -> set[str]:
    return {f["path"] for f in tbl.current().files
            if lo <= f["partition"]["time_chunk"] <= hi}


def _names(df) -> set[str]:
    return {os.path.basename(p) for p in df.inputFiles()}


def test_one_chunk_time_range_plans_only_its_files(store):
    e, _ = store
    c = (BASE_S * 1000 + 7 * HOUR) * 1000 // CHUNK_US
    q = e.execute_time_range_query(CONV, _ms(7), _ms(8),
                                   ["conv_id", "ts_us", "text"])
    own = _recorded(e._segments, c, c)
    assert own and _names(q) == own
    assert len(e._segments.current().files) > 32
    # a range over chunks with no files plans no file at all
    gap = e.execute_time_range_query(CONV, _ms(GAP[0]), _ms(GAP[1]))
    assert gap.inputFiles() == [] and gap.count() == 0


def test_percentile_cover_pieces_read_only_their_chunks(store):
    """Every 1m / 1h / 1d cover piece reads only its own chunks' files,
    returns exactly the unpruned read's rows, and the percentile counts
    match the oracle."""
    e, model = store
    spark = e.spark
    lb, ub = _ms(3) + 5 * 60_000, _ms(49) + 30 * 60_000
    pieces = e._percentile_cover(lb, ub)
    assert {name for name, _, _ in pieces} == {"1m", "1h", "1d"}
    for name, lo, hi in pieces:
        tbl = e._pipeline.table(f"tier_rate_{name}")
        span = chunk_range(lo, hi, CHUNK_US)
        pruned = tbl.read(spark, span)
        assert _names(pruned) <= _recorded(tbl, *span), name
        in_piece = (F.col("bucket_ms") >= lo) & (F.col("bucket_ms") < hi)
        key = ["role", "tool", "bucket_ms", "n_turns", "latency_digest"]
        got = sorted(map(tuple, pruned.filter(in_piece).select(*key)
                         .collect()))
        full = sorted(map(tuple, tbl.read(spark).filter(in_piece)
                          .select(*key).collect()))
        assert got == full and got, name
    got = e.execute_percentile_query(lb, ub).toPandas()
    sub = model[(model["ts_us"] >= lb * 1000) & (model["ts_us"] < ub * 1000)]
    exp = sub.groupby(["role", "tool"]).size()
    assert {(r.role, r.tool): r.n_turns for r in got.itertuples()} == \
        exp.to_dict()
    for r in got.itertuples():
        lat = sub[(sub["role"] == r.role) & (sub["tool"] == r.tool)][
            "latency_s"].to_numpy()
        tol = 0.02 + 1 / len(lat)
        for q, est in ((0.5, r.p50), (0.9, r.p90)):
            # rank interval of a (possibly tied) estimate contains q
            assert (lat < est).mean() <= q + tol
            assert (lat <= est).mean() >= q - tol


def test_live_l0_files_are_always_read(spark, tmp_path):
    """l0 delta segments record no chunk: a chunk-pruned read keeps them,
    so buffered-then-appended rows stay visible at every edge."""
    base = _rows(convs=range(3), turns=range(0, 80))
    more = _rows(convs=range(3), turns=range(80, 100))
    e = eng.connect(spark, str(tmp_path / "l0"), n_buckets=4,
                    chunk_us=CHUNK_US, l0_append=True)
    e.write(spark.createDataFrame(base))
    e.shutdown()
    e.write(spark.createDataFrame(more))
    e.shutdown()
    l0_files = e._segments_l0.current().files
    assert l0_files and all(not f.get("partition") for f in l0_files)
    # a span with no base chunk at all still reads every l0 file
    assert _names(e._segments_l0.read(spark, (-5, -5))) == \
        {f["path"] for f in l0_files}
    model = oracle_canonical(pd.concat([base, more]))
    # l0 rows span hours 33.3-41.3; base rows end at hour 32.9
    for lb, ub in ((_ms(34), _ms(36)), (_ms(34), _ms(36) - 1),
                   (_ms(32), _ms(34)), (_ms(30), _ms(42)),
                   (_ms(37), _ms(37)), (_ms(40), _ms(39))):
        _check_queries(e, model, lb, ub)
    _check_downsample(e, model, _ms(32), _ms(36), HOUR)


def test_files_without_a_recorded_chunk_are_always_read(spark, tmp_path):
    """A legacy full-overwrite layout records no chunk on its files: a
    pruned read keeps every one of them (drop_partitions' rule), and the
    answers stay exact."""
    pdf = _rows(convs=range(3), turns=range(0, 60))
    e = eng.connect(spark, str(tmp_path / "legacy"), n_buckets=4,
                    chunk_us=CHUNK_US)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    tier = e._tier_1m
    tier.overwrite(tier.read(spark))
    files = tier.current().files
    assert files and all(not f.get("partition") for f in files)
    assert _names(tier.read(spark, (0, -1))) == {f["path"] for f in files}
    # the same rule drops nothing
    snap, dropped = tier.drop_partitions("time_chunk", lambda c: True)
    assert dropped == [] and snap.files == files
    model = oracle_canonical(pdf)
    for lb, ub in ((_ms(5), _ms(7)), (_ms(5), _ms(7) - 1),
                   (_ms(GAP[0]), _ms(GAP[1])), (_ms(9), _ms(8))):
        _check_queries(e, model, lb, ub)
    _check_downsample(e, model, _ms(5), _ms(7), HOUR)


def test_manifest_read_matches_spark_inference(spark, store, tmp_path):
    """The memoized schema is exactly what spark.read infers, for Spark-
    written tables, pandas-written tables and the schema-merged lineage."""
    e, _ = store
    t = SnapshotTable.create(str(tmp_path / "pd"))
    t.append(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    for tbl in (e._segments, e._tier_1m, e._tier_latest,
                e._pipeline.table("tier_rate_1d"), t):
        paths = tbl.file_paths()
        assert tbl.read(spark).schema == spark.read.parquet(*paths).schema
        empty = tbl.read(spark, (0, -1))
        assert empty.schema == tbl.read(spark).schema
    lineage = e._pipeline.lineage.table
    assert lineage.read(spark, merge_schema=True).schema == \
        spark.read.option("mergeSchema", "true").parquet(
            *lineage.file_paths()).schema


def _jobs_while(spark, fn) -> int:
    """Spark jobs `fn()` submits, counted in a job group of its own (the
    status tracker keeps a group's finished jobs)."""
    sc = spark.sparkContext
    group = f"manifest-probe-{next(_PROBES)}"
    sc.setJobGroup(group, "count jobs of one read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_PROBES = itertools.count()


def test_building_a_read_submits_no_jobs(spark, store, monkeypatch):
    e, _ = store
    seg = e._segments
    assert len(seg.current().files) > 32
    # cold memo: the schema comes from a parquet footer read in-process
    monkeypatch.setattr(table_mod, "_SCHEMAS", {})
    assert _jobs_while(spark, lambda: (
        seg.read(spark), seg.read(spark, (0, -1)),
        e._tier_1m.read(spark), e._tier_latest.read(spark),
        e._read_segments(e._chunks(_ms(5), _ms(9))))) == 0
    # warm memo, and a whole query plan built without a job
    assert _jobs_while(spark, lambda: (
        seg.read(spark),
        e.execute_time_range_query(CONV, _ms(5), _ms(30)))) == 0
    # the counter sees jobs: a plain read infers its schema with one
    assert _jobs_while(spark, lambda: spark.read.parquet(
        *seg.file_paths())) > 0
