"""L0 delta-segment flush (engine l0_append=True): the reference's true
O(batch) write shape — eligible flushes APPEND encoded batch segments to
`segments_l0` instead of rewriting touched base chunks
(memory/MemoryTable.java:67-70 appends a block per flush, never rewrites
committed blocks). Committed reads union base ∪ l0; compact() folds l0
back into the base layout.

Every assertion compares against a TWIN engine fed the same data through
the default (rewrite) flush — the two storage layouts must be
query-indistinguishable.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark import engine as eng
from lindorm_tsdb_contest_java_spark.sources.table import SnapshotTable

BASE_S = 1_704_067_200


def _rows(conv_range, turn_range, text=None):
    rows = []
    for c in conv_range:
        for t in turn_range:
            rows.append((f"l0-{c:03d}", t, "user" if t % 2 else "assistant",
                         text or f"text {c} {t} " + "x" * (t % 17),
                         "-", pd.Timestamp((BASE_S + c * 7 + t * 97) * 10**9)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


def _queries(e, lb, ub):
    return {
        "latest": sorted(map(str, e.execute_latest_query(
            None, ["turn_idx", "ts_us", "text"]).collect())),
        "range": sorted(map(str, e.execute_time_range_query(
            "l0-001", lb, ub, ["conv_id", "turn_idx", "text", "ts_us"]).collect())),
        "agg": sorted(map(str, e.execute_aggregate_query(
            "l0-001", "text_len", lb, ub, "AVG").collect())),
        "ds": sorted(map(str, e.execute_downsample_query(
            "l0-001", "text_len", lb, ub, 3_600_000, "AVG", "GREATER", 3).collect())),
    }


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    """(l0 engine, rewrite twin) fed identical batches: one initial build
    plus two incremental appends."""
    root = tmp_path_factory.mktemp("l0")
    a = eng.connect(spark, str(root / "l0"), n_buckets=4, l0_append=True)
    b = eng.connect(spark, str(root / "twin"), n_buckets=4)
    batches = [_rows(range(12), range(0, 6)),
               _rows(range(12), range(6, 10)),
               _rows(range(12), range(10, 13))]
    for e in (a, b):
        for batch in batches:
            e.write(spark.createDataFrame(batch))
            e.shutdown()
    return a, b


def test_l0_appends_not_rewrites(pair):
    a, _ = pair
    # base written exactly once (the initial build, snapshot 1); the two
    # incremental flushes appended delta segments instead of rewriting
    assert a._segments.current().snapshot_id == 1
    assert a._segments_l0.current().files, "delta segments missing"
    assert a._segments_l0.current().operation == "append"
    # l0 rows = the two incremental batches
    l0_rows = (a._segments_l0.read(a.spark)
               .agg(F.sum("n_rows")).collect()[0][0])
    assert l0_rows == 12 * (4 + 3)


def test_l0_queries_match_rewrite_twin(pair):
    a, b = pair
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    assert _queries(a, lb, ub) == _queries(b, lb, ub)


def test_l0_latency_correct_across_flush_boundary(pair):
    """The first row of an appended batch must get its lag latency from
    the PREVIOUS batch's last row (latest-tier context), not 0."""
    a, b = pair
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    ga = (a.execute_time_range_query("l0-002", lb, ub,
                                     ["turn_idx", "latency_s"])
          .toPandas().sort_values("turn_idx").reset_index(drop=True))
    gb = (b.execute_time_range_query("l0-002", lb, ub,
                                     ["turn_idx", "latency_s"])
          .toPandas().sort_values("turn_idx").reset_index(drop=True))
    pd.testing.assert_frame_equal(ga, gb)
    # turn 6 and 10 are batch-boundary rows: 97s apart
    assert ga.loc[ga.turn_idx == 6, "latency_s"].iloc[0] == pytest.approx(97.0)
    assert ga.loc[ga.turn_idx == 10, "latency_s"].iloc[0] == pytest.approx(97.0)


def test_l0_replay_is_idempotent(pair, spark):
    """A crash between the l0 segment append and the raw-log truncate
    replays the same batch: the key anti-join must append nothing and
    the tier rebuild must leave every answer unchanged."""
    a, b = pair
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    replay = _rows(range(12), range(10, 13))
    nr = spark.createDataFrame(replay)
    chunk_us = a._pipeline.chunk_us
    touched = sorted({int(v) for v in
                      (replay["ts"].astype("int64") // 1000 // chunk_us)})
    before = a._segments_l0.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    a._append_flush(nr, touched, cascade=True)
    after = a._segments_l0.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    assert after == before, "replayed keys were re-appended"
    a._canon_cache = None
    assert _queries(a, lb, ub) == _queries(b, lb, ub)


def test_l0_retention_refuses_uncompacted(pair):
    from lindorm_tsdb_contest_java_spark.ops.retention import (
        RetentionPolicy, apply_retention,
    )
    a, _ = pair
    with pytest.raises(ValueError, match="compact"):
        apply_retention(a._pipeline, RetentionPolicy(
            segments_keep_us=10**15), now_us=10**15)


def test_l0_compact_folds_into_base(pair):
    """compact(): l0 retired, base rewritten, answers unchanged, and the
    post-compact read plan no longer unions two stores."""
    a, b = pair
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    want = _queries(b, lb, ub)
    a.compact()
    assert not a._segments_l0.current().files
    assert _queries(a, lb, ub) == want
    # total base rows = all three batches, exactly once
    total = a._segments.read(a.spark).agg(F.sum("n_rows")).collect()[0][0]
    assert total == 12 * 13
    # and a later ordinary flush still works on the compacted store
    extra = _rows(range(12), range(13, 15))
    a.write(a.spark.createDataFrame(extra))
    a.shutdown()
    b.write(b.spark.createDataFrame(extra))
    b.shutdown()
    assert _queries(a, lb, ub) == _queries(b, lb, ub)


def test_l0_out_of_order_batch_falls_back_and_compacts(spark, tmp_path):
    """An l0 store hit with an out-of-order batch (fails the eligibility
    probe) takes the fallback rewrite, which folds the l0 rows into the
    base and retires l0 — correctness is never conditional on the fast
    path."""
    a = eng.connect(spark, str(tmp_path / "l0ooo"), n_buckets=4,
                    l0_append=True)
    b = eng.connect(spark, str(tmp_path / "twinooo"), n_buckets=4)
    first = _rows(range(6), range(0, 5))
    second = _rows(range(6), range(5, 8))
    # out-of-order: rewrites turn 2 with a NEWER ts (upsert of an old key)
    third = _rows(range(6), range(2, 3), text="UPSERTED")
    third["ts"] = third["ts"] + pd.Timedelta(days=60)
    for e in (a, b):
        for batch in (first, second, third):
            e.write(spark.createDataFrame(batch))
            e.shutdown()
    assert not a._segments_l0.current().files, "fallback must retire l0"
    lb = BASE_S * 1000 - 60_000
    ub = lb + 90 * 86_400_000
    assert _queries(a, lb, ub) == _queries(b, lb, ub)
    got = a.execute_time_range_query("l0-003", lb, ub, ["turn_idx", "text"])
    texts = {r["turn_idx"]: r["text"] for r in got.collect()}
    assert texts[2] == "UPSERTED"


def test_l0_tier_types_match_rewrite_layout(spark, tmp_path):
    """An l0 flush touching a SUBSET of chunks rewrites only those tier
    partitions; their parquet types must match the rewrite-written
    siblings (decoded text_len is int64, canonical is int32 — a mismatch
    makes any tier read spanning both fail)."""
    a = eng.connect(spark, str(tmp_path / "l0types"), n_buckets=4,
                    l0_append=True)
    early = _rows(range(4), range(0, 5))            # chunk ~T0
    late = _rows(range(4), range(5, 8))
    late["ts"] = late["ts"] + pd.Timedelta(days=2)  # a different chunk
    a.write(spark.createDataFrame(early))
    a.shutdown()
    a.write(spark.createDataFrame(late))
    a.shutdown()                                    # l0 path, late chunk only
    assert a._segments_l0.current().files
    tier = a._tier_1m.read(spark)
    # spans both the rewrite-written and the l0-written partitions
    assert tier.agg(F.sum("n_turns")).collect()[0][0] == 4 * 8
    lb = BASE_S * 1000 - 60_000
    got = a.execute_aggregate_query("l0-001", "text_len", lb,
                                    lb + 10 * 86_400_000, "AVG").collect()
    assert len(got) == 1


def test_l0_restart_protocol(spark, tmp_path):
    """The contest's restart protocol over an UN-compacted l0 store: a
    fresh connect (no l0 flag needed for reads) serves every query from
    base ∪ l0 identically."""
    root = str(tmp_path / "l0restart")
    a = eng.connect(spark, root, n_buckets=4, l0_append=True)
    a.write(spark.createDataFrame(_rows(range(8), range(0, 5))))
    a.shutdown()
    a.write(spark.createDataFrame(_rows(range(8), range(5, 8))))
    a.shutdown()
    assert a._segments_l0.current().files
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    want = _queries(a, lb, ub)
    fresh = eng.connect(spark, root)  # adopts stamped n_buckets, reads l0
    assert fresh.n_buckets == 4
    assert _queries(fresh, lb, ub) == want
    # and a fresh l0-enabled instance keeps appending
    fresh2 = eng.connect(spark, root, l0_append=True)
    fresh2.write(spark.createDataFrame(_rows(range(8), range(8, 10))))
    fresh2.shutdown()
    assert fresh2._segments.current().snapshot_id == 1  # still no rewrite
    got = fresh2.execute_time_range_query("l0-004", lb, ub, ["turn_idx"])
    assert got.count() == 10


def test_l0_crash_after_append_repairs_latest_on_replay(spark, tmp_path,
                                                       monkeypatch):
    """A flush that crashes AFTER the l0 segment append but BEFORE the
    tier writes replays from the raw log with an EMPTY batch (the key
    anti-join removes everything already in l0) — the replay must still
    rebuild tier_latest from the l0 store itself, or latest queries, the
    next flush's lag context, and the eligibility probe all use a stale
    latest until a compaction (ADVICE r04 high)."""
    a = eng.connect(spark, str(tmp_path / "l0crash"), n_buckets=4,
                    l0_append=True)
    b = eng.connect(spark, str(tmp_path / "twincrash"), n_buckets=4)
    first = _rows(range(6), range(0, 5))
    second = _rows(range(6), range(5, 8))
    for e in (a, b):
        e.write(spark.createDataFrame(first))
        e.shutdown()
    b.write(spark.createDataFrame(second))
    b.shutdown()
    # crash window: l0 segments appended, tier writes never ran
    append = SnapshotTable.append

    def crash_after_l0_append(self, *args, **kwargs):
        append(self, *args, **kwargs)
        if self.root.endswith("segments_l0"):
            raise RuntimeError("simulated failure: crashed after l0 append, "
                               "before tier writes")

    monkeypatch.setattr(SnapshotTable, "append", crash_after_l0_append)
    a.write(spark.createDataFrame(second))
    with pytest.raises(RuntimeError, match="simulated"):
        a.shutdown()
    monkeypatch.undo()
    # reopen (fresh process): raw log still holds the batch; the replay's
    # anti-join empties it, and the tier rebuild must repair tier_latest
    a2 = eng.connect(spark, str(tmp_path / "l0crash"), n_buckets=4,
                     l0_append=True)
    a2.shutdown()
    lt = a2._tier_latest.read(spark)
    assert lt.agg(F.max("turn_idx")).collect()[0][0] == 7, \
        "replayed flush left tier_latest stale"
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    assert _queries(a2, lb, ub) == _queries(b, lb, ub)
    # the repaired latest also re-enables the next fast flush correctly
    third = _rows(range(6), range(8, 10))
    for e in (a2, b):
        e.write(spark.createDataFrame(third))
        e.shutdown()
    assert _queries(a2, lb, ub) == _queries(b, lb, ub)


def test_compact_crash_between_commits_heals_at_connect(spark, tmp_path):
    """compact() commits the base rewrite and the l0 truncate separately:
    a crash between the two leaves every l0 row in BOTH stores and
    committed reads would return them twice. The inflight marker makes
    connect() finish the job (ADVICE r04 medium)."""
    root = str(tmp_path / "l0heal")
    a = eng.connect(spark, root, n_buckets=4, l0_append=True)
    b = eng.connect(spark, str(tmp_path / "twinheal"), n_buckets=4)
    for e in (a, b):
        e.write(spark.createDataFrame(_rows(range(6), range(0, 5))))
        e.shutdown()
        e.write(spark.createDataFrame(_rows(range(6), range(5, 8))))
        e.shutdown()
    assert a._segments_l0.current().files

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash before l0 truncate")

    a._segments_l0.truncate = boom  # instance-level test hook
    with pytest.raises(RuntimeError, match="simulated"):
        a.compact()
    import os
    assert os.path.exists(a._compact_marker_path())
    # reopen: the heal re-runs the (idempotent) compaction and truncates
    a2 = eng.connect(spark, root, n_buckets=4, l0_append=True)
    assert not a2._segments_l0.current().files, "heal must retire l0"
    assert not os.path.exists(a2._compact_marker_path())
    lb = BASE_S * 1000 - 60_000
    ub = lb + 40 * 86_400_000
    assert _queries(a2, lb, ub) == _queries(b, lb, ub)
    got = a2.execute_time_range_query("l0-001", lb, ub, ["turn_idx"])
    assert got.count() == 8, "duplicated rows survived the heal"


def test_l0_soak_bounded_fan_in(spark, tmp_path):
    """Soak-lite (the 100-batch curve lives in tools/l0_soak.py): a long
    forward-append stream with periodic compaction must keep the delta
    store BOUNDED — l0 file count saw-tooths back to zero every
    compact_every batches instead of growing with stream length — and
    answers must match a rewrite twin at the end."""
    n_batches, every = 18, 6
    a = eng.connect(spark, str(tmp_path / "soak"), n_buckets=4,
                    l0_append=True)
    b = eng.connect(spark, str(tmp_path / "soaktwin"), n_buckets=4)
    max_l0 = 0
    for i in range(n_batches):
        batch = _rows(range(8), range(i * 3, (i + 1) * 3))
        for e in (a, b):
            e.write(spark.createDataFrame(batch))
            e.shutdown(cascade=False)
        if (i + 1) % every == 0:
            a.compact(cascade=False)
            assert not a._segments_l0.current().files
        max_l0 = max(max_l0, len(a._segments_l0.current().files))
    for e in (a, b):
        e.run_cascade()
    # bounded: at most `every` flushes' worth of delta files ever live
    assert max_l0 <= every * 4, max_l0
    lb = BASE_S * 1000 - 60_000
    ub = lb + 90 * 86_400_000
    assert _queries(a, lb, ub) == _queries(b, lb, ub)
