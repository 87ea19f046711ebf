"""Retention enforcement (ops/retention.py) — north-star surface.

- logical expiry is a metadata-only partition drop (no data rewritten);
- idempotent at the same horizon;
- vacuum physically reclaims dropped files, table still reads;
- the 1h/1d cascade PRESERVES its materialized values over the expired
  1m range on subsequent pipeline runs (continuous-aggregate semantic);
- incremental re-runs do not resurrect expired chunks;
- the engine facade serves unexpired ranges identically after retention,
  and the latest tier still answers for conversations idle since before
  the horizon.
"""

import os

from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark.ops.pipeline import RollupPipeline
from lindorm_tsdb_contest_java_spark.ops.retention import (
    RetentionPolicy, apply_retention, read_retention_floor_us,
)
from lindorm_tsdb_contest_java_spark.sources.table import SnapshotTable

from test_pipeline import CHUNK_US, _content_hash

DAY_US = 86_400 * 1_000_000


def _bounds(df):
    r = df.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")).collect()[0]
    return int(r["lo"]), int(r["hi"])


def _seg_chunks(root):
    t = SnapshotTable.load(os.path.join(root, "segments"))
    return sorted({f["partition"]["time_chunk"] for f in t.current().files})


def _run(spark, root, df):
    p = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US)
    p.run(df)
    return p


def test_retention_drop_is_metadata_only_and_idempotent(spark, transcripts_df, tmp_path):
    root = str(tmp_path / "r")
    p = _run(spark, root, transcripts_df)
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize
    canon = canonicalize(transcripts_df, n_buckets=8, chunk_us=CHUNK_US)
    lo, hi = _bounds(canon)
    now_us = hi + 1
    before = _seg_chunks(root)
    assert len(before) > 2
    seg_table = p.table("segments")
    files_before = {f["path"] for f in seg_table.current().files}

    keep_us = now_us - (before[0] + 1) * CHUNK_US  # exactly the oldest chunk expires
    out = apply_retention(p, RetentionPolicy(segments_keep_us=keep_us),
                          now_us=now_us, vacuum=False)
    after = _seg_chunks(root)
    assert after == before[1:]
    assert out["segments"]["chunks_dropped"] == 1
    assert out["segments"]["rows_dropped"] > 0
    # metadata-only: surviving manifest entries are the SAME files — no
    # data file was rewritten
    files_after = {f["path"] for f in seg_table.current().files}
    assert files_after < files_before
    # dropped files still on disk until vacuum
    assert all(os.path.exists(os.path.join(seg_table.data_dir, p_))
               for p_ in files_before)
    # idempotent: same horizon again drops nothing, no new snapshot
    snap_id = seg_table.current().snapshot_id
    out2 = apply_retention(p, RetentionPolicy(segments_keep_us=keep_us),
                           now_us=now_us, vacuum=False)
    assert out2["segments"]["chunks_dropped"] == 0
    assert seg_table.current().snapshot_id == snap_id
    # lineage recorded the expiry
    lin = p.lineage.read(spark)
    assert lin.filter((F.col("job") == "retention")
                      & (F.col("table") == "segments")).count() == 1
    # kept chunks answer identically: decode row count matches canon rows
    # with ts in the kept range
    from lindorm_tsdb_contest_java_spark.sources.segments import decode_segments
    kept_rows = decode_segments(seg_table.read(spark), ["conv_id"]).count()
    expected = canon.filter(F.col("time_chunk") >= before[1]).count()
    assert kept_rows == expected


def test_vacuum_reclaims_dropped_files(spark, transcripts_df, tmp_path):
    root = str(tmp_path / "v")
    p = _run(spark, root, transcripts_df)
    seg_table = p.table("segments")
    chunks = _seg_chunks(root)
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize
    _, hi = _bounds(canonicalize(transcripts_df, n_buckets=8, chunk_us=CHUNK_US))
    now_us = hi + 1
    keep_us = now_us - (chunks[0] + 1) * CHUNK_US
    live_before = {f["path"] for f in seg_table.current().files}
    apply_retention(p, RetentionPolicy(segments_keep_us=keep_us),
                    now_us=now_us, vacuum=True, vacuum_grace_s=0.0)
    live_after = {f["path"] for f in seg_table.current().files}
    on_disk = set(os.listdir(seg_table.data_dir))
    assert live_after <= on_disk
    # every dropped file is physically gone
    assert not (live_before - live_after) & on_disk
    # table still reads, kept chunks intact
    assert _seg_chunks(root) == chunks[1:]
    assert seg_table.read(spark).count() > 0


def test_coarse_tiers_survive_1m_expiry(spark, transcripts_df, tmp_path):
    """Expire old 1m chunks, re-run the pipeline over unchanged input:
    the 1d tier must still hold its ORIGINAL full values everywhere —
    preserved (not recomputed from partial data) below the retention
    floor, rebuilt above it."""
    root = str(tmp_path / "c")
    p = _run(spark, root, transcripts_df)
    baseline_1d = _content_hash(spark, root, "tier_conv_1d",
                                ["conv_id", "bucket_ms"])
    baseline_1h = _content_hash(spark, root, "tier_conv_1h",
                                ["conv_id", "bucket_ms"])
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize
    _, hi = _bounds(canonicalize(transcripts_df, n_buckets=8, chunk_us=CHUNK_US))
    now_us = hi + 1
    chunks = _seg_chunks(root)
    # expire the two oldest chunks of BOTH segments and the 1m tiers
    keep_us = now_us - (chunks[1] + 1) * CHUNK_US
    out = apply_retention(
        p, RetentionPolicy(segments_keep_us=keep_us, tier_1m_keep_us=keep_us),
        now_us=now_us, vacuum=False)
    assert out["tier_conv_1m"]["chunks_dropped"] == 2
    assert read_retention_floor_us(root) == chunks[2] * CHUNK_US
    # incremental re-run over the unchanged raw input: expired chunks are
    # checkpointed done, so nothing is resurrected...
    m = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US).run(
        transcripts_df)
    assert m["chunks_run"] == 0
    assert _seg_chunks(root) == chunks[2:]
    # ...and the coarse cascade (rebuilt on every run) kept its original
    # full-history values bit-for-bit
    assert _content_hash(spark, root, "tier_conv_1d",
                         ["conv_id", "bucket_ms"]) == baseline_1d
    assert _content_hash(spark, root, "tier_conv_1h",
                         ["conv_id", "bucket_ms"]) == baseline_1h


def test_engine_retention_preserves_recent_answers(spark, transcripts_pdf, tmp_path):
    from lindorm_tsdb_contest_java_spark import engine as EM
    root = str(tmp_path / "e")
    eng = EM.connect(spark, root, n_buckets=8)
    eng.create_table()
    eng.write(spark.createDataFrame(transcripts_pdf))
    eng.shutdown()

    canon_hi = int(transcripts_pdf["ts"].max().timestamp() * 1e6)
    now_us = canon_hi + 1
    lb_ms = (canon_hi // 1000) - 86_400_000  # last day
    ub_ms = canon_hi // 1000 + 1
    conv = transcripts_pdf["conv_id"].iloc[0]
    pre_range = sorted(map(str, eng.execute_time_range_query(
        conv, lb_ms, ub_ms).collect()))
    pre_latest = sorted(map(str, eng.execute_latest_query().collect()))

    eng.apply_retention(
        RetentionPolicy(segments_keep_us=10 * DAY_US), now_us=now_us,
        vacuum_grace_s=0.0)

    assert sorted(map(str, eng.execute_time_range_query(
        conv, lb_ms, ub_ms).collect())) == pre_range
    # latest is served from the untouched latest tier: identical even for
    # conversations idle since before the horizon
    assert sorted(map(str, eng.execute_latest_query().collect())) == pre_latest


def test_engine_aggregate_and_downsample_after_retention(spark, transcripts_pdf, tmp_path):
    """Query semantics over expired ranges: a window over RETAINED data
    answers exactly as before retention; a window wholly inside the
    expired range answers like 'no data' (the reference's sentinel
    semantics for empty ranges) — retained-range answers never shift."""
    from lindorm_tsdb_contest_java_spark import engine as EM
    root = str(tmp_path / "qsem")
    eng = EM.connect(spark, root, n_buckets=8)
    eng.create_table()
    eng.write(spark.createDataFrame(transcripts_pdf))
    eng.shutdown()

    hi_us = int(transcripts_pdf["ts"].max().timestamp() * 1e6)
    lo_us = int(transcripts_pdf["ts"].min().timestamp() * 1e6)
    conv = transcripts_pdf["conv_id"].iloc[0]
    # a minute-aligned recent window (inside the retention horizon)
    r_lb = ((hi_us // 1000 - 5 * 86_400_000) // 60_000) * 60_000
    r_ub = r_lb + 2 * 86_400_000
    pre_agg = eng.execute_aggregate_query(conv, "text_len", r_lb, r_ub, "AVG").collect()
    pre_ds = eng.execute_downsample_query(
        conv, "latency_s", r_lb, r_ub, 86_400_000, "AVG").collect()

    eng.apply_retention(RetentionPolicy(segments_keep_us=10 * DAY_US,
                                        tier_1m_keep_us=10 * DAY_US),
                        now_us=hi_us + 1, vacuum_grace_s=0.0)

    assert eng.execute_aggregate_query(
        conv, "text_len", r_lb, r_ub, "AVG").collect() == pre_agg
    assert eng.execute_downsample_query(
        conv, "latency_s", r_lb, r_ub, 86_400_000, "AVG").collect() == pre_ds

    # a window wholly in the expired region == a window with no data
    e_lb = (lo_us // 60_000_000) * 60_000  # minute-aligned, at data start
    e_ub = e_lb + 60_000
    got = eng.execute_aggregate_query(conv, "text_len", e_lb, e_ub, "AVG").collect()
    empty_conv = eng.execute_aggregate_query(
        "conv-nonexistent", "text_len", e_lb, e_ub, "AVG").collect()
    assert [r.asDict() for r in got] == [
        {**r.asDict(), "conv_id": conv} for r in empty_conv] or got == empty_conv


def test_policy_rejects_1m_expiring_before_segments(spark, transcripts_df, tmp_path):
    """ADVICE r03: the committed aggregate/downsample paths serve interior
    buckets solely from the 1m tier — a policy expiring 1m chunks while
    their segments are still retained must be refused, not silently
    produce partial answers."""
    import pytest as _pytest
    root = str(tmp_path / "pol")
    p = _run(spark, root, transcripts_df)
    with _pytest.raises(ValueError, match="tier_1m_keep_us"):
        apply_retention(p, RetentionPolicy(segments_keep_us=5 * DAY_US,
                                           tier_1m_keep_us=2 * DAY_US),
                        now_us=0, vacuum=False)
    # segments kept forever + 1m expiring is the same inconsistency
    with _pytest.raises(ValueError, match="tier_1m_keep_us"):
        apply_retention(p, RetentionPolicy(tier_1m_keep_us=2 * DAY_US),
                        now_us=0, vacuum=False)


def test_all_chunks_dropped_floor_is_chunk_aligned(spark, transcripts_df, tmp_path):
    """ADVICE r03: when retention removes EVERY 1m chunk, the persisted
    fallback floor must land on a chunk boundary — a mid-partition floor
    would let a later backfill rewrite a coarse partition that still
    holds frozen rows below the cutover."""
    root = str(tmp_path / "floorall")
    p = _run(spark, root, transcripts_df)
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize
    _, hi = _bounds(canonicalize(transcripts_df, n_buckets=8, chunk_us=CHUNK_US))
    # horizon above ALL data (past the last chunk's END, which can be up
    # to a full chunk beyond hi), deliberately NOT chunk-aligned
    now_us = hi + 2 * CHUNK_US + 12_345_678_901
    keep_us = 1  # expire everything
    out = apply_retention(
        p, RetentionPolicy(segments_keep_us=keep_us, tier_1m_keep_us=keep_us),
        now_us=now_us, vacuum=False)
    assert out["tier_conv_1m"]["chunks_dropped"] > 0
    assert _seg_chunks(root) == []
    floor = read_retention_floor_us(root)
    assert floor is not None
    assert floor % CHUNK_US == 0            # chunk-aligned
    assert floor >= now_us - keep_us        # never below the horizon


def test_lineage_compact_mixed_schemas_keeps_types(spark, transcripts_df, tmp_path):
    """ADVICE r03: compaction across mixed-schema lineage files (rollup
    rows with int64 time_chunk/row_count vs retention rows without) must
    keep the original parquet types — pandas concat promoted them to
    double, and the NEXT record_many append made read()'s mergeSchema
    throw on bigint-vs-double."""
    root = str(tmp_path / "lincompact")
    p = _run(spark, root, transcripts_df)
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize
    _, hi = _bounds(canonicalize(transcripts_df, n_buckets=8, chunk_us=CHUNK_US))
    chunks = _seg_chunks(root)
    keep_us = (hi + 1) - (chunks[0] + 1) * CHUNK_US
    apply_retention(p, RetentionPolicy(segments_keep_us=keep_us,
                                       tier_1m_keep_us=keep_us),
                    now_us=hi + 1, vacuum=False)
    assert p.lineage.compact(max_files=0) is True
    # post-compaction append of rollup-shaped rows (int64 columns again)
    p.lineage.record_many([dict(job="rollup", phase="chunk", time_chunk=99,
                                input_files="x",
                                row_count=1, encoded_bytes=2, wall_s=0.1)])
    lin = p.lineage.read(spark)  # threw before the fix
    dtypes = dict(lin.dtypes)
    assert dtypes["time_chunk"] == "bigint"
    assert dtypes["row_count"] == "bigint"
    assert lin.filter(F.col("job") == "retention").count() >= 1
    assert lin.filter(F.col("time_chunk") == 99).count() == 1
