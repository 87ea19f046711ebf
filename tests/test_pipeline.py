"""Idempotence / resume / lineage tests (FIXTURES.md §3.7).

- re-running a completed pipeline changes nothing (table content hash stable);
- a simulated mid-run crash + resume converges to the identical state a
  clean run produces;
- every chunk write leaves a lineage row with rows/bytes/wall time.
"""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark.ops.pipeline import RollupPipeline
from lindorm_tsdb_contest_java_spark.sources.table import SnapshotTable

CHUNK_US = 9 * 86_400 * 1_000_000  # 9-day chunks: ~4-5 chunks over the fixture, keeps the multi-run tests fast


def _content_hash(spark, root, name, sort_cols):
    df = SnapshotTable.load(os.path.join(root, name)).read(spark)
    pdf = df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    drop = [c for c in pdf.columns if c.startswith("blob_")]  # hashed separately
    h = hashlib.sha256()
    h.update(pdf.drop(columns=drop).to_csv(index=False).encode())
    for c in drop:
        for b in pdf[c]:
            h.update(bytes(b))
    return h.hexdigest()


TABLES = {
    "segments": ["conv_bucket", "time_chunk"],
    "tier_conv_1m": ["conv_id", "bucket_ms"],
    "tier_conv_1h": ["conv_id", "bucket_ms"],
    "tier_conv_1d": ["conv_id", "bucket_ms"],
    "tier_rate_1m": ["role", "tool", "bucket_ms"],
    "tier_latest": ["conv_id", "time_chunk"],
}


def _hashes(spark, root):
    return {t: _content_hash(spark, root, t, cols) for t, cols in TABLES.items()}


def test_run_rerun_resume(spark, transcripts_df, tmp_path, monkeypatch):
    clean_root = str(tmp_path / "clean")
    p = RollupPipeline(spark, clean_root, n_buckets=8, chunk_us=CHUNK_US)
    m1 = p.run(transcripts_df)
    assert m1["chunks_run"] == m1["chunks_total"] > 1
    baseline = _hashes(spark, clean_root)

    # --- idempotence: re-run is a no-op and content is unchanged
    m2 = RollupPipeline(spark, clean_root, n_buckets=8, chunk_us=CHUNK_US).run(transcripts_df)
    assert m2["chunks_run"] == 0
    assert _hashes(spark, clean_root) == baseline

    # --- crash mid-run (2-chunk commit batches), then resume: converges
    # to the same content a clean single-batch run produces
    crash_root = str(tmp_path / "crash")
    crashing = RollupPipeline(spark, crash_root, n_buckets=8, chunk_us=CHUNK_US,
                              commit_batch_chunks=2)
    run_batch, batches = RollupPipeline._run_batch, []

    def crash_on_second_batch(self, *args):
        batches.append(args[1])
        if len(batches) == 2:
            raise RuntimeError("simulated failure")
        run_batch(self, *args)

    monkeypatch.setattr(RollupPipeline, "_run_batch", crash_on_second_batch)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crashing.run(transcripts_df)
    monkeypatch.undo()
    resumed = RollupPipeline(spark, crash_root, n_buckets=8, chunk_us=CHUNK_US)
    m3 = resumed.run(transcripts_df)
    assert 0 < m3["chunks_run"] < m3["chunks_total"]
    assert m3["chunks_done"] == 2
    assert _hashes(spark, crash_root) == baseline

    # --- lineage: one row per completed chunk, with metrics populated
    lin = resumed.lineage.read(spark).toPandas()
    assert len(lin) == m1["chunks_total"]
    assert (lin["row_count"] > 0).all() and (lin["encoded_bytes"] > 0).all()
    assert (lin["wall_s"] > 0).all()
    assert lin["time_chunk"].nunique() == m1["chunks_total"]
    assert (lin["input_files"].str.len() > 0).all()

    # --- a checkpoint written by an older build still carries an
    # input_snapshot key beside "done": it loads, and every chunk resumes
    ck = os.path.join(crash_root, "checkpoint.json")
    with open(ck) as f:
        st = json.load(f)
    st["rollup"]["input_snapshot"] = 7
    with open(ck, "w") as f:
        json.dump(st, f)
    m4 = RollupPipeline(spark, crash_root, n_buckets=8,
                        chunk_us=CHUNK_US).run(transcripts_df)
    assert m4["chunks_run"] == 0 and m4["chunks_done"] == m4["chunks_total"]
    assert _hashes(spark, crash_root) == baseline


def test_one_commit_handles_all_chunks(spark, transcripts_df, tmp_path):
    """Default mode: N todo chunks → ONE segments snapshot commit (one
    distributed partitioned write), not N sequential per-chunk commits."""
    root = str(tmp_path / "onejob")
    p = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US)
    m = p.run(transcripts_df)
    assert m["chunks_total"] > 1
    seg = SnapshotTable.load(os.path.join(root, "segments"))
    snap = seg.current()
    # create (id 0) + exactly one data commit
    assert snap.snapshot_id == 1
    assert snap.operation == "overwrite_partitions"
    chunks_in_files = {f["partition"]["time_chunk"] for f in snap.files}
    assert len(chunks_in_files) == m["chunks_total"]
    # lineage still has one row per chunk even though the job was one commit
    lin = p.lineage.read(spark).toPandas()
    assert lin["time_chunk"].nunique() == m["chunks_total"]


def test_snapshot_table_commit_conflict_detected(tmp_path):
    """Two writers minting from the same base snapshot: the second commit
    must fail loudly (optimistic concurrency), never silently clobber."""
    import pandas as pd
    from lindorm_tsdb_contest_java_spark.sources.table import Snapshot
    t = SnapshotTable.create(str(tmp_path / "c"))
    t.append(pd.DataFrame({"v": [1]}))
    stale = t.current()  # both writers read snapshot 1
    t.append(pd.DataFrame({"v": [2]}))  # writer A commits snapshot 2
    with pytest.raises(RuntimeError, match="commit conflict"):
        t._commit(Snapshot(stale.snapshot_id + 1, stale.snapshot_id,
                           "append", stale.files, {}))  # writer B loses


def test_snapshot_table_partition_replace(spark, tmp_path):
    import pandas as pd
    t = SnapshotTable.create(str(tmp_path / "t"))
    t.overwrite_partitions(pd.DataFrame({"k": [1, 1], "v": [10, 11]}), {"chunk": 1})
    t.overwrite_partitions(pd.DataFrame({"k": [2], "v": [20]}), {"chunk": 2})
    assert t.read(spark).count() == 3
    # replacing chunk 1 swaps exactly its file
    t.overwrite_partitions(pd.DataFrame({"k": [1], "v": [99]}), {"chunk": 1})
    pdf = t.read(spark).toPandas().sort_values("v")
    assert list(pdf["v"]) == [20, 99]
    snap = t.current()
    assert snap.operation == "overwrite_partitions"
    assert snap.parent_id == snap.snapshot_id - 1


def test_incremental_append_reprocesses_only_changed_chunks(spark, transcripts_pdf, tmp_path):
    """New data appended into existing chunks invalidates exactly those
    chunks' fingerprints — the incremental-processing contract."""
    import pandas as pd

    root = str(tmp_path / "incr")
    by_ts = transcripts_pdf.sort_values("ts").reset_index(drop=True)
    first = spark.createDataFrame(by_ts.iloc[: len(by_ts) * 3 // 4])
    m1 = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US).run(first)
    assert m1["chunks_run"] == m1["chunks_total"]

    # append the remaining quarter (touches the tail chunks only)
    full = spark.createDataFrame(by_ts)
    m2 = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US).run(full)
    assert 0 < m2["chunks_run"] < m2["chunks_total"], m2

    # final state equals a from-scratch run on the full data
    clean = str(tmp_path / "incr_clean")
    RollupPipeline(spark, clean, n_buckets=8, chunk_us=CHUNK_US).run(full)
    assert _hashes(spark, root) == _hashes(spark, clean)


def test_chunk_files_are_bucket_ordered(spark, transcripts_df, tmp_path):
    """sort_within=['conv_bucket'] must leave every chunk data file with
    non-decreasing conv_bucket — the row-group layout bucket-scoped reads
    prune contiguously."""
    import pyarrow.parquet as pq
    root = str(tmp_path / "ordered")
    RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US).run(
        spark.createDataFrame(transcripts_df.toPandas()))
    seg = SnapshotTable.load(os.path.join(root, "segments"))
    checked = 0
    for f in seg.current().files:
        col = pq.read_table(os.path.join(seg.data_dir, f["path"]),
                            columns=["conv_bucket"])["conv_bucket"].to_numpy()
        assert (col[1:] >= col[:-1]).all(), f["path"]
        checked += 1
    assert checked > 0


def test_stale_lock_reclaimed(tmp_path):
    """A LOCK left by a dead writer (SIGKILL between open and unlink) must
    be reclaimed, not wedge every future commit (ADVICE r02)."""
    import pandas as pd
    t = SnapshotTable.create(str(tmp_path / "t"))
    lock = os.path.join(t.manifest_dir, "LOCK")
    with open(lock, "w") as f:
        f.write("999999999")  # dead pid (way above pid_max)
    t.append(pd.DataFrame({"a": [1, 2]}))  # reclaims + commits
    assert t.current().row_count == 2
    assert not os.path.exists(lock)


def test_live_lock_still_blocks(tmp_path):
    import pandas as pd
    t = SnapshotTable.create(str(tmp_path / "t"))
    lock = os.path.join(t.manifest_dir, "LOCK")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))  # alive holder: this process
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.append(pd.DataFrame({"a": [1]}))
    os.unlink(lock)


def test_lineage_compaction_preserves_rows(spark, transcripts_df, tmp_path):
    root = str(tmp_path / "lc")
    p = RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US)
    p.run(transcripts_df)
    n_before = p.lineage.read(spark).count()
    files_before = len(p.lineage.table.current().files)
    assert p.lineage.compact(max_files=0) is True  # force
    assert len(p.lineage.table.current().files) == 1 < max(files_before, 2)
    assert p.lineage.read(spark).count() == n_before
    assert p.lineage.compact(max_files=64) is False  # under threshold: no-op


def test_chunk_us_must_align_with_tier_grain(spark, tmp_path):
    """chunk_us is a user-facing knob stamped into store_config.json; the
    store grid must nest with the 1m/1h/1d tiers (a whole number of
    minutes that divides, or is a multiple of, 1 h and 1 d), so a width
    that would let a tier bucket straddle a chunk must be refused at
    open, not corrupt tier overwrites later (ADVICE r04)."""
    minute_us = 60 * 1_000_000
    for name, bad in (("90s", 90_000_000), ("neg", -minute_us),
                      ("90m", 90 * minute_us), ("25h", 25 * 60 * minute_us)):
        with pytest.raises(ValueError, match="nest with the tier grid"):
            RollupPipeline(spark, str(tmp_path / f"bad{name}"), chunk_us=bad)
    # nesting widths still open fine: 2 min, 15 min, 1 h, 6 h, 12 h,
    # 9 d, 40 d
    for minutes in (2, 15, 60, 6 * 60, 12 * 60, 9 * 1440, 40 * 1440):
        RollupPipeline(spark, str(tmp_path / f"ok{minutes}m"),
                       chunk_us=minutes * minute_us)


def test_tier_files_are_conv_ordered(spark, transcripts_df, tmp_path):
    """r04 verdict ask #4: tier files must come out sorted by their query
    key (conv_id for conv/latest tiers, (role, tool) for rate tiers) so
    parquet row-group stats prune single-key tier reads — the MapIndex
    per-vin prune applied to the tier side."""
    import pyarrow.parquet as pq
    root = str(tmp_path / "tierorder")
    RollupPipeline(spark, root, n_buckets=8, chunk_us=CHUNK_US).run(
        spark.createDataFrame(transcripts_df.toPandas()))
    keys = {"tier_conv_1m": ["conv_id"], "tier_conv_1h": ["conv_id"],
            "tier_conv_1d": ["conv_id"], "tier_latest": ["conv_id"],
            "tier_rate_1m": ["role", "tool"],
            "tier_rate_1h": ["role", "tool"], "tier_rate_1d": ["role", "tool"]}
    for name, cols in keys.items():
        tbl = SnapshotTable.load(os.path.join(root, name))
        checked = 0
        for f in tbl.current().files:
            t = pq.read_table(os.path.join(tbl.data_dir, f["path"]),
                              columns=cols)
            rows = list(zip(*[t[c].to_pylist() for c in cols]))
            assert rows == sorted(rows), (name, f["path"])
            checked += 1
        assert checked > 0, name
