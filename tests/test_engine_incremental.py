"""Memtable-cost flush + ingest-log retirement (engine.shutdown).

- a forward-append second flush takes the fast path and produces
  BIT-IDENTICAL state to a single all-at-once flush (all tables);
- untouched chunks' segment files are not rewritten;
- the raw ingest log is truncated after every flush (committed storage
  is the compressed store only) and buffered reads still see
  committed ∪ buffer;
- an upsert of an old key is refused by the fast path, falls back to
  the decode-∪-batch full run, and converges to the from-scratch state;
- a reconnect after incremental flushes answers identically.
"""

import os

from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark import engine as EM
from lindorm_tsdb_contest_java_spark.engine import _INPUT_COLUMNS
from lindorm_tsdb_contest_java_spark.sources.generator import generate_transcripts

from test_pipeline import TABLES, _hashes


def _pdf():
    return generate_transcripts(n_conv=60, mean_turns=30, seed=11)


def _connect(spark, tmp_path, name):
    return EM.connect(spark, str(tmp_path / name), n_buckets=8)


def _flush_all(eng, spark, pdf):
    eng.write(spark.createDataFrame(pdf))
    eng.shutdown()


def test_forward_append_flush_is_fast_and_bit_identical(spark, tmp_path):
    pdf = _pdf()
    cut = pdf["ts"].quantile(0.7)
    part1, part2 = pdf[pdf.ts <= cut], pdf[pdf.ts > cut]

    one = _connect(spark, tmp_path, "one")
    _flush_all(one, spark, pdf)

    two = _connect(spark, tmp_path, "two")
    _flush_all(two, spark, part1)
    files_before = {f["path"]: f for f in two._segments.current().files}
    chunks_before = {f["partition"]["time_chunk"]
                     for f in two._segments.current().files}

    batch2 = spark.createDataFrame(part2).select(*_INPUT_COLUMNS)
    touched = two._fast_flush_chunks(batch2)
    assert touched is not None and touched, "forward append must be eligible"
    _flush_all(two, spark, part2)

    # untouched chunks: the same files, byte-for-byte the same manifest
    # entries — the fast flush never rewrote them
    untouched = chunks_before - set(touched)
    assert untouched, "fixture must leave some chunks untouched"
    after = {f["path"]: f for f in two._segments.current().files}
    for path, f in files_before.items():
        if f["partition"]["time_chunk"] in untouched:
            assert after.get(path) == f

    # every table bit-identical to the single-flush engine
    h_one = _hashes(spark, str(tmp_path / "one"))
    h_two = _hashes(spark, str(tmp_path / "two"))
    assert h_one == h_two

    # reconnect: same answers as the single-flush engine
    re = _connect(spark, tmp_path, "two")
    assert sorted(map(str, re.execute_latest_query().collect())) == \
        sorted(map(str, one.execute_latest_query().collect()))


def test_raw_log_truncated_and_buffered_reads_complete(spark, tmp_path):
    pdf = _pdf()
    cut = pdf["ts"].quantile(0.7)
    part1, part2 = pdf[pdf.ts <= cut], pdf[pdf.ts > cut]
    eng = _connect(spark, tmp_path, "t")
    _flush_all(eng, spark, part1)
    assert eng._raw.current().files == [], "ingest log must be retired"

    # buffered state: committed (from segments) ∪ buffer both visible
    eng.write(spark.createDataFrame(part2))
    n = eng._canonical().count()
    assert n == len(pdf.drop_duplicates(subset=["conv_id", "turn_idx"]))
    eng.shutdown()
    assert eng._raw.current().files == []
    assert eng._get_ordered() is True


def test_old_key_upsert_falls_back_and_converges(spark, tmp_path):
    pdf = _pdf().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    eng = _connect(spark, tmp_path, "u")
    _flush_all(eng, spark, pdf)

    # rewrite an existing key with a newer ts that lands AFTER a later
    # turn's ts — superseding write + order violation in one
    import pandas as pd
    victim = pdf.iloc[[5]].copy()
    victim["text"] = "rewritten-payload"
    victim["ts"] = victim["ts"] + pd.Timedelta(days=400)
    batch = spark.createDataFrame(victim).select(*_INPUT_COLUMNS)
    assert eng._fast_flush_chunks(batch) is None, \
        "old-key upsert must not take the fast path"
    _flush_all(eng, spark, victim)
    assert eng._get_ordered() is False

    # from-scratch truth over the same total input
    truth = _connect(spark, tmp_path, "truth")
    _flush_all(truth, spark, pdf.drop(pdf.index[5]))
    _flush_all(truth, spark, victim)
    got = sorted(map(str, eng._decoded_input().collect()))
    want = sorted(map(str, truth._decoded_input().collect()))
    assert got == want
    # the superseded text is gone, the rewrite is present
    texts = [r["text"] for r in eng._decoded_input()
             .filter((F.col("conv_id") == victim["conv_id"].iloc[0])
                     & (F.col("turn_idx") == int(victim["turn_idx"].iloc[0])))
             .collect()]
    assert texts == ["rewritten-payload"]

    # ordered=false now permanently refuses the fast path, even for a
    # perfectly forward batch
    fresh = pdf.iloc[[0]].copy()
    fresh["turn_idx"] = 10_000
    fresh["ts"] = pdf["ts"].max() + pd.Timedelta(days=500)
    assert eng._fast_flush_chunks(
        spark.createDataFrame(fresh).select(*_INPUT_COLUMNS)) is None


def test_flush_crash_between_run_and_truncate_recovers(spark, tmp_path):
    """Simulate a flush that committed the pipeline but died before
    retiring the raw log: the next shutdown re-processes the leftover
    batch (ineligible for the fast path — its keys now equal the
    committed latest — so it falls back), converges with zero chunks
    re-run, and retires the log. State equals the clean two-flush run."""
    pdf = _pdf()
    cut = pdf["ts"].quantile(0.7)
    part1, part2 = pdf[pdf.ts <= cut], pdf[pdf.ts > cut]

    clean = _connect(spark, tmp_path, "clean")
    _flush_all(clean, spark, part1)
    _flush_all(clean, spark, part2)

    crash = _connect(spark, tmp_path, "crash")
    _flush_all(crash, spark, part1)
    # crashed flush: batch appended + pipeline run, truncate never reached
    batch = spark.createDataFrame(part2).select(*_INPUT_COLUMNS)
    crash._raw.append(batch)
    new_rows = crash._raw.read(spark).select(*_INPUT_COLUMNS)
    touched = crash._fast_flush_chunks(new_rows)
    assert touched
    crash._pipeline.run(crash._fast_flush_input(new_rows, touched),
                        restrict_chunks=touched)
    assert crash._raw.current().files, "log still holds the batch (crash)"

    # recovery: a fresh engine's shutdown finds the leftover log
    rec = _connect(spark, tmp_path, "crash")
    rec.shutdown()
    assert rec._raw.current().files == []
    assert _hashes(spark, str(tmp_path / "crash")) == \
        _hashes(spark, str(tmp_path / "clean"))


def test_crashed_append_stays_query_visible(spark, tmp_path):
    """Crash between the durable raw append and the pipeline commit:
    a reopened engine must serve the logged-but-unflushed rows (memtable
    path), not silently hide them behind the stale segment store."""
    pdf = _pdf()
    cut = pdf["ts"].quantile(0.7)
    part1, part2 = pdf[pdf.ts <= cut], pdf[pdf.ts > cut]
    eng = _connect(spark, tmp_path, "cv")
    _flush_all(eng, spark, part1)
    # simulated crash: batch reached the log, pipeline never ran
    eng._raw.append(spark.createDataFrame(part2).select(*_INPUT_COLUMNS))

    re = _connect(spark, tmp_path, "cv")
    assert re._committed() is False
    n = re._canonical().count()
    assert n == len(pdf.drop_duplicates(subset=["conv_id", "turn_idx"]))
    # latest sees the logged rows too (not the stale latest tier)
    conv = part2["conv_id"].iloc[-1]
    latest_ts = int(re.execute_latest_query([conv]).collect()[0]["ts_us"])
    want = int(pdf[pdf.conv_id == conv]["ts"].max().timestamp() * 1e6)
    assert latest_ts == want
    # next shutdown replays and retires the log
    re.shutdown()
    assert re._raw.current().files == [] and re._committed()


def test_codec_version_mismatch_refuses_to_open(spark, tmp_path):
    import json as _json
    import pytest as _pytest
    from lindorm_tsdb_contest_java_spark.ops.pipeline import RollupPipeline
    pdf = _pdf()
    eng = _connect(spark, tmp_path, "vz")
    _flush_all(eng, spark, pdf)
    root = str(tmp_path / "vz")
    with open(f"{root}/codec_version.json", "w") as f:
        _json.dump({"codec_version": 3}, f)
    with _pytest.raises(RuntimeError, match="codec wire version"):
        RollupPipeline(spark, root, n_buckets=8)
    os.remove(f"{root}/codec_version.json")  # unstamped + data also refuses
    with _pytest.raises(RuntimeError, match="unstamped"):
        RollupPipeline(spark, root, n_buckets=8)


def test_unstamped_flush_state_is_verified_not_assumed(spark, tmp_path):
    """A root whose committed history was never order-checked (no
    flush_state.json — e.g. built via RollupPipeline directly) must be
    VERIFIED once before the fast path may run."""
    import pandas as pd
    from lindorm_tsdb_contest_java_spark.ops.pipeline import RollupPipeline
    pdf = _pdf()
    root = str(tmp_path / "nv")
    RollupPipeline(spark, root, n_buckets=8).run(
        spark.createDataFrame(pdf))
    eng = _connect(spark, tmp_path, "nv")
    assert not os.path.exists(eng._flush_state_path())
    fresh = pdf.iloc[[0]].copy()
    fresh["turn_idx"] = 10_000
    fresh["ts"] = pdf["ts"].max() + pd.Timedelta(days=500)
    touched = eng._fast_flush_chunks(
        spark.createDataFrame(fresh).select(*_INPUT_COLUMNS))
    # generator data is ordered: verification passes, is persisted, and
    # the forward batch is eligible
    assert touched
    assert os.path.exists(eng._flush_state_path())
    assert eng._get_ordered() is True


def test_engine_soak_random_op_interleaving(spark, tmp_path):
    """Model-based soak: a seeded interleaving of forward appends,
    old-key upserts, flushes, and reconnects must leave the store equal
    to the newest-wins pandas model of everything ever written."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pool = generate_transcripts(n_conv=30, mean_turns=20, seed=21)
    pool = pool.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    groups = [g for _, g in pool.groupby("conv_id")]
    written = []          # every batch ever written, in order
    eng = _connect(spark, tmp_path, "soak")

    def flush():
        eng.shutdown()

    t_base = pool["ts"].max()
    for step in range(10):
        op = rng.choice(["append", "upsert", "flush", "reconnect"],
                        p=[0.45, 0.2, 0.25, 0.1])
        if op == "append" or not written:
            k = int(rng.integers(1, 4))
            idx = rng.choice(len(groups), size=k, replace=False)
            batch = pd.concat([groups[i] for i in idx], ignore_index=True)
            # shift forward so every append is newer than everything prior
            batch = batch.copy()
            batch["ts"] = batch["ts"] + (t_base - batch["ts"].min()) \
                + pd.Timedelta(days=1 + step)
            t_base = batch["ts"].max()
            written.append(batch)
            eng.write(spark.createDataFrame(batch))
        elif op == "upsert":
            prev = written[int(rng.integers(len(written)))]
            row = prev.iloc[[int(rng.integers(len(prev)))]].copy()
            row["text"] = f"upsert-{step}"
            row["ts"] = t_base + pd.Timedelta(hours=1 + step)
            t_base = row["ts"].max()
            written.append(row)
            eng.write(spark.createDataFrame(row))
        elif op == "flush":
            flush()
        else:
            flush()
            eng = _connect(spark, tmp_path, "soak")
    flush()

    truth = (pd.concat(written, ignore_index=True)
             .sort_values("ts")
             .drop_duplicates(subset=["conv_id", "turn_idx"], keep="last"))
    got = (eng._decoded_input().toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    truth = truth.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(truth)
    assert (got["text"].to_numpy() == truth["text"].to_numpy()).all()
    got_ts = got["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    want_ts = truth["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    assert (got_ts == want_ts).all()
