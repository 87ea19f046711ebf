"""The contest's evaluation protocol in miniature (reference README.md:30-38):

    write → correctness → shutdown (restart, cache drop) → reconnect →
    correctness again

against the pandas oracle, through the reference-shaped 8-method API.
"""

import numpy as np
import pandas as pd
import pytest

from lindorm_tsdb_contest_java_spark import engine as eng
from oracle import (
    oracle_aggregate, oracle_downsample, oracle_latest, oracle_time_range,
)

HOT = "conv-00000000"


@pytest.fixture(scope="module")
def db(spark, transcripts_pdf, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("engine") / "db")
    db = eng.connect(spark, root, n_buckets=8)
    db.create_table()
    # two write batches, like the evaluator's threaded writers
    half = len(transcripts_pdf) // 2
    db.write(spark.createDataFrame(transcripts_pdf.iloc[:half]))
    db.write(spark.createDataFrame(transcripts_pdf.iloc[half:]))
    return db


@pytest.fixture(scope="module")
def oracle_pdf(db):
    return db._canonical().toPandas()


def _check_all_queries(db, oracle_pdf):
    lb = int(oracle_pdf[oracle_pdf["conv_id"] == HOT]["ts_us"].min() // 1000)
    ub = lb + 6 * 3_600_000

    got = db.execute_latest_query([HOT, "conv-00000003"]).toPandas()
    exp = oracle_latest(oracle_pdf, [HOT, "conv-00000003"])
    assert sorted(got["turn_idx"]) == sorted(exp["turn_idx"])

    cols = ["conv_id", "turn_idx", "text", "ts_us"]
    got = (db.execute_time_range_query(HOT, lb, ub, cols)
           .toPandas().sort_values("ts_us").reset_index(drop=True))
    exp = oracle_time_range(oracle_pdf, HOT, lb, ub, cols) \
        .sort_values("ts_us").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)

    for agg in ("AVG", "MAX"):
        got = db.execute_aggregate_query(HOT, "text_len", lb, ub, agg).toPandas()
        exp = oracle_aggregate(oracle_pdf, HOT, "text_len", lb, ub, agg)
        assert got["value"].iloc[0] == pytest.approx(exp["value"].iloc[0], rel=1e-12)
        assert got["ts_ms"].iloc[0] == lb

    got = db.execute_downsample_query(HOT, "text_len", lb, ub, 3_600_000,
                                      "AVG", "GREATER", 40).toPandas()
    exp = oracle_downsample(oracle_pdf, HOT, "text_len", lb, ub, 3_600_000,
                            "AVG", "GREATER", 40)
    gv, ev = got["value"].to_numpy(float), exp["value"].to_numpy(float)
    sent = np.isinf(ev)
    assert (np.isinf(gv) == sent).all()
    np.testing.assert_allclose(gv[~sent], ev[~sent], rtol=1e-12)


def test_queries_before_flush_see_buffered_writes(db, oracle_pdf):
    _check_all_queries(db, oracle_pdf)  # nothing flushed yet: memtable reads


def test_restart_protocol(spark, db, oracle_pdf):
    db.shutdown()
    reopened = eng.connect(spark, db.root, n_buckets=8)  # fresh instance
    assert reopened._buffer == []
    _check_all_queries(reopened, oracle_pdf)
    # committed segment/tier tables exist and carry the data
    assert reopened._segments.current().row_count > 0
    n = reopened._tier_1m.read(spark).agg({"n_turns": "sum"}).collect()[0][0]
    assert n == len(oracle_pdf)


def test_upsert_overwrite_through_api(spark, tmp_path):
    db = eng.connect(spark, str(tmp_path / "db2"), n_buckets=4)
    base = pd.DataFrame({
        "conv_id": ["c1"] * 3, "turn_idx": np.array([0, 1, 2], dtype=np.int32),
        "role": ["user"] * 3, "text": ["a", "b", "c"], "tool": [""] * 3,
        "ts": pd.to_datetime([1_700_000_000_000_000 + i * 1_000_000 for i in range(3)],
                             unit="us"),
    })
    db.write(spark.createDataFrame(base))
    edit = base.iloc[[1]].assign(text="b-edited",
                                 ts=base["ts"].iloc[1] + pd.Timedelta(seconds=5))
    db.write(spark.createDataFrame(edit))
    got = (db.execute_time_range_query("c1", 0, 2_000_000_000_000,
                                       ["turn_idx", "text"])
           .toPandas().sort_values("turn_idx"))
    assert list(got["text"]) == ["a", "b-edited", "c"]
    db.shutdown()
    reopened = eng.connect(spark, db.root, n_buckets=4)
    got2 = (reopened.execute_time_range_query("c1", 0, 2_000_000_000_000,
                                              ["turn_idx", "text"])
            .toPandas().sort_values("turn_idx"))
    assert list(got2["text"]) == ["a", "b-edited", "c"]


HOUR_US = 3_600 * 1_000_000


@pytest.mark.parametrize("case", ["same_ts", "cross_chunk"])
def test_same_ts_upsert_of_committed_key_survives_flush(spark, tmp_path, case):
    """A write that changes the content of a COMMITTED chunk must reach
    the store, so the chunk fingerprint hashes row content, not just the
    key, and the flush re-encodes the chunk instead of skipping it:
    - same_ts: an upsert of a committed key at the same ts that wins on
      content (canonicalize keeps the longer text on a ts tie);
    - cross_chunk: a turn inserted into an earlier chunk, which changes
      the lag latency of the next chunk's first row (86400 s, not the
      172800 s it had before the insert)."""
    db = eng.connect(spark, str(tmp_path / case), n_buckets=4)
    t0 = 1_700_000_000_000_000
    step = 1_000_000 if case == "same_ts" else 24 * HOUR_US
    base = pd.DataFrame({
        "conv_id": ["c1"] * 3, "turn_idx": np.array([0, 1, 2], dtype=np.int32),
        "role": ["user"] * 3, "text": ["a", "b", "c"], "tool": [""] * 3,
        "ts": pd.to_datetime([t0 + i * step for i in range(3)], unit="us"),
    })
    if case == "same_ts":
        first = base
        later = base.iloc[[1]].assign(role="assistant", text="b-edited")
    else:
        first, later = base.iloc[[0, 2]], base.iloc[[1]]
    db.write(spark.createDataFrame(first))
    db.shutdown()
    db.write(spark.createDataFrame(later))
    # the hour holding turn 2, whose lag latency the insert changes
    lb = (t0 + 2 * step) // HOUR_US * HOUR_US // 1000
    answers = []
    for _ in range(2):  # buffered, then flushed
        answers.append((sorted(map(str, db.execute_time_range_query(
            "c1", 0, 2_000_000_000_000,
            ["turn_idx", "role", "text", "latency_s"]).collect())),
            db.execute_aggregate_query("c1", "latency_s", lb,
                                       lb + 3_600_000, "MAX").collect()))
        db.shutdown()
    assert answers[0] == answers[1]
    rows = answers[1][0]
    if case == "same_ts":
        assert "text='b-edited'" in rows[1] and "assistant" in rows[1]
    else:
        assert "latency_s=86400.0" in rows[2]
        assert answers[1][1][0][-1] == 86400.0


def test_latest_head_reseeded_after_crash_before_head_commit(spark, tmp_path,
                                                             monkeypatch):
    """A crash between the tier_latest commit and the head commit leaves
    the head stamped behind the tier. The next flush must re-seed the
    whole head, not merge only its own conversations into it and stamp
    it current: that kept the crashed flush's conversations on their old
    slot."""
    root = str(tmp_path / "headcrash")
    t0 = 1_700_000_000_000_000

    def rows(conv, turn, ts_us):
        return spark.createDataFrame(pd.DataFrame({
            "conv_id": [conv], "turn_idx": np.array([turn], dtype=np.int32),
            "role": ["user"], "text": [f"{conv}{turn}"], "tool": [""],
            "ts": pd.to_datetime([ts_us], unit="us")}))

    db = eng.connect(spark, root, n_buckets=4)
    db.write(rows("a", 0, t0))
    db.write(rows("b", 0, t0 + 1_000_000))
    db.shutdown()

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash before the head commit")

    monkeypatch.setattr(db._pipeline, "_write_latest_head", crash)
    db.write(rows("a", 1, t0 + 24 * HOUR_US))  # another chunk
    with pytest.raises(RuntimeError, match="simulated"):
        db.shutdown()
    monkeypatch.undo()
    db2 = eng.connect(spark, root, n_buckets=4)
    db2.write(rows("b", 1, t0 + 48 * HOUR_US))  # a third chunk
    db2.shutdown()
    got = sorted((r["conv_id"], r["turn_idx"])
                 for r in db2.execute_latest_query().collect())
    assert got == [("a", 1), ("b", 1)]
    assert db2._pipeline.head_current()


def test_latest_served_from_tier_after_shutdown(spark, db, oracle_pdf):
    """Post-flush, execute_latest_query must read the materialized latest
    tier (MapIndex.getLast analog), not scan the raw table — and still
    answer identically to the raw-scan oracle."""
    db.shutdown()
    reopened = eng.connect(spark, db.root, n_buckets=8)
    out = reopened.execute_latest_query()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "tier_latest" in plan
    assert "/raw/" not in plan
    got = out.toPandas().sort_values("conv_id").reset_index(drop=True)
    exp = oracle_latest(oracle_pdf, sorted(oracle_pdf["conv_id"].unique())) \
        .sort_values("conv_id").reset_index(drop=True)
    assert list(got["conv_id"]) == list(exp["conv_id"])
    assert list(got["turn_idx"]) == list(exp["turn_idx"])
    assert list(got["ts_us"]) == list(exp["ts_us"])


def test_time_range_served_from_segments_with_pruning(spark, db, oracle_pdf):
    """Post-flush, execute_time_range_query reads the COMPRESSED segment
    store: shard-routing + zone-map predicates pushed into the parquet
    scan (TSFileService.java:297-447 analog), answers identical to the
    raw-scan oracle."""
    db.shutdown()
    reopened = eng.connect(spark, db.root, n_buckets=8)
    lb = int(oracle_pdf[oracle_pdf["conv_id"] == HOT]["ts_us"].min() // 1000)
    ub = lb + 6 * 3_600_000
    cols = ["conv_id", "turn_idx", "text", "ts_us"]
    out = reopened.execute_time_range_query(HOT, lb, ub, cols)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "/segments/" in plan and "/raw/" not in plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "conv_bucket" in pushed and "min_ts_us" in pushed, pushed
    got = out.toPandas().sort_values("ts_us").reset_index(drop=True)
    exp = oracle_time_range(oracle_pdf, HOT, lb, ub, cols) \
        .sort_values("ts_us").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def _mk_rows(conv_ids, ts_list_us, text="t"):
    n = len(conv_ids)
    return pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": np.arange(n, dtype=np.int32),
        "role": ["user"] * n, "text": [f"{text}{i}" for i in range(n)],
        "tool": [""] * n,
        "ts": pd.to_datetime(ts_list_us, unit="us"),
    })


def test_shutdown_incremental_rewrites_only_touched_chunks(spark, tmp_path):
    """The round-2 scale-killer: shutdown used to re-encode the ENTIRE
    history on every flush. Now a flush re-encodes only the time chunks
    whose content fingerprint changed — a second shutdown after a small
    append must leave the untouched chunk's segment files byte-identical
    (same snapshot paths), and rewrite only the appended chunk."""
    CHUNK_US = 6 * 3600 * 1_000_000
    t0 = 283_000 * CHUNK_US  # chunk-aligned epoch micros
    db = eng.connect(spark, str(tmp_path / "db"), n_buckets=4)
    # chunk A rows + chunk B rows
    db.write(spark.createDataFrame(_mk_rows(
        ["a", "a", "b"], [t0 + 1_000_000, t0 + 2_000_000,
                          t0 + CHUNK_US + 1_000_000])))
    db.shutdown()
    snap1 = db._segments.current()
    by_chunk1 = {}
    for f in snap1.files:
        by_chunk1.setdefault(f["partition"]["time_chunk"], set()).add(f["path"])
    assert len(by_chunk1) == 2, by_chunk1
    chunk_a, chunk_b = sorted(by_chunk1)

    # append into chunk B only, flush again
    db.write(spark.createDataFrame(_mk_rows(
        ["c"], [t0 + CHUNK_US + 2_000_000])))
    db.shutdown()
    snap2 = db._segments.current()
    by_chunk2 = {}
    for f in snap2.files:
        by_chunk2.setdefault(f["partition"]["time_chunk"], set()).add(f["path"])
    # untouched chunk: identical file paths (not rewritten)
    assert by_chunk2[chunk_a] == by_chunk1[chunk_a]
    # appended chunk: replaced by new snapshot files
    assert by_chunk2[chunk_b] != by_chunk1[chunk_b]
    assert all(p.startswith(f"snap{snap2.snapshot_id}-")
               for p in by_chunk2[chunk_b])
    # lineage: the second flush recorded work for chunk B only
    lineage = db._pipeline.lineage.read(spark).toPandas()
    second = lineage[lineage["input_files"].str.startswith(
        f"snap{snap2.snapshot_id}-")]
    assert set(second["time_chunk"]) == {chunk_b}
    # and the merged store still answers correctly
    got = (db.execute_time_range_query("c", 0, 10**15, ["conv_id", "text"])
           .toPandas())
    assert list(got["text"]) == ["t0"]


def test_queries_survive_raw_table_removal(spark, tmp_path):
    """Post-flush, the compressed store + tiers are the single source of
    truth: delete the raw ingest log, reconnect, and all four query types
    still answer identically (the reference keeps ONLY encoded blocks,
    TSDBEngineImpl.java:249-377)."""
    import shutil
    root = str(tmp_path / "db")
    db = eng.connect(spark, root, n_buckets=4)
    t0 = 1_700_000_000_000_000
    rows = _mk_rows(["x"] * 8 + ["y"] * 4,
                    [t0 + i * 90_000_000 for i in range(12)])
    db.write(spark.createDataFrame(rows))
    db.shutdown()
    lb, ub = t0 // 1000, t0 // 1000 + 1_440_000  # 24 min, misaligned edges ok

    def snapshot_answers(e):
        return {
            "latest": e.execute_latest_query(["x", "y"], ["turn_idx", "ts_us"])
                       .toPandas().sort_values("conv_id").reset_index(drop=True),
            "range": e.execute_time_range_query("x", lb, ub, ["turn_idx", "ts_us"])
                      .toPandas().sort_values("ts_us").reset_index(drop=True),
            "agg_avg": e.execute_aggregate_query("x", "text_len", lb + 30_000,
                                                 ub - 30_000, "AVG").toPandas(),
            "agg_max": e.execute_aggregate_query("x", "text_len", lb + 30_000,
                                                 ub - 30_000, "MAX").toPandas(),
            "ds": e.execute_downsample_query("x", "text_len", lb, ub, 360_000,
                                             "AVG", "GREATER", 1).toPandas(),
            "ds_lat": e.execute_downsample_query("x", "latency_s", lb, ub,
                                                 360_000, "MAX").toPandas(),
        }

    before = snapshot_answers(db)
    shutil.rmtree(f"{root}/raw")  # the ingest log is gone
    fresh = eng.connect(spark, root, n_buckets=4)
    after = snapshot_answers(fresh)
    for k in before:
        pd.testing.assert_frame_equal(after[k], before[k]), k


def test_register_views_sql_surface(spark, transcripts_pdf, tmp_path):
    """spark.sql over the committed store: decoded transcripts view
    matches the canonical row count, a projection that skips text prunes
    its blob from the scan, and tier views answer aggregates."""
    from lindorm_tsdb_contest_java_spark import engine as EM
    eng = EM.connect(spark, str(tmp_path / "sqlv"), n_buckets=8)
    eng.write(spark.createDataFrame(transcripts_pdf))
    eng.shutdown()
    names = eng.register_views(prefix="sv_")
    assert {"sv_transcripts", "sv_segments", "sv_tier_conv_1m",
            "sv_tier_latest", "sv_lineage"} <= set(names)
    n = spark.sql("SELECT count(*) AS n FROM sv_transcripts").collect()[0]["n"]
    expected = len(transcripts_pdf.drop_duplicates(subset=["conv_id", "turn_idx"]))
    assert n == expected
    # the meta view prunes text blobs at the scan (fixed projection —
    # SQL column pruning cannot cross mapInArrow, hence its own view)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        spark.sql("SELECT conv_id, ts_us FROM sv_transcripts_meta").explain(True)
    # blob_text appears as `blob_text#<id>` when scanned (blob_text_len
    # is a different, legitimately-read column)
    import re as _re
    assert not _re.search(r"blob_text#", buf.getvalue().split("== Physical Plan ==")[-1])
    m = spark.sql("SELECT count(*) AS n FROM sv_transcripts_meta").collect()[0]["n"]
    assert m == expected
    # tier view answers a SQL aggregate
    row = spark.sql(
        "SELECT sum(n_turns) AS t FROM sv_tier_conv_1m").collect()[0]
    assert row["t"] == expected


def _minute_pattern_engine(spark, tmp_path, name):
    """Engine with one conversation, one turn per 10 s over 6 minutes:
    minutes 0-1 all text_len > 10 (fully passing for GREATER 10),
    minute 2 mixed (straddling), minutes 3-5 all <= 10 (fully failing)."""
    base_s = 1_704_067_200  # minute-aligned
    rows = []
    for m in range(6):
        for i in range(6):
            if m < 2:
                text = "x" * 20
            elif m == 2:
                text = "x" * (20 if i % 2 else 5)
            else:
                text = "x" * 5
            rows.append(("c-straddle", m * 6 + i, "user", text, "-",
                         pd.Timestamp((base_s + m * 60 + i * 10) * 10**9)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    e = eng.connect(spark, str(tmp_path / name), n_buckets=4)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    return e, base_s * 1000, pdf


def test_downsample_decodes_only_straddling_buckets(spark, tmp_path):
    """r03 verdict ask #4: the committed routed downsample must decode
    ONLY the buckets the filter cuts through. Values must equal the
    memtable-path oracle, and the decode scan's pushed time bounds must
    cover just the straddling minute — not the whole [lb, ub)."""
    e, lb, pdf = _minute_pattern_engine(spark, tmp_path, "straddle")
    ub = lb + 6 * 60_000
    got = e.execute_downsample_query("c-straddle", "text_len", lb, ub,
                                     120_000, "AVG", "GREATER", 10)
    # oracle: the same query through a buffered (memtable) engine
    e2 = eng.connect(spark, str(tmp_path / "straddle-oracle"), n_buckets=4)
    e2.write(spark.createDataFrame(pdf))
    exp = e2.execute_downsample_query("c-straddle", "text_len", lb, ub,
                                      120_000, "AVG", "GREATER", 10)
    assert sorted(map(str, got.collect())) == sorted(map(str, exp.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the straddling minute is minute 2: decode range [lb+2m, lb+3m)
    straddle_hi_us = (lb + 3 * 60_000) * 1000
    full_ub_us = ub * 1000
    assert str(straddle_hi_us) in plan, plan
    assert str(full_ub_us) not in plan, \
        "decode scan still bounded by the full range"


def test_downsample_many_straddling_minutes_decode_envelope(spark, tmp_path):
    """More than 512 straddling minutes, spread one per run inside a
    sub-range of [lb, ub): the committed downsample must equal the
    buffered twin, and its decode scan is bounded by the straddle
    envelope — never widened to the full range."""
    base_s = 1_704_067_200  # minute-aligned
    rows = []
    n_straddle = 530
    for k in range(n_straddle):
        m = 100 + 2 * k  # a straddling minute, then a covered one
        rows.append(("c-many", 4 * k, "user", "x" * 20, "-",
                     pd.Timestamp((base_s + m * 60) * 10**9)))
        rows.append(("c-many", 4 * k + 1, "user", "x" * 5, "-",
                     pd.Timestamp((base_s + m * 60 + 30) * 10**9)))
        for i in range(2):
            rows.append(("c-many", 4 * k + 2 + i, "user", "x" * 20, "-",
                         pd.Timestamp((base_s + (m + 1) * 60 + 20 * i)
                                      * 10**9)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    e = eng.connect(spark, str(tmp_path / "many"), n_buckets=4)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    lb = base_s * 1000
    ub = lb + 1440 * 60_000
    got = e.execute_downsample_query("c-many", "text_len", lb, ub,
                                     3_600_000, "AVG", "GREATER", 10)
    twin = eng.connect(spark, str(tmp_path / "many-oracle"), n_buckets=4)
    twin.write(spark.createDataFrame(pdf))
    exp = twin.execute_downsample_query("c-many", "text_len", lb, ub,
                                        3_600_000, "AVG", "GREATER", 10)
    assert sorted(map(str, got.collect())) == sorted(map(str, exp.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    envelope_hi_us = (lb + (100 + 2 * (n_straddle - 1) + 1) * 60_000) * 1000
    assert str(envelope_hi_us) in plan, plan
    assert str(ub * 1000) not in plan, \
        "decode scan widened to the full range"


def test_downsample_unfiltered_needs_no_decode(spark, tmp_path):
    """Aligned unfiltered downsample: every bucket is covered by the 1m
    tier, so the committed plan must contain NO segment decode at all."""
    e, lb, pdf = _minute_pattern_engine(spark, tmp_path, "nodecode")
    ub = lb + 6 * 60_000
    got = e.execute_downsample_query("c-straddle", "text_len", lb, ub,
                                     120_000, "AVG")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "blob_" not in plan, "covered-only query decoded segments"
    # and the values still match the memtable oracle
    e2 = eng.connect(spark, str(tmp_path / "nodecode-oracle"), n_buckets=4)
    e2.write(spark.createDataFrame(pdf))
    exp = e2.execute_downsample_query("c-straddle", "text_len", lb, ub,
                                      120_000, "AVG")
    assert sorted(map(str, got.collect())) == sorted(map(str, exp.collect()))


def test_percentile_query_on_facade(spark, db, oracle_pdf):
    """r03 verdict ask #5: latency percentiles reachable through the
    engine facade, served from the committed rate tier's t-digests,
    rank-accurate against the exact latencies."""
    lo_ms = int(oracle_pdf["ts_us"].min() // 1000) - 60_000
    hi_ms = int(oracle_pdf["ts_us"].max() // 1000) + 60_000
    got = db.execute_percentile_query(lo_ms, hi_ms).toPandas()
    assert {"role", "tool", "n_turns", "p50", "p90", "p99"} <= set(got.columns)
    assert len(got) > 0
    for r in got.itertuples():
        lat = oracle_pdf[(oracle_pdf["role"] == r.role)
                         & (oracle_pdf["tool"] == r.tool)]["latency_s"]
        assert r.n_turns == len(lat)
        for q, est in ((0.5, r.p50), (0.9, r.p90)):
            rank = (lat.to_numpy() <= est).mean()
            assert abs(rank - q) < 0.02, (r.role, r.tool, q, est, rank)
    # scoped variant
    one = got.iloc[0]
    scoped = db.execute_percentile_query(lo_ms, hi_ms, role=one["role"],
                                         tool=one["tool"]).toPandas()
    assert len(scoped) == 1 and scoped.iloc[0]["p50"] == one["p50"]


def test_store_config_stamp_adopt_and_refuse(spark, tmp_path):
    """Reopening a store with a DIFFERENT n_buckets would silently
    mis-route every committed read (bucket pruning hashes into buckets
    no segment carries); reopening with a different chunk_us would key
    partition overwrites to different chunk ids. The store stamps both
    at first open (store_config.json): None adopts, conflicts raise."""
    import pandas as pd
    root = str(tmp_path / "cfgdb")
    rows = [("cfg-1", t, "user", f"txt {t}", "-",
             pd.Timestamp((1_704_067_200 + t * 60) * 10**9))
            for t in range(8)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    e = eng.connect(spark, root, n_buckets=4)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()
    assert e.execute_latest_query(["cfg-1"], ["turn_idx"]).count() == 1

    # parameterless reconnect adopts the stamped routing (previously the
    # default 16 took over and the committed read found nothing)
    e2 = eng.connect(spark, root)
    assert e2.n_buckets == 4
    assert e2.execute_latest_query(["cfg-1"], ["turn_idx"]).count() == 1
    got = e2.execute_time_range_query("cfg-1", 0, 2**53, ["conv_id", "turn_idx"])
    assert got.count() == 8

    # explicit conflicting values fail loudly instead of mis-routing
    with pytest.raises(ValueError, match="n_buckets"):
        eng.connect(spark, root, n_buckets=16)
    with pytest.raises(ValueError, match="chunk_us"):
        eng.connect(spark, root, chunk_us=3_600_000_000)
    # matching explicit values are fine
    assert eng.connect(spark, root, n_buckets=4).n_buckets == 4
