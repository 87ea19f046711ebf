"""Memtable-OVERLAY reads (r04 verdict ask #1): with un-flushed buffered
rows present, every query type must merge the conv-zone-pruned committed
decode of exactly the queried conversation(s) with the buffer — the
reference's memtable read merges ONE vin's buffer list with that vin's
blocks (memory/MemoryTable.java:84-158) — instead of decoding and
re-shuffling the whole store.

Twin protocol: engine A holds batch2 BUFFERED over a committed batch1;
engine B has both batches flushed. Every A answer in the buffered state
must equal B's committed answer.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark import engine as eng

BASE_S = 1_704_067_200


def _rows(conv_range, turn_range, text=None, day_shift=0):
    rows = []
    for c in conv_range:
        for t in turn_range:
            rows.append((f"ov-{c:03d}", t, "user" if t % 2 else "assistant",
                         text or f"text {c} {t} " + "y" * (t % 13),
                         "-", pd.Timestamp(
                             (BASE_S + day_shift * 86_400
                              + c * 11 + t * 101) * 10**9)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts"])


LB = BASE_S * 1000 - 60_000
UB = LB + 40 * 86_400_000


def _answers(e, conv):
    return {
        "latest_all": sorted(map(str, e.execute_latest_query(
            None, ["turn_idx", "ts_us", "text", "latency_s"]).collect())),
        "latest_some": sorted(map(str, e.execute_latest_query(
            [conv, "ov-000"], ["turn_idx", "ts_us", "text"]).collect())),
        "range": sorted(map(str, e.execute_time_range_query(
            conv, LB, UB,
            ["conv_id", "turn_idx", "text", "ts_us", "latency_s"]).collect())),
        "agg_avg": sorted(map(str, e.execute_aggregate_query(
            conv, "text_len", LB, UB, "AVG").collect())),
        "agg_max_lat": sorted(map(str, e.execute_aggregate_query(
            conv, "latency_s", LB, UB, "MAX").collect())),
        "ds": sorted(map(str, e.execute_downsample_query(
            conv, "text_len", LB, UB, 3_600_000, "AVG", "GREATER", 3).collect())),
    }


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("overlay")
    a = eng.connect(spark, str(root / "buffered"), n_buckets=4)
    b = eng.connect(spark, str(root / "twin"), n_buckets=4)
    first = _rows(range(10), range(0, 6))
    second = _rows(range(4, 10), range(6, 9))  # convs 4..9 get new turns
    for e in (a, b):
        e.write(spark.createDataFrame(first))
        e.shutdown()
    a.write(spark.createDataFrame(second))     # A: buffered only
    b.write(spark.createDataFrame(second))
    b.shutdown()                               # B: committed
    return a, b


def test_buffered_answers_equal_committed_twin(pair):
    a, b = pair
    # a dirty conversation (new buffered turns) and a clean one
    for conv in ("ov-005", "ov-001"):
        assert _answers(a, conv) == _answers(b, conv), conv


def test_buffered_upsert_of_committed_key(spark, tmp_path):
    """A buffered row that SUPERSEDES a committed (conv, turn) key must
    win on read (newest ts, TSDBEngine.java:85-92), and the latencies of
    the merged turn sequence must be recomputed exactly."""
    a = eng.connect(spark, str(tmp_path / "ups"), n_buckets=4)
    b = eng.connect(spark, str(tmp_path / "upstwin"), n_buckets=4)
    first = _rows(range(4), range(0, 6))
    upsert = _rows(range(2, 3), range(3, 4), text="UPSERTED")
    upsert["ts"] = upsert["ts"] + pd.Timedelta(days=3)
    for e in (a, b):
        e.write(spark.createDataFrame(first))
        e.shutdown()
    a.write(spark.createDataFrame(upsert))
    b.write(spark.createDataFrame(upsert))
    b.shutdown()
    assert _answers(a, "ov-002") == _answers(b, "ov-002")
    texts = {r["turn_idx"]: r["text"] for r in a.execute_time_range_query(
        "ov-002", LB, UB, ["turn_idx", "text"]).collect()}
    assert texts[3] == "UPSERTED"


def test_overlay_point_query_prunes_to_conv_zone(pair):
    """The done-criterion plan fact: a BUFFERED-state point query's
    committed side must push the conv-id zone predicates into the
    parquet scan — the buffer's existence must not degrade the read to
    a whole-store decode."""
    from lindorm_tsdb_contest_java_spark.plans.audit import facts
    a, _ = pair
    assert a._buffer, "fixture must be in the buffered state"
    q = a.execute_time_range_query("ov-005", LB, UB,
                                   ["conv_id", "turn_idx", "ts_us"])
    pushed = " ".join(facts(q).pushed_filters())
    for col in ("conv_bucket", "conv_id_min", "conv_id_max"):
        assert col in pushed, (col, pushed)


def test_overlay_latest_serves_clean_convs_from_tier(pair):
    """Latest with a buffer: clean conversations come from the latest
    tier (anti-joined against the dirty set), dirty ones recompute —
    and the union equals the twin's committed answer (checked above).
    Here: the dirty set is exactly the buffered conversations."""
    a, _ = pair
    dirty = {r["conv_id"] for r in a._dirty_convs().collect()}
    assert dirty == {f"ov-{c:03d}" for c in range(4, 10)}


def test_overlay_before_any_flush(spark, tmp_path):
    """Pure-buffer state (no committed store at all): overlay reads run
    off the buffer alone, and every answer (latest included) equals a
    twin that flushed the same rows."""
    a = eng.connect(spark, str(tmp_path / "purebuf"), n_buckets=4)
    b = eng.connect(spark, str(tmp_path / "purebuftwin"), n_buckets=4)
    for e in (a, b):
        e.write(spark.createDataFrame(_rows(range(3), range(0, 4))))
    b.shutdown()
    got = a.execute_time_range_query("ov-001", LB, UB, ["turn_idx"])
    assert got.count() == 4
    assert a.execute_aggregate_query(
        "ov-001", "text_len", LB, UB, "MAX").count() == 1
    assert _answers(a, "ov-001") == _answers(b, "ov-001")


def test_no_data_written_yet_still_raises(spark, tmp_path):
    a = eng.connect(spark, str(tmp_path / "empty"), n_buckets=4)
    with pytest.raises(ValueError, match="no data written yet"):
        a.execute_time_range_query("ov-001", LB, UB).collect()


def test_percentile_routes_through_coarsest_tier(spark, tmp_path):
    """r04 verdict ask #6: committed percentile queries must read the
    coarsest covering rate tiers (interior days from 1d, hour edges from
    1h, minute edges from 1m) — a year-long query merges ~365 digests
    per (role, tool), not ~525k — within the existing 2% rank-accuracy
    bound."""
    import numpy as np
    rng = np.random.default_rng(21)
    rows = []
    t0 = BASE_S * 1000
    for c in range(6):
        n = 400
        ts = np.sort(rng.integers(0, 4 * 86_400_000, n)) + t0
        for i, t in enumerate(ts):
            rows.append((f"pc-{c:02d}", i, "user" if i % 2 else "assistant",
                         "w " * (i % 9 + 1), "-",
                         pd.Timestamp(int(t) * 10**6)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    e = eng.connect(spark, str(tmp_path / "pct"), n_buckets=4)
    e.write(spark.createDataFrame(pdf))
    e.shutdown()

    day = 86_400_000
    lb = (t0 // day) * day
    # day-aligned range: ONE 1d piece, no finer reads
    assert e._percentile_cover(lb, lb + 3 * day) == [("1d", lb, lb + 3 * day)]
    # hour+minute edges: 1d interior, 1h leading edge, 1m trailing edge
    pieces = e._percentile_cover(lb - 2 * 3_600_000, lb + day + 300_000)
    assert ("1d", lb, lb + day) in pieces
    assert ("1h", lb - 2 * 3_600_000, lb) in pieces
    assert ("1m", lb + day, lb + day + 300_000) in pieces

    # digest-count assertion: the routed read feeds far fewer rows
    routed_rows = e._rate_rows(lb, lb + 4 * day).count()
    tier_1m = e._pipeline.table("tier_rate_1m").read(spark)
    rows_1m = tier_1m.filter((F.col("bucket_ms") >= lb)
                             & (F.col("bucket_ms") < lb + 4 * day)).count()
    assert routed_rows < rows_1m / 5, (routed_rows, rows_1m)

    # rank accuracy vs the exact scoped distribution (the gate's 2%)
    got = {(r["role"], r["tool"]): r for r in
           e.execute_percentile_query(lb, lb + 4 * day).collect()}
    canon = e._canonical().toPandas()
    scoped = canon[(canon["ts_us"] >= lb * 1000)
                   & (canon["ts_us"] < (lb + 4 * day) * 1000)]
    for (role, tool), grp in scoped.groupby(["role", "tool"]):
        lat = grp["latency_s"].to_numpy()
        r = got[(role, tool)]
        assert r["n_turns"] == len(lat)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            below = (lat < r[col]).mean()
            at_or_below = (lat <= r[col]).mean()
            assert below <= q + 0.02 and at_or_below >= q - 0.02, \
                (role, tool, col, below, at_or_below)


def test_optimize_storage_deep_recompression(spark, tmp_path):
    """The LSM bottommost-compression pass: optimize_storage restamps the
    text level and rewrites the store smaller; every query answer is
    unchanged; a reopen adopts the stamped level; a later flush does NOT
    rewrite untouched chunks back."""
    root = str(tmp_path / "opt")
    e = eng.connect(spark, root, n_buckets=4)
    e.write(spark.createDataFrame(_rows(range(8), range(0, 8))))
    e.shutdown()
    before_bytes = e._segments.read(spark).agg(
        F.sum("encoded_bytes")).collect()[0][0]
    want = _answers(e, "ov-003")

    m = e.optimize_storage(text_level=12)
    assert m["chunks_run"] == m["chunks_total"] > 0, m
    after_bytes = e._segments.read(spark).agg(
        F.sum("encoded_bytes")).collect()[0][0]
    assert after_bytes < before_bytes, (before_bytes, after_bytes)
    assert _answers(e, "ov-003") == want

    # reopen adopts the stamp; an idempotent re-run rewrites nothing
    e2 = eng.connect(spark, root, n_buckets=4)
    assert e2._pipeline.text_level == 12
    m2 = e2.optimize_storage(text_level=12)
    assert m2["chunks_run"] == 0, m2
    # a later ordinary flush keeps the stamped level for its chunks and
    # leaves the rest alone (no silent store-wide rewrite)
    seg_snap = e2._segments.current().snapshot_id
    e2.write(spark.createDataFrame(_rows(range(8), range(8, 10))))
    e2.shutdown()
    assert _answers(e2, "ov-003")["latest_all"] != want["latest_all"]
    assert e2._segments.current().snapshot_id == seg_snap + 1
    # explicit conflicting level at open is refused (restamp is explicit)
    with pytest.raises(ValueError, match="text_level"):
        from lindorm_tsdb_contest_java_spark.ops.pipeline import RollupPipeline
        RollupPipeline(spark, root, text_level=3)


def test_overlay_time_chunk_matches_store_width(spark, tmp_path):
    """Regression (r05 review): overlay and memtable reads must compute
    time_chunk with the store's STAMPED chunk width, not the default —
    a custom-chunk store returned flush-state-dependent time_chunk
    values for identical rows."""
    chunk_us = 12 * 3600 * 1_000_000  # 12h, not the 6h default
    e = eng.connect(spark, str(tmp_path / "cw"), n_buckets=4,
                    chunk_us=chunk_us)
    e.write(spark.createDataFrame(_rows(range(4), range(0, 4))))
    e.shutdown()
    committed = {(r["turn_idx"], r["time_chunk"]) for r in
                 e.execute_time_range_query(
                     "ov-001", LB, UB, ["turn_idx", "time_chunk"]).collect()}
    e.write(spark.createDataFrame(_rows(range(4), range(4, 6))))
    buffered = {(r["turn_idx"], r["time_chunk"]) for r in
                e.execute_time_range_query(
                    "ov-001", LB, UB, ["turn_idx", "time_chunk"]).collect()}
    assert committed <= buffered, (committed, buffered)
    want_chunk = ((BASE_S + 1 * 11) * 10**6) // chunk_us
    assert all(c == want_chunk for _, c in buffered), buffered


def test_percentile_overlay_without_store_decode(spark, tmp_path):
    """Buffered-state percentiles: a strictly-extending buffer uses the
    rate-tier overlay (committed tier rows ∪ the buffer's own tier) —
    the segment store is never decoded — and stays within the 2% rank
    bound of the exact merged distribution. An upserting buffer is
    ineligible and falls back (answers still exact-canonical)."""
    import numpy as np
    e = eng.connect(spark, str(tmp_path / "pov"), n_buckets=4)
    e.write(spark.createDataFrame(_rows(range(6), range(0, 8))))
    e.shutdown()
    e.write(spark.createDataFrame(_rows(range(6), range(8, 12))))

    tier = e._overlay_rate_tier()
    assert tier is not None, "strictly-extending buffer must be eligible"
    # the overlay plan never touches the segment store's decode path
    plan = tier._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, plan

    got = {(r["role"], r["tool"]): r for r in
           e.execute_percentile_query(LB, UB).collect()}
    canon = e._canonical().toPandas()
    scoped = canon[(canon["ts_us"] >= LB * 1000) & (canon["ts_us"] < UB * 1000)]
    for (role, tool), grp in scoped.groupby(["role", "tool"]):
        lat = grp["latency_s"].to_numpy()
        r = got[(role, tool)]
        assert r["n_turns"] == len(lat), (role, tool)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            below = (lat < r[col]).mean()
            at_or_below = (lat <= r[col]).mean()
            assert below <= q + 0.02 and at_or_below >= q - 0.02, \
                (role, tool, col)

    # upsert buffer -> ineligible -> fallback path, counts still exact
    ups = _rows(range(1, 2), range(3, 4), text="UPSERTED")
    ups["ts"] = ups["ts"] + pd.Timedelta(days=40)
    e.write(spark.createDataFrame(ups))
    assert e._overlay_rate_tier() is None
    total = sum(r["n_turns"] for r in
                e.execute_percentile_query(LB, LB + 90 * 86_400_000).collect())
    assert total == 6 * 12  # upsert replaces, never adds


def test_percentile_ineligible_buffer_rebuilds_only_touched_buckets(
        spark, tmp_path):
    """r05 verdict ask #4: an upserting (ineligible) buffer must not
    rebuild the rate tier from a whole-store decode. Committed
    tier_rate_1m rows in UNTOUCHED minute buckets pass through
    byte-identically (digest blobs included), the rebuild decode is
    ts-zone-scoped to the touched buckets' segments (pushed min/max_ts_us
    predicates), and the answers equal a twin with everything committed."""
    e = eng.connect(spark, str(tmp_path / "scoped"), n_buckets=4)
    t = eng.connect(spark, str(tmp_path / "scopedtwin"), n_buckets=4)
    first = _rows(range(6), range(0, 8))                      # day-0 region
    far = _rows(range(10, 16), range(0, 8), day_shift=20)     # day-20 region
    ups = _rows(range(1, 2), range(3, 4), text="UPSERTED")    # dirty: ov-001
    ups["ts"] = ups["ts"] + pd.Timedelta(days=40)             # bucket moves
    for x in (e, t):
        x.write(spark.createDataFrame(first))
        x.shutdown()
        x.write(spark.createDataFrame(far))
        x.shutdown()
    e.write(spark.createDataFrame(ups))   # buffered, ineligible
    t.write(spark.createDataFrame(ups))
    t.shutdown()                          # twin: fully committed

    assert e._overlay_rate_tier() is None, "upsert buffer must be ineligible"
    tier = e._scoped_rate_tier()

    # plan fact: the rebuild's committed decodes are scoped — ts zones
    # (touched-bucket runs) and conv zones (dirty set) pushed to the scan
    from lindorm_tsdb_contest_java_spark.plans.audit import facts
    pushed = " ".join(facts(tier).pushed_filters())
    for col in ("min_ts_us", "max_ts_us", "conv_bucket"):
        assert col in pushed, (col, pushed)

    # untouched buckets (the day-20 region, disjoint convs) pass through
    # byte-identically from the committed table — never rebuilt
    day20_lo = (BASE_S + 20 * 86_400) * 1000
    day30_hi = (BASE_S + 30 * 86_400) * 1000  # below the day-40 upsert
    committed = {(r["role"], r["tool"], r["bucket_ms"]): r for r in
                 e._pipeline.table("tier_rate_1m").read(spark)
                 .filter((F.col("bucket_ms") >= day20_lo)
                         & (F.col("bucket_ms") < day30_hi)).collect()}
    got20 = [r for r in tier.collect()
             if day20_lo <= r["bucket_ms"] < day30_hi]
    assert committed and len(got20) == len(committed)
    for r in got20:
        c = committed[(r["role"], r["tool"], r["bucket_ms"])]
        assert (r["n_turns"], bytes(r["latency_digest"])) \
            == (c["n_turns"], bytes(c["latency_digest"]))

    # exactness: counts per (role, tool) equal the fully-committed twin
    WIDE = (LB, LB + 90 * 86_400_000)
    mine = {(r["role"], r["tool"]): r["n_turns"]
            for r in e.execute_percentile_query(*WIDE).collect()}
    twin = {(r["role"], r["tool"]): r["n_turns"]
            for r in t.execute_percentile_query(*WIDE).collect()}
    assert mine == twin
    # and the percentile values stay within the rank bound of exact
    canon = e._canonical().toPandas()
    got = {(r["role"], r["tool"]): r for r in
           e.execute_percentile_query(*WIDE).collect()}
    for (role, tool), grp in canon.groupby(["role", "tool"]):
        lat = grp["latency_s"].to_numpy()
        r = got[(role, tool)]
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            below = (lat < r[col]).mean()
            at_or_below = (lat <= r[col]).mean()
            assert below <= q + 0.02 and at_or_below >= q - 0.02, \
                (role, tool, col)


def test_percentile_ineligible_buffer_over_many_scattered_minutes(
        spark, tmp_path):
    """An upserting buffer whose changed rate cells sit in ~450
    non-contiguous minute buckets (one role flip every other turn of one
    conversation): the scoped rebuild stays exact — counts equal the
    committed twin, percentiles within the rank bound — and its clean
    side's decode scan is pruned by the touched envelope and time
    chunks."""
    from lindorm_tsdb_contest_java_spark.plans.audit import facts
    rows = []
    for c in range(5):
        for t in range(1000):
            rows.append((f"sc-{c}", t, "user" if t % 2 else "assistant",
                         "w " * (t % 7 + 1), "-", pd.Timestamp(
                             (BASE_S + t * 120 + (t * 37) % 50 + c * 7)
                             * 10**9)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    ups = pdf[(pdf["conv_id"] == "sc-1") & (pdf["turn_idx"] % 2 == 0)
              & (pdf["turn_idx"] < 900)].copy()
    ups["role"] = "system"                      # same ts, new rate cell
    ups["text"] = ups["text"] + "longer"        # longer text wins the tie
    e = eng.connect(spark, str(tmp_path / "scatter"), n_buckets=4)
    t = eng.connect(spark, str(tmp_path / "scattertwin"), n_buckets=4)
    for x in (e, t):
        x.write(spark.createDataFrame(pdf))
        x.shutdown()
        x.write(spark.createDataFrame(ups))
    t.shutdown()

    assert e._overlay_rate_tier() is None, "upsert buffer must be ineligible"
    pushed = " ".join(facts(e._scoped_rate_tier()).pushed_filters())
    for col in ("min_ts_us", "max_ts_us", "time_chunk"):
        assert col in pushed, (col, pushed)

    WIDE = (LB, LB + 90 * 86_400_000)
    mine = {(r["role"], r["tool"]): r for r in
            e.execute_percentile_query(*WIDE).collect()}
    twin = {(r["role"], r["tool"]): r["n_turns"]
            for r in t.execute_percentile_query(*WIDE).collect()}
    assert {k: r["n_turns"] for k, r in mine.items()} == twin
    assert twin[("system", "-")] == len(ups)
    canon = e._canonical().toPandas()
    for (role, tool), grp in canon.groupby(["role", "tool"]):
        lat = grp["latency_s"].to_numpy()
        r = mine[(role, tool)]
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            below = (lat < r[col]).mean()
            at_or_below = (lat <= r[col]).mean()
            assert below <= q + 0.02 and at_or_below >= q - 0.02, \
                (role, tool, col)


def test_latest_head_one_row_per_conv(spark, tmp_path):
    """r05 verdict ask #5: `tier_latest_head` holds ONE pre-computed row
    per conversation (the MapIndex.getLast slot), committed latest reads
    plan over the head files only — O(convs) rows, no argmax — and a
    stale head (tier commit without the head commit) falls back to the
    per-chunk argmax until the next flush heals it."""
    from lindorm_tsdb_contest_java_spark.operators.tiers import \
        latest_from_tier
    e = eng.connect(spark, str(tmp_path / "head"), n_buckets=4)
    e.write(spark.createDataFrame(_rows(range(8), range(0, 6))))
    e.shutdown()
    # second flush in a different time chunk: convs 3..7 EXTEND with new
    # turns (fresh turn indices — same ones would upsert day 0 away)
    e.write(spark.createDataFrame(_rows(range(3, 8), range(6, 12),
                                        day_shift=2)))
    e.shutdown()

    head_tbl = e._pipeline.table("tier_latest_head")
    assert head_tbl.read(spark).count() == 8          # one row per conv
    assert e._tier_latest.read(spark).count() > 8     # tier: per (conv, chunk)
    assert e._latest_head() is not None

    cols = ["turn_idx", "ts_us", "text"]
    q = e.execute_latest_query(None, cols)
    files = q.inputFiles()
    assert files and all("tier_latest_head" in f for f in files), files
    # O(convs) rows, pre-computed: no aggregate in the plan at all
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan, plan
    via_tier = latest_from_tier(e._tier_latest.read(spark), None, cols)
    assert sorted(map(str, q.collect())) == \
        sorted(map(str, via_tier.collect()))

    # an upsert REWRITES the head slot (full recompute of touched convs,
    # not a max_by merge that would keep the superseded row competing)
    ups = _rows(range(3, 4), range(5, 6), text="HEAD-UPSERT", day_shift=2)
    ups["ts"] = ups["ts"] + pd.Timedelta(days=1)
    e.write(spark.createDataFrame(ups))
    e.shutdown()
    got = {r["conv_id"]: r["text"]
           for r in e.execute_latest_query(None, ["text"]).collect()}
    assert got["ov-003"] == "HEAD-UPSERT"
    assert head_tbl.read(spark).count() == 8

    # staleness guard: a tier_latest commit the head never followed
    e._tier_latest.append(e._tier_latest.read(spark).limit(0))
    assert e._latest_head() is None
    fallback = e.execute_latest_query(None, ["text"])
    assert all("tier_latest_head" not in f for f in fallback.inputFiles())
    assert {r["conv_id"]: r["text"] for r in fallback.collect()} == got
    # the next flush heals the stamp
    e.write(spark.createDataFrame(_rows(range(0, 1), range(6, 8))))
    e.shutdown()
    assert e._latest_head() is not None
    assert e.execute_latest_query(None, ["text"]).count() == 8


@pytest.mark.parametrize("flush", ["rewrite", "l0"])
def test_latest_head_update_touches_only_batch_buckets(spark, tmp_path,
                                                       flush):
    """r06 verdict "what's wrong" #2: head maintenance must be O(touched
    buckets), not O(total convs), on both flush paths (the rewrite
    flush's recompute and the L0 append's merge feed the same writer).
    The head is conv_bucket-partitioned; a flush touching one
    conversation replaces only that conversation's bucket partition —
    every other bucket's head file survives physically untouched (same
    manifest entry), and the read path (stamp gate included) is
    unchanged."""
    from lindorm_tsdb_contest_java_spark.operators.tiers import \
        latest_from_tier
    e = eng.connect(spark, str(tmp_path / "headscope"), n_buckets=4,
                    l0_append=flush == "l0")
    e.write(spark.createDataFrame(_rows(range(8), range(0, 6))))
    e.shutdown()
    head_tbl = e._pipeline.table("tier_latest_head")
    snap1 = head_tbl.current()
    files1 = {f["path"]: f["partition"].get("conv_bucket")
              for f in snap1.files}
    # every head file records its bucket partition
    assert all(b is not None for b in files1.values()), files1

    # second flush: ONE conversation extends (new chunk)
    e.write(spark.createDataFrame(_rows(range(3, 4), range(6, 12),
                                        day_shift=2)))
    e.shutdown()
    # the flush took the path under test
    assert bool(e._segments_l0.current().files) == (flush == "l0")
    snap2 = head_tbl.current()
    touched = {int(r[0]) for r in spark.createDataFrame(
        [("ov-003",)], ["conv_id"]).select(
        F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")).collect()}
    # the commit replaced exactly the touched bucket(s)
    assert set(snap2.meta.get("partition_values", [])) == touched
    files2 = {f["path"]: f["partition"].get("conv_bucket")
              for f in snap2.files}
    # untouched buckets: identical manifest entries (no rewrite)
    for p, b in files1.items():
        if b not in touched:
            assert p in files2, (p, b, files2)
    # touched bucket: file replaced
    assert all(p not in files2 for p, b in files1.items() if b in touched)
    # read path: still one row per conv, still equal to the tier argmax
    assert head_tbl.read(spark).count() == 8
    assert e._latest_head() is not None
    got = sorted(map(str, e.execute_latest_query(
        None, ["turn_idx", "ts_us"]).collect()))
    want = sorted(map(str, latest_from_tier(
        e._tier_latest.read(spark), None, ["turn_idx", "ts_us"]).collect()))
    assert got == want


@pytest.mark.parametrize("flush", ["rewrite", "l0"])
def test_latest_head_reseeds_after_truncation(spark, tmp_path, flush):
    """With no head at all, either flush path seeds it from the WHOLE
    tier (not just the batch's conversations): after the head table is
    truncated, one flush touching a single conversation commits a head
    equal to the tier argmax over every conversation, and the stamp
    makes it current again."""
    from lindorm_tsdb_contest_java_spark.operators.tiers import \
        latest_from_tier
    e = eng.connect(spark, str(tmp_path / "reseed"), n_buckets=4,
                    l0_append=flush == "l0")
    e.write(spark.createDataFrame(_rows(range(8), range(0, 6))))
    e.shutdown()
    head_tbl = e._pipeline.table("tier_latest_head")
    head_tbl.truncate()
    assert e._latest_head() is None

    e.write(spark.createDataFrame(_rows(range(3, 4), range(6, 12),
                                        day_shift=2)))
    e.shutdown()
    assert bool(e._segments_l0.current().files) == (flush == "l0")
    head = e._latest_head()
    assert head is not None
    cols = [c for c in head.columns if c != "conv_id"]
    got = sorted(map(str, head.select("conv_id", *cols).collect()))
    want = sorted(map(str, latest_from_tier(
        e._tier_latest.read(spark), None, cols).collect()))
    assert len(got) == 8 and got == want


@pytest.mark.parametrize("flush", ["rewrite", "l0"])
def test_unpartitioned_head_migrates_on_next_flush(spark, tmp_path, flush):
    """A head committed as ONE unpartitioned file (the small-store layout
    of older builds) is still served while its stamp is current, and the
    next flush on either path re-seeds it: every head file then records
    its conv_bucket, and the head equals the tier argmax over every
    conversation, not just the flushed one."""
    from lindorm_tsdb_contest_java_spark.operators.tiers import \
        latest_from_tier
    e = eng.connect(spark, str(tmp_path / "migrate"), n_buckets=4,
                    l0_append=flush == "l0")
    e.write(spark.createDataFrame(_rows(range(8), range(0, 6))))
    e.shutdown()
    head_tbl = e._pipeline.table("tier_latest_head")
    stamp = head_tbl.current().meta["base_latest_snapshot"]
    head_tbl.overwrite(
        head_tbl.read(spark).coalesce(1).sortWithinPartitions("conv_id"),
        meta={"base_latest_snapshot": stamp})
    files = head_tbl.current().files
    assert len(files) == 1 and not files[0]["partition"], files
    q = e.execute_latest_query(None, ["turn_idx", "ts_us"])
    assert all("tier_latest_head" in f for f in q.inputFiles())
    assert q.count() == 8

    e.write(spark.createDataFrame(_rows(range(3, 4), range(6, 12),
                                        day_shift=2)))
    e.shutdown()
    assert bool(e._segments_l0.current().files) == (flush == "l0")
    files = head_tbl.current().files
    assert files and all("conv_bucket" in f["partition"] for f in files), \
        files
    head = e._latest_head()
    assert head is not None
    cols = [c for c in head.columns if c != "conv_id"]
    got = sorted(map(str, head.select("conv_id", *cols).collect()))
    want = sorted(map(str, latest_from_tier(
        e._tier_latest.read(spark), None, cols).collect()))
    assert len(got) == 8 and got == want


def test_percentile_noop_upsert_rebuilds_nothing(spark, tmp_path):
    """r07 (ADVICE r06 #4): the ineligible-buffer rate rebuild compares
    per-bucket content signatures (count + hash of (role, tool,
    latency)) of the dirty conversations' committed vs merged rows, so
    a buffer that changes NOTHING (an upsert byte-identical to a
    committed row) touches zero buckets: the returned tier IS the
    committed table — its plan contains no segment decode — and every
    cell matches the committed one byte-for-byte."""
    from lindorm_tsdb_contest_java_spark.plans.audit import facts
    e = eng.connect(spark, str(tmp_path / "noopups"), n_buckets=4)
    e.write(spark.createDataFrame(_rows(range(6), range(0, 8))))
    e.shutdown()
    dup = _rows(range(1, 2), range(3, 4))  # identical to a committed row
    e.write(spark.createDataFrame(dup))
    assert e._overlay_rate_tier() is None, "duplicate key must be ineligible"
    tier = e._scoped_rate_tier()
    plan = facts(tier).plan
    assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan, plan
    committed = {(r["role"], r["tool"], r["bucket_ms"]):
                 (r["n_turns"], bytes(r["latency_digest"]))
                 for r in e._pipeline.table("tier_rate_1m").read(spark).collect()}
    got = {(r["role"], r["tool"], r["bucket_ms"]):
           (r["n_turns"], bytes(r["latency_digest"]))
           for r in tier.collect()}
    assert got == committed and committed
