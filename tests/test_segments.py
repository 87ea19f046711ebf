"""End-to-end segment round-trip: ingest → encode → decode == source.

Pins the per-row invariant from BASELINE.json: decoded per-turn text
equals the source under stable (conv_id, turn_idx, ts) ordering; plus
zone-map/pre-agg stats consistency and upsert-dedup semantics.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark.operators.tiers import latency_us
from lindorm_tsdb_contest_java_spark.sources.generator import generate_dups_variant
from lindorm_tsdb_contest_java_spark.sources.segments import (
    canonicalize, decode_segments, encode_segments,
)

SORT = ["conv_id", "turn_idx", "ts_us"]


@pytest.fixture(scope="module")
def canonical(transcripts_df):
    return canonicalize(transcripts_df, n_buckets=8).cache()


@pytest.fixture(scope="module")
def segments(canonical):
    return encode_segments(canonical).cache()


def _sorted_pdf(df, cols):
    return df.select(*cols).toPandas().sort_values(SORT).reset_index(drop=True)


def test_roundtrip_all_columns(canonical, segments):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us", "text_len", "latency_s"]
    src = _sorted_pdf(canonical, cols)
    got = _sorted_pdf(decode_segments(segments), cols)
    assert len(got) == len(src)
    for c in ["conv_id", "turn_idx", "role", "tool", "ts_us", "text_len"]:
        assert (got[c].to_numpy() == src[c].to_numpy()).all(), c
    # per-turn text equality — THE per-row invariant
    assert (got["text"].to_numpy() == src["text"].to_numpy()).all()
    # float bit-exactness
    assert (got["latency_s"].to_numpy().view(np.uint64)
            == src["latency_s"].to_numpy().view(np.uint64)).all()


def test_column_projection_decodes_only_requested(spark, segments, tmp_path):
    # parquet-backed so we can check pushdown on a real scan, not the cache
    path = str(tmp_path / "segments.parquet")
    segments.write.parquet(path)
    seg = spark.read.parquet(path)
    got = decode_segments(seg, ["conv_id", "ts_us"])
    assert got.columns == ["conv_id", "ts_us"]
    assert got.count() > 0
    # the parquet ReadSchema must exclude unrequested blobs (late materialization)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("blob_text" not in l for l in scan_lines), plan


def test_zone_map_stats_match_data(canonical, segments):
    expect = (canonical.groupBy("conv_bucket", "time_chunk").agg(
        F.count("*").alias("n_rows"),
        F.min("ts_us").alias("min_ts_us"), F.max("ts_us").alias("max_ts_us"),
        F.sum("text_len").alias("text_len_sum"),
        F.min("latency_s").alias("latency_min"), F.max("latency_s").alias("latency_max"),
        F.sum(latency_us(F.col("latency_s"))).alias("latency_us_sum"),
    ).toPandas().sort_values(["conv_bucket", "time_chunk"]).reset_index(drop=True))
    # a (bucket, chunk) group may be sub-split into conv-range segments:
    # the group-level stats are the decomposable rollup of the sub-rows
    got = (segments.groupBy("conv_bucket", "time_chunk").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_ts_us").alias("min_ts_us"), F.max("max_ts_us").alias("max_ts_us"),
        F.sum("text_len_sum").alias("text_len_sum"),
        F.min("latency_min").alias("latency_min"), F.max("latency_max").alias("latency_max"),
        F.sum("latency_us_sum").alias("latency_us_sum"),
    ).toPandas().sort_values(["conv_bucket", "time_chunk"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"n_rows": "int64"}), expect.astype({"n_rows": "int64"}),
        check_dtype=False)


def test_compression_ratio(canonical, segments):
    raw_bytes = canonical.select(
        F.sum(F.length("text") + F.length("conv_id") + F.length("role")
              + F.length("tool") + F.lit(8 + 4 + 8 + 8))).collect()[0][0]
    enc_bytes = segments.agg(F.sum("encoded_bytes")).collect()[0][0]
    assert enc_bytes < raw_bytes, f"no compression: {enc_bytes} vs {raw_bytes}"


def test_upsert_dedup_newest_wins(spark, transcripts_pdf):
    dups = generate_dups_variant(transcripts_pdf, frac=0.05)
    df = spark.createDataFrame(dups)
    canon = canonicalize(df, n_buckets=4)
    assert canon.count() == len(transcripts_pdf)
    # every key kept exactly once and edited rows won (newer ts)
    edited = canon.filter(F.col("text").startswith("[edited] ")).count()
    n_dup = int(dups.duplicated(["conv_id", "turn_idx"]).sum())
    assert edited == n_dup


def test_bucket_routing_is_stable(canonical):
    # same conv_id always lands in the same bucket
    assert (canonical.groupBy("conv_id")
            .agg(F.countDistinct("conv_bucket").alias("n")).filter("n > 1").count()) == 0


def _multi_conv_df(spark):
    """200 equal-size conversations in one time chunk: every (bucket,
    chunk) group holds ~25 conversations of 20 turns — guaranteed
    conv-boundary splits at segment_rows=64."""
    import pandas as pd
    rows = []
    base = 1_704_067_200
    for c in range(200):
        for t in range(20):
            rows.append((f"mc-{c:04d}", t, "user", f"text {c} {t}", "-",
                         pd.Timestamp((base + c * 7 + t * 13) * 10**9)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    return canonicalize(spark.createDataFrame(pdf), n_buckets=8)


def test_conv_subsplit_roundtrip_and_zone_maps(spark):
    """Conv-range sub-segments (r03 verdict ask #1): groups of many
    conversations split at conversation boundaries. The round-trip stays
    exact, conversations are never split within a group, and sibling
    sub-segments carry non-overlapping ordered conv ranges — the zone
    map single-conv reads prune on. (A group dominated by ONE hot
    conversation stays whole by design — the max_rows_per_conv turn salt
    is the valve for those.)"""
    canon = _multi_conv_df(spark).cache()
    segs = encode_segments(canon, segment_rows=64).cache()
    per_group = segs.groupBy("conv_bucket", "time_chunk") \
                    .agg(F.count("*").alias("n_segs"))
    assert per_group.filter("n_segs > 1").count() > 0, \
        "fixture must actually exercise the sub-split"
    # every sub-segment respects the target band: >= segment_rows/2
    assert segs.filter("n_rows < 32").count() == 0
    # conversations never split within a group: summing per-sub-segment
    # distinct-conv counts equals the group's distinct convs
    got_convs = segs.groupBy("conv_bucket", "time_chunk") \
                    .agg(F.sum("n_convs").alias("n")).toPandas()
    exp_convs = canon.groupBy("conv_bucket", "time_chunk") \
        .agg(F.countDistinct("conv_id").alias("n")).toPandas()
    key = ["conv_bucket", "time_chunk"]
    merged = got_convs.merge(exp_convs, on=key, suffixes=("_got", "_exp"))
    assert (merged["n_got"] == merged["n_exp"]).all()
    # sibling sub-segments have disjoint, ordered conv ranges
    rows = (segs.select("conv_bucket", "time_chunk", "conv_id_min", "conv_id_max")
            .toPandas().sort_values(["conv_bucket", "time_chunk", "conv_id_min"]))
    for _, g in rows.groupby(["conv_bucket", "time_chunk"]):
        assert (g["conv_id_min"] <= g["conv_id_max"]).all()
        prev_max = g["conv_id_max"].shift(1)
        ok = prev_max.isna() | (g["conv_id_min"] > prev_max)
        assert ok.all(), g
    # round-trip identical to the source
    cols = ["conv_id", "turn_idx", "text", "ts_us", "latency_s"]
    src = _sorted_pdf(canon, cols)
    got = _sorted_pdf(decode_segments(segs, cols), cols)
    assert (got["text"].to_numpy() == src["text"].to_numpy()).all()
    assert (got["ts_us"].to_numpy() == src["ts_us"].to_numpy()).all()
    assert (got["latency_s"].to_numpy().view(np.uint64)
            == src["latency_s"].to_numpy().view(np.uint64)).all()
    segs.unpersist()
    canon.unpersist()


def test_single_conv_read_decodes_only_matching_subsegments(spark, tmp_path):
    """The committed single-conv read path must decode ∝ one
    conversation's sub-segments, not the bucket's whole share of the
    range (the r03 'scale-killer' finding): with conv zone pruning the
    scanned n_rows drop well below the bucket share, and the answer is
    identical to the unpruned scan."""
    from lindorm_tsdb_contest_java_spark.sources.segments import (
        time_range_from_segments,
    )
    canon = _multi_conv_df(spark).cache()
    path = str(tmp_path / "segs_split")
    encode_segments(canon, segment_rows=64).write.parquet(path)
    seg = spark.read.parquet(path)
    total = seg.agg(F.sum("n_rows")).collect()[0][0]
    conv = "mc-0017"
    bucket = canon.filter(F.col("conv_id") == conv) \
                  .select("conv_bucket").first()["conv_bucket"]
    bucket_rows = seg.filter(F.col("conv_bucket") == bucket) \
                     .agg(F.sum("n_rows")).collect()[0][0]
    pruned_rows = seg.filter(
        (F.col("conv_bucket") == bucket)
        & (F.col("conv_id_min") <= conv) & (F.col("conv_id_max") >= conv)
    ).agg(F.sum("n_rows")).collect()[0][0]
    # strictly better than bucket-only pruning (the old behavior)
    assert pruned_rows < bucket_rows < total
    assert pruned_rows <= bucket_rows / 2, (pruned_rows, bucket_rows)
    got = time_range_from_segments(
        seg, conv, 0, 2 * 10**12, ["conv_id", "turn_idx", "ts_us"], n_buckets=8)
    exp = canon.filter(F.col("conv_id") == conv) \
               .select("conv_id", "turn_idx", "ts_us")
    assert sorted(map(str, got.collect())) == sorted(map(str, exp.collect()))
    canon.unpersist()


def test_non_ascii_text_roundtrip(spark):
    """The v8 ext-length text mode stores byte lengths only in
    blob_text_len when the block is pure ASCII; non-ASCII blocks must
    fail the proof and round-trip through the self-contained mode."""
    import pandas as pd
    rows = []
    base = 1_704_067_200
    texts = ["héllo wörld", "naïve — em-dash", "日本語テキスト", "plain ascii", ""]
    for c in range(4):
        for t, txt in enumerate(texts):
            rows.append((f"ua-{c:02d}", t, "user", txt, "-",
                         pd.Timestamp((base + c * 7 + t * 13) * 10**9)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    canon = canonicalize(spark.createDataFrame(pdf), n_buckets=4)
    segs = encode_segments(canon).cache()
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN,
    )
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN_DELTA,
    )
    modes = [r[0][0] for r in segs.select("blob_text").collect()]
    assert all(m != TEXT_MODE_EXTLEN for m in modes), \
        "non-ASCII blocks must not use the data-only ASCII mode"
    assert any(m == TEXT_MODE_EXTLEN_DELTA for m in modes), \
        "non-ASCII blocks with true char lengths use the delta mode"
    cols = ["conv_id", "turn_idx", "ts_us", "text", "text_len"]
    got = _sorted_pdf(decode_segments(segs, cols), cols)
    want = _sorted_pdf(canon, cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_text_blobs_use_ext_length_modes(segments):
    """Every segment encoded from a canonical frame (where text_len IS
    the char length) must hit one of the v8 ext-length modes — the
    lengths live only in blob_text_len — or the v10 token-dictionary
    mode when it proved byte-for-byte shorter (self-framing: row
    boundaries come from the token counts)."""
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA, TEXT_MODE_TOKENS,
    )
    modes = [r[0][0] for r in segments.select("blob_text").collect()]
    assert modes and all(
        m in (TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA, TEXT_MODE_TOKENS)
        for m in modes)


def test_text_level_knob(spark):
    """encode_segments(text_level=12): smaller text blobs, identical
    round-trip — the storage-heavy deployment knob."""
    canon = _multi_conv_df(spark).cache()
    s3 = encode_segments(canon).agg(
        F.sum("encoded_bytes").alias("b")).collect()[0]["b"]
    segs12 = encode_segments(canon, text_level=12).cache()
    s12 = segs12.agg(F.sum("encoded_bytes").alias("b")).collect()[0]["b"]
    assert s12 <= s3
    cols = ["conv_id", "turn_idx", "ts_us", "text"]
    got = _sorted_pdf(decode_segments(segs12, cols), cols)
    want = _sorted_pdf(canon, cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    canon.unpersist()
