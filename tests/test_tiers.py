"""Tier cascade exactness, gap-fill, and t-digest determinism.

FIXTURES.md §3.5: 1m/1h/1d count/sum/min/max cascade composition equals
direct-from-raw computation bit-exactly; avg derived only at read time.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lindorm_tsdb_contest_java_spark.functions.tdigest import (
    tdigest_build, tdigest_count, tdigest_merge, tdigest_quantile,
)
from lindorm_tsdb_contest_java_spark.operators.tiers import (
    DAY_MS, HOUR_MS, MINUTE_MS,
    build_conv_tier, build_rate_tier, gap_fill, rollup_conv_tier,
    rollup_rate_tier, turn_rate, with_avg,
)
from lindorm_tsdb_contest_java_spark.sources.generator import generate_transcripts
from lindorm_tsdb_contest_java_spark.sources.segments import (
    canonicalize, encode_segments,
)

KEYS = ["conv_id", "bucket_ms"]


@pytest.fixture(scope="module")
def canon(transcripts_df):
    return canonicalize(transcripts_df, n_buckets=8).cache()


@pytest.fixture(scope="module")
def tier_1m(canon):
    return build_conv_tier(canon, MINUTE_MS).cache()


def _pdf(df, keys=KEYS):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


@pytest.mark.parametrize("width", [HOUR_MS, DAY_MS])
def test_cascade_equals_direct(canon, tier_1m, width):
    """rollup(1m -> coarse) must equal building coarse from raw, exactly.

    Every measure is bit-exact by construction: counts and sums are
    int64 (latency summed as whole micros, latency_us_sum), and min/max
    pick an input value whatever the order."""
    direct = _pdf(build_conv_tier(canon, width))
    cascaded = _pdf(rollup_conv_tier(tier_1m, width))
    exact_cols = ["conv_id", "bucket_ms", "n_turns", "text_len_sum",
                  "text_len_min", "text_len_max", "latency_us_sum",
                  "latency_min", "latency_max"]
    assert sorted(direct.columns) == sorted(exact_cols)
    pd.testing.assert_frame_equal(direct[exact_cols], cascaded[exact_cols])


def test_1d_from_1h_equals_1d_from_1m(tier_1m):
    via_1h = _pdf(rollup_conv_tier(rollup_conv_tier(tier_1m, HOUR_MS), DAY_MS))
    direct = _pdf(rollup_conv_tier(tier_1m, DAY_MS))
    pd.testing.assert_frame_equal(via_1h, direct)


_RATE_KEYS = ["role", "tool", "bucket_ms"]


def _content_hash(df, keys):
    pdf = df.toPandas().sort_values(keys).reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def _stored_hashes(spark, src, shuffle_partitions, input_partitions):
    """Content hash of every stored tier and the segment stats, built
    under one shuffle-partition count from one input partitioning."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(shuffle_partitions))
    canon = canonicalize(src.repartition(input_partitions), n_buckets=8).cache()
    rate_1m = build_rate_tier(canon, MINUTE_MS).cache()
    try:
        conv_1m = build_conv_tier(canon, MINUTE_MS)
        stats = encode_segments(canon)
        stats = stats.drop(*[c for c in stats.columns if c.startswith("blob_")])
        return {
            "tier_conv_1m": _content_hash(conv_1m, KEYS),
            "tier_conv_1d": _content_hash(rollup_conv_tier(
                rollup_conv_tier(conv_1m, HOUR_MS), DAY_MS), KEYS),
            "tier_conv_1d_direct": _content_hash(
                build_conv_tier(canon, DAY_MS), KEYS),
            "tier_rate_1m": _content_hash(rate_1m, _RATE_KEYS),
            "tier_rate_1h": _content_hash(
                rollup_rate_tier(rate_1m, HOUR_MS), _RATE_KEYS),
            "segment_stats": _content_hash(
                stats, ["conv_bucket", "time_chunk", "conv_id_min"]),
        }
    finally:
        rate_1m.unpersist()
        canon.unpersist()
        spark.conf.set(key, saved)


@pytest.fixture(scope="module")
def stored_hashes(spark):
    """_stored_hashes over one small input, memoized per partitioning."""
    src = spark.createDataFrame(
        generate_transcripts(n_conv=60, mean_turns=30, seed=11)).cache()
    memo = {}

    def get(shuffle_partitions, input_partitions):
        key = (shuffle_partitions, input_partitions)
        if key not in memo:
            memo[key] = _stored_hashes(spark, src, *key)
        return memo[key]
    yield get
    src.unpersist()


@pytest.mark.parametrize("input_partitions", [1, 7])
@pytest.mark.parametrize("shuffle_partitions", [1, 3, 8, 32])
def test_stored_tiers_are_partition_invariant(
        stored_hashes, shuffle_partitions, input_partitions):
    """Every stored measure is exact, so the tiers (digests included) and
    the segment stats are bit-identical however Spark splits the work —
    the same as a single-partition run — and the cascaded 1d tier equals
    the direct one bit for bit."""
    got = stored_hashes(shuffle_partitions, input_partitions)
    assert got == stored_hashes(1, 1)
    assert got["tier_conv_1d"] == got["tier_conv_1d_direct"]


def test_avg_derived_from_sum_count(canon, tier_1m):
    got = _pdf(with_avg(rollup_conv_tier(tier_1m, HOUR_MS)))
    expect = _pdf(canon.groupBy(
        "conv_id",
        (F.floor(F.col("ts_us") / F.lit(HOUR_MS * 1000)) * F.lit(HOUR_MS)).alias("bucket_ms"),
    ).agg((F.sum("text_len") / F.count("*")).alias("text_len_avg")))
    np.testing.assert_allclose(got["text_len_avg"], expect["text_len_avg"], rtol=1e-12)


def test_rate_tier_counts_and_digest(canon):
    r1m = build_rate_tier(canon, MINUTE_MS).cache()
    r1h = rollup_rate_tier(r1m, HOUR_MS)
    got = _pdf(r1h, ["role", "tool", "bucket_ms"])
    expect = _pdf(canon.groupBy(
        "role", "tool",
        (F.floor(F.col("ts_us") / F.lit(HOUR_MS * 1000)) * F.lit(HOUR_MS)).alias("bucket_ms"),
    ).agg(F.count("*").alias("n_turns")), ["role", "tool", "bucket_ms"])
    assert (got["n_turns"].to_numpy() == expect["n_turns"].to_numpy()).all()
    # digest weight always equals the row count it summarizes
    for _, row in got.iterrows():
        assert tdigest_count(bytes(row["latency_digest"])) == row["n_turns"]
    rates = turn_rate(r1h, HOUR_MS).toPandas()
    assert np.allclose(rates["turns_per_s"], rates["n_turns"] / 3600.0)


def test_gap_fill_dense_and_forward_fill(spark, tier_1m):
    one = tier_1m.filter(F.col("conv_id") == "conv-00000000")
    lb = int(one.agg(F.min("bucket_ms")).collect()[0][0])
    ub = lb + 30 * MINUTE_MS
    dense = gap_fill(tier_1m.filter(F.col("conv_id") == "conv-00000000"),
                     lb, ub, MINUTE_MS, ["conv_id"])
    pdf = dense.toPandas().sort_values("bucket_ms")
    assert len(pdf) == 30
    assert list(pdf["bucket_ms"]) == [lb + i * MINUTE_MS for i in range(30)]
    filled = gap_fill(tier_1m.filter(F.col("conv_id") == "conv-00000000"),
                      lb, ub, MINUTE_MS, ["conv_id"], forward_fill=True)
    fp = filled.toPandas().sort_values("bucket_ms")
    assert fp["n_turns"].notna().all(), "forward fill must close gaps"
    # un-filled version must have had gaps for this to be a real test
    assert pdf["n_turns"].isna().any()


# ---------- t-digest unit properties ----------

def test_tdigest_deterministic_and_order_insensitive():
    rng = np.random.default_rng(1)
    v = rng.exponential(20, 10_000)
    a = tdigest_build(v)
    b = tdigest_build(v[::-1].copy())
    assert a == b  # sorted internally -> multiset-deterministic


def test_tdigest_merge_close_to_rebuild():
    rng = np.random.default_rng(2)
    parts = [rng.exponential(20, 5000) for _ in range(8)]
    merged = tdigest_merge([tdigest_build(p) for p in parts])
    rebuilt = tdigest_build(np.concatenate(parts))
    qs = np.array([0.01, 0.25, 0.5, 0.9, 0.99])
    qm = tdigest_quantile(merged, qs)
    qr = tdigest_quantile(rebuilt, qs)
    exact = np.quantile(np.concatenate(parts), qs)
    np.testing.assert_allclose(qm, exact, rtol=0.05)
    np.testing.assert_allclose(qm, qr, rtol=0.05)


def test_tdigest_quantile_accuracy_uniform():
    v = np.arange(100_000, dtype=np.float64)
    d = tdigest_build(v)
    for q in (0.001, 0.5, 0.999):
        assert abs(tdigest_quantile(d, q) - q * 100_000) < 500


def test_tdigest_empty_and_single():
    assert np.isnan(tdigest_quantile(tdigest_build(np.array([])), 0.5))
    assert tdigest_quantile(tdigest_build(np.array([7.0])), 0.9) == 7.0


def test_tier_percentiles_close_to_exact(spark, transcripts_df):
    """Percentile reads served from merged tier t-digests track the exact
    quantiles of the raw latencies (the read side of the sketch cascade)."""
    import numpy as np
    from lindorm_tsdb_contest_java_spark.operators.tiers import (
        build_rate_tier, rollup_rate_tier, tier_percentiles,
    )
    from lindorm_tsdb_contest_java_spark.sources.generator import generate_transcripts
    from lindorm_tsdb_contest_java_spark.sources.segments import canonicalize

    canon = canonicalize(transcripts_df, n_buckets=8, grain="conv").cache()
    tier_1m = build_rate_tier(canon, 60_000)
    tier_1h = rollup_rate_tier(tier_1m, 3_600_000)
    lo = canon.agg(F.min("ts_us")).collect()[0][0] // 1000
    hi = canon.agg(F.max("ts_us")).collect()[0][0] // 1000 + 1
    got = tier_percentiles(tier_1h, lo - 3_600_000, hi + 3_600_000,
                           qs=(0.5, 0.9)).toPandas()
    raw = canon.select("role", "tool", "latency_s").toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        lat = raw[(raw["role"] == r.role) & (raw["tool"] == r.tool)]["latency_s"]
        assert r.n_turns == len(lat)
        for q, est in ((0.5, r.p50), (0.9, r.p90)):
            # rank-space accuracy: the estimate's true rank is within 2%
            rank = (lat.to_numpy() <= est).mean()
            assert abs(rank - q) < 0.02, (r.role, r.tool, q, est, rank)
    canon.unpersist()
