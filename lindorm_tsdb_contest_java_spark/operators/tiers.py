"""Continuous-aggregate retention tiers (1m → 1h → 1d) + gap-fill.

Spark-first analog of the reference's two-level pre-aggregate hierarchy:
block `AggBucket` (per-column min/max/sum + count, index/AggBucket.java:5-36)
rolled up 100-at-a-time into `BigBucket` (index/MapIndex.java:231-248).
Here each tier is an ordinary table produced by one hash aggregate, and
the cascade composes exactly because every tier carries only
**decomposable** aggregates: count, sum, min, max (+ mergeable t-digest
blobs for latency percentiles). Every stored sum is an int64 — latency
is summed as whole micros (`latency_us_sum`) — so a tier row is
bit-identical however Spark partitioned or ordered its inputs, and the
cascade equals the direct build bit for bit. AVG is derived from
(sum, count) at read time, never averaged across tiers (the
float-exactness rule from SURVEY.md §7.4). Note: we do NOT reproduce
the reference's BigBucket min-merge bug (BigBucket.java:91 uses
Math.max for iMin — dead code there, wrong here).

Two tier families:
- conv tiers  : key (conv_id, bucket_ms)      — accelerate per-conversation
                aggregate/downsample (the reference's query unit);
- rate tiers  : key (role, tool, bucket_ms)   — per-role/tool turn rates +
                latency t-digests (target-spec additions).

Gap-fill: sequence+explode window skeleton left-joined to the tier, with
optional last-value forward fill — the reference's window-enumeration
semantics (TSDBEngineImpl.java:420-426,664-666) generalized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.tdigest import tdigest_build, tdigest_merge, tdigest_quantile

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000

TIER_WIDTHS_MS = {"1m": MINUTE_MS, "1h": HOUR_MS, "1d": DAY_MS}

LATENCY_SCALE = 1e6  # latency_s is a whole number of micros / 1e6


def latency_us(latency_s: Column) -> Column:
    """latency_s as exact int64 micros: canonicalize derives every
    latency_s as a ts_us lag / 1e6 (sources/segments.py), so the scaled
    value is within an ulp of an integer and the round recovers it."""
    return F.round(latency_s * F.lit(LATENCY_SCALE)).cast("long")


def _measures():
    return [
        F.count("*").alias("n_turns"),
        F.sum("text_len").alias("text_len_sum"),
        F.min("text_len").alias("text_len_min"),
        F.max("text_len").alias("text_len_max"),
        F.sum(latency_us(F.col("latency_s"))).alias("latency_us_sum"),
        F.min("latency_s").alias("latency_min"),
        F.max("latency_s").alias("latency_max"),
    ]


def _rollup_measures():
    return [
        F.sum("n_turns").alias("n_turns"),
        F.sum("text_len_sum").alias("text_len_sum"),
        F.min("text_len_min").alias("text_len_min"),
        F.max("text_len_max").alias("text_len_max"),
        F.sum("latency_us_sum").alias("latency_us_sum"),
        F.min("latency_min").alias("latency_min"),
        F.max("latency_max").alias("latency_max"),
    ]


def _bucket(width_ms: int, src_col: str = "ts_us") -> F.Column:
    # integer arithmetic: works for any epoch alignment, no F.window needed
    return (F.floor(F.col(src_col) / F.lit(width_ms * 1000)) * F.lit(width_ms)).alias("bucket_ms")


def build_conv_tier(canonical: DataFrame, width_ms: int = MINUTE_MS) -> DataFrame:
    """Base tier from raw turns: one hash aggregate, map-side partials free.

    Latency is summed as int64 micros (latency_us_sum), so the row is
    the same whatever order the partials were added in, and it composes
    bit-exactly through every cascade level and across engines."""
    return canonical.groupBy("conv_id", _bucket(width_ms)).agg(*_measures())


def rollup_conv_tier(tier: DataFrame, width_ms: int) -> DataFrame:
    """Next retention tier from the previous one — same-shaped schema, so
    the cascade composes (1m → 1h → 1d)."""
    coarse = (F.floor(F.col("bucket_ms") / F.lit(width_ms)) * F.lit(width_ms)).alias("bucket_ms")
    return tier.groupBy("conv_id", coarse).agg(*_rollup_measures())


def with_avg(tier: DataFrame) -> DataFrame:
    """Read-time derived averages (never stored, never averaged-of-averaged)."""
    return tier.withColumn(
        "text_len_avg", (F.col("text_len_sum") / F.col("n_turns")).cast("double")
    ).withColumn("latency_avg", F.col("latency_us_sum") / F.col("n_turns")
                 / F.lit(LATENCY_SCALE))


def build_latest_tier(canonical: DataFrame) -> DataFrame:
    """Per-(conv_id, time_chunk) newest row — the materialized analog of
    the reference's in-memory latest index (index/MapIndex.java:99-114
    getLast; loaded at connect, TSDBEngineImpl.java:184-209). One row per
    conversation per chunk, so 'latest per conv' becomes an argmax over
    ~n_convs × n_chunks tier rows instead of a 10^12-turn raw scan; the
    chunk granularity keeps the tier incrementally maintainable by the
    pipeline's partitioned writes. Ties broken by (ts_us, turn_idx) so
    rebuilds are deterministic."""
    vals = [c for c in canonical.columns if c not in ("conv_id", "time_chunk")]
    order = F.struct(F.col("ts_us"), F.col("turn_idx"))
    return (canonical.groupBy("conv_id", "time_chunk")
            .agg(F.max_by(F.struct(*vals), order).alias("_row"))
            .select("conv_id", "time_chunk",
                    *[F.col(f"_row.{c}").alias(c) for c in vals]))


def latest_from_tier(tier: DataFrame, conv_ids: list[str] | None = None,
                     columns: list[str] | None = None) -> DataFrame:
    """Serve 'latest row per conversation' from the latest tier: the final
    argmax runs over per-chunk winners only."""
    value_cols = columns or [c for c in tier.columns
                             if c not in ("conv_id", "time_chunk")]
    out = tier
    if conv_ids is not None:
        out = out.filter(F.col("conv_id").isin(conv_ids))
    order = F.struct(F.col("ts_us"), F.col("turn_idx"))
    picked = out.groupBy("conv_id").agg(
        F.max_by(F.struct(*value_cols), order).alias("_row"))
    return picked.select("conv_id",
                         *[F.col(f"_row.{c}").alias(c) for c in value_cols])


# ---------- rate tiers (role/tool rates + latency percentiles) ----------

_RATE_TIER_SCHEMA = (
    "role string, tool string, bucket_ms bigint, n_turns bigint, "
    "latency_digest binary"
)


def build_rate_tier(canonical: DataFrame, width_ms: int = MINUTE_MS,
                    buckets_per_group: int = 256) -> DataFrame:
    """Count + t-digest per (role, tool, bucket) in one shuffle (a
    grouped-agg pandas UDF cannot mix with JVM aggregates in one agg).

    Grouping is by (role, tool, COARSE window of buckets_per_group
    buckets), not per bucket: one Arrow call emits up to
    buckets_per_group tier rows, with the per-bucket split done by a
    vectorized sort + reduceat inside. Per-group pandas overhead is
    ~0.5 ms — per-minute groups would pay it millions of times per year
    of data (group count is fixed by the calendar, so small inputs are
    pure overhead); the coarse grouping amortizes it 256x while keeping
    group size bounded (skew-safe) at any scale."""
    import numpy as np

    coarse_us = width_ms * 1000 * buckets_per_group

    def agg(key, pdf):
        b = pdf["bucket_ms"].to_numpy(np.int64)
        order = np.argsort(b, kind="stable")
        b = b[order]
        lat = pdf["latency_s"].to_numpy(np.float64)[order]
        starts = np.r_[0, np.flatnonzero(np.diff(b)) + 1]
        ends = np.r_[starts[1:], len(b)]
        return pd.DataFrame({
            "role": key[0], "tool": key[1],
            "bucket_ms": b[starts],
            "n_turns": (ends - starts).astype(np.int64),
            "latency_digest": [tdigest_build(lat[s:e])
                               for s, e in zip(starts, ends)],
        })

    return (canonical.withColumn("bucket_ms", _bucket(width_ms))
            .withColumn("_cg", F.floor(F.col("ts_us") / F.lit(coarse_us)))
            .groupBy("role", "tool", "_cg")
            .applyInPandas(agg, schema=_RATE_TIER_SCHEMA))


def rollup_rate_tier(tier: DataFrame, width_ms: int,
                     buckets_per_group: int = 256) -> DataFrame:
    """Cascade merge with the same coarse-group amortization as
    build_rate_tier: one Arrow call merges up to buckets_per_group
    target buckets."""
    import numpy as np

    coarse_group = width_ms * buckets_per_group

    def merge(key, pdf):
        b = pdf["bucket_ms"].to_numpy(np.int64)
        order = np.argsort(b, kind="stable")
        pdf = pdf.iloc[order]
        b = b[order]
        starts = np.r_[0, np.flatnonzero(np.diff(b)) + 1]
        ends = np.r_[starts[1:], len(b)]
        blobs = pdf["latency_digest"].to_numpy(object)
        return pd.DataFrame({
            "role": key[0], "tool": key[1],
            "bucket_ms": b[starts],
            "n_turns": np.add.reduceat(pdf["n_turns"].to_numpy(np.int64), starts),
            "latency_digest": [
                tdigest_merge([bytes(x) for x in blobs[s:e]])
                for s, e in zip(starts, ends)],
        })

    coarse = (F.floor(F.col("bucket_ms") / F.lit(width_ms)) * F.lit(width_ms))
    return (tier.withColumn("bucket_ms", coarse)
            .withColumn("_cg", F.floor(F.col("bucket_ms") / F.lit(coarse_group)))
            .groupBy("role", "tool", "_cg")
            .applyInPandas(merge, schema=_RATE_TIER_SCHEMA))


def turn_rate(tier: DataFrame, width_ms: int) -> DataFrame:
    return tier.withColumn("turns_per_s", F.col("n_turns") / F.lit(width_ms / 1000.0))


def tier_percentiles(tier: DataFrame, lb_ms: int, ub_ms: int,
                     qs: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """Latency percentiles for [lb, ub) served ENTIRELY from the rate
    tier's t-digest sketches — the read side of the north-star
    'percentiles via t-digest cascading through tiers': merge the
    per-bucket digests of the covered range per (role, tool) and
    interpolate the quantiles. Never touches raw turns; input volume is
    tier rows (one per role x tool x bucket), so a year-long percentile
    query over 10^12 turns reads ~minutes-granularity sketches only."""
    import numpy as np
    import pandas as pd

    # name by percentile value: 0.5 -> p50, 0.9 -> p90, 0.99 -> p99
    # (str-mangling gave 'p5' for the median — ADVICE r02)
    qcols = [f"p{int(round(q * 100))}" for q in qs]
    schema = ("role string, tool string, n_turns bigint, "
              + ", ".join(f"{c} double" for c in qcols))
    scoped = tier.filter((F.col("bucket_ms") >= lb_ms)
                         & (F.col("bucket_ms") < ub_ms))

    def agg(key, pdf):
        blob = tdigest_merge([bytes(b) for b in pdf["latency_digest"]])
        vals = tdigest_quantile(blob, np.asarray(qs, dtype=np.float64))
        row = {"role": key[0], "tool": key[1],
               "n_turns": int(pdf["n_turns"].sum())}
        row.update({c: float(v) for c, v in zip(qcols, vals)})
        return pd.DataFrame([row])

    return scoped.groupBy("role", "tool").applyInPandas(agg, schema)


# ---------- gap-fill ----------

def gap_fill(
    tier: DataFrame,
    lb_ms: int,
    ub_ms: int,
    width_ms: int,
    keys: list[str],
    fill_columns: list[str] | None = None,
    forward_fill: bool = False,
) -> DataFrame:
    """Dense window skeleton per key over [lb, ub): sequence + explode,
    left join to the tier, optional last-value forward fill.

    The skeleton is generated, not collected — `sequence` produces the
    bucket array per key JVM-side and explode fans it out, so the plan
    scales with keys × windows without any driver loop.
    """
    fill_columns = fill_columns or [
        c for c in tier.columns if c not in keys + ["bucket_ms"]]
    key_df = tier.select(*keys).distinct()
    skeleton = key_df.select(
        *keys,
        F.explode(
            F.sequence(F.lit(lb_ms), F.lit(ub_ms - width_ms), F.lit(width_ms))
        ).alias("bucket_ms"),
    )
    scoped = tier.filter((F.col("bucket_ms") >= lb_ms) & (F.col("bucket_ms") < ub_ms))
    out = skeleton.join(scoped, on=keys + ["bucket_ms"], how="left")
    if forward_fill:
        w = (Window.partitionBy(*keys).orderBy("bucket_ms")
             .rowsBetween(Window.unboundedPreceding, 0))
        for c in fill_columns:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out
