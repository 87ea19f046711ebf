"""Tier routing: answer aggregates from pre-aggregated tiers + raw edges.

The reference answers AVG/MAX from block AggBuckets when a block lies
fully inside the query range and decodes only the straddling blocks
(TSDBEngineImpl.java:254-262,311-318, MapIndex.getBucket). Catalyst has
no materialized-view routing, but we own the query API — so the router
does exactly the reference's split, declaratively:

    [lb ............................ ub)
     |edge|  interior (tier rows)  |edge|

- interior: tier buckets fully inside [lb, ub) — read from tier_1m,
  pre-aggregated, no raw scan;
- edges: the partial buckets at each end — computed from raw rows.

Both parts are DataFrames unioned before one final aggregate, so the
whole thing stays a single lazy plan (no driver-side branching on data).
AVG composes from (sum, count); MAX from max — the decomposability rule
the tiers were designed around. Sums are int64 on both sides, in the
tier's unit for the column (characters for text_len, micros for
latency_s), and AVG divides once at the end, so the answer does not
depend on how Spark partitioned the rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.tiers import LATENCY_SCALE, MINUTE_MS, latency_us

# column -> (its int64 tier sum, its max, units of that sum per value)
_TIER_COLS = {
    "text_len": ("text_len_sum", "text_len_max", 1),
    "latency_s": ("latency_us_sum", "latency_max", LATENCY_SCALE),
}

_TIER_MINMAX = {
    "text_len": ("text_len_min", "text_len_max"),
    "latency_s": ("latency_min", "latency_max"),
}


def _in_sum_units(column: str, value: Column) -> Column:
    """A raw value in the int64 unit its tier sum is kept in."""
    return latency_us(value) if column == "latency_s" else value.cast("long")


def _avg(column: str) -> Column:
    return F.sum("_sum") / F.sum("_cnt") / F.lit(_TIER_COLS[column][2])


def routed_aggregate(
    raw: DataFrame,
    tier_1m: DataFrame,
    conv_id: str,
    column: str,
    lb_ms: int,
    ub_ms: int,
    agg: str,
    tier_width_ms: int = MINUTE_MS,
) -> DataFrame:
    """Tier-accelerated single-bucket AVG/MAX with reference semantics
    (result ts = lb, AVG -> double, MAX keeps the column's native type —
    TSDBEngineImpl.java:308-377 — empty range -> empty result). MAX
    values flow through untouched so the result schema is independent of
    whether the tier served the query."""
    sum_col, max_col, _ = _TIER_COLS[column]
    vtype = dict(raw.dtypes)[column]
    lo = -(-lb_ms // tier_width_ms) * tier_width_ms   # ceil to tier grid
    hi = (ub_ms // tier_width_ms) * tier_width_ms     # floor to tier grid
    has_interior = lo < hi

    if has_interior:
        interior = (
            tier_1m.filter((F.col("conv_id") == conv_id)
                           & (F.col("bucket_ms") >= lo) & (F.col("bucket_ms") < hi))
            .select(F.col(sum_col).alias("_sum"),
                    F.col("n_turns").alias("_cnt"),
                    F.col(max_col).cast(vtype).alias("_max"))
        )
        edge_pred = (F.col("ts_us") >= lb_ms * 1000) & (F.col("ts_us") < lo * 1000) | \
                    (F.col("ts_us") >= hi * 1000) & (F.col("ts_us") < ub_ms * 1000)
    else:
        interior = None
        edge_pred = (F.col("ts_us") >= lb_ms * 1000) & (F.col("ts_us") < ub_ms * 1000)

    edges = (
        raw.filter((F.col("conv_id") == conv_id) & edge_pred)
        .agg(F.sum(_in_sum_units(column, F.col(column))).alias("_sum"),
             F.count(column).alias("_cnt"),
             F.max(column).cast(vtype).alias("_max"))
        .filter(F.col("_cnt") > 0)
    )
    parts = edges.unionByName(interior) if interior is not None else edges

    if agg == "AVG":
        value = _avg(column)
    elif agg == "MAX":
        value = F.max("_max")
    else:
        raise ValueError(f"unsupported agg {agg!r}")
    return (
        parts.agg(value.alias("value"), F.sum("_cnt").alias("_n"))
        .filter(F.col("_n") > 0)  # reference: empty range -> empty result
        .select(F.lit(conv_id).alias("conv_id"), F.lit(lb_ms).alias("ts_ms"), "value")
    )


def classify_preds(column: str, filter_op: str | None, filter_value,
                   vtype: str):
    """(pass_all, pass_none) bucket-classification predicates over tier
    zone columns — the reference's AggBucket classification
    (TSDBEngineImpl.java:489-494,519-521). Shared by routed_downsample's
    in-plan split and the engine's driver-side straddle-set bound (which
    must classify IDENTICALLY or the decode could miss a straddler)."""
    from ..operators import queries as Q

    min_col, max_col = _TIER_MINMAX[column]
    if filter_op is None:
        return F.lit(True), F.lit(False)
    if Q.type_mismatch(vtype, filter_value):
        # mismatched filter type matches nothing (CompareExpression.java:44-46):
        # every bucket classifies as fully-failing, all windows -> sentinel
        return F.lit(False), F.lit(True)
    if filter_op == Q.GREATER:
        return (F.col(min_col) > F.lit(filter_value),
                F.col(max_col) <= F.lit(filter_value))
    if filter_op == Q.EQUAL:
        return ((F.col(min_col) == F.lit(filter_value))
                & (F.col(max_col) == F.lit(filter_value)),
                (F.col(max_col) < F.lit(filter_value))
                | (F.col(min_col) > F.lit(filter_value)))
    raise ValueError(f"unsupported compare op {filter_op!r}")


def routed_downsample(
    raw: DataFrame,
    tier_1m: DataFrame,
    conv_id: str,
    column: str,
    lb_ms: int,
    ub_ms: int,
    interval_ms: int,
    agg: str,
    filter_op: str | None = None,
    filter_value=None,
    tier_width_ms: int = MINUTE_MS,
    sentinel_as_null: bool = False,
) -> DataFrame:
    """Tier-accelerated filtered downsample — the reference's AggBucket
    classification (TSDBEngineImpl.java:489-494,519-521) as one plan:

    - a tier bucket whose column-min already passes the filter contributes
      its pre-aggregated (sum, count, max) without touching raw data;
    - a bucket whose column-max fails the filter contributes nothing;
    - only *straddling* buckets (filter cuts through the value range) are
      recomputed from raw rows — the analog of decoding a straddling block.

    Requires lb/interval aligned to the tier grid; falls back to the plain
    downsample otherwise. Unfiltered queries classify every bucket as
    fully-passing. Sentinel/empty-range semantics identical to
    operators.queries.downsample (the plain operator is the oracle in
    tests/test_router_skew.py).
    """
    from ..operators import queries as Q

    if (lb_ms % tier_width_ms) or (interval_ms % tier_width_ms) or \
            (ub_ms - lb_ms) % interval_ms:
        return Q.downsample(raw, conv_id, column, lb_ms, ub_ms, interval_ms,
                            agg, filter_op, filter_value,
                            sentinel_as_null=sentinel_as_null)
    n_windows = (ub_ms - lb_ms) // interval_ms
    spark = raw.sparkSession
    sum_col = _TIER_COLS[column][0]
    min_col, max_col = _TIER_MINMAX[column]
    vtype = dict(raw.dtypes)[column]
    int_col = vtype in ("int", "bigint", "smallint", "tinyint")

    buckets = tier_1m.filter(
        (F.col("conv_id") == conv_id)
        & (F.col("bucket_ms") >= lb_ms) & (F.col("bucket_ms") < ub_ms))
    pass_all, pass_none = classify_preds(column, filter_op, filter_value, vtype)

    w_of_bucket = F.floor((F.col("bucket_ms") - F.lit(lb_ms)) / F.lit(interval_ms))
    covered = (buckets.filter(pass_all)
               .select(w_of_bucket.alias("_w"),
                       F.col(sum_col).alias("_sum"),
                       F.col("n_turns").alias("_cnt"),
                       F.col(max_col).cast(vtype).alias("_max")))

    straddle = (buckets.filter(~pass_all & ~pass_none)
                .select(F.col("bucket_ms").alias("_sb")))
    raw_bucket = (F.floor(F.col("ts_us") / F.lit(tier_width_ms * 1000))
                  * F.lit(tier_width_ms))
    survivors = F.when(Q._pred(column, filter_op, filter_value, vtype),
                       F.col(column))
    from_raw = (
        raw.filter(F.col("conv_id") == conv_id)
        .join(F.broadcast(straddle), raw_bucket == F.col("_sb"))
        .select(
            F.floor((F.col("_sb") - F.lit(lb_ms)) / F.lit(interval_ms)).alias("_w"),
            _in_sum_units(column, survivors).alias("_v"),
            survivors.cast(vtype).alias("_vn"))
        .groupBy("_w")
        .agg(F.sum("_v").alias("_sum"), F.count("_v").alias("_cnt"),
             F.max("_vn").alias("_max"))
    )

    parts = covered.unionByName(from_raw)
    if agg == Q.AVG:
        value = _avg(column)
        sentinel = (F.lit(None).cast("double") if sentinel_as_null
                    else F.lit(Q.DOUBLE_SENTINEL))
    elif agg == Q.MAX:
        # native type + typed sentinel: identical schema to Q.downsample,
        # whether or not the tier grid aligned (ADVICE r01)
        value = F.max("_max")
        if sentinel_as_null:
            sentinel = F.lit(None).cast(vtype)
        elif int_col:
            sentinel = F.lit(Q.INT_SENTINEL)
        else:
            sentinel = F.lit(Q.DOUBLE_SENTINEL)
    else:
        raise ValueError(f"unsupported agg {agg!r}")
    per_window = (parts.groupBy("_w")
                  .agg(value.alias("_v"), F.sum("_cnt").alias("_n"))
                  .withColumn("_v", F.when(F.col("_n") > 0, F.col("_v"))))

    # empty-range marker from the tier (bucket counts cover all raw rows)
    marker = (buckets.agg(F.sum("n_turns").alias("_any"))
              .filter(F.col("_any") > 0).select(F.lit(1).alias("_one")))
    skeleton = spark.range(n_windows).select(F.col("id").alias("_w"))
    return (
        skeleton.crossJoin(F.broadcast(marker))
        .join(per_window, "_w", "left")
        .select(F.lit(conv_id).alias("conv_id"),
                (F.lit(lb_ms) + F.col("_w") * F.lit(interval_ms)).alias("ts_ms"),
                F.coalesce(F.col("_v"), sentinel).alias("value"))
        .orderBy("ts_ms")
    )
