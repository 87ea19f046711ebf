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

    Tier buckets and raw rows meet in ONE union grouped by minute, so
    each minute takes its tier pre-aggregates, its raw rows' values (a
    straddling minute) or nothing, and every tier bucket counts its
    turns toward the empty-range marker (bucket counts cover all raw
    rows) that operators.queries.fill_windows reads. The plan has no
    join: on single-partition inputs — the engine passes its collected
    tier slice and a one-partition straddle decode — it runs in its
    result job with no exchange and no broadcast, and other inputs get
    the exchanges their aggregates need.

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
    sum_col = _TIER_COLS[column][0]
    max_col = _TIER_MINMAX[column][1]
    vtype = dict(raw.dtypes)[column]

    buckets = tier_1m.filter(
        (F.col("conv_id") == conv_id)
        & (F.col("bucket_ms") >= lb_ms) & (F.col("bucket_ms") < ub_ms))
    pass_all, pass_none = classify_preds(column, filter_op, filter_value, vtype)

    # _k: 1 = fully passing (tier pre-aggregates), 2 = straddling (raw
    # rows); a fully failing bucket adds only its turns to the marker
    no_long, no_value = F.lit(None).cast("long"), F.lit(None).cast(vtype)
    from_tier = buckets.select(
        F.col("bucket_ms").alias("_b"),
        F.when(pass_all, 1).when(~pass_none, 2).alias("_k"),
        F.when(pass_all, F.col(sum_col)).alias("_tsum"),
        F.when(pass_all, F.col("n_turns")).alias("_tcnt"),
        F.when(pass_all, F.col(max_col).cast(vtype)).alias("_tmax"),
        F.col("n_turns").alias("_rows"),
        no_long.alias("_rsum"), no_long.alias("_rcnt"),
        no_value.alias("_rmax"))
    survivors = F.when(Q._pred(column, filter_op, filter_value, vtype),
                       F.col(column))
    from_raw = (
        raw.filter(F.col("conv_id") == conv_id)
        .select((F.floor(F.col("ts_us") / F.lit(tier_width_ms * 1000))
                 * F.lit(tier_width_ms)).alias("_b"),
                F.lit(None).cast("int").alias("_k"),
                no_long.alias("_tsum"), no_long.alias("_tcnt"),
                no_value.alias("_tmax"), no_long.alias("_rows"),
                _in_sum_units(column, survivors).alias("_rsum"),
                survivors.isNotNull().cast("long").alias("_rcnt"),
                survivors.cast(vtype).alias("_rmax"))
        .filter((F.col("_b") >= lb_ms) & (F.col("_b") < ub_ms))
    )
    per_minute = (
        from_tier.unionByName(from_raw).groupBy("_b")
        .agg(F.max("_k").alias("_k"), F.sum("_tsum").alias("_tsum"),
             F.sum("_tcnt").alias("_tcnt"), F.max("_tmax").alias("_tmax"),
             F.sum("_rows").alias("_rows"), F.sum("_rsum").alias("_rsum"),
             F.sum("_rcnt").alias("_rcnt"), F.max("_rmax").alias("_rmax"))
    )

    def if_straddling(c: str) -> Column:
        return F.when(F.col("_k") == 2, F.col(c))

    per_minute = per_minute.select(
        F.floor((F.col("_b") - F.lit(lb_ms)) / F.lit(interval_ms)).alias("_w"),
        F.coalesce("_tsum", if_straddling("_rsum")).alias("_sum"),
        F.coalesce("_tcnt", if_straddling("_rcnt"), F.lit(0)).alias("_cnt"),
        F.coalesce("_tmax", if_straddling("_rmax")).alias("_max"),
        "_rows")

    if agg == Q.AVG:
        value = _avg(column)
    elif agg == Q.MAX:
        value = F.max("_max")
    else:
        raise ValueError(f"unsupported agg {agg!r}")
    per_window = (per_minute.groupBy("_w")
                  .agg(value.alias("_v"), F.sum("_cnt").alias("_n"),
                       F.sum("_rows").alias("_rows"))
                  .select("_w", F.when(F.col("_n") > 0, F.col("_v")).alias("_v"),
                          "_rows"))
    # native type + typed sentinel: identical schema to Q.downsample,
    # whether or not the tier grid aligned (ADVICE r01)
    return Q.fill_windows(per_window, conv_id, lb_ms, interval_ms, n_windows,
                          Q.window_sentinel(agg, vtype, sentinel_as_null))
