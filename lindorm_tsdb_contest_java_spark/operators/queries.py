"""Reference-exact query surface over canonical transcript rows.

Re-expresses the four query entry points of the reference engine
(`TSDBEngine.java:32`: executeLatestQuery / executeTimeRangeQuery /
executeAggregateQuery / executeDownsampleQuery) as declarative PySpark
plans. The hand-rolled pruning interpreter of the reference
(`TSDBEngineImpl.java:397-674`) disappears: Catalyst's partial+final hash
aggregate, partition pruning on conv_bucket, and parquet zone-map stats
do the same work.

Pinned semantics (each with its reference citation):
- time range is half-open ``lb <= ts < ub`` (TSDBEngine.java:104-114);
- aggregate result timestamp is the query's lb (TSDBEngineImpl.java:301);
  AVG returns DOUBLE even for int columns, computed as sum/count
  (TSDBEngineImpl.java:300); MAX keeps the column type;
- downsample windows are anchored at the query lb, window i =
  [lb+i*interval, lb+(i+1)*interval) (TSDBEngineImpl.java:420-424) — NOT
  epoch-anchored, hence integer bucket arithmetic instead of F.window;
- filters are CompareExpression EQUAL / GREATER (CompareExpression.java:38-58);
- all-filtered / empty window sentinels (TSDBEngine.java:192-196,
  TSDBEngineImpl.java:450-453,473-477,651-655):
    AVG          -> bits 0xfff0000000000000 (Java Double "NaN sentinel",
                    numerically -Infinity)
    MAX (int)    -> 0x80000000 (Integer.MIN_VALUE)
    MAX (double) -> bits 0xfff0000000000000
- a [lb,ub) range with no rows at all returns an EMPTY result — no
  sentinel rows (TSDBEngine.java:198-207); a window that is empty while
  the range is non-empty gets a sentinel row (the reference's active
  index path, TSDBEngineImpl.java:664-666).

All query bounds are epoch-millis like the reference API; internal time
is epoch-micros (exact for Spark TimestampType).
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame, functions as F

DOUBLE_SENTINEL = struct.unpack("<d", struct.pack("<Q", 0xFFF0000000000000))[0]
INT_SENTINEL = -(2**31)

EQUAL = "EQUAL"
GREATER = "GREATER"
AVG = "AVG"
MAX = "MAX"


_INT_TYPES = ("int", "bigint", "smallint", "tinyint")
_FLOAT_TYPES = ("float", "double")


def type_mismatch(col_type: str | None, value) -> bool:
    """The reference compares typed ColumnValues: a filter value whose
    type differs from the column's type matches NOTHING — EQUAL via
    ColumnValue.equals, GREATER explicitly
    (CompareExpression.java:44-46). INTEGER and DOUBLE are distinct
    types there, so an int column filtered with a float literal (or
    vice versa) is a mismatch, not a cast."""
    if col_type is None:
        return False
    if isinstance(value, bool):
        return True
    if col_type in _INT_TYPES:
        return not isinstance(value, int)
    if col_type in _FLOAT_TYPES:
        return not isinstance(value, float)
    if col_type == "string":
        return not isinstance(value, str)
    return False


def _pred(col: str, op: str | None, value, col_type: str | None = None) -> Column:
    if op is None:
        return F.lit(True)
    if op not in (EQUAL, GREATER):
        raise ValueError(
            f"unsupported compare op {op!r} (reference supports EQUAL|GREATER)")
    if type_mismatch(col_type, value):
        return F.lit(False)  # CompareExpression.java:44-46: mismatch -> false
    if op == GREATER and col_type == "string":
        # CompareExpression.java:50-53 throws on non-numeric GREATER
        raise ValueError(
            "GREATER is numeric-only (CompareExpression.java:50-53)")
    if op == EQUAL:
        return F.col(col) == F.lit(value)
    return F.col(col) > F.lit(value)


def _range(lb_ms: int, ub_ms: int) -> Column:
    return (F.col("ts_us") >= F.lit(lb_ms * 1000)) & (F.col("ts_us") < F.lit(ub_ms * 1000))


def latest(df: DataFrame, conv_ids: list[str] | None = None,
           columns: list[str] | None = None) -> DataFrame:
    """Latest row per conversation (executeLatestQuery,
    TSDBEngineImpl.java:184-209). max_by over a struct: one shuffle,
    map-side partial aggregation, no window sort."""
    value_cols = columns or [c for c in df.columns if c != "conv_id"]
    out = df
    if conv_ids is not None:
        out = out.filter(F.col("conv_id").isin(conv_ids))
    picked = out.groupBy("conv_id").agg(
        F.max_by(F.struct(*value_cols), F.col("ts_us")).alias("_row"))
    return picked.select("conv_id", *[F.col(f"_row.{c}").alias(c) for c in value_cols])


def time_range(df: DataFrame, conv_id: str, lb_ms: int, ub_ms: int,
               columns: list[str] | None = None) -> DataFrame:
    """Projected half-open range scan for one conversation
    (executeTimeRangeQuery, TSDBEngineImpl.java:211-219)."""
    cols = columns or df.columns
    return df.filter((F.col("conv_id") == conv_id) & _range(lb_ms, ub_ms)).select(*cols)


def aggregate(df: DataFrame, conv_id: str, column: str, lb_ms: int, ub_ms: int,
              agg: str) -> DataFrame:
    """Single-bucket AVG/MAX (executeAggregateQuery,
    TSDBEngineImpl.java:249-377). Empty range -> empty result.
    Result columns: conv_id, ts_ms (= lb), value."""
    scoped = df.filter((F.col("conv_id") == conv_id) & _range(lb_ms, ub_ms))
    if agg == AVG:
        value = (F.sum(column) / F.count(column)).cast("double")
    elif agg == MAX:
        value = F.max(column)
    else:
        raise ValueError(f"unsupported agg {agg!r} (reference supports AVG|MAX)")
    return (scoped.groupBy("conv_id")  # empty input -> zero groups -> empty result
            .agg(value.alias("value"))
            .select("conv_id", F.lit(lb_ms).alias("ts_ms"), "value"))


def downsample(df: DataFrame, conv_id: str, column: str, lb_ms: int, ub_ms: int,
               interval_ms: int, agg: str, filter_op: str | None = None,
               filter_value=None, sentinel_as_null: bool = False) -> DataFrame:
    """Filtered fixed-window downsample (executeDownsampleQuery,
    TSDBEngineImpl.java:397-674). One hash aggregate over lb-anchored
    integer buckets, whose row count per window is also the empty-range
    marker (fill_windows); no driver-side loop over windows.

    sentinel_as_null swaps the Java bit-pattern sentinels for SQL NULL —
    used by the cross-engine oracle harness where NaN/-Inf hashing is not
    portable; the reference-exact default keeps the bit patterns.
    """
    if (ub_ms - lb_ms) % interval_ms != 0:
        raise ValueError("(ub - lb) % interval != 0 (TSDBEngine.java:209-215)")
    n_windows = (ub_ms - lb_ms) // interval_ms

    scoped = df.filter((F.col("conv_id") == conv_id) & _range(lb_ms, ub_ms))
    w = F.floor((F.col("ts_us") - F.lit(lb_ms * 1000)) / F.lit(interval_ms * 1000))
    col_type = dict(df.dtypes)[column]
    survivors = F.when(_pred(column, filter_op, filter_value, col_type),
                       F.col(column))
    if agg == AVG:
        value = (F.sum(survivors) / F.count(survivors)).cast("double")
    elif agg == MAX:
        value = F.max(survivors)
    else:
        raise ValueError(f"unsupported agg {agg!r}")

    per_window = scoped.groupBy(w.alias("_w")).agg(value.alias("_v"),
                                                   F.count("*").alias("_rows"))
    return fill_windows(per_window, conv_id, lb_ms, interval_ms, n_windows,
                        window_sentinel(agg, col_type, sentinel_as_null))


def window_sentinel(agg: str, col_type: str, as_null: bool = False) -> Column:
    """The value of a window with no surviving row: AVG -> the double
    bit pattern, MAX -> the column's typed one (int columns
    Integer.MIN_VALUE), or a typed SQL NULL when `as_null`."""
    if agg == AVG:
        return F.lit(None).cast("double") if as_null else F.lit(DOUBLE_SENTINEL)
    if as_null:
        return F.lit(None).cast(col_type)
    if col_type in _INT_TYPES:
        return F.lit(INT_SENTINEL)
    return F.lit(DOUBLE_SENTINEL)


def fill_windows(per_window: DataFrame, conv_id: str, lb_ms: int,
                 interval_ms: int, n_windows: int, sentinel: Column) -> DataFrame:
    """Every window's result row from a per-window aggregate with
    columns `_w` (window id), `_v` (its value, NULL when no row
    survived the filter) and `_rows` (rows of the range in the window).

    One global aggregate folds the windows into a map and sums `_rows`,
    the empty-range marker: a range with no rows returns no row. A
    generated sequence of window ids reads the map, a missing or NULL
    value becoming the sentinel. Taking the marker from the same
    aggregate plans the input once (a separate marker aggregate, joined
    in, plans and runs the input's scan and decode a second time: Spark
    does not reuse the exchange), and the global aggregate leaves one
    partition, so the generate and the sort add no exchange.
    """
    windows = F.sequence(F.lit(0).cast("long"),
                         F.lit(n_windows - 1).cast("long"))
    return (
        per_window.agg(
            F.map_from_entries(F.collect_list(F.struct("_w", "_v"))).alias("_m"),
            F.sum("_rows").alias("_rows"))
        .filter(F.col("_rows") > 0)
        .select(F.explode(windows).alias("_w"), "_m")
        .select(
            F.lit(conv_id).alias("conv_id"),
            (F.lit(lb_ms) + F.col("_w") * F.lit(interval_ms)).alias("ts_ms"),
            F.coalesce(F.element_at("_m", F.col("_w")), sentinel).alias("value"),
        )
        .orderBy("ts_ms")
    )
