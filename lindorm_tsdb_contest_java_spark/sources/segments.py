"""Columnar block segments: encode (applyInPandas) and decode (mapInPandas).

Spark-first re-expression of the reference's write path
(`file/TSFileService.java:598-737`: per-vin 250-row flush → pivot to
column arrays → per-column codecs → append + index entry with zone map
and AggBucket). Here a *segment* is one encoded row per
``(conv_bucket, time_chunk)`` group:

- routing: ``conv_bucket = pmod(xxhash64(conv_id), n_buckets)`` — the
  analog of the reference's ``vinIndex % 60`` shard routing
  (TSFileService.java:138,603), expressed as a partition column so
  Catalyst prunes on it;
- zone map: ``min_ts/max_ts/n_rows`` columns — the analog of the block
  ``Index`` (index/Index.java:11-168), pushed down as ordinary parquet
  column predicates;
- pre-aggregates: per-metric min/max/sum columns — the analog of
  ``AggBucket`` (index/AggBucket.java:5-36), letting covered-range
  aggregates skip decode entirely;
- blobs: per-column codec output (ts/turn_idx/text_len → best-of-N int
  codec with a mode header byte, IntCompress.java:1178-1297 analog;
  latency → float codec (scaled-int fast path, Gorilla XOR planes
  fallback); conv_id/role/tool → dict+zstd; text →
  length-prefixed zstd stream).

Rows inside a segment are sorted by the stable ``(conv_id, turn_idx, ts)``
order — the per-row invariant the round-trip test checks text equality
under (BASELINE.json input_hint).

Everything is vectorized pandas/Arrow — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from ..functions.codecs import (
    dict_encode, int_decode, int_encode, latency_decode, latency_encode,
    text_encode,
)
from ..functions.codecs.strings import (
    TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA, dict_decode_arrow,
    text_decode_arrow,
)

DEFAULT_N_BUCKETS = 64
DEFAULT_CHUNK_US = 6 * 3600 * 1_000_000  # 6h time chunks


def chunk_range(lb_ms: int, ub_ms: int, chunk_us: int) -> tuple[int, int]:
    """Inclusive (lo, hi) `time_chunk` span of the half-open ms range
    [lb, ub): the manifest pruning range of every time-filtered read
    (SnapshotTable.read). A row at ts_us sits in chunk
    floor(ts_us / chunk_us) (canonicalize), a tier row in the chunk of
    its bucket start. An empty or inverted range gives hi < lo, which
    prunes every file that records a chunk."""
    lo = lb_ms * 1000 // chunk_us
    if ub_ms <= lb_ms:
        return lo, lo - 1
    return lo, (ub_ms * 1000 - 1) // chunk_us


def bucket_chunk(chunk_us: int) -> Column:
    """`time_chunk` of a tier row: the chunk holding its `bucket_ms`
    start. The store grid nests (RollupPipeline validates chunk_us), so
    a row no wider than a chunk lies inside this chunk, and a wider one
    starts on a chunk boundary."""
    return F.floor(F.col("bucket_ms") * 1000 / F.lit(chunk_us)).cast("long")


# conv-range sub-segment target (rows): an encode group larger than this
# is split at conversation boundaries into sub-segments of >= this many
# rows, each carrying a conv_id zone map. ~4k rows is the measured
# applyInArrow sweet spot (throughput AND compression both fall with
# much smaller groups), and it bounds how much a single-conversation
# read must decode (see time_range_from_segments).
DEFAULT_SEGMENT_ROWS = 4096

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), False),
    StructField("text", StringType(), False),
    StructField("tool", StringType(), False),
    StructField("ts", TimestampType(), False),
])

# canonical = transcripts + derived metric columns (FIXTURES.md §2)
CANONICAL_COLUMNS = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "ts_us", "text_len", "latency_s", "conv_bucket", "time_chunk",
]

SEGMENT_SCHEMA = StructType([
    StructField("conv_bucket", IntegerType(), False),
    StructField("time_chunk", LongType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_convs", LongType(), False),
    # conv-id zone map (MapIndex.java:61-81 analog): rows are conv-sorted
    # and sub-segments split at conv boundaries, so a single-conversation
    # read prunes to the sub-segments whose [conv_id_min, conv_id_max]
    # range covers it — decode cost ∝ one conv's neighborhood, not
    # 1/n_buckets of the whole range
    StructField("conv_id_min", StringType(), False),
    StructField("conv_id_max", StringType(), False),
    StructField("min_ts_us", LongType(), False),
    StructField("max_ts_us", LongType(), False),
    # AggBucket analog: per-metric zone stats; sums are int64 (latency in
    # whole micros), so a segment's stats never depend on summation order
    StructField("text_len_min", LongType(), False),
    StructField("text_len_max", LongType(), False),
    StructField("text_len_sum", LongType(), False),
    StructField("latency_min", DoubleType(), False),
    StructField("latency_max", DoubleType(), False),
    StructField("latency_us_sum", LongType(), False),
    StructField("turn_idx_min", LongType(), False),
    StructField("turn_idx_max", LongType(), False),
    # codec blobs
    StructField("blob_ts", BinaryType(), False),
    StructField("blob_turn_idx", BinaryType(), False),
    StructField("blob_text_len", BinaryType(), False),
    StructField("blob_latency", BinaryType(), False),
    StructField("blob_conv_id", BinaryType(), False),
    StructField("blob_role", BinaryType(), False),
    StructField("blob_tool", BinaryType(), False),
    StructField("blob_text", BinaryType(), False),
    StructField("encoded_bytes", LongType(), False),
])

_BLOB_OF = {
    "ts_us": "blob_ts", "turn_idx": "blob_turn_idx", "text_len": "blob_text_len",
    "latency_s": "blob_latency", "conv_id": "blob_conv_id", "role": "blob_role",
    "tool": "blob_tool", "text": "blob_text",
}


def canonicalize(
    df: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    chunk_us: int = DEFAULT_CHUNK_US,
    dedup: bool = True,
    grain: str = "bucket",
) -> DataFrame:
    """Upsert-dedup + routing + derived metrics, all JVM-side built-ins.

    Dedup mirrors the reference's overwrite-on-duplicate-key write
    semantics (TSDBEngine.java:85-92): for equal (conv_id, turn_idx) the
    newest ts wins. Routing/zone columns are plain expressions so the
    whole stage stays in WholeStageCodegen.

    ONE exchange serves the whole path: the explicit repartition. Both
    window operators partition by supersets of the repartition columns
    (subset rule), so Catalyst inserts only in-partition sorts after it.

    `grain` picks the exchange granularity — the write/read trade:
    - "bucket": hashpartitioning(conv_bucket). The encode groupBy
      (conv_bucket, time_chunk) ALSO reuses this exchange, so the whole
      transcripts → segments plan is a single shuffle (pinned by
      tests/test_plan_audit.py) — measured 2x encode throughput vs the
      two-shuffle shape. Cost: at most n_buckets non-empty partitions
      (lumpy under hash collisions when n_buckets is within ~4x of the
      partition count) — exactly right for the write path, under-parallel
      for a cached query-serving table.
    - "conv": hashpartitioning(conv_id). Conversation granularity:
      evenly balanced partitions AND — the important part — every
      downstream per-conversation aggregate (latest's groupBy(conv_id),
      the tier groupBys on (conv_id, bucket_ms)) sees its clustering
      already satisfied, so those run EXCHANGE-FREE off the cached
      canon. Encode over it would pay a second shuffle, so use it for
      the READ canon (engine query serving, bench query cache), not for
      encoding.
    """
    from pyspark.sql.window import Window

    # unix_micros over an NTZ cast is session-timezone-sensitive: pin UTC
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")

    if grain == "bucket":
        part_cols = [F.col("conv_bucket")]
    elif grain == "conv":
        part_cols = [F.col("conv_id")]
    else:
        raise ValueError(f"unknown grain {grain!r} (bucket|conv)")
    # `_ch` (the raw conv hash, also the source of conv_bucket) leads every
    # window partition spec below. Window groupings are unchanged — _ch and
    # conv_bucket are functions of conv_id — but the required sort order
    # becomes [_ch, bucket, conv, ...]: a full-entropy int64 first key
    # means the sorter's 8-byte prefix comparison decides nearly every
    # compare, where conv_id-first left all rows sharing the "conv-"
    # prefix and every compare fell through to byte-wise string
    # comparison (r07 measured: canonicalize noop 2.1 -> 1.7 s at 4M
    # rows). conv_bucket stays in the spec so hashpartitioning(bucket)
    # still satisfies the windows' clustering (no extra exchange).
    out = (
        df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .withColumn("text_len", F.length("text"))
        .withColumn("_ch", F.xxhash64("conv_id"))
        .withColumn("conv_bucket", F.pmod(F.col("_ch"), F.lit(n_buckets)).cast("int"))
        .withColumn("time_chunk", F.floor(F.col("ts_us") / F.lit(chunk_us)))
        .repartition(*part_cols)
    )
    if dedup:
        w = Window.partitionBy("_ch", "conv_bucket", "conv_id", "turn_idx").orderBy(
            F.col("ts").desc(), F.col("text_len").desc())
        out = (out.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
    out = out.withColumn(
        "latency_s",
        F.coalesce(
            (F.col("ts_us") - F.lag("ts_us").over(
                Window.partitionBy("_ch", "conv_bucket", "conv_id").orderBy("turn_idx")))
            / F.lit(1e6),
            F.lit(0.0),
        ),
    )
    return out.select(*CANONICAL_COLUMNS)


_SEGMENT_PA_SCHEMA = pa.schema(
    [pa.field("conv_bucket", pa.int32())]
    + [pa.field(n, pa.int64()) for n in ("time_chunk", "n_rows", "n_convs")]
    + [pa.field(n, pa.string()) for n in ("conv_id_min", "conv_id_max")]
    + [pa.field(n, pa.int64()) for n in
       ("min_ts_us", "max_ts_us",
        "text_len_min", "text_len_max", "text_len_sum")]
    + [pa.field(n, pa.float64()) for n in ("latency_min", "latency_max")]
    + [pa.field("latency_us_sum", pa.int64())]
    + [pa.field(n, pa.int64()) for n in ("turn_idx_min", "turn_idx_max")]
    + [pa.field(n, pa.binary()) for n in
       ("blob_ts", "blob_turn_idx", "blob_text_len", "blob_latency",
        "blob_conv_id", "blob_role", "blob_tool", "blob_text")]
    + [pa.field("encoded_bytes", pa.int64())]
)


def _encode_slice(tbl: pa.Table, text_level: int = 3) -> dict:
    """Encode one (already conv/turn/ts-sorted) slice into a single
    segment-row dict. Arrow-native: column extraction stays in Arrow,
    text bytes go straight from the (properly sliced) Arrow buffer into
    the codec — no Python string objects are ever materialized."""
    ts = tbl.column("ts_us").to_numpy(zero_copy_only=False).astype(np.int64)
    turn = tbl.column("turn_idx").to_numpy(zero_copy_only=False).astype(np.int64)
    tlen = tbl.column("text_len").to_numpy(zero_copy_only=False).astype(np.int64)
    lat = tbl.column("latency_s").to_numpy(zero_copy_only=False).astype(np.float64)
    conv_arr = tbl.column("conv_id").combine_chunks()
    # conversation-run starts (rows are conv-sorted): the latency codec's
    # derived mode stores only these rows' values explicitly
    if len(conv_arr) > 1:
        chg = pa.compute.not_equal(conv_arr.slice(1),
                                   conv_arr.slice(0, len(conv_arr) - 1))
        run_starts = np.r_[0, np.flatnonzero(
            chg.to_numpy(zero_copy_only=False)) + 1]
    else:
        run_starts = np.zeros(1, dtype=np.int64)
    blobs = {
        "blob_ts": int_encode(ts),
        "blob_turn_idx": int_encode(turn),
        "blob_text_len": int_encode(tlen),
        "blob_latency": latency_encode(lat, ts, run_starts),
        "blob_conv_id": dict_encode(conv_arr),
        "blob_role": dict_encode(tbl.column("role").combine_chunks()),
        "blob_tool": dict_encode(tbl.column("tool").combine_chunks()),
        # ext_lengths: pure-ASCII blocks (byte len == text_len char len)
        # store the lengths ONLY in blob_text_len; proven per block
        "blob_text": text_encode(tbl.column("text").combine_chunks(),
                                 level=text_level, ext_lengths=tlen),
    }
    return {
        "conv_bucket": int(tbl.column("conv_bucket")[0].as_py()),
        "time_chunk": int(tbl.column("time_chunk")[0].as_py()),
        "n_rows": len(ts),
        "n_convs": len(conv_arr.unique()),
        "conv_id_min": conv_arr[0].as_py(),     # rows are conv-sorted
        "conv_id_max": conv_arr[-1].as_py(),
        "min_ts_us": int(ts.min()),
        "max_ts_us": int(ts.max()),
        "text_len_min": int(tlen.min()),
        "text_len_max": int(tlen.max()),
        "text_len_sum": int(tlen.sum()),
        "latency_min": float(lat.min()),
        "latency_max": float(lat.max()),
        # whole micros, as operators/tiers.latency_us rounds them (a
        # literal: importing tiers would load pandas into every encode
        # worker, +0.4 s per Python worker start)
        "latency_us_sum": int(np.round(lat * 1e6).astype(np.int64).sum()),
        "turn_idx_min": int(turn.min()),
        "turn_idx_max": int(turn.max()),
        **blobs,
        "encoded_bytes": sum(len(b) for b in blobs.values()),
    }


def _encode_group_arrow(tbl: pa.Table,
                        target_rows: int = DEFAULT_SEGMENT_ROWS,
                        text_level: int = 3) -> pa.Table:
    """One encode group (conv_bucket, time_chunk) → one OR MORE segment
    rows: groups above `target_rows` are split at conversation
    boundaries into conv-range sub-segments (each >= target_rows, never
    splitting a conversation), so every emitted segment carries a tight
    [conv_id_min, conv_id_max] zone map. This is the per-vin read
    locality of the reference's block layout (TSFileService.java:598-737
    encodes one vin's rows per block; MapIndex.java:61-81 prunes per-vin
    index lists): a single-conversation query decodes only the
    sub-segments whose conv range covers it."""
    tbl = tbl.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending"),
                       ("ts_us", "ascending")])
    n = tbl.num_rows
    starts = [0]
    if n > target_rows:
        conv = tbl.column("conv_id").combine_chunks()
        # conv-run starts: positions where conv_id changes (vectorized)
        neq = pa.compute.not_equal(conv.slice(1), conv.slice(0, n - 1))
        bounds = np.flatnonzero(neq.to_numpy(zero_copy_only=False)) + 1
        last = 0
        for b in bounds:
            if b - last >= target_rows:
                starts.append(int(b))
                last = int(b)
        # a small final tail (every group slightly above target produces
        # one) would become an undersized segment — per-segment fixed
        # cost and compression both degrade below ~target/2 rows, so
        # merge it into its predecessor instead
        if len(starts) > 1 and n - starts[-1] < target_rows // 2:
            starts.pop()
    rows = [_encode_slice(tbl.slice(s, e - s), text_level=text_level)
            for s, e in zip(starts, starts[1:] + [n])]
    return pa.table({f.name: [r[f.name] for r in rows]
                     for f in _SEGMENT_PA_SCHEMA},
                    schema=_SEGMENT_PA_SCHEMA)


def encode_segments(canonical: DataFrame,
                    max_rows_per_conv: int | None = None,
                    segment_rows: int = DEFAULT_SEGMENT_ROWS,
                    text_level: int = 3) -> DataFrame:
    """canonical transcripts → encoded segment rows per (bucket, chunk),
    sub-split at conversation boundaries into >= segment_rows slices
    (see _encode_group_arrow — the conv zone map is what makes
    single-conversation reads prune).

    groupBy keys are the partition/zone columns, so the shuffle this
    induces is exactly the reference's shard routing; AQE coalesces or
    splits skewed groups at runtime.

    text_level is the zstd level for the text stream — the storage-heavy
    deployment knob (level 12 measured -1.2 B/turn at ~3x the text-encode
    CPU on the bench corpus; default 3 mirrors the reference's zstd-3,
    StringCompress.java envelope).

    max_rows_per_conv is the explicit skew valve the north_rule asks for:
    a hot conversation is split into deterministic turn-index runs of at
    most that many rows (salt = turn_idx // max_rows_per_conv), so no
    single pandas group — and no single shuffle partition — holds an
    unbounded conversation. The salt changes segment boundaries only,
    never content ordering: decode+sort output is identical.
    """
    # `ts` duplicates ts_us and the codecs never read it: dropping it
    # here keeps 8 bytes/row out of the JVM->Python Arrow transfer
    canonical = canonical.drop("ts")
    if max_rows_per_conv:
        salted = canonical.withColumn(
            "_seg_salt", F.floor(F.col("turn_idx") / F.lit(max_rows_per_conv)))
        def encode_salted(t: pa.Table) -> pa.Table:
            return _encode_group_arrow(t.drop_columns(["_seg_salt"]),
                                       target_rows=segment_rows,
                                       text_level=text_level)

        return (salted
                .groupBy("conv_bucket", "time_chunk", "_seg_salt")
                .applyInArrow(encode_salted, schema=SEGMENT_SCHEMA))

    def encode(t: pa.Table) -> pa.Table:
        return _encode_group_arrow(t, target_rows=segment_rows,
                                   text_level=text_level)

    return (
        canonical
        .groupBy("conv_bucket", "time_chunk")
        .applyInArrow(encode, schema=SEGMENT_SCHEMA)
    )


def decoded_row_schema(columns: list[str]) -> StructType:
    fields = {
        "conv_bucket": StructField("conv_bucket", IntegerType(), False),
        "time_chunk": StructField("time_chunk", LongType(), False),
        "conv_id": StructField("conv_id", StringType(), False),
        "turn_idx": StructField("turn_idx", IntegerType(), False),
        "role": StructField("role", StringType(), False),
        "text": StructField("text", StringType(), False),
        "tool": StructField("tool", StringType(), False),
        "ts_us": StructField("ts_us", LongType(), False),
        "text_len": StructField("text_len", LongType(), False),
        "latency_s": StructField("latency_s", DoubleType(), False),
    }
    return StructType([fields[c] for c in columns])


def decode_segments(segments: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """segments → per-turn rows, decoding only the requested columns.

    The column-list pushdown is the analog of the reference's per-column
    lazy decode (IntCompress.java:1299/1408 single/col-set entry points):
    untouched blobs are never decompressed, and parquet column pruning
    means they are never even read off disk.
    """
    columns = columns or ["conv_id", "turn_idx", "role", "text", "tool",
                          "ts_us", "text_len", "latency_s"]
    out_schema = decoded_row_schema(columns)
    needed_blobs = {_BLOB_OF[c] for c in columns if c in _BLOB_OF}
    if "latency_s" in columns:
        # the latency codec's derived mode reconstructs from ts deltas
        needed_blobs.add("blob_ts")
    if "text" in columns:
        # ext-length text blobs frame their stream with the text_len ints
        needed_blobs.add("blob_text_len")
    needed_blobs = sorted(needed_blobs)
    scan_cols = ["conv_bucket", "time_chunk", "n_rows", *needed_blobs]
    pa_fields = {
        "conv_bucket": pa.int32(), "time_chunk": pa.int64(),
        "conv_id": pa.string(), "turn_idx": pa.int32(), "role": pa.string(),
        "text": pa.string(), "tool": pa.string(), "ts_us": pa.int64(),
        "text_len": pa.int64(), "latency_s": pa.float64(),
    }
    out_pa_schema = pa.schema([pa.field(c, pa_fields[c]) for c in columns])

    def decode_iter(batches):
        # arrow-native: decoded bytes land in Arrow buffers directly;
        # strings never materialize as Python objects
        for batch in batches:
            d = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            for seg in range(batch.num_rows):
                arrs = []
                n = d["n_rows"][seg].as_py()
                ts_memo = None  # decode the ts blob at most once per segment
                tlen_memo = None  # likewise text_len (text framing + column)

                def ts_arr():
                    nonlocal ts_memo
                    if ts_memo is None:
                        ts_memo = int_decode(d["blob_ts"][seg].as_py())
                    return ts_memo

                def tlen_arr():
                    nonlocal tlen_memo
                    if tlen_memo is None:
                        tlen_memo = int_decode(d["blob_text_len"][seg].as_py())
                    return tlen_memo

                for c in columns:
                    if c == "conv_bucket":
                        arrs.append(pa.array(
                            np.full(n, d["conv_bucket"][seg].as_py(), dtype=np.int32)))
                    elif c == "time_chunk":
                        arrs.append(pa.array(
                            np.full(n, d["time_chunk"][seg].as_py(), dtype=np.int64)))
                    elif c == "ts_us":
                        arrs.append(pa.array(ts_arr()))
                    elif c == "text_len":
                        arrs.append(pa.array(tlen_arr()))
                    elif c == "turn_idx":
                        arrs.append(pa.array(
                            int_decode(d["blob_turn_idx"][seg].as_py()).astype(np.int32)))
                    elif c == "latency_s":
                        arrs.append(pa.array(latency_decode(
                            d["blob_latency"][seg].as_py(), ts_arr())))
                    elif c == "text":
                        blob = d["blob_text"][seg].as_py()
                        ext = bool(blob) and blob[0] in (
                            TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA)
                        arrs.append(text_decode_arrow(
                            blob, lengths=tlen_arr() if ext else None))
                    else:  # conv_id, role, tool
                        arrs.append(dict_decode_arrow(d[_BLOB_OF[c]][seg].as_py()))
                yield pa.RecordBatch.from_arrays(arrs, schema=out_pa_schema)

    return segments.select(*scan_cols).mapInArrow(decode_iter, schema=out_schema)


def with_ts(decoded: DataFrame) -> DataFrame:
    """Reattach a TimestampType view of ts_us."""
    return decoded.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


_MINUTE_US = 60 * 1_000_000  # the 1m tier grid


def segments_overlapping_minutes(segments: DataFrame, minutes: DataFrame,
                                 chunk_us: int) -> DataFrame:
    """The segments whose ts zone overlaps some minute of `minutes` (a
    small DataFrame with a `bucket_ms` column): a broadcast left-semi
    join keyed on the minute's time_chunk — exact, since chunk_us is a
    whole number of minutes (RollupPipeline validates it) — with the
    zone overlap as the join condition."""
    m_us = F.col("bucket_ms") * 1000
    return segments.join(
        F.broadcast(minutes.select("bucket_ms")),
        (F.col("time_chunk") == bucket_chunk(chunk_us))
        & (F.col("min_ts_us") < m_us + F.lit(_MINUTE_US))
        & (F.col("max_ts_us") >= m_us),
        "left_semi")


def time_range_from_segments(
    segments: DataFrame,
    conv_id: str,
    lb_ms: int,
    ub_ms: int,
    columns: list[str] | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Projected half-open range scan served from the COMPRESSED segment
    store — the reference's actual read path (TSFileService.java:297-447:
    route to the vin's shard, prune blocks by the index's min/max
    timestamp, decompress only the requested columns of the surviving
    blocks):

    - shard routing: conv_bucket == pmod(xxhash64(conv_id), n_buckets),
      constant-folded by Catalyst and pushed into the parquet scan;
    - zone-map pruning: min_ts_us/max_ts_us overlap predicates AND the
      conv-id zone map (conv_id_min <= conv_id <= conv_id_max over the
      conv-sorted sub-segments), all pushed down — segments that cannot
      hold the conversation are never read, so a single-conversation
      query decodes ~one sub-segment per chunk instead of the bucket's
      whole share of the range (the MapIndex.java:61-81 per-vin prune);
    - lazy decode: only the requested columns' blobs are decompressed
      (decode_segments column-list pushdown), then the exact row-level
      [lb, ub) filter runs on the decoded rows (straddling-block rows).
    """
    columns = columns or ["conv_id", "turn_idx", "role", "text", "tool",
                          "ts", "ts_us", "text_len", "latency_s"]
    need = list(dict.fromkeys(
        ["conv_id", "ts_us", *[c for c in columns if c != "ts"]]))
    lb_us, ub_us = lb_ms * 1000, ub_ms * 1000
    bucket = F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(n_buckets)).cast("int")
    pruned = segments.filter(
        (F.col("conv_bucket") == bucket)
        & (F.col("conv_id_min") <= F.lit(conv_id))
        & (F.col("conv_id_max") >= F.lit(conv_id))
        & (F.col("min_ts_us") < F.lit(ub_us))
        & (F.col("max_ts_us") >= F.lit(lb_us)))
    decoded = decode_segments(pruned, need)
    if "ts" in columns:
        decoded = with_ts(decoded)
    return (decoded.filter((F.col("conv_id") == conv_id)
                           & (F.col("ts_us") >= lb_us)
                           & (F.col("ts_us") < ub_us))
            .select(*columns))
