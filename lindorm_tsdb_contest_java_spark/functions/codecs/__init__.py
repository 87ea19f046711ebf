"""Pure-numpy block codecs (no Spark imports here).

These reimplement, from public knowledge (the Gorilla paper, standard
varint/ZigZag coding, zstd), the *capabilities* of the reference engine's
write-path compression (`/root/reference/src/.../compress/`):

- timestamps / int metrics : best-of-N {delta-of-delta, plain delta,
  raw zigzag, sorted dictionary} + ZigZag + varint, mode in a header byte
  (capability analog of LongCompress.java:13-30 and the per-column codec
  choice bitmap of IntCompress.java:1178-1297 — different algorithms,
  same job)
- float metrics            : Gorilla XOR, planes layout
  (analog of gorilla/ValueCompressor.java:33-91)
- low-cardinality strings  : per-block dictionary + zstd
  (analog of StringCompress.java:129-250)
- text payloads            : varint lengths + zstd over concatenated UTF-8
  (analog of the big-string path, TSFileService.java:662-667)

Every encoder AND decoder is vectorized numpy — no per-row Python
anywhere (the Gorilla planes layout exists precisely so the read path
needs no sequential token walk; the paper's interleaved bitstream has
no reader at all).
"""

# Wire-format version of the segment blob codecs. Bump on ANY incompatible
# blob-layout change; the rollup pipeline salts its chunk fingerprints with
# this (ops/pipeline.py) so segments written by an older version are
# REBUILT on the next run instead of misparsed (ADVICE r02), and segment
# snapshot commits record it in their meta for provenance.
#  v3: mode-byte int codec + 1/2/4-bit-packed dictionary codes
#  v4: blob_latency = float codec (mode byte: scaled-int | gorilla planes)
#  v5: conv-range sub-segments + conv_id_min/conv_id_max zone columns in
#      the segment schema (a v4 store's parquet lacks the columns every
#      committed read path now filters on)
#  v6: blob_latency = latency codec (mode byte: plain float codec |
#      ts-derived with first-of-run exceptions)
#  v7: int codec gains GCD-divided delta/dod modes (LongCompress.java's
#      seconds-granularity trick generalized to any common factor)
#  v8: blob_text gains ext-length modes: framing derives from the
#      text_len column — data-only for pure-ASCII blocks, else varint
#      (byte_len - char_len) continuation-byte deltas — so the per-row
#      lengths are stored once per segment instead of twice
#  v9: int codec gains MODE_PACK: fixed-width PFOR packing of the
#      (gcd-reduced) delta/dod zigzag stream with a patched exception
#      list (the reference's Simple-8b word packing, Simple8.java:56-215),
#      adopted per block only when the final blob is shorter than the
#      zstd'd varint winner
#  v10: blob_text gains MODE_TOKENS: per-block token dictionary (rows
#      split on ' ', distinct tokens + per-row counts + ids, zstd
#      envelope) — the transcript-aware word-redundancy lever, adopted
#      per block only when byte-for-byte shorter than the best
#      length-framed stream
#  v11: no blob layout change; the tier and segment-stat schemas store the
#      latency sum as int64 micros (latency_sum double -> latency_us_sum),
#      so a v10 store would mix two tier schemas in one table
CODEC_VERSION = 11

from .varint import (
    zigzag_encode, zigzag_decode, varint_encode, varint_decode, varint_size,
)
from .dod import int_encode, int_decode
from .gorilla import gorilla_encode, gorilla_decode
from .floats import (
    float_encode, float_decode, latency_encode, latency_decode,
)
from .strings import dict_encode, dict_decode, text_encode, text_decode
from .framing import zstd_compress, zstd_decompress

__all__ = [
    "CODEC_VERSION",
    "zigzag_encode", "zigzag_decode", "varint_encode", "varint_decode",
    "varint_size",
    "int_encode", "int_decode",
    "gorilla_encode", "gorilla_decode",
    "float_encode", "float_decode", "latency_encode", "latency_decode",
    "dict_encode", "dict_decode", "text_encode", "text_decode",
    "zstd_compress", "zstd_decompress",
]
