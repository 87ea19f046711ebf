"""Int64 column codec: a best-of-N chooser over delta-of-delta and friends.

Capability analog of the reference's timestamp codec
(`compress/LongCompress.java:13-30`: sorted deltas + Simple-8b), its
int-column delta paths (`compress/IntCompress.java:541-`), and its
per-column codec-choice bitmap (`compress/IntCompress.java:1178-1297`:
each column records which of several encodings won), per the target
spec ("delta-of-delta + ZigZag varint for timestamps/turn_idx").

`int_encode`/`int_decode` — per-block best-of-N with a header byte:
ranks {dod, plain-delta, raw-zigzag, sorted-dictionary} by their exact
pre-zstd varint size (computed vectorized WITHOUT encoding all four) and
encodes only the winner. The zstd-3 envelope collapses the long zero
runs a regular grid's dod stream produces (the reference gets the same
effect from Simple-8b's 240-zeros-per-word selector plus its own zstd
envelope). Timestamps keep choosing dod; a non-monotonic column like
text_len — whose delta-of-deltas are LARGER than its deltas — gets plain
delta, raw, or the dictionary instead of paying dod's inflation.
Arithmetic is mod 2^64 on both sides, so round-trip is exact even for
adversarial full-range inputs. Wire: <u8 mode> <u64le n> <mode payload>.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitpack import (
    pack_codes, pack_words, packed_size, unpack_codes, unpack_words,
    width_for,
)
from .framing import pack_sections, unpack_sections, zstd_compress, zstd_decompress
from .varint import (
    varint_decode, varint_encode, varint_size, zigzag_decode, zigzag_encode,
)

_HDR = struct.Struct("<Q")
_I64 = struct.Struct("<q")


# ---------- best-of-N int codec with a mode header byte ----------

MODE_DOD, MODE_DELTA, MODE_RAW, MODE_DICT = 0, 1, 2, 3
MODE_DELTA_GCD, MODE_DOD_GCD = 4, 5
# PFOR: fixed-width packed (delta|dod)/gcd zigzag stream + a patched
# exception list — the reference's Simple-8b word packing
# (compress/Simple8.java:56-215, used by LongCompress.java:13-30)
# re-expressed as patch-frame-of-reference. Varint+zstd pays ~8 bits of
# framing per value that near-entropy streams (ms-grid ts deltas) never
# earn back; a fixed width at the ~P98 bit length + varint exceptions
# beats it by ~15% on such streams. Chosen ONLY when the final blob is
# byte-for-byte shorter than the best varint-mode blob.
MODE_PACK = 6
_PFOR_HDR = struct.Struct("<BBI")  # base kind (0=delta,1=dod), width, n_exc


# MODE_PACK fixed framing bytes: mode + n + first + gcd + PFOR header +
# three pack_sections length words
_PFOR_FIXED = 1 + _HDR.size + 2 * _I64.size + _PFOR_HDR.size + 3 * 8


def _pfor_blob(zz: np.ndarray, first: int, g: int, kind: int,
               budget: int | None = None) -> bytes | None:
    """MODE_PACK blob for a zigzag stream: pick the fixed width w
    minimizing packed_base + exception bytes (exact suffix-sum scan over
    the 64 candidate widths), pack values < 2^w densely, and patch the
    rest as (position-delta varints, value varints).

    `budget` is the competing blob's length: when even the scan's
    payload estimate plus fixed framing cannot beat it, return None
    WITHOUT building the bitstream — the pack_words bit matrix is the
    expensive part and most text-era streams lose to the zstd'd varint
    winner (r05 review: don't pay 2x encode for losing candidates). The
    estimate slightly undercounts (varint position deltas assumed 2 B),
    so a marginal candidate is still built and the final byte-for-byte
    comparison stays exact."""
    zzu = zz.astype(np.uint64)
    n = zzu.size
    srt = np.sort(zzu)
    # varint byte cost of each sorted value (cost model only — the
    # float log2 is inexact above 2^53, harmless for width choice)
    bl = np.ones(n)
    nz = srt > 0
    bl[nz] = np.floor(np.log2(srt[nz].astype(np.float64))) + 1
    vb = np.maximum(np.ceil(bl / 7), 1)
    # suffix_vb[i] = varint bytes of srt[i:] (the exceptions at width w)
    suffix_vb = np.concatenate([np.cumsum(vb[::-1])[::-1], [0.0]])
    best_w, best_cost = 64, None
    for w in range(1, 65):
        idx = n if w >= 64 else int(
            np.searchsorted(srt, np.uint64(1) << np.uint64(w), side="left"))
        n_exc = n - idx
        cost = (n * w + 7) // 8 + suffix_vb[idx] + 2 * n_exc
        if best_cost is None or cost < best_cost:
            best_cost, best_w = cost, w
    if budget is not None and best_cost + _PFOR_FIXED >= budget:
        return None
    w = best_w
    exc = (zzu >= (np.uint64(1) << np.uint64(w))) if w < 64 \
        else np.zeros(n, dtype=bool)
    base = np.where(exc, np.uint64(0), zzu)
    pos = np.flatnonzero(exc).astype(np.uint64)
    pos_d = np.diff(pos, prepend=np.uint64(0))
    return (bytes([MODE_PACK]) + _HDR.pack(n + 1) + _I64.pack(first)
            + _I64.pack(g) + _PFOR_HDR.pack(kind, w, pos.size)
            + pack_sections(varint_encode(pos_d), varint_encode(zzu[exc]),
                            pack_words(base, w)))


def _stream_gcd(stream: np.ndarray) -> int:
    """GCD of the stream's nonzero magnitudes, 1 when trivial. The
    generalization of the reference's seconds-granularity timestamp trick
    (`compress/LongCompress.java:13-30` divides sorted-ts deltas by 1000):
    ms-granularity data carried in a microsecond axis has every delta
    divisible by 1000, and dividing it out before varint coding drops
    ~10 bits/value that zstd only partially recovers."""
    nz = stream[stream != 0]
    if nz.size == 0:
        return 1
    # int64-min has no abs; such a stream can't have a gcd > 1 anyway
    if (nz == np.iinfo(np.int64).min).any():
        return 1
    return int(np.gcd.reduce(np.abs(nz)))


def int_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = v.size
    if n == 0:
        return bytes([MODE_RAW]) + _HDR.pack(0)
    zz_raw = zigzag_encode(v)
    if n == 1:
        return (bytes([MODE_RAW]) + _HDR.pack(1)
                + zstd_compress(varint_encode(zz_raw)))

    deltas = np.diff(v)
    dod = np.empty(n - 1, dtype=np.int64)
    dod[0] = deltas[0]
    np.subtract(deltas[1:], deltas[:-1], out=dod[1:])
    zz_delta = zigzag_encode(deltas)
    zz_dod = zigzag_encode(dod)
    sizes = {
        MODE_RAW: varint_size(zz_raw),
        MODE_DELTA: 8 + varint_size(zz_delta),
        MODE_DOD: 8 + varint_size(zz_dod),
    }
    g_delta = _stream_gcd(deltas)
    if g_delta > 1:
        zz_delta_g = zigzag_encode(deltas // g_delta)
        sizes[MODE_DELTA_GCD] = 16 + varint_size(zz_delta_g)
    g_dod = _stream_gcd(dod)
    if g_dod > 1:
        zz_dod_g = zigzag_encode(dod // g_dod)
        sizes[MODE_DOD_GCD] = 16 + varint_size(zz_dod_g)
    uniq, codes = np.unique(v, return_inverse=True)
    zz_uduniq = None
    pack_w = 0
    if uniq.size <= max(16, n // 4):
        ud = np.empty(uniq.size, dtype=np.int64)
        ud[0] = uniq[0]
        np.subtract(uniq[1:], uniq[:-1], out=ud[1:])
        zz_uduniq = zigzag_encode(ud)
        # 1/2/4-bit packed codes when cardinality permits (the reference's
        # StringCompress.java:129-250 trick), varints otherwise
        pack_w = width_for(int(uniq.size) - 1)
        code_bytes = (packed_size(n, pack_w) if pack_w
                      else varint_size(codes.astype(np.uint64)))
        sizes[MODE_DICT] = (varint_size(np.asarray([uniq.size, pack_w], np.uint64))
                            + varint_size(zz_uduniq) + code_bytes)
    mode = min(sizes, key=sizes.get)

    if mode == MODE_RAW:
        payload = varint_encode(zz_raw)
        blob = bytes([mode]) + _HDR.pack(n) + zstd_compress(payload)
    elif mode == MODE_DICT:
        payload = pack_sections(
            varint_encode(np.asarray([uniq.size, pack_w], np.uint64)),
            varint_encode(zz_uduniq),
            pack_codes(codes, pack_w) if pack_w
            else varint_encode(codes.astype(np.uint64)),
        )
        blob = bytes([mode]) + _HDR.pack(n) + zstd_compress(payload)
    elif mode == MODE_DELTA_GCD:
        blob = (bytes([mode]) + _HDR.pack(n) + _I64.pack(int(v[0]))
                + _I64.pack(g_delta) + zstd_compress(varint_encode(zz_delta_g)))
    elif mode == MODE_DOD_GCD:
        blob = (bytes([mode]) + _HDR.pack(n) + _I64.pack(int(v[0]))
                + _I64.pack(g_dod) + zstd_compress(varint_encode(zz_dod_g)))
    else:
        stream = zz_delta if mode == MODE_DELTA else zz_dod
        blob = (bytes([mode]) + _HDR.pack(n) + _I64.pack(int(v[0]))
                + zstd_compress(varint_encode(stream)))

    # PFOR candidates over the (gcd-reduced) delta and dod streams,
    # adopted only when the FINAL blob is byte-for-byte shorter than the
    # zstd'd varint winner above — the choice is exact, never a model.
    # The budget lets losing candidates bail after the cheap cost scan.
    first = int(v[0])
    budget = len(blob)
    pack_d = _pfor_blob(zz_delta_g if g_delta > 1 else zz_delta,
                        first, g_delta if g_delta > 1 else 1, 0,
                        budget=budget)
    if pack_d is not None and len(pack_d) < budget:
        blob, budget = pack_d, len(pack_d)
    pack_o = _pfor_blob(zz_dod_g if g_dod > 1 else zz_dod,
                        first, g_dod if g_dod > 1 else 1, 1,
                        budget=budget)
    if pack_o is not None and len(pack_o) < budget:
        blob = pack_o
    return blob


def int_decode(blob: bytes) -> np.ndarray:
    mode = blob[0]
    if mode == MODE_PACK:
        (n,) = _HDR.unpack_from(blob, 1)
        (first,) = _I64.unpack_from(blob, 9)
        (g,) = _I64.unpack_from(blob, 17)
        kind, w, n_exc = _PFOR_HDR.unpack_from(blob, 25)
        pos_b, val_b, base_b = unpack_sections(blob[25 + _PFOR_HDR.size:], 3)
        base = unpack_words(base_b, n - 1, w)
        if n_exc:
            pos = np.cumsum(varint_decode(pos_b, n_exc))
            base[pos] = varint_decode(val_b, n_exc)
        stream = zigzag_decode(base) * g
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        if kind == 1:  # dod
            np.add(first, np.cumsum(np.cumsum(stream)), out=out[1:])
        else:          # delta
            np.add(first, np.cumsum(stream), out=out[1:])
        return out
    if mode > MODE_DOD_GCD:
        # strict: an unknown mode byte means a foreign/stale blob (e.g. a
        # pre-mode-byte dod stream, whose leading u64 n aliases this byte).
        # Falling through to a delta parse would decode garbage (ADVICE
        # r02) — fail loudly; stale segments are rebuilt via the pipeline's
        # CODEC_VERSION-salted fingerprints.
        raise ValueError(
            f"unknown int codec mode {mode}: not an int_encode blob "
            "(re-encode segments written by an older codec version)")
    (n,) = _HDR.unpack_from(blob, 1)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if mode == MODE_RAW:
        return zigzag_decode(varint_decode(zstd_decompress(blob[9:]), n))
    if mode == MODE_DICT:
        hdr_b, ud_b, codes_b = unpack_sections(zstd_decompress(blob[9:]), 3)
        nu, pack_w = (int(x) for x in varint_decode(hdr_b, 2))
        uniq = np.cumsum(zigzag_decode(varint_decode(ud_b, nu)))
        codes = (unpack_codes(codes_b, n, pack_w) if pack_w
                 else varint_decode(codes_b, n).astype(np.int64))
        return uniq[codes]
    (first,) = _I64.unpack_from(blob, 9)
    if n == 1:
        return np.array([first], dtype=np.int64)
    if mode in (MODE_DELTA_GCD, MODE_DOD_GCD):
        (g,) = _I64.unpack_from(blob, 17)
        stream = zigzag_decode(varint_decode(zstd_decompress(blob[25:]), n - 1)) * g
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        if mode == MODE_DOD_GCD:
            np.add(first, np.cumsum(np.cumsum(stream)), out=out[1:])
        else:
            np.add(first, np.cumsum(stream), out=out[1:])
        return out
    stream = zigzag_decode(varint_decode(zstd_decompress(blob[17:]), n - 1))
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    if mode == MODE_DOD:
        np.add(first, np.cumsum(np.cumsum(stream)), out=out[1:])
    else:  # MODE_DELTA
        np.add(first, np.cumsum(stream), out=out[1:])
    return out
