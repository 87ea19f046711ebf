"""Float64 column codec: scaled-int fast path + Gorilla fallback.

The canonical `latency_s` column is DERIVED as `latency_us / 1e6` — an
int64 in disguise (sources/segments.py canonicalize). Gorilla XOR treats
it as opaque mantissa bits and pays ~8 B/turn (measured: 32% of all
segment bytes); re-quantizing to the integer micros and running the
best-of-N int codec costs a fraction of that.

`float_encode` tries the scaled path first and PROVES it lossless per
block before committing: y = round(v * 1e6) must reconstruct v
**bit-exactly** (`(y / 1e6).view(int64) == v.view(int64)`), which
rejects NaN payloads, infinities, -0.0, values beyond the float64
integer range, and any double that is not an exact micros quotient —
those blocks fall back to the Gorilla planes codec unchanged. The check
is two vectorized passes, far cheaper than the Gorilla bit-plane build
it replaces on the fast path.

Wire: <u8 mode> <payload>, mode 0 = int_encode(round(v*1e6)),
mode 1 = gorilla_encode(v). Decode of mode 0 is `ints / 1e6` — the same
IEEE double division both Spark and DuckDB evaluate, hence bit-exact to
the canonical column by the encode-time proof.

Capability analog of the reference's double path
(`compress/DoubleCompress.java` dispatch + gorilla/ValueCompressor.java)
— the reference also special-cases doubles that are scaled integers.
"""

from __future__ import annotations

import numpy as np

from .dod import int_decode, int_encode
from .framing import pack_sections, unpack_sections
from .gorilla import gorilla_decode, gorilla_encode

FLOAT_MODE_SCALED, FLOAT_MODE_GORILLA = 0, 1
LATENCY_MODE_PLAIN, LATENCY_MODE_DERIVED = 0, 1

_SCALE = 1_000_000  # micros — the canonical latency quantum
# |scaled| bound: int64-safe AND float64-integer-exact after round
_MAX_SCALED = float(2**62)


def float_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.float64)
    if v.size == 0:
        return bytes([FLOAT_MODE_SCALED]) + int_encode(v.astype(np.int64))
    # inf * 1e6 -> inf and nan * 1e6 -> nan warn under numpy's default
    # errstate; both land in the isfinite reject below, so silence it
    with np.errstate(invalid="ignore", over="ignore"):
        scaled = v * _SCALE
    # isfinite also rejects NaN (round->astype(int64) is UB on those)
    if np.isfinite(scaled).all() and (np.abs(scaled) < _MAX_SCALED).all():
        yi = np.round(scaled).astype(np.int64)
        recon = yi / _SCALE
        if (recon.view(np.int64) == v.view(np.int64)).all():
            return bytes([FLOAT_MODE_SCALED]) + int_encode(yi)
    return bytes([FLOAT_MODE_GORILLA]) + gorilla_encode(v)


def latency_encode(v: np.ndarray, ts_us: np.ndarray,
                   run_starts: np.ndarray) -> bytes:
    """CROSS-COLUMN derived codec for the canonical latency column: within
    a conversation run, latency_s is BY CONSTRUCTION (ts_us[i] -
    ts_us[i-1]) / 1e6 (sources/segments.py canonicalize's lag window), so
    a segment sorted by (conv_id, turn_idx) need store only the
    first-of-run values — everything else reconstructs from the ts blob.
    Measured ~3.5 B/turn -> ~0.1 B/turn on the bench corpus.

    Capability analog of the reference's cross-column subtraction pairs
    (`compress/IntCompress.java:352-394` subSet encodes one int column as
    deltas against another) — but derived from the SCHEMA's definition of
    the column, not tuned to a dataset.

    The derived mode is PROVEN per block before committing (the float
    fast-path pattern): the reconstruction must equal the input
    bit-for-bit, which automatically rejects disordered history (a run's
    predecessor living in another chunk), NaN payloads, or any future
    change to the canonical derivation — those blocks fall back to the
    plain float codec unchanged.

    Wire: <u8 mode>; mode 0 = float_encode(v); mode 1 =
    sections(int_encode(run_starts), float_encode(v[run_starts])).
    Decode of mode 1 needs the decoded ts_us array (same IEEE int64/1e6
    division both sides, hence bit-exact by the encode-time proof)."""
    v = np.ascontiguousarray(v, dtype=np.float64)
    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    rs = np.ascontiguousarray(run_starts, dtype=np.int64)
    if v.size:
        cand = np.empty_like(v)
        if v.size > 1:
            cand[1:] = (ts[1:] - ts[:-1]) / _SCALE
        cand[rs] = v[rs]
        if (cand.view(np.int64) == v.view(np.int64)).all():
            return bytes([LATENCY_MODE_DERIVED]) + pack_sections(
                int_encode(rs), float_encode(v[rs]))
    return bytes([LATENCY_MODE_PLAIN]) + float_encode(v)


def latency_decode(blob: bytes, ts_us: np.ndarray) -> np.ndarray:
    mode = blob[0]
    if mode == LATENCY_MODE_PLAIN:
        return float_decode(blob[1:])
    if mode != LATENCY_MODE_DERIVED:
        raise ValueError(f"unknown latency codec mode {mode}")
    rs_b, firsts_b = unpack_sections(blob[1:], 2)
    rs = int_decode(rs_b)
    firsts = float_decode(firsts_b)
    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    out = np.empty(ts.size, dtype=np.float64)
    if ts.size > 1:
        out[1:] = (ts[1:] - ts[:-1]) / _SCALE
    out[rs] = firsts
    return out


def float_decode(blob: bytes) -> np.ndarray:
    mode = blob[0]
    if mode == FLOAT_MODE_SCALED:
        return int_decode(blob[1:]) / _SCALE
    if mode == FLOAT_MODE_GORILLA:
        return gorilla_decode(blob[1:])
    raise ValueError(
        f"unknown float codec mode {mode}: not a float_encode blob "
        "(re-encode segments written by an older codec version)")
