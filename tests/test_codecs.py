"""Round-trip property tests for the pure-numpy block codecs (no Spark).

Edge cases mirror FIXTURES.md §4: constants, monotone ramps, full-range
ints incl. the 0x80000000 sentinel, NaN bit patterns, ±0.0, denormals,
±inf, empty/single-element arrays, dict-threshold cardinalities,
multibyte UTF-8 and empty strings.
"""

import math
import struct

import numpy as np
import pytest

from lindorm_tsdb_contest_java_spark.functions.codecs import (
    dict_decode, dict_encode,
    gorilla_decode, gorilla_encode, int_decode, int_encode,
    text_decode, text_encode,
    varint_decode, varint_encode, zigzag_decode, zigzag_encode,
    zstd_compress, zstd_decompress,
)

RNG = np.random.default_rng(42)


# ---------- zigzag / varint ----------

INT64_CASES = [
    np.zeros(0, dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([-1, 0, 1], dtype=np.int64),
    np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, -(2**31)], dtype=np.int64),
    np.full(1000, 7, dtype=np.int64),
    np.arange(-500, 500, dtype=np.int64),
    RNG.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 5000, dtype=np.int64),
    RNG.integers(-4, 4, 5000, dtype=np.int64),
]


@pytest.mark.parametrize("arr", INT64_CASES, ids=range(len(INT64_CASES)))
def test_zigzag_varint_roundtrip(arr):
    zz = zigzag_encode(arr)
    assert (zigzag_decode(zz) == arr).all()
    buf = varint_encode(zz)
    back = varint_decode(buf, len(zz))
    assert (back == zz).all()


def test_varint_small_values_one_byte():
    assert len(varint_encode(np.arange(128, dtype=np.uint64))) == 128


def test_varint_truncated_raises():
    with pytest.raises(ValueError):
        varint_decode(b"\x80", 1)


# ---------- gorilla ----------

def _bits(*patterns):
    return np.array(patterns, dtype=np.uint64).view(np.float64)


FLOAT_CASES = [
    np.zeros(0, dtype=np.float64),
    np.array([0.0]),
    np.array([-0.0, 0.0, -0.0]),
    np.full(777, 3.141592653589793),
    np.array([np.inf, -np.inf, np.nan, 0.0, -0.0, 5e-324, np.finfo(np.float64).max]),
    _bits(0x7FF0000000000001, 0xFFF8000000000000, 0x7FF8DEADBEEF0001),  # NaN payloads
    np.arange(10_000, dtype=np.float64) * 0.001,
    np.cumsum(RNG.normal(0, 1, 5000)),
    RNG.uniform(0, 1000, 5000),
    RNG.integers(0, 4, 2048).astype(np.float64),
]


@pytest.mark.parametrize("arr", FLOAT_CASES, ids=range(len(FLOAT_CASES)))
def test_gorilla_roundtrip_bit_exact(arr):
    back = gorilla_decode(gorilla_encode(arr))
    assert back.shape == arr.shape
    assert (back.view(np.uint64) == arr.view(np.uint64)).all()


def test_gorilla_constant_run_is_tiny():
    arr = np.full(10_000, 12.5)
    blob = gorilla_encode(arr)
    # first value 64 bits + 1 bit per repeat + headers
    assert len(blob) <= 16 + 8 + (10_000 // 8) + 16


def test_gorilla_decoder_rejects_paper_layout_stream():
    # a hand-built paper-layout stream (header <u64 n> <u64 total_bits>,
    # no planes flag) with a '11' new-window and a '10' reuse token:
    # nothing writes this layout, so the decoder refuses it rather than
    # misparse it as planes
    v0 = struct.unpack("<Q", struct.pack("<d", 1.0))[0]
    bits = []
    def put(val, nb):
        for i in range(nb):
            bits.append((val >> i) & 1)
    put(v0, 64)
    put(0b11, 2); put(12, 5); put(0, 6); put(1, 1)   # '11' lead=12 sig=1 sigval=1
    put(0b01, 2); put(1, 1)                          # '10' reuse, sigval=1
    total = len(bits)
    words = np.zeros((total + 63) // 64, dtype=np.uint64)
    for i, b in enumerate(bits):
        if b:
            words[i >> 6] |= np.uint64(1) << np.uint64(i & 63)
    blob = struct.pack("<QQ", 3, total) + words.tobytes()
    with pytest.raises(ValueError, match="planes flag"):
        gorilla_decode(blob)
    # an empty paper-layout header is refused too
    with pytest.raises(ValueError, match="planes flag"):
        gorilla_decode(struct.pack("<QQ", 0, 0))


# ---------- strings ----------

STRING_CASES = [
    [],
    [""],
    ["a"],
    ["", "", ""],
    ["user", "assistant", "user", "tool", "assistant"] * 100,
    ["наши", "日本語テキスト", "emoji 🙂🙃", "", "plain ascii", "ñandú"] * 7,
    [f"unique-{i}" for i in range(500)],
    ["x" * 4000, "", "y" * 1, "多字节" * 500],
    ["", "\x00"],  # NUL vs empty must stay distinct (r05 factorize bug)
    ["\x00", "\x00\x00", "a\x00b", "", "a"] * 20,
]


@pytest.mark.parametrize("vals", STRING_CASES, ids=range(len(STRING_CASES)))
def test_text_roundtrip(vals):
    back = text_decode(text_encode(vals))
    assert list(back) == vals


@pytest.mark.parametrize("vals", STRING_CASES, ids=range(len(STRING_CASES)))
def test_dict_roundtrip(vals):
    back = dict_decode(dict_encode(vals))
    assert list(back) == vals


def test_dict_threshold_paths():
    # <=4 distinct -> dict path like the reference; 5+ also works (general dict)
    four = ["a", "b", "c", "d"] * 64
    five = ["a", "b", "c", "d", "e"] * 64
    assert list(dict_decode(dict_encode(four))) == four
    assert list(dict_decode(dict_encode(five))) == five
    # high-cardinality falls back to raw but still round-trips
    uniq = [f"u{i}" for i in range(256)]
    assert list(dict_decode(dict_encode(uniq))) == uniq


def test_dict_low_cardinality_is_small():
    vals = ["user", "assistant"] * 5000
    blob = dict_encode(vals)
    assert len(blob) < 1000  # 10k strings -> <1KB


# ---------- zstd framing ----------

def test_zstd_roundtrip():
    data = RNG.bytes(100_000)
    assert zstd_decompress(zstd_compress(data)) == data
    assert zstd_decompress(zstd_compress(b"")) == b""


# ---------- throughput sanity (encode is the graded path) ----------

def test_encode_throughput_floor():
    import time
    ts = np.cumsum(RNG.integers(1, 30_000, 500_000)).astype(np.int64)
    fl = RNG.uniform(0, 100, 500_000)
    t0 = time.perf_counter()
    int_encode(ts)
    t1 = time.perf_counter()
    gorilla_encode(fl)
    t2 = time.perf_counter()
    assert (t1 - t0) < 2.0, f"int encode too slow: {t1-t0:.2f}s for 500k"
    assert (t2 - t1) < 2.0, f"gorilla encode too slow: {t2-t1:.2f}s for 500k"


# ---------- best-of-N int codec ----------

from lindorm_tsdb_contest_java_spark.functions.codecs.dod import (
    MODE_DELTA, MODE_DICT, MODE_DOD, MODE_RAW,
)


@pytest.mark.parametrize("arr", INT64_CASES, ids=range(len(INT64_CASES)))
def test_int_codec_roundtrip(arr):
    assert (int_decode(int_encode(arr)) == arr).all()


def test_int_codec_picks_dod_for_regular_grid():
    ts = np.arange(0, 36_000_000, 1000, dtype=np.int64)
    blob = int_encode(ts)
    assert blob[0] == MODE_DOD
    assert len(blob) < len(ts) * 0.01 + 64


def test_int_codec_avoids_dod_for_nonmonotone():
    """text_len-shaped data: random lengths — delta-of-delta INFLATES the
    deltas, so the chooser must pick another mode. Pinned to the measured
    size; a plain dod stream of the same data was 12052 bytes."""
    rng = np.random.default_rng(3)
    tlen = rng.integers(5, 400, 8000).astype(np.int64)
    blob = int_encode(tlen)
    assert blob[0] != MODE_DOD
    assert len(blob) == 10054
    assert (int_decode(blob) == tlen).all()


def test_int_codec_piecewise_monotone():
    # several conversations concatenated: deltas jump negative at boundaries
    parts = [np.cumsum(RNG.integers(1, 30_000, RNG.integers(1, 50))) + RNG.integers(0, 10**12)
             for _ in range(20)]
    arr = np.concatenate(parts).astype(np.int64)
    assert (int_decode(int_encode(arr)) == arr).all()


def test_int_codec_picks_dict_for_low_cardinality():
    rng = np.random.default_rng(4)
    v = rng.choice(np.array([7, 9, 1_000_003, -5], dtype=np.int64), 10_000)
    blob = int_encode(v)
    assert blob[0] == MODE_DICT
    assert (int_decode(blob) == v).all()


def test_int_codec_modes_all_decodable():
    # tiny arrays exercise the n==0/1 paths
    for arr in ([], [5], [5, -7], [2**62, -2**62]):
        a = np.array(arr, dtype=np.int64)
        assert (int_decode(int_encode(a)) == a).all()


# ---------- bit-packed dictionary codes ----------

from lindorm_tsdb_contest_java_spark.functions.codecs.bitpack import (
    pack_codes, unpack_codes, width_for,
)


def test_width_for_thresholds():
    assert width_for(0) == 1 and width_for(1) == 1
    assert width_for(2) == 2 and width_for(3) == 2
    assert width_for(4) == 4 and width_for(15) == 4
    assert width_for(16) == 0  # too wide: varint fallback


@pytest.mark.parametrize("width", [1, 2, 4])
@pytest.mark.parametrize("n", [0, 1, 7, 8, 9, 1000])
def test_bitpack_roundtrip(width, n):
    rng = np.random.default_rng(width * 100 + n)
    codes = rng.integers(0, 1 << width, n).astype(np.int64)
    buf = pack_codes(codes, width)
    assert len(buf) == -(-n * width // 8)  # ceil(n*width/8)
    assert (unpack_codes(buf, n, width) == codes).all()


def test_int_dict_codes_are_bitpacked():
    """4 distinct values -> 2-bit codes: the code stream costs n/4 bytes
    pre-zstd instead of n varint bytes."""
    rng = np.random.default_rng(11)
    v = rng.choice(np.array([3, 5, 9, 11], dtype=np.int64), 8000)
    blob = int_encode(v)
    assert blob[0] == MODE_DICT
    assert (int_decode(blob) == v).all()
    # 2 distinct values: 1-bit packing
    v2 = rng.choice(np.array([0, 10_000], dtype=np.int64), 8000)
    assert (int_decode(int_encode(v2)) == v2).all()
    # 17+ distinct values: varint fallback path still round-trips
    v3 = rng.choice(np.arange(40, dtype=np.int64) * 1000, 8000)
    assert (int_decode(int_encode(v3)) == v3).all()


def test_string_dict_codes_bitpacked_roundtrip():
    rng = np.random.default_rng(12)
    for card in (1, 2, 3, 4, 5, 16, 17):
        uniq = [f"val-{i}" for i in range(card)]
        vals = [uniq[i] for i in rng.integers(0, card, 5000)]
        assert list(dict_decode(dict_encode(vals))) == vals


def test_int_decode_rejects_unknown_mode():
    """A legacy pre-mode-byte dod stream starts <u64 n> <i64 first>: its
    low byte aliases the mode byte. Any mode > MODE_DICT must raise,
    never fall through to a garbage delta parse (ADVICE r02)."""
    legacy = struct.pack("<Q", 1000) + struct.pack("<q", 0)  # n=1000 -> 0xe8
    assert legacy[0] == 0xe8 > MODE_DICT
    with pytest.raises(ValueError, match="unknown int codec mode"):
        int_decode(legacy)


def test_string_decode_rejects_unknown_mode():
    blob = bytes([7]) + b"\x00" * 16
    with pytest.raises(ValueError):
        dict_decode(blob)


# ---------- float codec (scaled-int fast path + gorilla fallback) ----------

from lindorm_tsdb_contest_java_spark.functions.codecs.floats import (  # noqa: E402
    FLOAT_MODE_GORILLA, FLOAT_MODE_SCALED, float_decode, float_encode,
)


def test_float_scaled_path_on_micros_quotients():
    us = RNG.integers(0, 3_600_000_000, size=4096)
    lat = us / 1e6
    blob = float_encode(lat)
    assert blob[0] == FLOAT_MODE_SCALED
    assert (float_decode(blob).view(np.uint64) == lat.view(np.uint64)).all()
    # and it beats gorilla on its home turf
    assert len(blob) < len(gorilla_encode(lat))


@pytest.mark.parametrize("arr", FLOAT_CASES, ids=range(len(FLOAT_CASES)))
def test_float_roundtrip_bit_exact_all_cases(arr):
    back = float_decode(float_encode(arr))
    assert back.shape == arr.shape
    assert (back.view(np.uint64) == arr.view(np.uint64)).all()


def test_float_fallback_rejects_non_quotients():
    for arr in [
        np.array([0.1, 0.2, np.pi]),                  # not micros quotients
        np.array([np.nan, 1.0]),                      # NaN payload
        np.array([np.inf, -np.inf]),                  # infinities
        np.array([-0.0, 1.0]),                        # -0.0 sign bit
        np.array([2.0**63, 1.0]),                     # beyond int64 scale
    ]:
        blob = float_encode(arr)
        assert blob[0] == FLOAT_MODE_GORILLA
        assert (float_decode(blob).view(np.uint64) == arr.view(np.uint64)).all()


def test_float_unknown_mode_rejected():
    with pytest.raises(ValueError, match="unknown float codec mode"):
        float_decode(bytes([9, 0, 0]))


def test_float_empty_and_single():
    assert float_decode(float_encode(np.array([], np.float64))).size == 0
    one = float_decode(float_encode(np.array([2.5])))
    assert one.tolist() == [2.5]


# ---------- latency codec (ts-derived cross-column mode) ----------

def test_latency_derived_roundtrip_and_size():
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        float_encode, latency_decode, latency_encode,
    )
    rng = np.random.default_rng(3)
    # 3 conversation runs over a shared ts axis, micros with noise
    ts = np.cumsum(rng.integers(1_000_000, 90_000_000, size=3000)).astype(np.int64)
    run_starts = np.array([0, 1000, 2200], dtype=np.int64)
    lat = np.empty(3000)
    lat[1:] = (ts[1:] - ts[:-1]) / 1e6
    lat[run_starts] = [0.0, 0.0, 12.5]
    blob = latency_encode(lat, ts, run_starts)
    assert blob[0] == 1  # derived mode chosen
    got = latency_decode(blob, ts)
    assert (got.view(np.int64) == lat.view(np.int64)).all()
    # the whole point: orders of magnitude below the plain float codec
    assert len(blob) < len(float_encode(lat)) / 20


def test_latency_fallback_when_not_derivable():
    """Any mismatch (disordered history, NaN payloads, arbitrary floats)
    must fall back to the plain float codec, bit-exactly."""
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        latency_decode, latency_encode,
    )
    rng = np.random.default_rng(4)
    ts = np.cumsum(rng.integers(1, 10**7, size=500)).astype(np.int64)
    for lat in (
        rng.standard_normal(500),                          # unrelated floats
        np.where(np.arange(500) == 7, np.nan, 1.0),        # NaN payload
        np.r_[(ts[1] - ts[0]) / 1e6, rng.standard_normal(499)],
    ):
        lat = np.ascontiguousarray(lat, dtype=np.float64)
        blob = latency_encode(lat, ts, np.array([0], dtype=np.int64))
        assert blob[0] == 0  # plain mode
        got = latency_decode(blob, ts)
        assert (got.view(np.int64) == lat.view(np.int64)).all()


def test_latency_empty_and_single():
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        latency_decode, latency_encode,
    )
    e = latency_encode(np.zeros(0), np.zeros(0, dtype=np.int64),
                       np.zeros(0, dtype=np.int64))
    assert latency_decode(e, np.zeros(0, dtype=np.int64)).size == 0
    one = latency_encode(np.array([4.25]), np.array([99], dtype=np.int64),
                         np.array([0], dtype=np.int64))
    got = latency_decode(one, np.array([99], dtype=np.int64))
    assert got.tolist() == [4.25]


def test_int_gcd_mode_roundtrip_and_wins_on_ms_grid():
    """ms-granularity timestamps on a microsecond axis: every delta is a
    multiple of 1000 — the GCD mode (LongCompress.java's /1000 trick
    generalized) must win the chooser and round-trip exactly."""
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        int_decode, int_encode,
    )
    import struct
    from lindorm_tsdb_contest_java_spark.functions.codecs.dod import (
        MODE_DELTA_GCD, MODE_DOD_GCD, MODE_PACK,
    )
    rng = np.random.default_rng(6)
    ts = np.cumsum(rng.integers(1, 60_000, size=4000) * 1000).astype(np.int64)
    blob = int_encode(ts)
    # the /1000 trick must fire: either a GCD varint mode, or the PFOR
    # pack mode carrying gcd=1000 in its header (v9: the pack mode wins
    # on this stream — fixed 16-bit words beat 3-byte varints)
    assert blob[0] in (MODE_DELTA_GCD, MODE_DOD_GCD, MODE_PACK), blob[0]
    if blob[0] == MODE_PACK:
        (g,) = struct.unpack_from("<q", blob, 17)
        assert g == 1000, g
    assert (int_decode(blob) == ts).all()
    # and it actually saves vs a forced non-gcd encode of the same data
    noisy = ts + rng.integers(0, 2, size=4000)  # breaks the gcd
    assert int_encode(noisy)[0] not in (MODE_DELTA_GCD, MODE_DOD_GCD)
    assert len(blob) < len(int_encode(noisy))


def test_int_gcd_mode_negative_and_extreme():
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        int_decode, int_encode,
    )
    # negative deltas divisible by a gcd
    v = np.int64([0, -7000, 14000, 7000, -21000])
    assert (int_decode(int_encode(v)) == v).all()
    # int64-min delta present: gcd path must bow out, round-trip intact
    v2 = np.int64([0, np.iinfo(np.int64).min, 0])
    assert (int_decode(int_encode(v2)) == v2).all()


# ---- ext-length text mode (wire v8) ----

def test_text_extlen_mode_on_ascii():
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN, text_decode_arrow, text_encode,
    )
    vals = ["hello", "", "world " * 40, "x"]
    lens = np.array([len(v.encode()) for v in vals], dtype=np.int64)
    blob = text_encode(vals, ext_lengths=lens)
    assert blob[0] == TEXT_MODE_EXTLEN
    out = text_decode_arrow(blob, lengths=lens).to_pylist()
    assert out == vals
    # the self-contained stream embeds the lengths a second time
    assert len(blob) < len(text_encode(vals))


def test_text_extlen_non_ascii_takes_delta_mode():
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA, text_decode_arrow,
        text_encode,
    )
    vals = ["héllo", "naïve"]  # char length != UTF-8 byte length
    char_lens = np.array([len(v) for v in vals], dtype=np.int64)
    blob = text_encode(vals, ext_lengths=char_lens)
    assert blob[0] == TEXT_MODE_EXTLEN_DELTA  # ASCII proof failed
    assert text_decode_arrow(blob, lengths=char_lens).to_pylist() == vals
    # lengths larger than the byte lengths (not char lengths at all):
    # self-contained fallback, decodable without external framing
    blob2 = text_encode(vals, ext_lengths=char_lens + 10)
    assert blob2[0] not in (TEXT_MODE_EXTLEN, TEXT_MODE_EXTLEN_DELTA)
    assert text_decode_arrow(blob2).to_pylist() == vals


def test_text_extlen_decode_requires_matching_lengths():
    import pytest
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        text_decode_arrow, text_encode,
    )
    vals = ["abc", "defg"]
    lens = np.array([3, 4], dtype=np.int64)
    blob = text_encode(vals, ext_lengths=lens)
    with pytest.raises(ValueError, match="text_len"):
        text_decode_arrow(blob)
    with pytest.raises(ValueError, match="frame"):
        text_decode_arrow(blob, lengths=np.array([4, 3], dtype=np.int64)[:1])
    assert text_decode_arrow(blob, lengths=lens).to_pylist() == vals


def test_text_extlen_delta_mode_non_ascii():
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_EXTLEN_DELTA, text_decode, text_decode_arrow, text_encode,
    )
    vals = ["héllo", "日本語", "plain", "", "emoji🙂 mix"]
    char_lens = np.array([len(v) for v in vals], dtype=np.int64)
    blob = text_encode(vals, ext_lengths=char_lens)
    assert blob[0] == TEXT_MODE_EXTLEN_DELTA
    assert text_decode_arrow(blob, lengths=char_lens).to_pylist() == vals
    assert list(text_decode(blob, lengths=char_lens)) == vals
    # wrong framing lengths must fail loudly, not mis-slice
    import pytest
    with pytest.raises(ValueError, match="frame"):
        text_decode_arrow(blob, lengths=char_lens + 1)


def test_int_pack_mode_roundtrip_with_exceptions():
    """PFOR pack mode (v9): near-entropy delta streams with outliers —
    the fixed width covers the bulk, varint exceptions patch the tail,
    and the round-trip is exact."""
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        int_decode, int_encode,
    )
    from lindorm_tsdb_contest_java_spark.functions.codecs.dod import MODE_PACK
    rng = np.random.default_rng(9)
    gaps = rng.integers(1, 60_000, size=4096).astype(np.int64)
    gaps[rng.integers(0, 4096, 40)] = rng.integers(
        10**7, 10**10, 40)  # outliers -> exception list
    ts = np.cumsum(gaps * 1000)
    blob = int_encode(ts)
    assert blob[0] == MODE_PACK, blob[0]
    assert (int_decode(blob) == ts).all()
    # the pack blob must actually beat the varint modes it displaced
    # (selection is by final blob length, so this is true by construction;
    # pin it anyway against selection regressions)
    import lindorm_tsdb_contest_java_spark.functions.codecs.dod as dod
    orig = dod._pfor_blob
    try:
        dod._pfor_blob = \
            lambda zz, first, g, kind, budget=None: b"\x06" + b"x" * 10**6
        assert len(blob) < len(int_encode(ts))
    finally:
        dod._pfor_blob = orig


def test_int_pack_mode_extremes():
    import numpy as np
    from lindorm_tsdb_contest_java_spark.functions.codecs import (
        int_decode, int_encode,
    )
    lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    for v in ([0, lo, hi, 0, lo // 2, hi // 2],
              [hi, lo, hi, lo], [7] * 500, list(range(0, 5000, 7))):
        arr = np.array(v, dtype=np.int64)
        assert (int_decode(int_encode(arr)) == arr).all(), v


def test_text_token_mode_roundtrip_and_adoption():
    """v10 token-dictionary mode: lossless on whitespace extremes
    (' '.join(s.split(' ')) == s for every string), NUL bytes, and
    multibyte text; adopted on word-redundant transcript-ish blocks and
    never adopted when it is not strictly shorter."""
    import numpy as np
    import pyarrow as pa
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_TOKENS, _token_blob, text_decode, text_encode,
    )
    edge = ["", " ", "  ", "a  b", " lead", "trail ", "\x00 \x00",
            "日本語 многослов emoji🙂", "a b  c   d", "x" * 300]
    for vals in (edge, [""], ["", ""], edge * 3):
        # forced token blob round-trips exactly
        tok = _token_blob(pa.array(vals, pa.string()), 3)
        assert list(text_decode(tok)) == vals
        # whatever mode best-of picks round-trips too
        assert list(text_decode(text_encode(vals))) == vals
        lens = np.array([len(s.encode()) for s in vals], dtype=np.int64)
        assert list(text_decode(text_encode(vals, ext_lengths=lens),
                                lengths=lens)) == vals
    # word-redundant block (distinct rows, shared vocabulary): the token
    # mode must win and be strictly smaller than the length-framed stream
    rng = np.random.default_rng(5)
    words = ["scan", "merge", "join", "filter", "spark", "table", "the",
             "batch", "row", "query"]
    vals = [" ".join(rng.choice(words, 12)) for _ in range(2000)]
    lens = np.array([len(s.encode()) for s in vals], dtype=np.int64)
    blob = text_encode(vals, ext_lengths=lens)
    assert blob[0] == TEXT_MODE_TOKENS
    assert list(text_decode(blob)) == vals
    # vocab > 256 forces varint ids
    big = [f"tok{i} tok{i+1} shared" for i in range(1500)]
    tok = _token_blob(pa.array(big, pa.string()), 3)
    assert list(text_decode(tok)) == big


def test_text_token_gate_skips_only_unwinnable_blocks():
    """r07 (ADVICE r06): text_encode's best-of chooser skips the token
    candidate's zstd pass when the distinct-token ratio says it cannot
    win. The gate must not change any adoption decision: word-redundant
    blocks still pick tokens, high-entropy blocks produce exactly the
    length-framed blob, and a forced _token_blob (no gate) still
    round-trips the high-entropy block."""
    import numpy as np
    import pyarrow as pa
    from lindorm_tsdb_contest_java_spark.functions.codecs.strings import (
        TEXT_MODE_TOKENS, _token_blob, text_decode, text_encode,
    )
    # high-entropy: every token unique -> ratio 1.0 -> gate fires
    uniq = [f"u{i:06x}token{i * 2654435761 % 997}" for i in range(2000)]
    lens = np.array([len(s.encode()) for s in uniq], dtype=np.int64)
    blob = text_encode(uniq, ext_lengths=lens)
    assert blob[0] != TEXT_MODE_TOKENS
    assert list(text_decode(blob, lengths=lens)) == uniq
    # forced (gate_ratio=None): still a valid token blob
    tok = _token_blob(pa.array(uniq, pa.string()), 3)
    assert tok is not None and list(text_decode(tok)) == uniq
    # word-redundant: ratio ~0 -> gate passes -> tokens still adopted
    rng = np.random.default_rng(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    red = [" ".join(rng.choice(words, 10)) for _ in range(2000)]
    rlens = np.array([len(s.encode()) for s in red], dtype=np.int64)
    assert text_encode(red, ext_lengths=rlens)[0] == TEXT_MODE_TOKENS
