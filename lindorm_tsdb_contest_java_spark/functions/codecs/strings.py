"""String codecs: per-block dictionary + zstd, and length-prefixed text stream.

Capability analogs of the reference's small-string dictionary path
(`compress/StringCompress.java:129-250`: <=4 distinct values -> bit codes,
else raw concat, zstd-3 envelope) and the big-string path
(`file/TSFileService.java:662-667`: concat + zstd-3). Our dictionary is
general-cardinality (arrow dictionary_encode -> packed codes) and the text stream
is varint lengths + concatenated UTF-8, both inside a zstd-3 envelope.

Encoding uses pyarrow's string-array buffers to get offsets/data without
per-row Python.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .bitpack import pack_codes, unpack_codes, width_for
from .framing import pack_sections, unpack_sections, zstd_compress, zstd_decompress
from .varint import varint_decode, varint_encode

_HDR = struct.Struct("<BQ")  # mode, n
_MODE_RAW = 0
_MODE_DICT = 1
# data-only stream: the per-row byte lengths are NOT in the blob — they
# equal the segment's text_len column (true whenever the text is pure
# ASCII, where char length == UTF-8 byte length), so the segment stores
# them exactly once. decode requires the externally-supplied lengths.
_MODE_EXTLEN = 2
# general variant: the blob stores only (byte_len - ext_len) varint
# deltas — the UTF-8 continuation-byte counts when ext is the char
# length, i.e. small and mostly zero — and decode reframes the stream as
# cumsum(ext + delta). Exact for ANY text (deltas >= 0 guard only).
_MODE_EXTLEN_DELTA = 3
# token-dictionary stream (v10, the transcript-aware text lever):
# each row is split on ' ' into tokens, the segment's distinct tokens
# form a per-block dictionary, and the stream stores per-row token
# counts + token ids + the dictionary — all inside the zstd envelope.
# ' '.join(s.split(' ')) == s for EVERY string (empty tokens encode
# consecutive/leading/trailing spaces), so the mode is lossless for
# arbitrary text; it is adopted per block only when byte-for-byte
# shorter than the best length-framed stream (the int codec's best-of
# pattern). Transcript text is word-redundant (tool names, quoted
# identifiers, repeated phrasing), which zstd-3's literal stage
# captures only partially — entropy-coding 1-byte ids over the block
# vocabulary gets the rest.
_MODE_TOKENS = 4
TEXT_MODE_EXTLEN = _MODE_EXTLEN
TEXT_MODE_EXTLEN_DELTA = _MODE_EXTLEN_DELTA
TEXT_MODE_TOKENS = _MODE_TOKENS
_TOKMETA = struct.Struct("<IB")  # n_vocab, id-width flag (1=uint8, 0=varint)


def _encode_dict_codes(codes: np.ndarray, n_uniq: int) -> tuple[bytes, int]:
    """(codes section, pack width): 1/2/4-bit packed when cardinality
    permits (StringCompress.java:129-250 analog), varints otherwise."""
    w = width_for(n_uniq - 1)
    if w:
        return pack_codes(codes, w), w
    return varint_encode(codes.astype(np.uint64)), 0


def _decode_dict_codes(codes_b: bytes, n: int, pack_w: int) -> np.ndarray:
    return (unpack_codes(codes_b, n, pack_w) if pack_w
            else varint_decode(codes_b, n).astype(np.int64))


def _utf8_lengths_and_data(values) -> tuple[np.ndarray, bytes]:
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        arr = values
    else:
        arr = pa.array(values, type=pa.string())
    if arr.null_count:
        raise ValueError("nulls not allowed (reference write contract)")
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int32, count=len(arr) + 1 + arr.offset)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    # slice the Arrow buffer BEFORE materializing: for a sliced array the
    # underlying data buffer is the whole parent allocation, and
    # to_pybytes() on it would copy the entire parent per block
    data = (
        buffers[2].slice(int(offsets[0]), int(offsets[-1] - offsets[0])).to_pybytes()
        if buffers[2] is not None
        else b""
    )
    lengths = np.diff(offsets)
    # decode rebuilds int32 StringArray offsets: a segment whose
    # concatenated UTF-8 exceeds 2^31 bytes would silently overflow them,
    # so fail loudly at encode time (cap segment size upstream instead)
    if len(data) > np.iinfo(np.int32).max:
        raise ValueError(
            f"string payload {len(data)} bytes exceeds the int32 offset "
            "range of one segment — split the block (max_rows_per_conv / "
            "smaller time_chunk)")
    return lengths, data


def _token_blob(arr: pa.Array, level: int,
                gate_ratio: float | None = None) -> bytes | None:
    """_MODE_TOKENS candidate, or None when inapplicable (empty block).
    Arrow-native end to end: split_pattern → dictionary_encode → buffers;
    no per-row Python.

    `gate_ratio` (set by text_encode's best-of chooser, not by forced-
    mode callers): give up WITHOUT paying the zstd pass when the
    distinct-token ratio nv/total exceeds it — a mostly-unique
    vocabulary stores the whole vocab plus one id per token, more
    pre-zstd bytes than the length-framed stream it competes with, so
    it cannot plausibly win and the candidate was pure doubled encode
    CPU on high-entropy text (ADVICE r06). Transcript corpora sit at
    nv/total ~ 0.001 (measured r07: every bench block adopts tokens at
    <= 0.001), so the default 0.5 gate never fires there."""
    import pyarrow.compute as pc
    n = len(arr)
    if n == 0:
        return None
    sp = pc.split_pattern(arr, " ")
    counts = pc.list_value_length(sp).to_numpy(zero_copy_only=False)
    # decode rebuilds the flat-token list offsets as an int32 cumsum of
    # these counts; a near-2GiB mostly-space block can have MORE tokens
    # than data bytes, overflowing offsets the byte-payload guard in
    # _utf8_lengths_and_data never sees — refuse the mode, the
    # length-framed fallbacks handle any block (ADVICE r06)
    if int(counts.sum()) > np.iinfo(np.int32).max:
        return None
    flat = sp.flatten()
    d = flat.dictionary_encode()
    vocab = d.dictionary
    nv = len(vocab)
    # mostly-unique vocabularies cannot win: the stream would store the
    # whole vocab PLUS one id per token, i.e. more pre-zstd bytes than
    # the length-framed stream it competes with, for text whose tokens
    # zstd's literal stage already covers. Skip the second zstd pass
    # (the expensive half of this candidate) on such blocks (ADVICE
    # r06). Transcript-shaped corpora sit at nv/total ~ 0.001 (measured
    # r07: every bench block adopts tokens at ratio <= 0.001), so the
    # gate never fires there; it only spares high-entropy text the
    # doubled encode CPU.
    if gate_ratio is not None and nv > gate_ratio * len(flat):
        return None
    ids = d.indices.to_numpy(zero_copy_only=False)
    if nv <= 256:
        ids_b, idw = ids.astype(np.uint8).tobytes(), 1
    else:
        ids_b, idw = varint_encode(ids.astype(np.uint64)), 0
    vlens, vdata = _utf8_lengths_and_data(vocab)
    payload = pack_sections(
        _TOKMETA.pack(nv, idw),
        varint_encode(counts.astype(np.uint64)),
        ids_b,
        varint_encode(vlens.astype(np.uint64)),
        vdata)
    return _HDR.pack(_MODE_TOKENS, n) + zstd_compress(payload, level)


def _token_decode_arrow(n: int, payload: bytes) -> pa.Array:
    import pyarrow.compute as pc
    meta_b, counts_b, ids_b, vlens_b, vdata = unpack_sections(payload, 5)
    nv, idw = _TOKMETA.unpack(meta_b)
    counts = varint_decode(counts_b, n).astype(np.int64)
    total = int(counts.sum())
    if idw:
        ids = np.frombuffer(ids_b, dtype=np.uint8).astype(np.int32)
    else:
        ids = varint_decode(ids_b, total).astype(np.int32)
    vlens = varint_decode(vlens_b, nv).astype(np.int32)
    voff = np.zeros(nv + 1, dtype=np.int32)
    np.cumsum(vlens, out=voff[1:])
    vocab = pa.StringArray.from_buffers(
        nv, pa.py_buffer(voff.tobytes()), pa.py_buffer(vdata))
    flat = pc.take(vocab, pa.array(ids))
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts.astype(np.int32), out=offs[1:])
    lst = pa.ListArray.from_arrays(pa.array(offs), flat)
    return pc.binary_join(lst, " ")


def text_encode(values, level: int = 3, ext_lengths=None) -> bytes:
    """Arbitrary strings -> <mode=0,n> + zstd(varint lengths || utf8 concat).

    When `ext_lengths` (the segment's text_len column values) is given
    and PROVEN equal to the actual UTF-8 byte lengths (pure-ASCII text),
    emit the data-only _MODE_EXTLEN stream instead — the lengths already
    live in blob_text_len, so storing them again inside the text blob is
    pure redundancy (~1 B/turn on the bench corpus). Any non-ASCII block
    fails the equality proof and falls back to the self-contained mode
    unchanged (the latency-codec verified-derivation pattern)."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        values = pa.array(values, type=pa.string())
    lengths, data = _utf8_lengths_and_data(values)
    best = None
    if ext_lengths is not None:
        ext = np.asarray(ext_lengths, dtype=np.int64)
        if np.array_equal(lengths, ext):
            best = (_HDR.pack(_MODE_EXTLEN, len(lengths))
                    + zstd_compress(data, level))
        elif len(ext) == len(lengths) and (lengths >= ext).all():
            deltas = (lengths - ext).astype(np.uint64)
            payload = pack_sections(varint_encode(deltas), data)
            best = (_HDR.pack(_MODE_EXTLEN_DELTA, len(lengths))
                    + zstd_compress(payload, level))
    if best is None:
        payload = pack_sections(varint_encode(lengths.astype(np.uint64)),
                                data)
        best = _HDR.pack(_MODE_RAW, len(lengths)) + zstd_compress(payload,
                                                                  level)
    # token-dictionary candidate, adopted only when byte-for-byte shorter;
    # the ratio gate skips its zstd pass on blocks it cannot win (the
    # adoption rule is unchanged for every block that passes the gate)
    tok = _token_blob(values, level, gate_ratio=0.5)
    if tok is not None and len(tok) < len(best):
        return tok
    return best


def text_decode(blob: bytes, lengths=None) -> np.ndarray:
    return text_decode_arrow(blob, lengths).to_numpy(zero_copy_only=False)


def _text_decode_arrow_body(n: int, payload: bytes) -> pa.Array:
    lens_blob, data = unpack_sections(payload, 2)
    lengths = varint_decode(lens_blob, n).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data))


def text_decode_arrow(blob: bytes, lengths=None) -> pa.Array:
    """Arrow-native decode: bytes land directly in a StringArray buffer.

    _MODE_EXTLEN blobs carry no lengths section — pass the segment's
    decoded text_len values as `lengths` (sources/segments.py does)."""
    mode, n = _HDR.unpack_from(blob, 0)
    if mode == _MODE_TOKENS:
        # self-contained: row framing comes from the token counts
        return _token_decode_arrow(n, zstd_decompress(blob[_HDR.size:]))
    if mode in (_MODE_EXTLEN, _MODE_EXTLEN_DELTA):
        if lengths is None:
            raise ValueError(
                "ext-length text blob needs the text_len column values "
                "(decode blob_text_len and pass it as lengths=)")
        if n == 0:
            return pa.array([], type=pa.string())
        payload = zstd_decompress(blob[_HDR.size :])
        lens = np.asarray(lengths, dtype=np.int64)
        if mode == _MODE_EXTLEN_DELTA:
            deltas_b, data = unpack_sections(payload, 2)
            lens = lens + varint_decode(deltas_b, n).astype(np.int64)
        else:
            data = payload
        if len(lens) != n or int(lens.sum()) != len(data):
            raise ValueError(
                f"text_len values (n={len(lens)}, sum={int(lens.sum())}) "
                f"do not frame the text stream (n={n}, {len(data)} bytes)")
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens.astype(np.int32), out=offsets[1:])
        return pa.StringArray.from_buffers(
            n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data))
    if mode != _MODE_RAW:
        raise ValueError(f"not a text stream (mode {mode})")
    if n == 0:
        return pa.array([], type=pa.string())
    return _text_decode_arrow_body(n, zstd_decompress(blob[_HDR.size :]))


def dict_decode_arrow(blob: bytes) -> pa.Array:
    """Arrow-native dictionary decode: dictionary take, no Python strings."""
    import pyarrow.compute as pc

    mode, n = _HDR.unpack_from(blob, 0)
    if mode == _MODE_RAW:
        return text_decode_arrow(blob)
    if mode != _MODE_DICT:
        raise ValueError(f"unknown string codec mode {mode}")
    if n == 0:
        return pa.array([], type=pa.string())
    payload = zstd_decompress(blob[_HDR.size :])
    hdr_blob, lens_blob, data, codes_blob = unpack_sections(payload, 4)
    n_uniq, pack_w = (int(x) for x in varint_decode(hdr_blob, 2))
    lengths = varint_decode(lens_blob, n_uniq).astype(np.int32)
    offsets = np.zeros(n_uniq + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    uniques = pa.StringArray.from_buffers(
        n_uniq, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data))
    codes = _decode_dict_codes(codes_blob, n, pack_w).astype(np.int32)
    return pc.take(uniques, pa.array(codes))


def dict_encode(values, level: int = 3, max_card_frac: float = 0.5) -> bytes:
    """Low-cardinality strings -> dictionary codes + dictionary blob.

    Falls back to the raw text stream when the column isn't dictionary-
    friendly (cardinality > max_card_frac * n), mirroring the reference's
    dict-vs-raw dispatch (StringCompress.java:146-166).

    Accepts a pyarrow string array directly (arrow-native encode path:
    dictionary_encode happens without materializing Python strings).
    """
    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        # Route Python lists / numpy arrays through Arrow: pandas' factorize
        # hashtable collapses '\x00' with '' (C-string semantics), whereas
        # arrow's dictionary_encode is byte-exact.
        values = pa.array(list(values), type=pa.string())
    arr = values.combine_chunks() if isinstance(values, pa.ChunkedArray) else values
    d = arr.dictionary_encode()
    uniques_arr = d.dictionary
    codes = d.indices.to_numpy(zero_copy_only=False)
    n = len(codes)
    if n > 0 and len(uniques_arr) > max(4, int(n * max_card_frac)):
        return text_encode(arr, level)
    lengths, data = _utf8_lengths_and_data(uniques_arr)
    codes_b, pack_w = _encode_dict_codes(codes, len(uniques_arr))
    payload = pack_sections(
        varint_encode(np.asarray([len(uniques_arr), pack_w], dtype=np.uint64)),
        varint_encode(lengths.astype(np.uint64)),
        data,
        codes_b,
    )
    return _HDR.pack(_MODE_DICT, n) + zstd_compress(payload, level)


def dict_decode(blob: bytes) -> np.ndarray:
    return dict_decode_arrow(blob).to_numpy(zero_copy_only=False)
