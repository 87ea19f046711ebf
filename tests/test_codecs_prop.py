"""Property-based codec fuzz (hypothesis): every codec must round-trip
arbitrary inputs bit-exactly — beyond the curated adversarial cases in
test_codecs.py."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from lindorm_tsdb_contest_java_spark.functions.codecs import (
    dict_decode, dict_encode,
    gorilla_decode, gorilla_encode, int_decode, int_encode,
    text_decode, text_encode,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
F64 = st.floats(allow_nan=True, allow_infinity=True, width=64)


@settings(max_examples=150, deadline=None)
@given(st.lists(I64, max_size=300))
def test_int_codec_roundtrip_prop(xs):
    a = np.array(xs, dtype=np.int64)
    assert (int_decode(int_encode(a)) == a).all()


@settings(max_examples=150, deadline=None)
@given(st.lists(F64, max_size=300))
def test_gorilla_roundtrip_prop(xs):
    a = np.array(xs, dtype=np.float64)
    back = gorilla_decode(gorilla_encode(a))
    assert back.shape == a.shape
    assert (back.view(np.uint64) == a.view(np.uint64)).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=40), max_size=120))
@example(["", "\x00"])  # r05 judge counterexample: pandas factorize collapsed NUL with ''
def test_text_and_dict_roundtrip_prop(vals):
    assert list(text_decode(text_encode(vals))) == vals
    assert list(dict_decode(dict_encode(vals))) == vals


@settings(max_examples=150, deadline=None)
@given(st.lists(F64, max_size=300))
def test_float_codec_roundtrip_prop(xs):
    from lindorm_tsdb_contest_java_spark.functions.codecs.floats import (
        float_decode, float_encode,
    )
    a = np.array(xs, dtype=np.float64)
    back = float_decode(float_encode(a))
    assert back.shape == a.shape
    assert (back.view(np.uint64) == a.view(np.uint64)).all()


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(-(2**53), 2**53), max_size=300))
def test_float_codec_scaled_quotients_prop(us):
    from lindorm_tsdb_contest_java_spark.functions.codecs.floats import (
        float_decode, float_encode,
    )
    a = np.array(us, dtype=np.int64) / 1e6
    back = float_decode(float_encode(a))
    assert (back.view(np.uint64) == a.view(np.uint64)).all()


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**20), min_size=2,
                max_size=300),
       st.lists(st.integers(min_value=2**40, max_value=2**62), max_size=5))
def test_int_pack_mode_roundtrip_prop(gaps, outliers):
    """PFOR-shaped streams (small deltas + rare huge outliers — the shape
    MODE_PACK wins on) round-trip bit-exactly, wherever the chooser
    lands."""
    vals = gaps + outliers
    a = np.cumsum(np.array(vals, dtype=np.int64))
    assert (int_decode(int_encode(a)) == a).all()
