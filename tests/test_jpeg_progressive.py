"""Progressive JPEG (SOF2): the coefficient-equivalence law
(progressive coding is lossless over quantized coefficients, so
decode(progressive(x)) == decode(baseline(x)) bit-for-bit), custom
scan scripts, the EOB-run>1 decoder path via a hand-built stream,
and the Spark dispatch.

Reference anchor: conduino has no media types — north-star engine
extension (SURVEY §7, M6); bitstream per ITU-T T.81 Annex G.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conduino_spark.operators.bitio import MsbWriter
from conduino_spark.operators.jpeg import (
    _DC_LUMA, _huff_codes, _marker, _stuffed, decode_jpeg, encode_jpeg,
    encode_jpeg_progressive,
)


def _photo(h, w, c=3, seed=0):
    """Smooth photo-like fixture: gradients + low noise (progressive
    scripts exercise both low and high AC bands on it)."""
    rng = np.random.default_rng(seed)
    base = np.zeros((h, w, c), float)
    base[:, :, 0] = np.linspace(30, 220, w)[None, :]
    base[:, :, min(1, c - 1)] += np.linspace(0, 160, h)[:, None]
    if c == 3:
        base[:, :, 2] = 120
    return np.clip(base + rng.normal(0, 12, (h, w, c)), 0,
                   255).astype(np.uint8)


@pytest.mark.parametrize("shape,sub", [((24, 17, 3), "444"),
                                       ((16, 16, 3), "420"),
                                       ((21, 30, 3), "420"),
                                       ((19, 22, 1), "444")])
def test_progressive_equals_baseline(shape, sub):
    a = _photo(*shape[:2], c=shape[2], seed=3)
    if shape[2] == 1:
        a = a[:, :, 0]
    base = decode_jpeg(encode_jpeg(a, quality=85, subsample=sub))
    prog = decode_jpeg(encode_jpeg_progressive(a, quality=85,
                                               subsample=sub))
    np.testing.assert_array_equal(prog, base)


def test_progressive_random_noise_equivalence():
    rng = np.random.default_rng(9)
    a = rng.integers(0, 256, (13, 29, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(a, quality=95))
    prog = decode_jpeg(encode_jpeg_progressive(a, quality=95))
    np.testing.assert_array_equal(prog, base)


def test_progressive_custom_scan_scripts():
    a = _photo(18, 23, seed=5)
    base = decode_jpeg(encode_jpeg(a, quality=75))
    # spectral selection only (no successive approximation)
    spectral = (
        ((0, 1, 2), 0, 0, 0, 0),
        ((0,), 1, 9, 0, 0), ((0,), 10, 63, 0, 0),
        ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0),
    )
    got = decode_jpeg(encode_jpeg_progressive(a, quality=75,
                                              scans=spectral))
    np.testing.assert_array_equal(got, base)
    # deep successive approximation chain on the DC + one AC band
    deep = (
        ((0, 1, 2), 0, 0, 0, 3),
        ((0, 1, 2), 0, 0, 3, 2),
        ((0, 1, 2), 0, 0, 2, 1),
        ((0, 1, 2), 0, 0, 1, 0),
        ((0,), 1, 63, 0, 2), ((0,), 1, 63, 2, 1), ((0,), 1, 63, 1, 0),
        ((1,), 1, 63, 0, 1), ((1,), 1, 63, 1, 0),
        ((2,), 1, 63, 0, 1), ((2,), 1, 63, 1, 0),
    )
    got = decode_jpeg(encode_jpeg_progressive(a, quality=75,
                                              scans=deep))
    np.testing.assert_array_equal(got, base)


@settings(max_examples=10, deadline=None)
@given(st.integers(8, 40), st.integers(8, 40),
       st.sampled_from(["444", "420"]), st.integers(0, 2**31 - 1),
       st.sampled_from([60, 85, 95]))
def test_progressive_equivalence_law(h, w, sub, seed, q):
    a = _photo(h, w, seed=seed)
    base = decode_jpeg(encode_jpeg(a, quality=q, subsample=sub))
    prog = decode_jpeg(encode_jpeg_progressive(a, quality=q,
                                               subsample=sub))
    np.testing.assert_array_equal(prog, base)


def test_progressive_eobrun_greater_than_one():
    """Hand-built grayscale SOF2 with a custom AC table carrying an
    EOBn symbol (0x10): ONE EOB-run code covers both blocks of the
    AC scan — the encoder never emits runs > 1, so this pins the
    decoder's general EOB-run path."""
    qt = bytes([0]) + bytes([1] * 64)            # flat quant table 1
    sof = struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0])
    dc_dht = bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1])
    # AC table: two 2-bit-ish symbols — 0x10 (EOB run 2..3), 0x01
    ac_bits = [0] * 16
    ac_bits[0] = 1                               # one 1-bit code
    ac_bits[1] = 1                               # one 2-bit code
    ac_dht = bytes([0x10]) + bytes(ac_bits) + bytes([0x10, 0x01])

    out = [b"\xff\xd8", _marker(0xDB, qt), _marker(0xC2, sof),
           _marker(0xC4, dc_dht), _marker(0xC4, ac_dht)]
    # DC scan (Ss=0, Se=0, Ah=0, Al=0): two blocks, DC diffs +40, -16
    dc_codes = _huff_codes(*_DC_LUMA)
    bw = MsbWriter()
    for diff in (40, -56):                       # values 40 then -16
        t = diff if diff >= 0 else -diff
        cat = t.bit_length()
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    out += [_marker(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])),
            _stuffed(bw)]
    # AC scan (Ss=1, Se=63): a single EOB-run code 0x10 + 1 extra bit
    # (0) -> eobrun = 2 - 1 + 0 ... covers this block and the next
    bw = MsbWriter()
    bw.write(0b0, 1)                               # canonical code of 0x10
    bw.write(0, 1)                                 # extra bit -> run 2
    out += [_marker(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])),
            _stuffed(bw)]
    out.append(b"\xff\xd9")
    got = decode_jpeg(b"".join(out))
    assert got.shape == (8, 16, 1)
    # flat DC-only blocks: left 128+round(40/8*...) — with a flat
    # quant of 1 and DCT scaling, DC=40 lifts the block by 40/8=5
    left, right = got[:, :8, 0], got[:, 8:, 0]
    assert len(np.unique(left)) == 1 and len(np.unique(right)) == 1
    assert int(left[0, 0]) == 133                # 128 + 40/8
    assert int(right[0, 0]) == 126               # 128 + (40-56)/8
    # ...and both blocks carry ZERO AC energy (the run skipped both)
    assert (left == left[0, 0]).all() and (right == right[0, 0]).all()


def test_progressive_spark_dispatch(spark):
    from conduino_spark import image_metadata, media_profile
    a = _photo(12, 15, seed=7)
    blob = encode_jpeg_progressive(a, quality=90)
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "id long, content binary")
    meta = image_metadata(codec="jpeg")(df).first()
    assert (meta.height, meta.width, meta.channels) == (12, 15, 3)
    prof = media_profile(codec="jpeg")(df).first()
    want = decode_jpeg(blob).astype(np.int64)
    assert prof.n_units == want.size
    assert prof.sum_abs == int(want.sum())
