"""WebP lossless (VP8L) codec: round-trip laws over every encoder
option combination, hand-built bitstreams for the decoder-only spec
paths (meta-prefix groups, max-symbol, code-length run 16), container
walking, and the Spark-side integration (image_metadata /
media_profile / image_resize with ``codec='webp'``).

Reference anchor: conduino has no media types — north-star engine
extension (SURVEY §7, M6); bitstream per the public WebP lossless
specification (RFC 9649).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conduino_spark.operators.bitio import LsbReader, LsbWriter
from conduino_spark.operators.webp import (
    _DIST_MAP, _dist_from_code, _dist_to_code,
    _encode_pixels, _prefix_encode, _prefix_value, _read_prefix_code,
    _write_prefix_code, decode_vp8l, decode_webp, encode_webp,
)


def _rt(a, **opts):
    out = decode_webp(encode_webp(a, **opts))
    assert out.shape == a.shape
    assert out.dtype == np.uint8
    np.testing.assert_array_equal(out, a)


def _gradient(h, w, c=3):
    g = np.zeros((h, w, c), np.uint8)
    g[:, :, 0] = np.arange(w)[None, :] * 13 % 256
    g[:, :, 1] = np.arange(h)[:, None] * 7 % 256
    g[:, :, 2] = (np.arange(w)[None, :]
                  + np.arange(h)[:, None] * 3) % 256
    if c == 4:
        g[:, :, 3] = (np.arange(w)[None, :] * 5
                      + np.arange(h)[:, None]) % 256
    return g


# ---------------------------------------------------------------------------
# round-trips across the option matrix
# ---------------------------------------------------------------------------

def test_webp_roundtrip_gradient_paths():
    g = _gradient(13, 17)
    _rt(g)                                   # auto palette (221 colors)
    _rt(g, use_palette=False)                # subtract-green literals
    _rt(g, use_palette=False, use_subtract_green=False)
    _rt(g, cache_bits=4)
    _rt(g, use_lz77=False)


def test_webp_roundtrip_rgba_and_random():
    rng = np.random.default_rng(7)
    _rt(rng.integers(0, 256, (9, 11, 4), dtype=np.uint8),
        use_palette=False)
    _rt(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))


def test_webp_palette_bundling_widths():
    rng = np.random.default_rng(3)
    flat = np.full((6, 20, 3), 99, np.uint8)            # 1 color, wb=3
    _rt(flat)
    two = np.where(rng.integers(0, 2, (5, 23, 1)).astype(bool),
                   np.array([10, 20, 30], np.uint8),
                   np.array([200, 100, 0], np.uint8))   # wb=3
    _rt(two)
    p = (rng.integers(0, 5, (8, 10)) * 40).astype(np.uint8)
    _rt(np.stack([p, p // 2, 255 - p], axis=2))         # ≤16, wb=1
    q = (rng.integers(0, 60, (12, 12)) * 4).astype(np.uint8)
    _rt(np.stack([q, q, q], axis=2))                    # ≤256, wb=0


@pytest.mark.parametrize("mode", list(range(14)))
def test_webp_all_predictor_modes(mode):
    g = _gradient(13, 17)
    _rt(g, use_palette=False, predictor_mode=mode)
    rng = np.random.default_rng(mode)
    a = rng.integers(0, 256, (10, 21, 4), dtype=np.uint8)
    _rt(a, use_palette=False, predictor_mode=mode, cache_bits=2)


@pytest.mark.parametrize("cte", [0x000000, 0x10203F, 0xFF80FF,
                                 0x7F7F7F])
def test_webp_cross_color_transform(cte):
    g = _gradient(11, 9, c=4)
    _rt(g, use_palette=False, color_cte=cte)
    _rt(g, use_palette=False, color_cte=cte, predictor_mode=11,
        cache_bits=3)


def test_webp_degenerate_dims():
    _rt(np.array([[[1, 2, 3]]], np.uint8))
    rng = np.random.default_rng(0)
    _rt(rng.integers(0, 256, (50, 1, 3), dtype=np.uint8),
        use_palette=False)
    _rt(rng.integers(0, 256, (1, 50, 3), dtype=np.uint8),
        use_palette=False)


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_webp_roundtrip_law(data):
    h = data.draw(st.integers(1, 9))
    w = data.draw(st.integers(1, 9))
    c = data.draw(st.sampled_from([3, 4]))
    seed = data.draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    lo_color = data.draw(st.booleans())
    if lo_color:
        a = (rng.integers(0, 3, (h, w, c)) * 100).astype(np.uint8)
    else:
        a = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    opts = {
        "use_palette": data.draw(st.sampled_from([None, False])),
        "cache_bits": data.draw(st.sampled_from([0, 2, 6])),
        "use_lz77": data.draw(st.booleans()),
    }
    if opts["use_palette"] is False:
        opts["predictor_mode"] = data.draw(
            st.sampled_from([None, 1, 7, 11, 12, 13]))
        opts["color_cte"] = data.draw(
            st.sampled_from([None, 0x102030]))
    _rt(a, **opts)


# ---------------------------------------------------------------------------
# decoder-only spec paths via hand-built bitstreams
# ---------------------------------------------------------------------------

def test_vp8l_meta_prefix_groups_decode():
    # 8×4 image, meta_bits=2 → entropy image 2×1 selects between two
    # single-color prefix-code groups; the encoder never emits meta
    # images, so build the stream by hand
    w, h = 8, 4
    px0, px1 = 0xFF400000, 0xFF000040
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                           # no alpha hint
    bw.write(0, 3)                           # version
    bw.write(0, 1)                           # no transforms
    bw.write(0, 1)                           # no color cache
    bw.write(1, 1)                           # meta-prefix image present
    bw.write(0, 3)                           # meta_bits = 2
    _encode_pixels(bw, [0xFF000000, 0xFF000100], 2)   # groups 0, 1
    for px in (px0, px1):
        for alphabet, sym in (
                (256 + 24, (px >> 8) & 0xFF),    # green
                (256, (px >> 16) & 0xFF),        # red
                (256, px & 0xFF),                # blue
                (256, (px >> 24) & 0xFF),        # alpha
                (40, 0)):                        # distance
            lengths = [0] * alphabet
            lengths[sym] = 1
            _write_prefix_code(bw, lengths)
    out = decode_vp8l(bw.bytes())
    assert out.shape == (h, w, 3)
    left = out[:, :4]
    right = out[:, 4:]
    np.testing.assert_array_equal(
        left, np.broadcast_to(np.array([0x40, 0, 0], np.uint8),
                              left.shape))
    np.testing.assert_array_equal(
        right, np.broadcast_to(np.array([0, 0, 0x40], np.uint8),
                               right.shape))


def test_vp8l_max_symbol_path():
    # normal code using the max-symbol shortcut: symbols 0,1 length 1,
    # written with max_symbol=2 so reading stops after two lengths
    bw = LsbWriter()
    bw.write(0, 1)                           # not simple
    bw.write(15, 4)                          # all 19 CL slots
    for sym in (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                13, 14, 15):
        bw.write(1 if sym == 1 else 0, 3)    # CL tree = single sym '1'
    bw.write(1, 1)                           # use max_symbol
    bw.write(0, 3)                           # nbits = 2
    bw.write(0, 2)                           # max_symbol = 2
    # CL tree is single-symbol → the two code lengths cost no bits
    dec = _read_prefix_code(LsbReader(bw.bytes() + b"\x00" * 4), 256)
    r = LsbReader(bytes([0b10]))            # LSB-first: bit0=0, bit1=1
    assert dec.decode(r) == 0
    assert dec.decode(r) == 1


def test_vp8l_code_length_repeat_16():
    # CL run code 16 repeats the previous nonzero length: emit one
    # literal length 2 then 16 (repeat 3) → four symbols at length 2
    bw = LsbWriter()
    bw.write(0, 1)                           # not simple
    bw.write(15, 4)
    cl_lengths = [0] * 19
    cl_lengths[2] = 1                        # the literal length '2'
    cl_lengths[16] = 1                       # the repeat code
    for sym in (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                13, 14, 15):
        bw.write(cl_lengths[sym], 3)
    bw.write(1, 1)                           # use max_symbol ...
    bw.write(0, 3)                           # nbits = 2
    bw.write(0, 2)                           # ... = 2 CL symbols total
    # canonical: sym 2 → code 0, sym 16 → code 1 (both length 1)
    bw.write_code(0, 1)                      # length 2 for symbol 0
    bw.write_code(1, 1)                      # run code 16
    bw.write(0, 2)                           # repeat = 3
    dec = _read_prefix_code(LsbReader(bw.bytes() + b"\x00" * 64), 256)
    # four symbols of length 2 → canonical codes 00,01,10,11
    r = LsbReader(bytes([0b00011110, 0b0]))  # MSB-first codes 00,11,
    assert dec.decode(r) == 1                 # bits 0,1 → code 01
    assert dec.decode(r) == 3                 # bits 1,1 → code 11
    assert dec.decode(r) == 2                 # bits 1,0 → code 10


def test_webp_distance_map_inverse():
    for w in (1, 3, 17, 100):
        for code in range(1, 121):
            d = _dist_from_code(code, w)
            assert d >= 1
            # re-encoding the decoded distance must map back to a
            # code that decodes to the same distance
            c2 = _dist_to_code(d, w)
            assert _dist_from_code(c2, w) == d
        for d in (1, 2, 5, w, w + 1, 3 * w + 4, 500):
            assert _dist_from_code(_dist_to_code(d, w), w) == d


def test_webp_prefix_value_inverse():
    for v in list(range(1, 200)) + [1024, 3072, 4096]:
        code, ebits, extra = _prefix_encode(v)
        bw = LsbWriter()
        bw.write(extra, ebits)
        br = LsbReader(bw.bytes() + b"\x00" * 4)
        assert _prefix_value(code, br) == v


def test_vp8l_distance_table_is_the_spec_table():
    assert len(_DIST_MAP) == 120
    assert _DIST_MAP[0] == (0, 1)
    assert _DIST_MAP[1] == (1, 0)
    assert _DIST_MAP[119] == (8, 7)
    assert len(set(_DIST_MAP)) == 120


# ---------------------------------------------------------------------------
# container handling + validation
# ---------------------------------------------------------------------------

def test_webp_vp8x_container_walk():
    payload = encode_webp(_gradient(5, 7))
    vp8l = payload[12 + 8:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    body = b"WEBP" + vp8x + b"VP8L" + struct.pack(
        "<I", len(vp8l)) + vp8l + (b"\x00" if len(vp8l) & 1 else b"")
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    out = decode_webp(blob)
    np.testing.assert_array_equal(out, _gradient(5, 7))


def test_webp_rejects_lossy_and_garbage():
    with pytest.raises(ValueError, match="lossy"):
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00aaaa")
    with pytest.raises(ValueError):
        decode_webp(b"not a webp at all")
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x08\x00\x00\x00WEBP")          # no chunk
    with pytest.raises(ValueError):
        decode_vp8l(b"\x30\x00\x00\x00")                  # bad sig
    good = encode_webp(_gradient(5, 7))
    with pytest.raises(ValueError):
        decode_webp(good[:20])                            # truncated


def test_webp_encoder_validation():
    with pytest.raises(ValueError):
        encode_webp(np.zeros((4, 4), np.uint8))           # 2-D
    with pytest.raises(ValueError):
        encode_webp(_gradient(4, 4), use_palette=False,
                    predictor_mode=14)
    rng = np.random.default_rng(1)
    many = rng.integers(0, 256, (30, 30, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="palette"):
        encode_webp(many, use_palette=True)


# ---------------------------------------------------------------------------
# Spark integration: the codec='webp' slot is now REAL
# ---------------------------------------------------------------------------

def test_image_metadata_webp(spark):
    from conduino_spark import image_metadata
    rng = np.random.default_rng(5)
    rows = [(i, bytearray(encode_webp(
        rng.integers(0, 256, (4 + i, 6, 3), dtype=np.uint8))))
        for i in range(4)]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = image_metadata(codec="webp")(df).toPandas() \
        .sort_values("id").reset_index(drop=True)
    assert list(out["height"]) == [4, 5, 6, 7]
    assert list(out["width"]) == [6] * 4
    assert list(out["channels"]) == [3] * 4
    assert set(out["format"]) == {"webp"}


def test_media_profile_dispatches_webp(spark):
    from conduino_spark import media_profile
    a = _gradient(6, 9)
    rows = [(1, bytearray(encode_webp(a))),
            (2, bytearray(b"garbage"))]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = media_profile(codec="webp")(df).toPandas().set_index("id")
    assert out.loc[1, "format"] == "webp"
    assert out.loc[1, "n_units"] == 6 * 9 * 3
    assert out.loc[1, "meta"] == 6 * 1_000_000 + 9 * 1_000 + 3
    assert out.loc[1, "sum_abs"] == int(a.astype(np.int64).sum())
    assert out.loc[2, "format"] == "error"


def test_image_resize_webp_roundtrip(spark):
    from conduino_spark import image_resize
    a = _gradient(8, 12)
    df = spark.createDataFrame([(1, bytearray(encode_webp(a)))],
                               "id long, content binary")
    out = image_resize(codec="webp", width=6, height=4)(df).toPandas()
    resized = decode_webp(bytes(out["content"][0]))
    assert resized.shape == (4, 6, 3)
    # nearest-neighbor: every resized pixel exists in the source
    src = {tuple(p) for p in a.reshape(-1, 3).tolist()}
    assert all(tuple(p) in src for p in resized.reshape(-1, 3).tolist())


# ---------------------------------------------------------------------------
# animated WebP (VP8X + ANIM/ANMF)
# ---------------------------------------------------------------------------

def test_webp_anim_roundtrip_bit_preserving():
    from conduino_spark.operators.webp import anim_frames, encode_webp_anim
    rng = np.random.default_rng(1)
    fr = [rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
          for _ in range(4)]
    blob = encode_webp_anim(fr, [40, 50, 60, 70])
    blobs, durs = anim_frames(blob)
    assert durs == [40, 50, 60, 70]
    for b, want in zip(blobs, fr):
        np.testing.assert_array_equal(decode_webp(b), want)
    b2, _ = anim_frames(blob, max_frames=2)
    assert len(b2) == 2
    # decode_webp on the animation returns the FIRST frame
    np.testing.assert_array_equal(decode_webp(blob), fr[0])


def test_webp_anim_static_passthrough_and_validation():
    from conduino_spark.operators.webp import anim_frames, encode_webp_anim
    plain = encode_webp(_gradient(5, 7))
    bs, ds = anim_frames(plain)
    assert bs == [plain] and ds == [0]
    with pytest.raises(ValueError):
        anim_frames(b"not webp")
    with pytest.raises(ValueError, match="lossy"):
        anim_frames(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00aaaa")
    with pytest.raises(ValueError):
        encode_webp_anim([])
    # r14: mixed frame shapes are the sub-canvas profile now — only a
    # frame exceeding an EXPLICIT canvas is invalid
    with pytest.raises(ValueError, match="canvas"):
        encode_webp_anim([_gradient(4, 4), _gradient(5, 5)],
                         canvas=(4, 4))
    mixed = encode_webp_anim([_gradient(4, 4), _gradient(5, 5)])
    from conduino_spark.operators.webp import canvas_dims
    assert canvas_dims(mixed) == (5, 5)
    with pytest.raises(ValueError, match="duration"):
        encode_webp_anim([_gradient(4, 4)], [1, 2])


def test_frame_sample_webp(spark):
    from conduino_spark import frame_sample, image_resize
    from conduino_spark.operators.webp import encode_webp_anim
    rng = np.random.default_rng(3)
    fr = [rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
          for _ in range(6)]
    df = spark.createDataFrame(
        [(1, bytearray(encode_webp_anim(fr)))],
        "id long, content binary")
    out = frame_sample(codec="webp", every_n=2, max_frames=3)(df) \
        .orderBy("frame_no").collect()
    assert [r.frame_no for r in out] == [0, 2, 4]
    for r in out:
        np.testing.assert_array_equal(decode_webp(bytes(r.frame)),
                                      fr[r.frame_no])
    # sampled frames compose with image_resize(codec='webp')
    from pyspark.sql import functions as F
    fdf = frame_sample(codec="webp", every_n=2, max_frames=3)(df) \
        .select("id", F.col("frame").alias("content"))
    rs = image_resize(codec="webp", width=4, height=3)(fdf).collect()
    assert all(decode_webp(bytes(r.content)).shape == (3, 4, 3)
               for r in rs)


def test_video_metadata_webp(spark):
    from conduino_spark import video_metadata
    from conduino_spark.operators.webp import encode_webp_anim
    fr = [_gradient(6, 9) for _ in range(5)]
    df = spark.createDataFrame(
        [(1, bytearray(encode_webp_anim(fr, [50] * 5))),
         (2, bytearray(encode_webp(_gradient(6, 9))))],
        "id long, content binary")
    got = {r.id: r for r in video_metadata(codec="webp")(df).collect()}
    assert (got[1].width, got[1].height, got[1].n_frames,
            got[1].fps, got[1].format) == (9, 6, 5, 20, "webp")
    assert (got[2].n_frames, got[2].fps) == (1, 0)


def test_wav_float32_variant(spark):
    """IEEE-float WAV (fmt 3, r12b): exact round trip through the
    ±32768 full-scale mapping, audio_metadata end-to-end, and the
    64-bit decode path."""
    from conduino_spark import audio_metadata, encode_wav
    from conduino_spark.operators.multimodal import decode_wav
    x = ((np.arange(500, dtype=np.int64) * 37) % 65536 - 32768) \
        .astype(np.int16)
    blob = encode_wav(x, 16000, fmt="float32")
    rate, nch, y = decode_wav(blob)
    assert (rate, nch) == (16000, 1)
    np.testing.assert_array_equal(y, x)
    # 64-bit path: rebuild the same payload as f8
    pos = blob.index(b"fmt ")
    body = bytearray(blob)
    f4 = np.frombuffer(blob[blob.index(b"data") + 8:], dtype="<f4")
    import struct as st
    f8 = f4.astype("<f8").tobytes()
    hdr = st.pack("<HHIIHH", 3, 1, 16000, 16000 * 8, 8, 64)
    b64 = (b"RIFF" + st.pack("<I", 4 + 8 + len(hdr) + 8 + len(f8))
           + b"WAVE" + b"fmt " + st.pack("<I", len(hdr)) + hdr
           + b"data" + st.pack("<I", len(f8)) + f8)
    rate2, nch2, y2 = decode_wav(b64)
    np.testing.assert_array_equal(y2, x)
    # Spark end-to-end
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "id long, content binary")
    row = audio_metadata(codec="wav")(df).first()
    assert (row.sample_rate, row.n_samples) == (16000, 500)
    with pytest.raises(ValueError, match="IEEE-float"):
        decode_wav(b"RIFF" + st.pack("<I", 4 + 8 + 16) + b"WAVE"
                   + b"fmt " + st.pack("<I", 16)
                   + st.pack("<HHIIHH", 3, 1, 8000, 8000, 2, 16))
