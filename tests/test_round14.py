"""Round-14 additions:

* animated WebP sub-canvas ANMF compositing (offset/blend/disposal)
  — law-tested against an independent per-pixel reference compositor
  (r13 verdict #3 / ADVICE: previously a raise);
* anim_metadata: frame counting for sub-canvas animations without
  pixel decode (ADVICE);
* Vorbis residue decode with codebook dims that do NOT divide the
  partition size (spec-legal; ADVICE — previously a numpy broadcast
  death);
* MP3 count1 final-quad PHYSICAL buffer overrun drops the quad like
  the budget overrun instead of failing the stream (ADVICE).
"""

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# webp: sub-canvas ANMF compositing
# ---------------------------------------------------------------------------

def _rng_frames(seed=7):
    """Deterministic RGBA frames with real alpha variety + offsets +
    blend/dispose flags exercising every compositing branch."""
    rng = np.random.RandomState(seed)
    f0 = rng.randint(0, 256, (10, 12, 4)).astype(np.uint8)
    f0[:, :, 3] = 255                          # base frame opaque
    f1 = rng.randint(0, 256, (4, 6, 4)).astype(np.uint8)
    f1[::2, :, 3] = 0                          # rows fully transparent
    f1[1::2, :, 3] = rng.randint(1, 255, (2, 6))
    f2 = rng.randint(0, 256, (6, 4, 4)).astype(np.uint8)
    f3 = rng.randint(0, 256, (10, 12, 4)).astype(np.uint8)
    frames = [f0, f1, f2, f3]
    offsets = [(0, 0), (2, 4), (8, 2), (0, 0)]
    blend = [True, True, False, True]
    dispose = [False, False, True, False]
    durs = [40, 60, 80, 100]
    return frames, offsets, blend, dispose, durs


def _reference_composite(frames, offsets, blend, dispose, canvas):
    """Independent per-pixel compositor: the container-spec model as
    rendered by libwebp's AnimDecoder (straight-alpha integer blend,
    dispose-to-transparent), written as plain Python loops."""
    cw, ch = canvas
    cv = [[(0, 0, 0, 0)] * cw for _ in range(ch)]
    out = []
    for arr, (ox, oy), bl, dsp in zip(frames, offsets, blend, dispose):
        h, w = arr.shape[:2]
        for y in range(h):
            for x in range(w):
                px = arr[y, x]
                sr, sg, sb = int(px[0]), int(px[1]), int(px[2])
                sa = int(px[3]) if arr.shape[2] == 4 else 255
                if not bl:
                    cv[oy + y][ox + x] = (sr, sg, sb, sa)
                    continue
                if sa == 0:
                    continue
                dr, dg, db, da = cv[oy + y][ox + x]
                scale = (da * (255 - sa)) // 255
                a_out = sa + scale
                cv[oy + y][ox + x] = (
                    (sr * sa + dr * scale) // a_out,
                    (sg * sa + dg * scale) // a_out,
                    (sb * sa + db * scale) // a_out,
                    a_out)
        out.append(np.array(
            [[list(p) for p in row] for row in cv], dtype=np.uint8))
        if dsp:
            for y in range(h):
                for x in range(w):
                    cv[oy + y][ox + x] = (0, 0, 0, 0)
    return out


def test_webp_subcanvas_composite_law():
    from conduino_spark.operators.webp import (composite_anim,
                                               encode_webp_anim)
    frames, offsets, blend, dispose, durs = _rng_frames()
    blob = encode_webp_anim(frames, durs, offsets=offsets, blend=blend,
                            dispose=dispose)
    got, got_durs = composite_anim(blob)
    want = _reference_composite(frames, offsets, blend, dispose,
                                (12, 10))
    assert got_durs == durs
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.shape == (10, 12, 4)
        np.testing.assert_array_equal(g, w)


def test_webp_subcanvas_anim_frames_roundtrip():
    # anim_frames on a sub-canvas animation returns standalone
    # lossless WebPs that decode to the composited canvases
    from conduino_spark.operators.webp import (anim_frames,
                                               composite_anim,
                                               decode_webp,
                                               encode_webp_anim)
    frames, offsets, blend, dispose, durs = _rng_frames(11)
    blob = encode_webp_anim(frames, durs, offsets=offsets, blend=blend,
                            dispose=dispose)
    blobs, got_durs = anim_frames(blob)
    canvases, _ = composite_anim(blob)
    assert got_durs == durs
    for b, cv in zip(blobs, canvases):
        dec = decode_webp(b)
        if dec.shape[2] == 3:                   # alpha hint off: opaque
            dec = np.dstack([dec, np.full(dec.shape[:2], 255,
                                          np.uint8)])
        np.testing.assert_array_equal(dec, cv)


def test_webp_fullcanvas_stays_bit_preserving():
    # the default full-canvas opaque profile must keep the zero-loss
    # rewrap: each returned blob's VP8L payload appears verbatim in
    # the animated container
    from conduino_spark.operators.webp import anim_frames, encode_webp_anim
    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (6, 8, 3)).astype(np.uint8)
              for _ in range(3)]
    blob = encode_webp_anim(frames, [10, 20, 30])
    blobs, durs = anim_frames(blob)
    assert durs == [10, 20, 30]
    for b in blobs:
        payload = b[20:]                        # RIFF+WEBP+VP8L+size
        assert payload.rstrip(b"\x00") in blob


def test_webp_anim_metadata_subcanvas_no_decode():
    from conduino_spark.operators.webp import anim_metadata, encode_webp_anim
    frames, offsets, blend, dispose, durs = _rng_frames()
    blob = bytearray(encode_webp_anim(frames, durs, offsets=offsets,
                                      blend=blend, dispose=dispose))
    # corrupt every VP8L payload byte after its header: metadata must
    # still be computable (no pixel decode on this path)
    i = 0
    while True:
        i = blob.find(b"VP8L", i + 1)
        if i < 0:
            break
        blob[i + 12] ^= 0xFF
    w, h, got_durs = anim_metadata(bytes(blob))
    assert (w, h) == (12, 10)
    assert got_durs == durs


def test_webp_video_metadata_subcanvas(spark):
    import pandas as pd

    from conduino_spark.operators.multimodal import video_metadata
    from conduino_spark.operators.webp import encode_webp_anim

    frames, offsets, blend, dispose, _ = _rng_frames()
    blob = encode_webp_anim(frames, [25, 25, 25, 25], offsets=offsets,
                            blend=blend, dispose=dispose)
    df = spark.createDataFrame(pd.DataFrame({"id": [1],
                                             "content": [blob]}))
    row = video_metadata(codec="webp")(df).collect()[0]
    assert (row.width, row.height, row.n_frames) == (12, 10, 4)
    assert row.fps == 40


def test_webp_anim_fuzz_truncation():
    from conduino_spark.operators.webp import anim_frames, encode_webp_anim
    frames, offsets, blend, dispose, durs = _rng_frames()
    blob = encode_webp_anim(frames, durs, offsets=offsets, blend=blend,
                            dispose=dispose)
    for cut in (13, 25, 40, len(blob) // 2, len(blob) - 3):
        try:
            anim_frames(blob[:cut])
        except ValueError:
            pass                                 # loud refusal is the law
    # bit flips in the VP8L payloads must raise ValueError, never
    # crash with an internal error
    b = bytearray(blob)
    for i in range(60, min(len(b), 300), 17):
        b2 = bytearray(b)
        b2[i] ^= 0x55
        try:
            anim_frames(bytes(b2))
        except ValueError:
            pass


def test_webp_encoder_rejects_odd_offsets():
    from conduino_spark.operators.webp import encode_webp_anim
    f = np.zeros((4, 4, 3), np.uint8)
    with pytest.raises(ValueError, match="even"):
        encode_webp_anim([f, f], offsets=[(0, 0), (1, 2)])


# ---------------------------------------------------------------------------
# vorbis: residue codebook dims that do not divide the partition size
# ---------------------------------------------------------------------------

def _mk_codebook(dims, lengths, vq):
    from conduino_spark.operators.vorbis import _Codebook
    cb = object.__new__(_Codebook)
    cb.dims = dims
    cb.entries = len(lengths)
    cb.set_lengths(lengths)
    cb.vq = None if vq is None else np.asarray(vq, dtype=float)
    return cb


def _mk_residue(rtype, begin, end, psize, books_row):
    from conduino_spark.operators.vorbis import _Residue
    r = object.__new__(_Residue)
    r.rtype = rtype
    r.begin = begin
    r.end = end
    r.psize = psize
    r.classifications = 1
    r.classbook = 0
    r.cascade = [1]                              # pass 0 only
    r.books = [books_row]
    return r


def _lsb_bits(bits):
    """Pack a bit list LSB-first (the Vorbis convention)."""
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            out[i >> 3] |= 1 << (i & 7)
    return bytes(out)


def test_vorbis_residue_type1_nondividing_dims():
    # psize=8, value-book dims=3: spec decode reads ceil(8/3)=3
    # vectors and clamps the last write to the partition end
    from conduino_spark.operators.bitio import LsbReader
    classbook = _mk_codebook(1, [1], None)       # single-entry: 1 bit/sym
    value = _mk_codebook(3, [1, 1], [[1, 2, 3], [4, 5, 6]])
    res = _mk_residue(1, 0, 16, 8, [1, -1, -1, -1, -1, -1, -1, -1])
    books = [classbook, value]
    # partition 1: class bit, syms [0,1,0]; partition 2: class bit,
    # syms [1,1,1] — two-entry book: codeword 0 -> sym 0, 1 -> sym 1
    bits = [0, 0, 1, 0] + [0, 1, 1, 1]
    br = LsbReader(_lsb_bits(bits))
    v = np.zeros(16)
    res.decode(br, books, [v], [False])
    want = np.array([1, 2, 3, 4, 5, 6, 1, 2,     # [1,2,3][4,5,6][1,2,(3)]
                     4, 5, 6, 4, 5, 6, 4, 5], float)
    np.testing.assert_array_equal(v, want)


def test_vorbis_residue_type0_nondividing_dims():
    # type 0 reads floor(8/3)=2 strided vectors; symbol k's dim i
    # lands at off + k + i*step, trailing psize % dims samples stay 0
    from conduino_spark.operators.bitio import LsbReader
    classbook = _mk_codebook(1, [1], None)
    value = _mk_codebook(3, [1, 1], [[1, 2, 3], [4, 5, 6]])
    res = _mk_residue(0, 0, 8, 8, [1, -1, -1, -1, -1, -1, -1, -1])
    books = [classbook, value]
    bits = [0, 0, 1]                             # class, syms [0, 1]
    br = LsbReader(_lsb_bits(bits))
    v = np.zeros(8)
    res.decode(br, books, [v], [False])
    want = np.array([1, 4, 2, 5, 3, 6, 0, 0], float)
    np.testing.assert_array_equal(v, want)


def test_vorbis_residue_dividing_dims_unchanged():
    # regression guard: dims | psize behaves exactly as before
    from conduino_spark.operators.bitio import LsbReader
    classbook = _mk_codebook(1, [1], None)
    value = _mk_codebook(2, [1, 1], [[1, 2], [3, 4]])
    res = _mk_residue(1, 0, 8, 4, [1, -1, -1, -1, -1, -1, -1, -1])
    books = [classbook, value]
    bits = [0, 0, 1] + [0, 1, 0]                 # 2 partitions, 2 syms each
    br = LsbReader(_lsb_bits(bits))
    v = np.zeros(8)
    res.decode(br, books, [v], [False])
    np.testing.assert_array_equal(
        v, np.array([1, 2, 3, 4, 3, 4, 1, 2], float))


# ---------------------------------------------------------------------------
# mp3: count1 final-quad physical overrun
# ---------------------------------------------------------------------------

def test_mp3_count1_physical_overrun_drops_last_quad():
    # table B quads are 4 bits of inverted values: 0b1111 = all-zero
    # quad, no sign bits.  One byte (8 bits) holds two quads; a
    # part2_3_length budget of 12 bits lets a third quad START below
    # the budget but run past the PHYSICAL buffer end — standard
    # decoder behavior drops it and rewinds, same as the budget
    # overrun (r13 ADVICE: this raised and failed the whole stream)
    from conduino_spark.operators.bitio import MsbReader
    from conduino_spark.operators.mp3 import _read_huffman
    g = {"big_values": 0, "table_select": [0, 0, 0],
         "region0_count": 0, "region1_count": 0,
         "window_switching": 0, "block_type": 0,
         "count1table_select": True}
    h = {"mpeg1": True, "mpeg25": False, "sr_idx": 0}
    br = MsbReader(b"\xff")
    xs, pos = _read_huffman(br, g, h, bits_end=12)
    assert pos == 8                              # two whole quads kept
    assert br.pos == 12                          # rewound to the budget
    assert not xs.any()


def test_mp3_count1_budget_overrun_still_drops():
    # regression guard for the pre-existing budget-boundary drop: a
    # quad crossing bits_end inside the physical buffer is dropped
    from conduino_spark.operators.bitio import MsbReader
    from conduino_spark.operators.mp3 import _read_huffman
    g = {"big_values": 0, "table_select": [0, 0, 0],
         "region0_count": 0, "region1_count": 0,
         "window_switching": 0, "block_type": 0,
         "count1table_select": True}
    h = {"mpeg1": True, "mpeg25": False, "sr_idx": 0}
    br = MsbReader(b"\xff\xff")
    xs, pos = _read_huffman(br, g, h, bits_end=10)
    assert pos == 8
    assert br.pos == 10
    assert not xs.any()


# ---------------------------------------------------------------------------
# ogg CRC slice-by-8 == bytewise law (r14 vectorization)
# ---------------------------------------------------------------------------

def test_ogg_crc_slice_by_8_law():
    from conduino_spark.operators.mediainfo import (_ogg_crc,
                                                    _ogg_crc_bytewise)
    rng = np.random.RandomState(0)
    for n in (0, 1, 7, 8, 9, 15, 63, 255, 4096, 10001):
        d = bytes(rng.randint(0, 256, n).astype(np.uint8))
        assert _ogg_crc(d) == _ogg_crc_bytewise(d)
