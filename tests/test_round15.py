"""Round-15 laws: MPEG-1 advice fixes (motion-vector range, multi-
slice-per-row I-pictures) ahead of the CBP/B-picture work.

Reference semantics: ISO/IEC 11172-2 2.4.4.2 modulo-32 motion
arithmetic at f_code=1 (representable half-pel range [-16, 15]) and
2.4.2.7 slice addressing (a slice may start mid-row past macroblocks
the previous slice coded).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from conduino_spark.operators.bitio import MsbReader, MsbWriter
from conduino_spark.operators.mpeg1 import decode_mpeg1, encode_mpeg1


def _gray_blocks(seed, h=48, w=64):
    r = np.random.RandomState(seed)
    blocks = r.randint(0, 256, (h // 8, w // 8, 1))
    g = np.repeat(np.repeat(blocks, 8, axis=0), 8,
                  axis=1).astype(np.uint8)
    return np.repeat(g, 3, axis=2)


def test_up_left_roll_at_search_8_roundtrips():
    # the r14-advice repro: a (-8,-8) roll wants mv=(+8,+8) full pel
    # = (+16,+16) half pel, OUTSIDE f_code=1's [-16,15] — the encoder
    # must not alias it to the opposite vector; decode must succeed
    # and every frame must be pixel-exact (gray blockwise content)
    f0 = _gray_blocks(71)
    f1 = np.roll(f0, (-8, -8), axis=(0, 1))
    blob = encode_mpeg1([f0, f1], mv_search=8)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[0], f0)
    np.testing.assert_array_equal(frames[1], f1)


def test_up_left_interior_exact_at_search_8():
    # interior-region up-left shift (the silent-corruption variant
    # from the advice): interior MBs must reconstruct exactly
    f0 = _gray_blocks(72, 64, 64)
    f1 = np.roll(f0, (-8, -8), axis=(0, 1))
    blob = encode_mpeg1([f0, f1], mv_search=8)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[1][:48, :48], f1[:48, :48])


def test_representable_negative_8_still_mc_codes():
    # (+8,+8) roll (mv = -8 full pel = -16 half pel, representable)
    # must still take the cheap MC path, not intra-refresh
    f0 = _gray_blocks(73)
    f1 = np.roll(f0, (8, 8), axis=(0, 1))
    blob = encode_mpeg1([f0, f1], mv_search=8)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[1], f1)
    assert len(blob) < len(encode_mpeg1([f0])) + 200


def test_multi_slice_per_row_i_picture_decodes():
    # 32x16 = 2 MBs in one row, TWO slices both at vertical position
    # 1: slice A codes MB0, slice B opens with inc 2 to position at
    # MB1 past the MB slice A covered — conformant, must decode
    out = bytearray()
    bw = MsbWriter()
    bw.write(32, 12)
    bw.write(16, 12)
    bw.write(1, 4)
    bw.write(3, 4)
    bw.write(0x3FFFF, 18)
    bw.write(1, 1)
    bw.write(0, 10)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    out += b"\x00\x00\x01\xb3" + bw.bytes()
    bw = MsbWriter()
    bw.write(0, 10)
    bw.write(1, 3)                 # I picture
    bw.write(0xFFFF, 16)
    out += b"\x00\x00\x01\x00" + bw.bytes()

    def intra_mb(bw):
        bw.write_code(0b1, 1)         # intra
        for blk in range(6):
            luma = blk < 4
            if luma:
                bw.write_code(0b100, 3)
            else:
                bw.write_code(0b00, 2)
            bw.write_code(0b10, 2)                     # EOB

    bw = MsbWriter()
    bw.write(8, 5)                 # qscale
    bw.write(0, 1)
    bw.write_code(0b1, 1)             # inc 1 -> MB0
    intra_mb(bw)
    out += b"\x00\x00\x01\x01" + bw.bytes()
    bw = MsbWriter()
    bw.write(8, 5)
    bw.write(0, 1)
    bw.write_code(0b011, 3)           # inc 2 -> MB1 (past slice A's MB)
    intra_mb(bw)
    out += b"\x00\x00\x01\x01" + bw.bytes()
    out += b"\x00\x00\x01\xb7"
    fps, (w, h), frames = decode_mpeg1(bytes(out))
    assert (w, h) == (32, 16) and len(frames) == 1
    assert frames[0].min() >= 127 and frames[0].max() <= 129


def test_mid_slice_skip_in_i_picture_still_raises():
    # inside a slice (not at its start) inc>1 in an I-picture remains
    # illegal: 32x16, MB0 coded then inc 2
    out = bytearray()
    bw = MsbWriter()
    bw.write(32, 12)
    bw.write(16, 12)
    bw.write(1, 4)
    bw.write(3, 4)
    bw.write(0x3FFFF, 18)
    bw.write(1, 1)
    bw.write(0, 10)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    out += b"\x00\x00\x01\xb3" + bw.bytes()
    bw = MsbWriter()
    bw.write(0, 10)
    bw.write(1, 3)
    bw.write(0xFFFF, 16)
    out += b"\x00\x00\x01\x00" + bw.bytes()
    bw = MsbWriter()
    bw.write(8, 5)
    bw.write(0, 1)
    bw.write_code(0b1, 1)             # inc 1 -> MB0
    bw.write_code(0b1, 1)             # intra
    for blk in range(6):
        if blk < 4:
            bw.write_code(0b100, 3)
        else:
            bw.write_code(0b00, 2)
        bw.write_code(0b10, 2)
    bw.write_code(0b011, 3)           # inc 2 mid-slice: skip in I
    out += b"\x00\x00\x01\x01" + bw.bytes()
    out += b"\x00\x00\x01\xb7"
    with pytest.raises(ValueError, match="skipped macroblock in I"):
        decode_mpeg1(bytes(out))


def test_random_motion_sweep_all_directions():
    # every (dy, dx) in {-8,-2,0,2,8}^2 must encode WITHOUT raising
    # and round-trip pixel-exact on gray blockwise content (border
    # wrap MBs intra-refresh; interior must match)
    f0 = _gray_blocks(74, 64, 64)
    for dy in (-8, -2, 0, 2, 8):
        for dx in (-8, -2, 0, 2, 8):
            f1 = np.roll(f0, (dy, dx), axis=(0, 1))
            blob = encode_mpeg1([f0, f1], mv_search=8)
            _, _, frames = decode_mpeg1(blob)
            if dy % 8 == 0 and dx % 8 == 0:
                # block-aligned wrap keeps content blockwise-constant
                # everywhere: full-frame exact
                np.testing.assert_array_equal(frames[1], f1)
            else:
                # unaligned wrap breaks block constancy at the border
                # (lossy intra refresh there); interior must MC-match
                np.testing.assert_array_equal(frames[1][16:48, 16:48],
                                              f1[16:48, 16:48])


# ---------------------------------------------------------------------------
# r15: CBP (B.3) coded non-intra macroblocks
# ---------------------------------------------------------------------------

def _walk_first_p_mb(blob):
    """Extract (mb_type_tuple, cbp) of the first macroblock of the
    first P picture — a test-side bitstream walker over the module's
    own certified tables."""
    from conduino_spark.operators.mpeg1 import (
        _vlc, ADDR_INC, MB_TYPE_P, CBP, MOTION_CODE)
    i = blob.find(b"\x00\x00\x01\x00")
    while i >= 0:
        if (blob[i + 5] >> 3) & 7 == 2:
            break
        i = blob.find(b"\x00\x00\x01\x00", i + 4)
    assert i >= 0, "no P picture"
    s = blob.find(b"\x00\x00\x01\x01", i)
    br = MsbReader(blob[s + 4:])
    br.read(5)                        # qscale
    assert br.read(1) == 0            # no extra info
    v = _vlc(br, ADDR_INC, "inc")
    assert v == 1
    mt = _vlc(br, MB_TYPE_P, "mb_type")
    quant, mf, _, pattern, intra = mt
    if quant:
        br.read(5)
    if mf:
        for _ in range(2):
            c = _vlc(br, MOTION_CODE, "mv")
            if c:
                br.read(1)
    cbp = _vlc(br, CBP, "cbp") if pattern else 0
    return mt, cbp


def test_encoder_emits_all_63_cbp_values():
    # the VERDICT r14 certification bar: every B.3 entry reachable
    # from the public encoder and round-tripping through the decoder.
    # Per-cbp fixture: 16x16 single-MB pair where chosen luma blocks
    # get a pure-gray +24 delta (chroma-invariant) and chroma planes
    # get Y-invariant color shifts, so the quantizer codes EXACTLY
    # the requested block set.
    seen = set()
    for cbp_want in range(1, 64):
        f0 = np.full((16, 16, 3), 120, np.uint8)
        f1 = f0.astype(np.int64).copy()
        for bi, (dy, dx) in enumerate(((0, 0), (0, 8),
                                       (8, 0), (8, 8))):
            if cbp_want & (32 >> bi):
                f1[dy:dy + 8, dx:dx + 8, :] += 24
        if cbp_want & 2:              # Cb only: dY≈0, dCr≈0
            f1[:, :, 1] += -6
            f1[:, :, 2] += 30
        if cbp_want & 1:              # Cr only: dY≈0, dCb≈0
            f1[:, :, 0] += 30
            f1[:, :, 1] += -15
        f1 = np.clip(f1, 0, 255).astype(np.uint8)
        blob = encode_mpeg1([f0, f1], qscale=8, inter_residual=True)
        (quant, mf, _, pattern, intra), cbp_got = _walk_first_p_mb(
            blob)
        assert pattern == 1 and intra == 0
        assert cbp_got == cbp_want, (cbp_want, cbp_got)
        seen.add(cbp_got)
        # and the stream must decode without error, close to f1
        _, _, frames = decode_mpeg1(blob)
        assert len(frames) == 2
        d = frames[1].astype(float) - f1.astype(float)
        assert np.abs(d).max() <= 24.0
    assert seen == set(range(1, 64))


def test_cbp_exact_reconstruction_at_qscale_1():
    # the exactly-invertible CBP class: blockwise-constant residuals
    # at qscale=1 reconstruct within 1/8 of truth, so pixel rounding
    # recovers the original EXACTLY (nearest odd k to 8d has
    # |8d - k| <= 1 < 4)
    f0 = _gray_blocks(81, 48, 64)
    r = np.random.RandomState(82)
    deltas = r.randint(-20, 21, (6, 8, 1))
    d = np.repeat(np.repeat(deltas, 8, 0), 8, 1)
    f1 = np.clip(f0.astype(np.int64) + np.repeat(d, 3, 2),
                 20, 235).astype(np.uint8)
    blob = encode_mpeg1([f0, f1], qscale=1, inter_residual=True,
                        mv_search=0)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[0], f0)
    np.testing.assert_array_equal(frames[1], f1)


def test_inter_residual_beats_intra_fallback_snr():
    # natural-ish content: residual coding must round-trip through
    # the coded path with bounded error at fine quant
    y, x = np.mgrid[0:48, 0:64]
    f0 = np.zeros((48, 64, 3), np.uint8)
    f0[:, :, 0] = (x * 3) % 256
    f0[:, :, 1] = (y * 5) % 256
    f0[:, :, 2] = ((x + y) * 2) % 256
    f1 = np.clip(f0.astype(np.int64) + 7, 0, 255).astype(np.uint8)
    blob = encode_mpeg1([f0, f1], qscale=2, inter_residual=True)
    _, _, frames = decode_mpeg1(blob)
    d = frames[1].astype(float) - f1.astype(float)
    snr = 10 * np.log10((f1.astype(float) ** 2).sum()
                        / max((d ** 2).sum(), 1e-9))
    assert snr > 25.0


# ---------------------------------------------------------------------------
# r15: B-pictures
# ---------------------------------------------------------------------------

def test_b_picture_forward_exact_and_reorder():
    # I B P coding order (anchors first), display order restored;
    # the B is a pure translation of the I anchor → exact forward MC
    f0 = _gray_blocks(83)
    f1 = np.roll(f0, (8, 8), axis=(0, 1))
    f2 = np.roll(f0, (16, 16), axis=(0, 1))
    blob = encode_mpeg1([f0, f1, f2], b_frames=1, gop=3, mv_search=8)
    from conduino_spark.operators.mpeg1 import mpeg1_info
    info = mpeg1_info(blob)
    assert info["picture_types"] == [1, 2, 3]     # coding order
    _, _, frames = decode_mpeg1(blob)
    assert len(frames) == 3
    np.testing.assert_array_equal(frames[0], f0)  # display order
    np.testing.assert_array_equal(frames[1], f1)
    np.testing.assert_array_equal(frames[2], f2)


def test_b_picture_backward_exact():
    # the B frame equals the NEXT anchor → backward zero-MV match
    f0 = _gray_blocks(84)
    f2 = _gray_blocks(85)
    blob = encode_mpeg1([f0, f2.copy(), f2], b_frames=1, gop=3)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[0], f0)
    np.testing.assert_array_equal(frames[1], f2)
    np.testing.assert_array_equal(frames[2], f2)


def test_b_picture_interpolated_exact():
    # B = exact truncating average of both anchors ((a+b)//2 law)
    r = np.random.RandomState(86)
    blocks0 = r.randint(0, 100, (6, 8, 1)) * 2
    blocks2 = blocks0 + r.randint(0, 50, (6, 8, 1)) * 2
    g0 = np.repeat(np.repeat(blocks0, 8, 0), 8, 1).astype(np.uint8)
    g2 = np.repeat(np.repeat(blocks2, 8, 0), 8, 1).astype(np.uint8)
    f0 = np.repeat(g0, 3, 2)
    f2 = np.repeat(g2, 3, 2)
    f1 = ((f0.astype(np.int64) + f2.astype(np.int64)) // 2).astype(
        np.uint8)
    blob = encode_mpeg1([f0, f1, f2], b_frames=1, gop=3)
    _, _, frames = decode_mpeg1(blob)
    np.testing.assert_array_equal(frames[1], f1)


def test_b_picture_skip_run():
    # static B between static anchors: interior B MBs skip (same
    # prediction as previous MB), stream stays small, decode exact
    f = _gray_blocks(87)
    blob = encode_mpeg1([f, f, f, f], b_frames=2, gop=4)
    _, _, frames = decode_mpeg1(blob)
    assert len(frames) == 4
    for fr in frames:
        np.testing.assert_array_equal(fr, f)
    solo = len(encode_mpeg1([f]))
    assert len(blob) < solo * 2


def test_b_frames_with_cbp_residuals_roundtrip():
    # B-frames + inter-residual together: I, B, P where nothing is
    # an exact translate → CBP-coded B macroblocks; SNR-bounded
    r = np.random.RandomState(88)
    base = r.randint(40, 200, (6, 8, 1))
    f0 = np.repeat(np.repeat(np.repeat(base, 8, 0), 8, 1),
                   3, 2).astype(np.uint8)
    f1 = np.clip(f0.astype(np.int64) + 9, 0, 255).astype(np.uint8)
    f2 = np.clip(f0.astype(np.int64) + 18, 0, 255).astype(np.uint8)
    blob = encode_mpeg1([f0, f1, f2], b_frames=1, gop=3, qscale=1,
                        inter_residual=True, mv_search=0)
    _, _, frames = decode_mpeg1(blob)
    # qscale=1 blockwise class: exact everywhere (B residual included)
    np.testing.assert_array_equal(frames[0], f0)
    np.testing.assert_array_equal(frames[1], f1)
    np.testing.assert_array_equal(frames[2], f2)


def test_b_multi_gop_reorder():
    # two GOPs with B frames: display order is globally correct
    f = [_gray_blocks(90 + k) for k in range(3)]
    seq = [f[0], np.roll(f[0], (8, 8), (0, 1)),
           np.roll(f[0], (16, 16), (0, 1)),
           f[1], np.roll(f[1], (8, 0), (0, 1)),
           np.roll(f[1], (16, 0), (0, 1))]
    blob = encode_mpeg1(seq, b_frames=1, gop=3, mv_search=8)
    _, _, frames = decode_mpeg1(blob)
    assert len(frames) == 6
    for got, want in zip(frames, seq):
        np.testing.assert_array_equal(got, want)


def test_b_max_frames_cutoff():
    f0 = _gray_blocks(91)
    seq = [f0, np.roll(f0, (8, 8), (0, 1)),
           np.roll(f0, (16, 16), (0, 1))]
    blob = encode_mpeg1(seq, b_frames=1, gop=3, mv_search=8)
    _, _, frames = decode_mpeg1(blob, max_frames=2)
    assert len(frames) == 2
    np.testing.assert_array_equal(frames[0], seq[0])
    np.testing.assert_array_equal(frames[1], seq[1])


def test_handbuilt_backward_coded_b_macroblock():
    # decoder-only B.2c rows: 'bwd, coded' ('011') with a (0,+2)
    # DC-only residual at qscale 8 → odd(5*8)=39 → +39/8 → +5 on the
    # Y0 block; anchors are uniform gray 120
    out = bytearray()
    bw = MsbWriter()
    bw.write(16, 12)
    bw.write(16, 12)
    bw.write(1, 4)
    bw.write(3, 4)
    bw.write(0x3FFFF, 18)
    bw.write(1, 1)
    bw.write(0, 10)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    out += b"\x00\x00\x01\xb3" + bw.bytes()

    def picture_header(tref, ptype, n_fcodes):
        g = MsbWriter()
        g.write(tref, 10)
        g.write(ptype, 3)
        g.write(0xFFFF, 16)
        for _ in range(n_fcodes):
            g.write(0, 1)
            g.write(1, 3)
        return b"\x00\x00\x01\x00" + g.bytes()

    def slice_bits(codes):
        g = MsbWriter()
        g.write(8, 5)                  # qscale 8
        g.write(0, 1)
        for c in codes:
            g.write_code(int(c, 2), len(c))
        return b"\x00\x00\x01\x01" + g.bytes()

    # I picture: 1 intra MB, uniform gray 120: luma DC 960, predictor
    # starts 1024 → DC diff (960-1024)/8 = -8 (size 4, bits 7)
    out += picture_header(0, 1, 0)
    g = MsbWriter()
    g.write(8, 5)
    g.write(0, 1)
    g.write_code(0b1, 1)
    g.write_code(0b1, 1)
    g.write_code(0b110, 3)
    g.write(7, 4)
    g.write_code(0b10, 2)
    for _ in range(3):
        g.write_code(0b100, 3)
        g.write_code(0b10, 2)
    for _ in range(2):
        g.write_code(0b00, 2)
        g.write_code(0b10, 2)
    out += b"\x00\x00\x01\x01" + g.bytes()
    # P picture (tref 2): MC not coded, mv 0
    out += picture_header(2, 2, 1)
    out += slice_bits(["1", "001", "1", "1"])
    # B picture (tref 1): bwd coded, mv 0, cbp 32, level (0, +2)
    out += picture_header(1, 3, 2)
    out += slice_bits(["1", "011", "1", "1", "1010",
                       "0100", "0", "10"])
    out += b"\x00\x00\x01\xb7"
    fps, (w, h), frames = decode_mpeg1(bytes(out))
    assert len(frames) == 3
    np.testing.assert_array_equal(
        frames[0], np.full((16, 16, 3), 120, np.uint8))
    np.testing.assert_array_equal(frames[2], frames[0])
    b = frames[1]
    np.testing.assert_array_equal(b[:8, :8],
                                  np.full((8, 8, 3), 125, np.uint8))
    np.testing.assert_array_equal(b[8:, :], frames[0][8:, :])
    np.testing.assert_array_equal(b[:8, 8:], frames[0][:8, 8:])


# ---------------------------------------------------------------------------
# r15: native-codec probe wiring (VERDICT r14 #8)
# ---------------------------------------------------------------------------

def _has(mod):
    import importlib
    try:
        importlib.import_module(mod)
        return True
    except Exception:
        return False


def test_native_probe_returns_none_when_absent():
    from conduino_spark.operators.multimodal import _native_probe
    for kind, mod in (("image", "PIL.Image"), ("audio", "soundfile"),
                      ("video", "av")):
        got = _native_probe(kind)
        if _has(mod):
            assert got is not None
        else:
            assert got is None


def test_real_slots_raise_loudly_without_libs(spark):
    # in a container without PIL/soundfile/av every codec='real' slot
    # must raise the documented NotImplementedError naming the probe;
    # with the libs installed these paths decode instead (skip)
    from conduino_spark import (audio_metadata, feature_extract,
                                frame_sample, image_metadata,
                                image_resize, run_pipe, sink_df,
                                source_list, video_metadata)
    blobs = source_list([{"id": 1, "content": b"notmedia"}])
    cases = [
        ("PIL.Image", image_metadata(codec="real")),
        ("soundfile", audio_metadata(codec="real")),
        ("PIL.Image", image_resize(codec="real")),
        ("av", frame_sample(codec="real")),
        ("av", video_metadata(codec="real")),
        ("PIL.Image", feature_extract(codec="real")),
    ]
    for mod, stage in cases:
        if _has(mod):
            pytest.skip(f"{mod} installed — the raise path is gone")
        with pytest.raises(Exception, match="NotImplementedError"):
            run_pipe(blobs | stage | sink_df(), spark).collect()


@pytest.mark.skipif(not _has("PIL.Image"),
                    reason="pillow not installed")
def test_real_image_metadata_with_pil(spark):
    # exercised only where pillow exists: the probe path must decode
    # a real PNG (our own encoder) through PIL
    from conduino_spark import (image_metadata, run_pipe, sink_df,
                                source_list)
    from conduino_spark.operators.multimodal import encode_png
    img = (np.arange(6 * 5 * 3, dtype=np.int64) % 200).astype(
        np.uint8).reshape(6, 5, 3)
    blobs = source_list([{"id": 1, "content": encode_png(img)}])
    row = run_pipe(blobs | image_metadata(codec="real") | sink_df(),
                   spark).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (5, 6, 3)


def test_sniff_format_tags_bmp(spark):
    # r15: the crawl-mix probe exposed that bmp had a real decoder
    # since r10 but no magic row — sniff must tag it and
    # media_profile must dispatch it
    from conduino_spark import (encode_bmp, media_profile, run_pipe,
                                sink_df, sniff_format, source_list)
    img = (np.arange(16 * 16 * 3, dtype=np.int64) % 251).astype(
        np.uint8).reshape(16, 16, 3)
    blobs = source_list([{"id": 1, "content": encode_bmp(img)}])
    rows = run_pipe(blobs | sniff_format("content")
                    | media_profile(codec_col="format") | sink_df(),
                    spark).collect()
    assert rows[0]["format"] == "bmp"
    assert rows[0]["sum_abs"] == int(img.astype(np.int64).sum())


def test_ann_join_cell_split_bit_identical(spark):
    # r15 (real-sf1 probe finding): the candidate join's parallelism
    # was bounded by the cell count and then AQE-coalesced to ~1 task.
    # cell_split sub-divides cells (corpus pmod-hash, probe
    # replication) — the candidate SET is unchanged, so the exact
    # kernel must be BIT-identical at any split
    import numpy as np
    import pandas as pd
    from conduino_spark import ann_join

    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": [rng.standard_normal(16).astype("float32")
                      for _ in range(n)],
        "label": rng.integers(0, 4, n).astype("int32"),
    })
    df = spark.createDataFrame(pdf)
    base = sorted(map(tuple, ann_join(df, k=3, nprobe=2,
                                      exclude_self=True,
                                      cell_split=1)(df).collect()))
    for s in ("auto", 7):
        got = sorted(map(tuple, ann_join(df, k=3, nprobe=2,
                                         exclude_self=True,
                                         cell_split=s)(df).collect()))
        assert got == base, f"cell_split={s} changed results"
    # the split path's plan carries the explicit (cell, sub)
    # repartition AQE may not coalesce
    plan = (ann_join(df, k=3, nprobe=2, cell_split=8)(df)
            ._jdf.queryExecution().optimizedPlan().toString().lower())
    assert "__sub" in plan and "repartitionbyexpression" in plan
    import pytest as _pt
    with _pt.raises(ValueError, match="cell_split"):
        ann_join(df, cell_split=0)
    with _pt.raises(ValueError, match="cell_split"):
        ann_join(df, cell_split="huge")


# ---------------------------------------------------------------------------
# r15 blocked-GEMM verify: the data-adaptive output-dense strategy of
# ngram_jaccard_pairs / jaccard_prefix_pairs / cosine_prefix_pairs must
# emit EXACTLY the pair-path rows, through both kernel sub-paths (dense
# scatter+GEMM and sparse match-expansion); the shingle joins refuse
# n < 1 and sign the shingles they verify
# ---------------------------------------------------------------------------

def _gemm_corpus(spark, n_docs=36, vocab=14, seed=5):
    import random
    r = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = [(i, " ".join(r.choices(words, k=r.randint(4, 12))))
            for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


#: (operator, threshold, _gemm_corpus arguments)
GEMM_LAW = ([("ngram_jaccard_pairs", t, dict(n_docs=32, vocab=12, seed=11))
             for t in (0.2, 0.5)]
            + [("jaccard_prefix_pairs", t, {}) for t in (0.25, 0.6)]
            + [("cosine_prefix_pairs", t, {}) for t in (0.3, 0.6, 0.8)])


@pytest.mark.parametrize("op, threshold, corpus", GEMM_LAW,
                         ids=[f"{op}-{t}" for op, t, _ in GEMM_LAW])
def test_gemm_verify_branch_matches_pair_path(spark, monkeypatch, op,
                                              threshold, corpus):
    import conduino_spark
    from conduino_spark.operators import dedup as dd
    df = _gemm_corpus(spark, **corpus)
    shingles = {} if op == "cosine_prefix_pairs" else {"n": 1}
    q = getattr(conduino_spark, op)(threshold=threshold, **shingles)
    gate, took = dd._gemm_verify, []
    monkeypatch.setattr(dd, "_gemm_verify",
                        lambda *a: took.append(gate(*a)) or took[-1])
    gemm = sorted(map(tuple, q(df).collect()))
    monkeypatch.setattr(dd, "_GEMM_VERIFY_BUDGET", -1.0)
    pair = sorted(map(tuple, q(df).collect()))
    assert took == [True, False]
    assert gemm == pair and len(gemm) > 0


@pytest.mark.parametrize("n", [0, -2])
def test_shingle_n_below_one_refused_at_build(n):
    from conduino_spark import (decontaminate, jaccard_prefix_pairs,
                                minhash_eval, ngram_jaccard_pairs,
                                source_overlap)
    from conduino_spark.operators.dedup import ngram_jaccard_lsh
    for make in (ngram_jaccard_pairs, ngram_jaccard_lsh,
                 jaccard_prefix_pairs, minhash_eval, source_overlap,
                 lambda n: decontaminate([], n=n)):
        with pytest.raises(ValueError, match=f"n must be >= 1, got {n}"):
            make(n=n)


def _wordset_dups(spark):
    # word-set duplicates that share no 3-gram: only signatures over
    # the same n=1 shingles the verify reads make them candidates
    words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
    return spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(words[::-1])),
         (2, "india juliet kilo lima mike november oscar papa")],
        "doc_id long, text string")


def test_ngram_jaccard_lsh_signs_the_verified_shingles(spark):
    from conduino_spark import ngram_jaccard_pairs
    from conduino_spark.operators.dedup import ngram_jaccard_lsh
    df = _wordset_dups(spark)
    lsh = sorted(map(tuple, ngram_jaccard_lsh(threshold=0.9, n=1)(df)
                     .collect()))
    exact = sorted(map(tuple, ngram_jaccard_pairs(threshold=0.9, n=1)(df)
                       .collect()))
    assert lsh == exact == [(0, 1, 1.0)]


def test_minhash_eval_scores_the_banding_it_names(spark):
    # at n=1 the audited candidates come from n=1 signatures too
    from conduino_spark import minhash_eval
    row = minhash_eval(threshold=0.9, n=1)(_wordset_dups(spark)).first()
    assert tuple(row) == (1, 1, 1, 1.0, 1.0)


def test_gemm_sparse_subkernel_matches_dense(spark, monkeypatch):
    from conduino_spark import cosine_prefix_pairs, jaccard_prefix_pairs
    from conduino_spark.operators import dedup as dd
    df = _gemm_corpus(spark, n_docs=28, vocab=10, seed=9)
    for q in (jaccard_prefix_pairs(threshold=0.3, n=1),
              cosine_prefix_pairs(threshold=0.3)):
        dense = sorted(map(tuple, q(df).collect()))
        monkeypatch.setattr(dd, "_GEMM_DENSE_FLOPS", -1.0)
        sparse = sorted(map(tuple, q(df).collect()))
        monkeypatch.setattr(dd, "_GEMM_DENSE_FLOPS", 2e8)
        assert sparse == dense and len(dense) > 0


# ---------------------------------------------------------------------------
# r15 labels= reuse hook: precomputing the CC label table once and
# feeding it to both survivor policies must emit EXACTLY the rows of
# the per-policy self-computed path
# ---------------------------------------------------------------------------

def test_minhash_cc_labels_hook_equivalence(spark):
    from conduino_spark import (minhash_cc_labels, minhash_dedup_cc,
                                minhash_dedup_cc_best,
                                minhash_dedup_pairs)
    rows = []
    for i in range(40):
        base = f"alpha bravo charlie delta echo foxtrot golf h{i % 7}"
        rows.append((i, base + (" extra tail words" if i % 3 == 0
                                else ""), float(i % 5)))
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "n_chars double")
    pairs = minhash_dedup_pairs()(df)
    labels = minhash_cc_labels(pairs)
    for self_q, hook_q in (
            (minhash_dedup_cc(), minhash_dedup_cc(labels=labels)),
            (minhash_dedup_cc_best("n_chars"),
             minhash_dedup_cc_best("n_chars", labels=labels))):
        a = sorted(map(tuple, self_q(df).select("doc_id").collect()))
        b = sorted(map(tuple, hook_q(df).select("doc_id").collect()))
        assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# r15 edit_distance_pairs pigeonhole-chunk candidate filter: must emit
# EXACTLY the q-gram path's rows, which in turn must equal brute force
# ---------------------------------------------------------------------------

def _lev(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n]


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_edit_chunk_filter_matches_gram_and_brute(spark, monkeypatch, k):
    import random
    from conduino_spark import edit_distance_pairs
    from conduino_spark.operators import dedup as dd
    r = random.Random(17 + k)
    strs = ["", "a", "ab", "ba"]
    strs += ["".join(r.choices("abc", k=r.randint(1, 12)))
             for _ in range(56)]
    df = spark.createDataFrame(list(enumerate(strs)),
                               "doc_id long, s string")
    brute = sorted((i, j, _lev(a, b))
                   for i, a in enumerate(strs)
                   for j, b in enumerate(strs)
                   if i < j and abs(len(a) - len(b)) <= k
                   and _lev(a, b) <= k)
    q = edit_distance_pairs(text_col="s", k=k)
    chunk = sorted(map(tuple, q(df).collect()))
    assert chunk == brute
    monkeypatch.setattr(dd, "_EDJOIN_CHUNK_MAX_K", -1)
    gram = sorted(map(tuple, q(df).collect()))
    assert gram == brute


def test_dedup_against_new_sigs_hook_law(spark, tmp_path):
    """The new_sigs= reuse hooks (minhash + simhash, in-memory +
    persisted-index probes) keep EXACTLY the survivors of the default
    sign-inside path — the hook only moves WHERE the batch signature
    table is built, never what it contains (the dedup_against pin
    signs each batch once per family and shares it across arms)."""
    from conduino_spark import (minhash_dedup_against,
                                minhash_index_dedup, minhash_index_merge,
                                minhash_index_write, minhash_signatures,
                                simhash, simhash_dedup_against,
                                simhash_index_dedup, simhash_index_merge,
                                simhash_index_write)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    bsigs = minhash_signatures()(batch)
    shsigs = simhash(out="sh")(batch).select("doc_id", "sh")

    def ids(df):
        return sorted(r.doc_id for r in df.select("doc_id").collect())

    assert ids(minhash_dedup_against(ref, new_sigs=bsigs)(batch)) == \
        ids(minhash_dedup_against(ref)(batch))
    assert ids(simhash_dedup_against(ref, new_sigs=shsigs)(batch)) == \
        ids(simhash_dedup_against(ref)(batch))

    dm = str(tmp_path / "mh")
    minhash_index_write(ref.where(F.col("doc_id") % 4 == 0), dm,
                        n_shards=8)
    minhash_index_merge(ref.where(F.col("doc_id") % 4 == 2), dm)
    assert ids(minhash_index_dedup(dm, new_sigs=bsigs)(batch)) == \
        ids(minhash_index_dedup(dm)(batch))

    ds = str(tmp_path / "sh")
    simhash_index_write(ref.where(F.col("doc_id") % 4 == 0), ds,
                        n_shards=8)
    simhash_index_merge(ref.where(F.col("doc_id") % 4 == 2), ds)
    assert ids(simhash_index_dedup(ds, new_sigs=shsigs)(batch)) == \
        ids(simhash_index_dedup(ds)(batch))


def test_sentinel_huge_n_boundaries(spark):
    # r15 opt-round guard: orderBy().limit(n) plans a
    # TakeOrderedAndProject whose per-partition buffer is sized by n,
    # not the data — the alt-arm sentinel limited_sink(…, 10**9) spun
    # ~18 min of single-task CPU on a 1k-row input before the
    # count-first guard.  Semantics pinned here: a limit beyond the
    # row count means "never terminates early" (term None / boundary
    # NULL), identical to the small-n law above it; and take/drop with
    # a sentinel-huge n still pass/drop everything.  Wall-clock is the
    # regression tripwire: pre-fix this test would hang for minutes.
    from conduino_spark import (alt_sink, drop, fold, limited_sink,
                                run_pipe, sink_list, source_list, take)
    from conduino_spark.operators.segments import _nth_seq

    # the exact shape that hung: full count raced against a sentinel-n
    # limited count — right term must be None, left (full) fold wins
    p = source_list(range(1, 101)) | alt_sink(
        fold("v", how="count"), limited_sink(fold("v", how="count"), 10 ** 9))
    assert run_pipe(p, spark) == 100

    s = limited_sink(fold("v", how="sum"), 10 ** 9)
    df = source_list(range(1, 11)).df(spark)
    assert s.termination_seq(df) is None

    # _nth_seq's eager-guard branch (n > _EAGER_GUARD_N, fewer rows):
    # boundary NULL == "consumed all", so take passes everything and
    # drop's sequel sees nothing
    row = _nth_seq(df, 10 ** 9).collect()[0]
    assert row["__b"] is None
    assert run_pipe(source_list([5, 6, 7]) | take(10 ** 9) | sink_list(),
                    spark) == [5, 6, 7]
    assert run_pipe(source_list([5, 6, 7])
                    | (drop(10 ** 9) >> sink_list()), spark) == []


def test_cachereg_scoped_release_is_thread_owned(spark):
    """r15: gate pins overlap independent arms from driver threads
    (quality_classifier runs logreg_train and nb_train concurrently);
    a scoped release_caches(since=mark) from one thread must never pop
    a cache another thread tracked in the interleaving — the old
    position-based registry did exactly that (the finishing train
    unpersisted its sibling's token cache mid-run)."""
    import threading

    from conduino_spark.plans import cachereg

    cachereg.release_caches()
    sync = threading.Barrier(2)
    kept = {}

    def owner():
        kept["df"] = cachereg.track(spark.range(7))
        kept["df"].count()
        sync.wait()          # scoper releases while we hold the cache
        sync.wait()

    def scoper():
        m = cachereg.mark()
        mine = cachereg.track(spark.range(8))
        mine.count()
        sync.wait()          # owner's entry is now interleaved
        n = cachereg.release_caches(since=m)
        kept["released"] = n
        kept["mine"] = mine
        sync.wait()

    # owner tracks FIRST, then scoper marks/tracks/releases — but also
    # exercise the interleaved order (owner tracks after the mark)
    t1 = threading.Thread(target=owner)
    t2 = threading.Thread(target=scoper)
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert kept["released"] == 1           # only the scoper's own entry
    assert not kept["mine"].storageLevel.useMemory
    assert kept["df"].storageLevel.useMemory, \
        "scoped release must not pop another thread's cache"
    assert cachereg.release_caches() == 1  # the owner's entry drains
    assert not kept["df"].storageLevel.useMemory


def test_label_propagation_argmax_fold_matches_reference(spark):
    """r15: the per-round max-count agg + equi-join + tie-break agg
    collapsed into one min(struct(-count, label)) aggregate.  Pin the
    semantics on a graph with a genuine tie (node 3 hears 'a' and 'b'
    once each -> lexicographically smaller 'a' wins) and a clamped
    seed whose neighbors disagree with it."""
    from conduino_spark import label_propagation

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (4, 5), (2, 5)],
        "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, "a")],
        "id long, label string")
    out = {r["id"]: r["label_prop"]
           for r in label_propagation(edges, "label", "id", iters=4)
           (nodes).collect()}
    # seeds clamp
    assert out[1] == "a" and out[2] == "b" and out[5] == "a"
    # node 3: neighbors 1 ('a'), 2 ('b'), 4 — round 1 votes a=1, b=1
    # -> tie breaks to 'a' and stays (4 echoes majority later)
    assert out[3] == "a"
    # node 4: neighbors 3 ('a' after r1), 5 ('a') -> 'a'
    assert out[4] == "a"
