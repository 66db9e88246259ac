"""Ogg-Vorbis codec (operators/vorbis.py): spec-anchored laws
(codeword assignment worked example, floor dB table, window
power-complementarity, TDAC), round trips at the exact zero trim,
Ogg packet reassembly, conformance raises, fuzz, Spark dispatch.

Reference anchor: conduino has no media types — north-star engine
extension (SURVEY §7, M6).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from conduino_spark.operators.bitio import LsbReader, LsbWriter
from conduino_spark.operators.vorbis import (FLOOR1_INVERSE_DB,
                                             _assign_codewords,
                                             _imdct_mat, _ogg_packets,
                                             _parse_setup, _window,
                                             decode_vorbis,
                                             encode_vorbis)


# ---------------------------------------------------------------------------
# spec-anchored laws
# ---------------------------------------------------------------------------

def test_codeword_assignment_spec_example():
    # the Vorbis I spec's §3.2.1 worked example, verbatim
    codes = _assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    assert codes == {0: (2, 0b00), 1: (4, 0b0100), 2: (4, 0b0101),
                     3: (4, 0b0110), 4: (4, 0b0111), 5: (2, 0b10),
                     6: (3, 0b110), 7: (3, 0b111)}
    with pytest.raises(ValueError):
        _assign_codewords([1, 1, 1])         # oversubscribed
    with pytest.raises(ValueError):
        _assign_codewords([2, 2, 2])         # undersubscribed


def test_floor_db_table_anchors():
    # published table anchors: first two entries and the unit top
    assert abs(FLOOR1_INVERSE_DB[0] - 1.0649863e-07) < 1e-13
    assert abs(FLOOR1_INVERSE_DB[1] - 1.1341951e-07) < 1e-13
    assert FLOOR1_INVERSE_DB[255] == 1.0
    # geometric: constant ratio
    r = FLOOR1_INVERSE_DB[1:] / FLOOR1_INVERSE_DB[:-1]
    assert np.allclose(r, r[0])


def test_window_power_complementarity():
    # Princen-Bradley: overlapped halves of the long-long window sum
    # to unit power at every lap position
    for n in (128, 256, 2048):
        w = _window(n, 1, 1, n)
        s = w[:n // 2] ** 2 + w[n // 2:] ** 2
        np.testing.assert_allclose(s, 1.0, atol=1e-12)


def test_mdct_tdac_identity():
    # forward (4/n-scaled, windowed) then IMDCT + OLA reproduces the
    # overlapped signal exactly
    n = 256
    h = n // 2
    w = _window(n, 1, 1, n)
    M = _imdct_mat(n)
    rng = np.random.default_rng(0)
    x = rng.normal(0, 1, 6 * h)
    tail = None
    out = []
    for b in range(-1, 5):
        seg = np.zeros(n)
        lo = b * h
        s0, s1 = max(0, lo), min(len(x), lo + n)
        if s1 > s0:
            seg[s0 - lo:s1 - lo] = x[s0:s1]
        S = (4.0 / n) * ((w * seg) @ M)
        blk = (M @ S) * w
        if tail is not None:
            out.append(tail + blk[:h])
        tail = blk[h:]
    y = np.concatenate(out)
    np.testing.assert_allclose(y[:4 * h], x[:4 * h], atol=1e-10)


# ---------------------------------------------------------------------------
# round trips (the encoder is a REAL conformant stream writer)
# ---------------------------------------------------------------------------

def _snr(y, x):
    n = min(len(y), len(x)) - 400
    e = y[:n] - x[:n]
    return 10 * np.log10((x[:n] ** 2).sum() / max((e ** 2).sum(),
                                                  1e-30))


def test_roundtrip_silence_exact():
    r, c, pcm = decode_vorbis(encode_vorbis(np.zeros(1234), 48000))
    assert (r, c) == (48000, 1)
    assert len(pcm) == 1234                  # exact granule trim
    assert np.abs(pcm).max() == 0


def test_roundtrip_sine_zero_delay():
    t = np.arange(11025) / 44100.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    r, c, pcm = decode_vorbis(encode_vorbis(x, 44100))
    assert len(pcm) == len(x)                # zero-delay exact trim
    assert _snr(pcm.astype(np.float64) / 32768.0, x) > 20.0


def test_roundtrip_stereo_distinct_channels():
    t = np.arange(6000) / 44100.0
    L = 0.4 * np.sin(2 * np.pi * 440 * t)
    R = 0.3 * np.sin(2 * np.pi * 880 * t)
    r, c, pcm = decode_vorbis(
        encode_vorbis(np.stack([L, R], axis=1), 44100))
    assert c == 2 and len(pcm) == 2 * len(t)
    y = pcm.astype(np.float64) / 32768.0
    assert _snr(y[0::2], L) > 18.0
    assert _snr(y[1::2], R) > 18.0
    # channels must not be swapped: correlation check
    assert np.dot(y[0::2][:5000], L[:5000]) > \
        5 * abs(np.dot(y[0::2][:5000], R[:5000]))


@pytest.mark.parametrize("bs,vb,floor_snr", [(256, 5, 18.0),
                                             (1024, 6, 24.0),
                                             (2048, 8, 35.0)])
def test_roundtrip_noise_quality_scales(bs, vb, floor_snr):
    from numpy.fft import irfft, rfft
    rng = np.random.default_rng(5)
    x = rng.normal(0, 1, 12000)
    X = rfft(x)
    X[1800:] = 0
    x = irfft(X)
    x = 0.4 * x / np.abs(x).max()
    r, c, pcm = decode_vorbis(
        encode_vorbis(x, 44100, blocksize=bs, value_bits=vb))
    assert _snr(pcm.astype(np.float64) / 32768.0, x) > floor_snr


def test_int16_input():
    x = (np.sin(np.arange(4000) * 0.05) * 12000).astype(np.int16)
    r, c, pcm = decode_vorbis(encode_vorbis(x, 32000))
    assert _snr(pcm.astype(np.float64) / 32768.0,
                x.astype(np.float64) / 32768.0) > 18.0


def test_mediainfo_consistency():
    from conduino_spark.operators.mediainfo import ogg_info
    x = 0.3 * np.sin(np.arange(9000) * 0.04)
    blob = encode_vorbis(x, 22050)
    info = ogg_info(blob, verify_crc=True)
    assert info["codec"] == "vorbis"
    assert info["rate"] == 22050
    assert info["duration_ms"] == round(1000 * 9000 / 22050)


# ---------------------------------------------------------------------------
# Ogg packet layer
# ---------------------------------------------------------------------------

def test_ogg_packet_reassembly_across_pages():
    from conduino_spark.operators.mediainfo import _ogg_crc

    def page(serial, seq, segs, body, htype):
        hdr = (b"OggS\x00" + bytes([htype]) + struct.pack("<q", 0)
               + struct.pack("<I", serial) + struct.pack("<I", seq)
               + b"\x00\x00\x00\x00" + bytes([len(segs)])
               + bytes(segs))
        pg = bytearray(hdr + body)
        pg[22:26] = struct.pack("<I", _ogg_crc(bytes(pg)))
        return bytes(pg)

    big = bytes(range(256)) * 2              # 512-byte packet
    # page 1 carries 255+255 (packet continues), page 2 finishes with
    # the continuation flag and a 2-byte lace
    p1 = page(7, 0, [255, 255], big[:510], 0x02)
    p2 = page(7, 1, [2, 3], big[510:] + b"xyz", 0x01)
    pkts, _g = _ogg_packets(p1 + p2)
    assert pkts == [big, b"xyz"]
    # a fresh page mid-packet WITHOUT the continuation flag is lost sync
    p2bad = page(7, 1, [2], big[510:], 0x00)
    with pytest.raises(ValueError, match="sync"):
        _ogg_packets(p1 + p2bad)


def test_exact_255_multiple_packet():
    # a packet of exactly 255*k bytes needs a 0-lace terminator
    x = 0.3 * np.sin(np.arange(5000) * 0.05)
    blob = encode_vorbis(x, 44100)
    pkts, _ = _ogg_packets(blob)
    assert pkts[0][:7] == b"\x01vorbis"
    assert pkts[2][:7] == b"\x05vorbis"


# ---------------------------------------------------------------------------
# conformance raises + fuzz
# ---------------------------------------------------------------------------

def test_floor0_raises_loudly():
    bw = LsbWriter()
    for b in b"\x05vorbis":
        bw.write(b, 8)
    bw.write(0, 8)                           # 1 codebook
    bw.write(0x564342, 24)
    bw.write(1, 16)                          # dims
    bw.write(2, 24)                          # entries
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 5)                           # len 1
    bw.write(0, 5)                           # len 1
    bw.write(0, 4)                           # lookup 0
    bw.write(0, 6)                           # 1 time transform
    bw.write(0, 16)
    bw.write(0, 6)                           # 1 floor
    bw.write(0, 16)                          # floor type 0 (LSP)
    with pytest.raises(ValueError, match="floor 0"):
        _parse_setup(bw.bytes(), 1)


def test_corrupt_inputs_raise_valueerror():
    with pytest.raises(ValueError):
        decode_vorbis(b"")
    with pytest.raises(ValueError):
        decode_vorbis(b"OggS but not really a stream")
    x = 0.3 * np.sin(np.arange(3000) * 0.05)
    blob = encode_vorbis(x, 44100)
    with pytest.raises(ValueError):
        decode_vorbis(blob[:40])


def test_fuzz_mutations_never_escape_valueerror():
    x = 0.3 * np.sin(np.arange(3000) * 0.06)
    blob = bytearray(encode_vorbis(x, 44100))
    rng = np.random.default_rng(11)
    for _ in range(60):
        m = bytearray(blob)
        for _ in range(rng.integers(1, 6)):
            m[rng.integers(0, len(m))] = rng.integers(0, 256)
        try:
            decode_vorbis(bytes(m))
        except ValueError:
            pass                             # the only legal escape


# ---------------------------------------------------------------------------
# Spark dispatch
# ---------------------------------------------------------------------------

def test_vorbis_spark_dispatch(spark):
    import pandas as pd

    from conduino_spark.operators.multimodal import (audio_metadata,
                                                     media_profile,
                                                     sniff_format)

    sine = 0.4 * np.sin(np.arange(5000) * 0.06)
    blobs = [encode_vorbis(sine, 44100),
             encode_vorbis(np.zeros(2000), 48000),
             b"junk bytes"]
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3],
                                             "content": blobs}))
    sn = {r.id: r.format for r in
          sniff_format("content")(df).select("id", "format").collect()}
    assert sn[1] == "ogg" and sn[2] == "ogg"
    rows = {r.id: r for r in
            audio_metadata(codec="ogg")(df.where("id < 3")).collect()}
    assert rows[1].sample_rate == 44100
    assert rows[1].n_samples == 5000         # exact granule trim
    prof = {r.id: r for r in
            media_profile(codec_col="format")(
                sniff_format("content")(df)).collect()}
    assert prof[2].format == "ogg"
    assert (prof[2].sum_abs, prof[2].max_abs) == (0, 0)
    assert prof[2].n_units == 2000
    assert prof[2].meta == 48000 * 10 + 1
    assert prof[3].format == "error"
    assert prof[1].sum_abs > 0


# ---------------------------------------------------------------------------
# decoder-path coverage options (r13b): every structural decode path
# round-trips through some encoder option
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kw", [
    {"residue_type": 1},
    {"residue_type": 0},                     # dim-2 interleaved stride
    {"floor_classes": True},                 # master/subclass books
    {"blocksize": (256, 1024)},              # window transitions
    {"blocksize": (128, 2048), "value_bits": 6},
])
def test_roundtrip_decoder_path_options(kw):
    t = np.arange(11025) / 44100.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    r, c, pcm = decode_vorbis(encode_vorbis(x, 44100, **kw))
    assert len(pcm) == len(x)                # exact trim, any layout
    assert _snr(pcm.astype(np.float64) / 32768.0, x) > 18.0


def test_roundtrip_square_polar_coupling():
    t = np.arange(6000) / 44100.0
    L = 0.4 * np.sin(2 * np.pi * 440 * t)
    R = 0.3 * np.sin(2 * np.pi * 880 * t)
    st = np.stack([L, R], axis=1)
    r, c, pcm = decode_vorbis(
        encode_vorbis(st, 44100, value_bits=6, coupling=True))
    y = pcm.astype(np.float64) / 32768.0
    assert _snr(y[0::2], L) > 20.0
    assert _snr(y[1::2], R) > 18.0
    # coupled must not leak: left stays 440-dominant
    assert np.dot(y[0::2][:5000], L[:5000]) > \
        5 * abs(np.dot(y[0::2][:5000], R[:5000]))


def test_roundtrip_everything_at_once():
    t = np.arange(9000) / 44100.0
    L = 0.4 * np.sin(2 * np.pi * 330 * t)
    R = 0.35 * np.sin(2 * np.pi * 660 * t)
    st = np.stack([L, R], axis=1)
    blob = encode_vorbis(st, 44100, value_bits=6, coupling=True,
                         floor_classes=True, residue_type=1,
                         blocksize=(256, 1024))
    r, c, pcm = decode_vorbis(blob)
    y = pcm.astype(np.float64) / 32768.0
    assert len(pcm) == 2 * len(t)
    assert _snr(y[0::2], L) > 17.0
    assert _snr(y[1::2], R) > 17.0


def test_couple_forward_exact_inverse():
    from conduino_spark.operators.vorbis import _couple_forward
    rng = np.random.default_rng(2)
    L = rng.integers(-16, 16, 4000).astype(np.float64)
    R = rng.integers(-16, 16, 4000).astype(np.float64)
    M, A = _couple_forward(L, R)
    # replay the decoder's inverse mapping
    newM = M.copy()
    newA = A.copy()
    pm, pa = M > 0, A > 0
    newA[pm & pa] = (M - A)[pm & pa]
    newM[pm & ~pa] = (M + A)[pm & ~pa]
    newA[pm & ~pa] = M[pm & ~pa]
    newA[~pm & pa] = (M + A)[~pm & pa]
    newM[~pm & ~pa] = (M - A)[~pm & ~pa]
    newA[~pm & ~pa] = M[~pm & ~pa]
    np.testing.assert_array_equal(newM, L)
    np.testing.assert_array_equal(newA, R)
    # |A| never exceeds |L|+|R| bound used for book sizing
    assert np.abs(A).max() <= np.abs(L).max() + np.abs(R).max()


def test_window_transition_pairs_power_complementary():
    # the long-after-short transition window overlapped with the
    # short window's right half still sums to unit power where both
    # are active — THE lapping law that makes mixed sizes reconstruct
    from conduino_spark.operators.vorbis import _slope
    n_l, n_s = 1024, 256
    wl = _window(n_l, 0, 1, n_s)             # long, prev short
    ws = _window(n_s, 1, 1, n_s)
    # overlap region: short right half centered at long's n/4
    lo = n_l // 4 - n_s // 4
    s = wl[lo:lo + n_s // 2] ** 2 + ws[n_s // 2:] ** 2
    np.testing.assert_allclose(s, 1.0, atol=1e-12)


def test_codebook_bomb_guard():
    # a forged setup header demanding a gigabyte value table must
    # raise, not allocate (24-bit entries x 16-bit dims)
    from conduino_spark.operators.vorbis import _Codebook
    bw = LsbWriter()
    bw.write(0x564342, 24)
    bw.write(64, 16)                         # dims 64
    bw.write(1 << 20, 24)                    # entries 1M
    bw.write(1, 1)                           # ordered
    bw.write(0, 5)                           # current_length 1
    bw.write(1 << 20, 21)                    # all entries at len 1...
    bw.write(2, 4)                           # lookup type 2
    bw.write(0, 32)
    bw.write(0, 32)
    bw.write(0, 4)
    bw.write(0, 1)
    with pytest.raises(ValueError):
        _Codebook(LsbReader(bw.bytes() + b"\x00" * 64))


def test_review_regressions_r13():
    from conduino_spark.operators.vorbis import _Codebook
    # dims=0 lookup book must raise, not hang
    bw = LsbWriter()
    bw.write(0x564342, 24)
    bw.write(0, 16)                          # dims 0
    bw.write(2, 24)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 5)
    bw.write(0, 5)
    bw.write(1, 4)                           # lookup type 1
    with pytest.raises(ValueError, match="0 dims"):
        _Codebook(LsbReader(bw.bytes() + b"\x00" * 32))
    # raw 16M-entry codebook must raise before allocating
    bw = LsbWriter()
    bw.write(0x564342, 24)
    bw.write(1, 16)
    bw.write((1 << 24) - 1, 24)              # entries
    with pytest.raises(ValueError, match="sanity cap"):
        _Codebook(LsbReader(bw.bytes() + b"\x00" * 32))
    # zero-length stream trims to zero samples (granule 0 is legal)
    r, c, pcm = decode_vorbis(encode_vorbis(np.zeros(0), 44100))
    assert len(pcm) == 0
