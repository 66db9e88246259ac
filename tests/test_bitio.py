"""Shared codec bit I/O (operators/bitio.py): the write-then-read law
for both bit orders, truncation behavior, the prefix-code decoder, and
byte pins of one encoder output per codec built on it.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest

from conduino_spark.operators.bitio import (LsbReader, LsbWriter,
                                            MsbReader, MsbWriter,
                                            PrefixDecoder)

ORDERS = [(MsbWriter, MsbReader), (LsbWriter, LsbReader)]


@pytest.mark.parametrize("writer, reader", ORDERS)
def test_write_then_read_every_width_at_every_offset(writer, reader):
    rng = random.Random(7)
    for offset in range(8):
        for width in range(33):
            v = rng.getrandbits(width) if width else 0
            clen = rng.randint(0, 16)
            code = rng.getrandbits(clen) if clen else 0
            bw = writer()
            bw.write(0x55, offset)
            # writes take the LOW n bits only
            bw.write(v | (rng.getrandbits(8) << width), width)
            bw.write_code(code, clen)
            n_before_align = bw.tell()
            bw.align()
            assert bw.tell() == -(-n_before_align // 8) * 8
            bw.write(v, width)
            data = bw.bytes()
            assert len(data) == -(-bw.tell() // 8)

            br = reader(data, eof="law: out of bits")
            assert br.read(offset) == 0x55 & ((1 << offset) - 1)
            assert br.peek(width) == v
            assert br.read(width) == v
            got = 0                  # codewords arrive MSB first
            for _ in range(clen):
                got = (got << 1) | br.read(1)
            assert got == code
            br.align()
            assert br.pos == -(-n_before_align // 8) * 8
            assert br.read(width) == v
            rest = br.nbits - br.pos
            assert rest < 8 and br.peek(rest) == 0
            br.consume(rest)
            assert br.peek(32) == 0              # zeros past the end
            with pytest.raises(ValueError, match="law: out of bits"):
                br.read(1)
            with pytest.raises(ValueError, match="law: out of bits"):
                br.consume(1)


def test_bit_orders_on_the_wire():
    m, ls = MsbWriter(), LsbWriter()
    for bw in (m, ls):
        bw.write(0b101, 3)
        bw.write_code(0b110, 3)
    assert m.bytes() == bytes([0b10111000])
    assert ls.bytes() == bytes([0b011101])       # code bits 1,1,0
    assert MsbReader(b"\xff").peek(16) == 0xFF00
    assert LsbReader(b"\xff").peek(16) == 0x00FF
    assert MsbReader(b"\x12\x34\x56\x78\x9a", 4).read(32) == 0x23456789
    assert LsbReader(b"\x12\x34\x56\x78\x9a", 4).read(32) == 0xA7856341


@pytest.mark.parametrize("writer, reader", ORDERS)
def test_prefix_decoder_lut_and_walk(writer, reader):
    codes = {7: (1, 0b0), 300: (2, 0b10), 5: (10, 0b1100000000),
             9: (10, 0b1100000001)}
    syms = [7, 5, 300, 9, 7, 7, 300, 5]
    bw = writer()
    for s in syms:
        bw.write_code(codes[s][1], codes[s][0])
    bw.write_code(0b111, 3)                   # no codeword: walk fails
    dec = PrefixDecoder(codes.items(), lsb_first=reader is LsbReader,
                        maxlen=10, error="law: bad code")
    br = reader(bw.bytes(), eof="law: out of bits")
    assert [dec.decode(br) for _ in syms] == syms
    with pytest.raises(ValueError, match="law: bad code|law: out of"):
        dec.decode(br)
    # a lone length-0 codeword decodes without reading a bit
    one = PrefixDecoder([(42, (0, 0))], lsb_first=reader is LsbReader,
                        maxlen=10, error="law: bad code")
    br = reader(b"", eof="law: out of bits")
    assert one.decode(br) == 42 and br.pos == 0


# ---------------------------------------------------------------------------
# byte pins: one encoder output per codec that writes through bitio,
# hashed at the commit before the codecs moved onto it (identical with
# OMP_NUM_THREADS / OPENBLAS_NUM_THREADS at 1 and at 4)
# ---------------------------------------------------------------------------

def _pins():
    from conduino_spark import (encode_flac, encode_jpeg, encode_mp3,
                                encode_tiff, encode_vorbis)
    from conduino_spark.operators.jpeg import encode_jpeg_progressive
    from conduino_spark.operators.mpeg1 import encode_mpeg1
    from conduino_spark.operators.webp import encode_webp
    x = ((np.arange(4000, dtype=np.int64) * 7) % 20001 - 10000) \
        .astype("<i2")
    img = ((np.arange(64 * 64 * 3, dtype=np.int64) * 3) % 251) \
        .astype("uint8").reshape(64, 64, 3)
    br8, bc8 = np.mgrid[0:4, 0:4]
    g8 = np.repeat(np.repeat(((11 + br8 * 37 + bc8 * 59) % 256)
                             .astype(np.uint8), 8, 0), 8, 1)
    fa = np.repeat(g8[:, :, None], 3, axis=2)
    frames = [fa, np.roll(fa, (8, 8), (0, 1)), np.roll(fa, (16, 16), (0, 1))]
    return {
        "webp_vp8l": lambda: encode_webp(img, use_palette=False,
                                         predictor_mode=7, cache_bits=6),
        "flac": lambda: encode_flac(x, 8000),
        "tiff_lzw_pred": lambda: encode_tiff(img, compression="lzw",
                                             predictor=True),
        "jpeg_baseline": lambda: encode_jpeg(img, quality=90),
        "jpeg_progressive": lambda: encode_jpeg_progressive(img,
                                                            quality=90),
        "mp3_silence": lambda: encode_mp3(np.zeros(3 * 1152), 44100,
                                          kbps=128),
        "vorbis_silence": lambda: encode_vorbis(np.zeros(1000), 44100),
        "mpeg1_blockwise": lambda: encode_mpeg1(frames, mv_search=8),
    }


PINS = {
    "webp_vp8l":
        "8586496b497c40b71f532fd789f7d448b975a90fb3f6d34feec0c2793ea3c8c6",
    "flac":
        "510e67d90c12018171348311fe3eb5ef89c050e2bfa888d61039bb586c5e16b5",
    "tiff_lzw_pred":
        "53262d7c5f2850a41a761fc3cab0f271544a9f4e83e77f9b8e78c0f794967f11",
    "jpeg_baseline":
        "907246198a6641b68387da6aa80aa62e364153980b7c7bfa19fb1616c10e6e57",
    "jpeg_progressive":
        "48f6b4e1a4e9107a8d300db575b1d83b4004e2b1507b324a9868074f2b6a7b52",
    "mp3_silence":
        "56de14b30f3f3ec0f0b14c4ef869d82b001c77488cefdc79b13b4a2d42eedc1d",
    "vorbis_silence":
        "3a0e5f46f825dd384a6751227e1818f72a8772fd8894cd61a2f3ab0edaeee5d1",
    "mpeg1_blockwise":
        "16c27b5760ffb3a650dfbc8463c54149aefa0f465b5aa51db24819087e7156f0",
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_encoder_bytes_pinned(name):
    blob = _pins()[name]()
    assert hashlib.sha256(blob).hexdigest() == PINS[name]
