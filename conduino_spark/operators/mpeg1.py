"""REAL MPEG-1 video (ISO/IEC 11172-2) elementary-stream codec in pure
Python + numpy — the video sibling of operators/mp3.py, closing the
last non-environmental slot in the multimodal family (r14; VERDICT r13
#2).  Reference anchor: conduino has no media types — north-star
extension (SURVEY §7, M6).

Decode (``decode_mpeg1``): sequence header (dims, fps, custom quant
matrices), GOP, I-pictures (intra macroblocks: DC prediction chains,
AC run-level decode, reconstruction arithmetic with the spec's
oddification mismatch control, float IDCT), P-pictures (skipped
macroblocks, forward motion compensation at full- and half-pel with
any f_code, CBP-coded non-intra residuals, intra refresh), B-pictures
(r15: forward/backward/interpolated prediction, B-skip replication,
temporal_reference display reordering per GOP), one-or-more slices
per picture, 4:2:0 chroma upsampling, BT.601 full-range color.

Certified-table policy (the operators/mp3.py precedent — no
third-party MPEG stream exists in this container to pin a from-memory
transcription, and a wrong-but-prefix-valid VLC table decodes silently
wrong video, which is worse than a loud refusal):

* CERTIFIED (transcribed + structural prefix/Kraft validation at
  import; small, deeply standard tables shared with H.261/H.262):
  macroblock_address_increment (B.1), macroblock_type I/P/B
  (B.2a/b/c, r15), coded_block_pattern (B.3, r15 — certified via its
  exact 255/256 Kraft sum, the all-63-values-once check, the
  H.261-lineage length-symmetry battery in _validate_tables, and the
  exhaustive all-63-value encoder round-trip in tests/test_round15),
  motion_code (B.4), dct_dc_size luma/chroma (B.5a/b), the HEAD of
  the dct_coeff run-level table (B.5c: EOB, the first-coefficient
  context, the 2-7 bit codes) and the fully-specified fixed-length
  escape coding.
* CERTIFIED with no new tables (r15): D-pictures (2.4.3.4) — intra
  DC-only pictures built entirely from already-certified pieces
  (B.1 address increments, the single trivial B.2d type code '1',
  B.5a/b DC size chains, the 1-bit end_of_macroblock); D streams
  are sequence-exclusive per 2.4.1, and mixing raises.
* UNCERTIFIED → loud ValueError: the dct_coeff tail (8+ bit codes).
  The bundled encoder emits certified codes only (escape-coding the
  AC tail — every real decoder accepts escapes for codable pairs).
  Real-world .mpg decode therefore still refuses on VLC AC codes
  beyond the head; the native `codec='real'` wiring in
  operators/multimodal.py is the production path.

Encode (``encode_mpeg1``): a conformant-subset writer — I-pictures
(full intra), P-pictures composed of skipped (static), forward-MC
not-coded (pure translation, exact), CBP coded-residual
(``inter_residual=True``, r15) and intra-refresh macroblocks;
B-pictures between anchors (``b_frames``, r15) with exact
forward/backward/interpolated paths, B-skip runs and forward
coded residuals; one slice per macroblock row; default quant
matrices; f_code derived from ``mv_search`` (half-pel +16 is
unrepresentable at f_code=1 — the r15 motion-range fix).  Every
decoder path above is reachable from some encoder option, which is
how the round-trip laws pin the parser (the FIXTURES.md
synthetic-writer convention).
"""

from __future__ import annotations

import numpy as np

from conduino_spark.operators.bitio import MsbReader, MsbWriter
from conduino_spark.operators.jpeg import _ZIGZAG, _dct8, _idct8

__all__ = ["decode_mpeg1", "encode_mpeg1", "mpeg1_info",
           "mux_mpeg_ps", "demux_mpeg_ps", "mpeg_ps_video_es",
           "mpeg_ps_info"]


# ---------------------------------------------------------------------------
# spec constants
# ---------------------------------------------------------------------------

#: picture_rate code → frames/sec (11172-2 2.4.3.2)
PICTURE_RATES = {1: 23.976, 2: 24.0, 3: 25.0, 4: 29.97, 5: 30.0,
                 6: 50.0, 7: 59.94, 8: 60.0}

#: default intra quantizer matrix (11172-2 2.4.3.2), row-major
DEFAULT_INTRA_Q = np.array([
     8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83], dtype=np.int64)

#: default non-intra matrix: flat 16 (11172-2 2.4.3.2)
DEFAULT_NONINTRA_Q = np.full(64, 16, dtype=np.int64)


# ---------------------------------------------------------------------------
# VLC tables (11172-2 Annex B) — {codestring: value}; validated below
# ---------------------------------------------------------------------------

#: B.1 macroblock_address_increment; 'esc' adds 33, 'stuff' is skipped
ADDR_INC = {
    "1": 1, "011": 2, "010": 3, "0011": 4, "0010": 5,
    "00011": 6, "00010": 7, "0000111": 8, "0000110": 9,
    "00001011": 10, "00001010": 11, "00001001": 12, "00001000": 13,
    "00000111": 14, "00000110": 15,
    "0000010111": 16, "0000010110": 17, "0000010101": 18,
    "0000010100": 19, "0000010011": 20, "0000010010": 21,
    "00000100011": 22, "00000100010": 23, "00000100001": 24,
    "00000100000": 25, "00000011111": 26, "00000011110": 27,
    "00000011101": 28, "00000011100": 29, "00000011011": 30,
    "00000011010": 31, "00000011001": 32, "00000011000": 33,
    "00000001000": "esc", "00000001111": "stuff",
}

#: B.2a macroblock_type, I pictures: (quant, mf, mb, pattern, intra)
MB_TYPE_I = {"1": (0, 0, 0, 0, 1), "01": (1, 0, 0, 0, 1)}

#: B.2b macroblock_type, P pictures
MB_TYPE_P = {
    "1":      (0, 1, 0, 1, 0),     # MC, coded
    "01":     (0, 0, 0, 1, 0),     # no MC, coded
    "001":    (0, 1, 0, 0, 0),     # MC, not coded
    "00011":  (0, 0, 0, 0, 1),     # intra
    "00010":  (1, 0, 0, 1, 0),     # quant, coded
    "00001":  (1, 1, 0, 1, 0),     # quant, MC, coded
    "000001": (1, 0, 0, 0, 1),     # quant, intra
}

#: B.2c macroblock_type, B pictures (r15):
#: (quant, mf_forward, mf_backward, pattern, intra)
MB_TYPE_B = {
    "10":     (0, 1, 1, 0, 0),     # interp, not coded
    "11":     (0, 1, 1, 1, 0),     # interp, coded
    "010":    (0, 0, 1, 0, 0),     # backward, not coded
    "011":    (0, 0, 1, 1, 0),     # backward, coded
    "0010":   (0, 1, 0, 0, 0),     # forward, not coded
    "0011":   (0, 1, 0, 1, 0),     # forward, coded
    "00011":  (0, 0, 0, 0, 1),     # intra
    "00010":  (1, 1, 1, 1, 0),     # quant, interp, coded
    "000011": (1, 1, 0, 1, 0),     # quant, forward, coded
    "000010": (1, 0, 1, 1, 0),     # quant, backward, coded
    "000001": (1, 0, 0, 0, 1),     # quant, intra
}

#: B.3 coded_block_pattern (r15): {code: cbp}, cbp bit 5..0 =
#: Y0 Y1 Y2 Y3 Cb Cr (bit 5 = 32 = top-left luma block).  Certified
#: via the structural battery in _validate_tables (prefix-free, the
#: exact Kraft sum 255/256, all 63 values once, and the H.261-lineage
#: length symmetries: the four single-luma patterns share one length,
#: adjacent luma pairs are shorter than diagonal pairs, the all-luma
#: pattern 60 is the unique shortest code) plus the exhaustive
#: all-63-value encoder round-trip in tests/test_round15.py.
CBP = {
    "111": 60,
    "1101": 4, "1100": 8, "1011": 16, "1010": 32,
    "10011": 12, "10010": 48, "10001": 20, "10000": 40,
    "01111": 28, "01110": 44, "01101": 52, "01100": 56,
    "01011": 1, "01010": 61, "01001": 2, "01000": 62,
    "001111": 24, "001110": 36, "001101": 3, "001100": 63,
    "0010111": 5, "0010110": 9, "0010101": 17, "0010100": 33,
    "0010011": 6, "0010010": 10, "0010001": 18, "0010000": 34,
    "00011111": 7, "00011110": 11, "00011101": 19, "00011100": 35,
    "00011011": 13, "00011010": 49, "00011001": 21, "00011000": 41,
    "00010111": 14, "00010110": 50, "00010101": 22, "00010100": 42,
    "00010011": 15, "00010010": 51, "00010001": 23, "00010000": 43,
    "00001111": 25, "00001110": 37, "00001101": 26, "00001100": 38,
    "00001011": 29, "00001010": 45, "00001001": 53, "00001000": 57,
    "00000111": 30, "00000110": 46, "00000101": 31, "00000100": 47,
    "000000111": 58, "000000110": 54, "000000101": 59,
    "000000100": 55, "000000011": 27, "000000010": 39,
}

#: B.4 |motion_code| (0..16); nonzero codes are followed by a sign bit
#: (0 = positive).  Structurally the B.1 table with sign-pairs merged
#: (the shared H.261 ancestry).
MOTION_CODE = {
    "1": 0, "01": 1, "001": 2, "0001": 3, "000011": 4,
    "0000101": 5, "0000100": 6, "0000011": 7,
    "000001011": 8, "000001010": 9, "000001001": 10,
    "0000010001": 11, "0000010000": 12, "0000001111": 13,
    "0000001110": 14, "0000001101": 15, "0000001100": 16,
}

#: B.5a dct_dc_size_luminance
DC_SIZE_LUMA = {"100": 0, "00": 1, "01": 2, "101": 3, "110": 4,
                "1110": 5, "11110": 6, "111110": 7, "1111110": 8}

#: B.5b dct_dc_size_chrominance
DC_SIZE_CHROMA = {"00": 0, "01": 1, "10": 2, "110": 3, "1110": 4,
                  "11110": 5, "111110": 6, "1111110": 7,
                  "11111110": 8}

#: B.5c dct_coeff CERTIFIED HEAD: {code: (run, level)} in the "next"
#: context ('10' = EOB; the first-coefficient '1' special case only
#: arises in non-intra blocks, which raise on the CBP table anyway).
#: Codes of 8+ bits are UNCERTIFIED and raise; the encoder
#: escape-codes those pairs instead.
AC_HEAD = {
    "11": (0, 1), "011": (1, 1), "0100": (0, 2), "0101": (2, 1),
    "00101": (0, 3), "00111": (3, 1), "00110": (4, 1),
    "000110": (1, 2), "000111": (5, 1), "000101": (6, 1),
    "000100": (7, 1),
    "0000110": (0, 4), "0000100": (2, 2), "0000111": (8, 1),
    "0000101": (9, 1),
}
AC_EOB = "10"
AC_ESCAPE = "000001"


def _validate_tables() -> None:
    """Structural transcription guards (import time): every table must
    be prefix-free, with Kraft sums bounded by 1 (the spec's tables
    are intentionally incomplete — reserved space / longer groups)."""
    def check(name, codes, lo=0.0):
        ordered = sorted(codes)
        for i, c in enumerate(ordered):
            for d in ordered[i + 1:]:
                if d.startswith(c):
                    raise AssertionError(f"{name}: {c} prefixes {d}")
        kraft = sum(2.0 ** -len(c) for c in codes)
        if not lo <= kraft <= 1.0 + 1e-12:
            raise AssertionError(f"{name}: Kraft sum {kraft}")
        return kraft

    check("ADDR_INC", ADDR_INC, 0.98)
    check("MB_TYPE_I", MB_TYPE_I, 0.74)
    # motion codes: nonzero entries carry a sign bit -> effective
    # codeword set is {'1'} + {c+'0', c+'1'}; must exactly mirror
    # ADDR_INC's pair structure (the shared H.261 lineage): Kraft of
    # the sign-expanded set == Kraft of ADDR_INC's value codes 1..33
    sign_expanded = {"1"} | {c + s for c, v in MOTION_CODE.items()
                             if v for s in "01"}
    check("MOTION_CODE(signed)", sign_expanded, 0.98)
    k_addr = sum(2.0 ** -len(c) for c, v in ADDR_INC.items()
                 if isinstance(v, int))
    k_mot = sum(2.0 ** -len(c) for c in sign_expanded)
    if abs(k_addr - k_mot) > 1e-12:
        raise AssertionError("MOTION_CODE does not mirror ADDR_INC")
    check("MB_TYPE_P", MB_TYPE_P, 0.95)
    check("MB_TYPE_B", MB_TYPE_B, 0.98)
    # B.3 battery (r15): beyond prefix-freedom, the table has strong
    # internal structure any transposition/typo breaks —
    kraft_cbp = check("CBP", CBP, 0.99)
    if abs(kraft_cbp - 255.0 / 256.0) > 1e-12:
        raise AssertionError(f"CBP: Kraft {kraft_cbp} != 255/256")
    if sorted(CBP.values()) != list(range(1, 64)):
        raise AssertionError("CBP: values are not exactly 1..63")
    by_len: dict = {}
    for c, v in CBP.items():
        by_len.setdefault(len(c), set()).add(v)
    if {k: len(v) for k, v in sorted(by_len.items())} != {
            3: 1, 4: 4, 5: 12, 6: 4, 7: 8, 8: 28, 9: 6}:
        raise AssertionError("CBP: length histogram mismatch")
    if by_len[3] != {60}:                       # all-luma shortest
        raise AssertionError("CBP: 3-bit code is not cbp 60")
    if by_len[4] != {4, 8, 16, 32}:             # single luma block
        raise AssertionError("CBP: 4-bit codes are not single-luma")
    if by_len[5] != {1, 2, 61, 62,              # single/±all chroma
                     12, 48, 20, 40,            # adjacent luma pairs
                     28, 44, 52, 56}:           # luma triples
        raise AssertionError("CBP: 5-bit group mismatch")
    if by_len[6] != {24, 36,                    # diagonal luma pairs
                     3, 63}:                    # both-chroma / all
        raise AssertionError("CBP: 6-bit group mismatch")
    # 7-bit group: exactly one luma bit + one chroma bit
    if by_len[7] != {v for v in range(1, 64)
                     if bin(v & 0b111100).count("1") == 1
                     and bin(v & 0b11).count("1") == 1}:
        raise AssertionError("CBP: 7-bit group mismatch")
    check("DC_SIZE_LUMA", DC_SIZE_LUMA, 0.99)
    check("DC_SIZE_CHROMA", DC_SIZE_CHROMA, 0.99)
    check("AC_HEAD(+eob/esc)",
          set(AC_HEAD) | {AC_EOB, AC_ESCAPE,
                          # sign-bit expansion not needed for the
                          # prefix property: sign follows a complete
                          # codeword
                          }, 0.90)


_validate_tables()


# ---------------------------------------------------------------------------
# bit I/O (MSB-first)
# ---------------------------------------------------------------------------

_EOF = "mpeg1: bitstream truncated"


def _vlc(br: MsbReader, codes: dict, what: str, maxlen: int = 12):
    """Longest-prefix decode against a {bitstring: value} table."""
    s = ""
    for _ in range(maxlen):
        s += "1" if br.read(1) else "0"
        if s in codes:
            return codes[s]
    raise ValueError(f"mpeg1: invalid {what} code {s!r}")


def _put(bw: MsbWriter, code: str) -> None:
    """Append a table codeword given as its bitstring."""
    bw.write(int(code, 2), len(code))


# ---------------------------------------------------------------------------
# block-level decode
# ---------------------------------------------------------------------------

def _decode_dc(br: MsbReader, luma: bool) -> int:
    size = _vlc(br, DC_SIZE_LUMA if luma else DC_SIZE_CHROMA,
                "dct_dc_size")
    if size == 0:
        return 0
    bits = br.read(size)
    if bits >> (size - 1):          # MSB set: positive
        return bits
    return bits - ((1 << size) - 1)


def _decode_escape_level(br: MsbReader) -> int:
    b = br.read(8)
    if b == 0:
        lvl = br.read(8)
        if lvl < 128:
            raise ValueError("mpeg1: bad escape level (0 marker)")
        return lvl
    if b == 0x80:
        lvl = br.read(8)
        if lvl == 0 or lvl > 128:
            raise ValueError("mpeg1: bad escape level (0x80 marker)")
        return lvl - 256
    return b - 256 if b > 128 else b


def _decode_intra_block(br: MsbReader, luma: bool, dc_pred: int,
                        qscale: int, iq: np.ndarray):
    """One intra block → (8,8 float spatial samples, new dc predictor).
    Reconstruction per 11172-2 2.4.4.1: oddification mismatch control,
    [-2048, 2047] clamp, DC = predictor + 8*diff."""
    zz = np.zeros(64, dtype=np.int64)
    dc = dc_pred + 8 * _decode_dc(br, luma)
    if not 0 <= dc <= 2047:
        raise ValueError(f"mpeg1: intra DC {dc} out of range")
    zz[0] = dc
    i = 0
    while True:
        code = ""
        for _ in range(12):
            code += "1" if br.read(1) else "0"
            if code == AC_EOB:
                break
            if code == AC_ESCAPE:
                run = br.read(6)
                level = _decode_escape_level(br)
                i += run + 1
                if i > 63:
                    raise ValueError("mpeg1: AC run past block end")
                zz[i] = level
                break
            if code in AC_HEAD:
                run, level = AC_HEAD[code]
                if br.read(1):
                    level = -level
                i += run + 1
                if i > 63:
                    raise ValueError("mpeg1: AC run past block end")
                zz[i] = level
                break
        else:
            raise ValueError(
                f"mpeg1: dct_coeff code {code!r} is outside the "
                "certified head of Table B.5 — refusing to decode "
                "with uncertified tables (see module docstring)")
        if code == AC_EOB:
            break
    # reconstruction: rec = (2*level*q*M[i])/16, oddified, clamped
    rec = np.zeros(64, dtype=np.int64)
    rec[0] = zz[0]
    ac = zz[1:]
    nz = ac != 0
    if nz.any():
        v = (2 * ac[nz] * qscale * iq[1:][nz])
        r = np.sign(v) * (np.abs(v) // 16)
        even = (r % 2 == 0) & (r != 0)
        r = np.where(even, r - np.sign(r), r)
        rec[1:][nz] = np.clip(r, -2048, 2047)
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = rec
    return _idct8(coef.reshape(8, 8)), dc


def _decode_nonintra_zz(br: MsbReader) -> np.ndarray:
    """Run-level decode of one coded non-intra block → zigzag levels
    (r15).  The whole block (index 0 included) is run-level coded;
    the FIRST coefficient uses B.5c's 'first' context where the
    codeword '1'+sign means (run 0, level ±1) — disambiguated from
    EOB '10', which cannot open a coded block."""
    zz = np.zeros(64, dtype=np.int64)
    i = -1
    first = True
    while True:
        code = ""
        if first:
            first = False
            if br.read(1):
                zz[0] = -1 if br.read(1) else 1
                i = 0
                continue
            code = "0"
        matched = False
        for _ in range(12):
            code += "1" if br.read(1) else "0"
            if code == AC_EOB:
                matched = True
                break
            if code == AC_ESCAPE:
                run = br.read(6)
                level = _decode_escape_level(br)
                i += run + 1
                if i > 63:
                    raise ValueError("mpeg1: AC run past block end")
                zz[i] = level
                matched = True
                break
            if code in AC_HEAD:
                run, level = AC_HEAD[code]
                if br.read(1):
                    level = -level
                i += run + 1
                if i > 63:
                    raise ValueError("mpeg1: AC run past block end")
                zz[i] = level
                matched = True
                break
        if not matched:
            raise ValueError(
                f"mpeg1: dct_coeff code {code!r} is outside the "
                "certified head of Table B.5 — refusing to decode "
                "with uncertified tables (see module docstring)")
        if code == AC_EOB:
            break
    return zz


def _reconstruct_nonintra(zz: np.ndarray, qscale: int,
                          niq_zz: np.ndarray) -> np.ndarray:
    """Non-intra reconstruction per 11172-2 2.4.4.2: rec =
    ((2*level + sign) * qscale * NIQ[i]) // 16, oddified, clamped —
    returns the 8x8 float residual to ADD to the MC prediction."""
    rec = np.zeros(64, dtype=np.int64)
    nz = zz != 0
    if nz.any():
        s = np.sign(zz[nz])
        v = (2 * zz[nz] + s) * qscale * niq_zz[nz]
        r = np.sign(v) * (np.abs(v) // 16)
        even = (r % 2 == 0) & (r != 0)
        r = np.where(even, r - np.sign(r), r)
        rec[nz] = np.clip(r, -2048, 2047)
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = rec
    return _idct8(coef.reshape(8, 8))


# ---------------------------------------------------------------------------
# motion vectors
# ---------------------------------------------------------------------------

def _decode_mv_component(br: MsbReader, f_code: int, pred: int) -> int:
    code = _vlc(br, MOTION_CODE, "motion_code")
    if code:
        if br.read(1):
            code = -code
    f = 1 << (f_code - 1)
    if f > 1 and code != 0:
        r = br.read(f_code - 1)
        delta = (1 + f * (abs(code) - 1) + r) * (1 if code > 0 else -1)
    else:
        delta = code
    mv = pred + delta
    # wrap into [-16f, 16f-1] (11172-2 2.4.4.2 modulo arithmetic)
    lo, hi = -16 * f, 16 * f
    rng = hi - lo
    while mv < lo:
        mv += rng
    while mv >= hi:
        mv -= rng
    return mv


def _mc_predict(plane: np.ndarray, y0: int, x0: int, h: int, w: int,
                mvy: int, mvx: int) -> np.ndarray:
    """Forward MC block from the previous reconstructed plane.  mv in
    half-pel units; half-pel interpolation averages with truncation
    (11172-2 2.4.4.2 integer '/')."""
    iy, ix = mvy >> 1, mvx >> 1
    hy, hx = mvy & 1, mvx & 1
    ph, pw = plane.shape
    ys, xs = y0 + iy, x0 + ix
    if ys < 0 or xs < 0 or ys + h + hy > ph or xs + w + hx > pw:
        raise ValueError("mpeg1: motion vector points outside the "
                         "reference picture")
    a = plane[ys:ys + h, xs:xs + w].astype(np.int64)
    if hx:
        a = a + plane[ys:ys + h, xs + 1:xs + 1 + w]
    if hy:
        b = plane[ys + 1:ys + 1 + h, xs:xs + w].astype(np.int64)
        if hx:
            b = b + plane[ys + 1:ys + 1 + h, xs + 1:xs + 1 + w]
        a = a + b
    shift = hy + hx                  # 0, 1 or 2 averaged taps
    return (a // (1 << shift)).astype(np.int64)


# ---------------------------------------------------------------------------
# color (BT.601 full range — shared with the jpeg/webp test conventions)
# ---------------------------------------------------------------------------

def _rgb_to_ycc(rgb: np.ndarray):
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return (np.clip(np.round(y), 0, 255).astype(np.uint8),
            np.clip(np.round(cb), 0, 255).astype(np.uint8),
            np.clip(np.round(cr), 0, 255).astype(np.uint8))


def _ycc_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136286 * cbf - 0.714136286 * crf
    b = yf + 1.772 * cbf
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0,
                   255).astype(np.uint8)


def _upsample2(p: np.ndarray, h: int, w: int) -> np.ndarray:
    return np.repeat(np.repeat(p, 2, axis=0), 2, axis=1)[:h, :w]


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _find_start_codes(data: bytes):
    """(code, payload_start, payload_end) for every byte-aligned
    000001xx; each payload runs to the next start code."""
    starts = []
    i = data.find(b"\x00\x00\x01")
    while i >= 0 and i + 3 < len(data):
        starts.append((data[i + 3], i + 4))
        i = data.find(b"\x00\x00\x01", i + 3)
    out = []
    for k, (code, s) in enumerate(starts):
        e = starts[k + 1][1] - 4 if k + 1 < len(starts) else len(data)
        out.append((code, s, e))
    return out


def _parse_seq_header(br: MsbReader) -> dict:
    w = br.read(12)
    h = br.read(12)
    if w == 0 or h == 0:
        raise ValueError("mpeg1: zero picture dimension")
    aspect = br.read(4)
    rate_code = br.read(4)
    if rate_code not in PICTURE_RATES:
        raise ValueError(f"mpeg1: reserved picture_rate {rate_code}")
    bitrate = br.read(18)
    if not br.read(1):
        raise ValueError("mpeg1: sequence-header marker bit 0")
    vbv = br.read(10)
    constrained = br.read(1)
    # quant matrices kept in ZIGZAG order (reconstruction indexes by
    # zigzag position; custom matrices transmit in zigzag order
    # already, 11172-2 2.4.3.2)
    iq_zz = DEFAULT_INTRA_Q[_ZIGZAG]
    if br.read(1):
        iq_zz = np.array([br.read(8) for _ in range(64)],
                         dtype=np.int64)
        if (iq_zz == 0).any():
            raise ValueError("mpeg1: zero in intra quant matrix")
    nq = DEFAULT_NONINTRA_Q          # flat 16: zigzag == row-major
    if br.read(1):                   # custom non-intra matrix (r15:
        # used by the coded-block residual path; zigzag order)
        nq = np.array([br.read(8) for _ in range(64)], dtype=np.int64)
        if (nq == 0).any():
            raise ValueError("mpeg1: zero in non-intra quant matrix")
    return {"w": w, "h": h, "aspect": aspect, "rate_code": rate_code,
            "fps": PICTURE_RATES[rate_code], "bitrate": bitrate,
            "vbv": vbv, "constrained": constrained, "iq_zz": iq_zz,
            "niq_zz": nq}


def _seq_iq_zz(seq: dict) -> np.ndarray:
    return seq["iq_zz"]


class _PlaneSet:
    """Y/Cb/Cr reconstruction planes (mb-padded dims)."""

    def __init__(self, mbw: int, mbh: int):
        self.y = np.zeros((mbh * 16, mbw * 16), dtype=np.int64)
        self.cb = np.full((mbh * 8, mbw * 8), 128, dtype=np.int64)
        self.cr = np.full((mbh * 8, mbw * 8), 128, dtype=np.int64)

    def copy(self) -> "_PlaneSet":
        p = object.__new__(_PlaneSet)
        p.y = self.y.copy()
        p.cb = self.cb.copy()
        p.cr = self.cr.copy()
        return p


def _store_block(plane: np.ndarray, y0: int, x0: int,
                 block: np.ndarray) -> None:
    plane[y0:y0 + 8, x0:x0 + 8] = np.clip(np.round(block), 0, 255)


def _mb_predict(ref: _PlaneSet, row: int, col: int, vy: int,
                vx: int):
    """Full-macroblock MC prediction (16x16 luma + two 8x8 chroma)
    from one reference; chroma vectors are half the luma vector,
    truncating toward zero (11172-2 2.4.4.2)."""
    py = _mc_predict(ref.y, row * 16, col * 16, 16, 16, vy, vx)
    cy, cx = int(vy / 2), int(vx / 2)
    pcb = _mc_predict(ref.cb, row * 8, col * 8, 8, 8, cy, cx)
    pcr = _mc_predict(ref.cr, row * 8, col * 8, 8, 8, cy, cx)
    return py, pcb, pcr


def _avg_pred(a, b):
    """Bidirectional interpolation: integer average with the same
    truncating-'/' convention as half-pel MC (11172-2 2.4.4.4)."""
    return (a + b) // 2


def _decode_picture(slices, seq, fwd: "_PlaneSet | None",
                    bwd: "_PlaneSet | None", ptype: int,
                    fp_f: int, fc_f: int, fp_b: int = 0,
                    fc_b: int = 1) -> _PlaneSet:
    mbw = (seq["w"] + 15) // 16
    mbh = (seq["h"] + 15) // 16
    iq_zz = _seq_iq_zz(seq)
    niq_zz = seq["niq_zz"]
    rec = _PlaneSet(mbw, mbh)
    if ptype == 2:
        if fwd is None:
            raise ValueError("mpeg1: P-picture with no reference")
        rec.y[:] = fwd.y
        rec.cb[:] = fwd.cb
        rec.cr[:] = fwd.cr
    elif ptype == 3:
        if fwd is None or bwd is None:
            raise ValueError("mpeg1: B-picture without both anchor "
                             "references")
        # between-slice gaps (if any) land as forward zero-MV copy
        rec.y[:] = fwd.y
        rec.cb[:] = fwd.cb
        rec.cr[:] = fwd.cr
    covered = np.zeros(mbw * mbh, dtype=bool)

    def store_mb(row, col, py, pcb, pcr):
        rec.y[row * 16:row * 16 + 16, col * 16:col * 16 + 16] = py
        rec.cb[row * 8:row * 8 + 8, col * 8:col * 8 + 8] = pcb
        rec.cr[row * 8:row * 8 + 8, col * 8:col * 8 + 8] = pcr

    for sval, payload in slices:
        if not 1 <= sval <= mbh:
            raise ValueError(f"mpeg1: slice row {sval} > {mbh}")
        br = MsbReader(payload, eof=_EOF)
        qscale = br.read(5)
        if qscale == 0:
            raise ValueError("mpeg1: quantizer_scale 0")
        while br.peek(1) == 1:       # extra slice information
            br.read(1)
            br.read(8)
        br.read(1)
        mb_addr = (sval - 1) * mbw - 1
        dc_y = dc_cb = dc_cr = 1024
        mv_fy = mv_fx = mv_by = mv_bx = 0
        # B-skip replication state: (use_fwd, use_bwd, vf, vb) of the
        # previous macroblock (skipped B MBs repeat it verbatim)
        last_b = None
        first_mb = True
        while True:
            # slice ends when only zero stuffing remains before the
            # next (byte-aligned) start code
            if br.pos >= br.nbits or br.peek(23) == 0:
                break
            inc = 0
            while True:
                v = _vlc(br, ADDR_INC, "macroblock_address_increment")
                if v == "stuff":
                    continue
                if v == "esc":
                    inc += 33
                    continue
                inc += v
                break
            if first_mb:
                # inc>1 at slice start legally positions past
                # macroblocks the PREVIOUS slice coded (a second slice
                # starting mid-row); covered.all() below still rejects
                # genuine I-picture gaps
                mb_addr += inc
                first_mb = False
            else:
                if inc > 1:
                    if ptype in (1, 4):
                        raise ValueError(
                            "mpeg1: skipped macroblock in I/D-picture")
                    if ptype == 2:
                        # skipped P macroblocks: copy co-located,
                        # reset predictors (copied via fwd pre-fill)
                        for _ in range(inc - 1):
                            mb_addr += 1
                            if mb_addr >= mbw * mbh:
                                raise ValueError(
                                    "mpeg1: address overflow")
                            covered[mb_addr] = True
                        mv_fy = mv_fx = 0
                        dc_y = dc_cb = dc_cr = 1024
                        mb_addr += 1
                    else:
                        # skipped B macroblocks repeat the previous
                        # MB's prediction mode + vectors; predictors
                        # are NOT reset (11172-2 2.4.4.4)
                        if last_b is None:
                            raise ValueError(
                                "mpeg1: skipped B macroblock after "
                                "an intra macroblock")
                        uf, ub, vf, vb = last_b
                        for _ in range(inc - 1):
                            mb_addr += 1
                            if mb_addr >= mbw * mbh:
                                raise ValueError(
                                    "mpeg1: address overflow")
                            covered[mb_addr] = True
                            r2, c2 = divmod(mb_addr, mbw)
                            if uf and ub:
                                pf = _mb_predict(fwd, r2, c2, *vf)
                                pb = _mb_predict(bwd, r2, c2, *vb)
                                store_mb(r2, c2,
                                         *[_avg_pred(a, b)
                                           for a, b in zip(pf, pb)])
                            elif ub:
                                store_mb(r2, c2,
                                         *_mb_predict(bwd, r2, c2,
                                                      *vb))
                            else:
                                store_mb(r2, c2,
                                         *_mb_predict(fwd, r2, c2,
                                                      *vf))
                        dc_y = dc_cb = dc_cr = 1024
                        mb_addr += 1
                else:
                    mb_addr += 1
            if mb_addr >= mbw * mbh:
                raise ValueError("mpeg1: macroblock address overflow")
            covered[mb_addr] = True
            row, col = divmod(mb_addr, mbw)
            if ptype == 4:
                # D-picture macroblock (r15, 2.4.3.4): type is the
                # single B.2d code '1'; six DC-only blocks (the same
                # dct_dc_size chains as intra — certified B.5a/b; no
                # AC, no EOB), then the end_of_macroblock '1' bit.
                # A DC-only block reconstructs flat at dc/8.
                if br.read(1) != 1:
                    raise ValueError(
                        "mpeg1: invalid D-picture macroblock_type")
                y0, x0 = row * 16, col * 16
                for (dy, dx) in ((0, 0), (0, 8), (8, 0), (8, 8)):
                    dc_y = dc_y + 8 * _decode_dc(br, True)
                    if not 0 <= dc_y <= 2047:
                        raise ValueError(
                            f"mpeg1: intra DC {dc_y} out of range")
                    _store_block(rec.y, y0 + dy, x0 + dx,
                                 np.full((8, 8), dc_y / 8.0))
                dc_cb = dc_cb + 8 * _decode_dc(br, False)
                if not 0 <= dc_cb <= 2047:
                    raise ValueError(
                        f"mpeg1: intra DC {dc_cb} out of range")
                _store_block(rec.cb, row * 8, col * 8,
                             np.full((8, 8), dc_cb / 8.0))
                dc_cr = dc_cr + 8 * _decode_dc(br, False)
                if not 0 <= dc_cr <= 2047:
                    raise ValueError(
                        f"mpeg1: intra DC {dc_cr} out of range")
                _store_block(rec.cr, row * 8, col * 8,
                             np.full((8, 8), dc_cr / 8.0))
                if br.read(1) != 1:
                    raise ValueError(
                        "mpeg1: end_of_macroblock bit missing")
                continue
            if ptype == 1:
                quant, mf, mbk, pattern, intra = _vlc(
                    br, MB_TYPE_I, "macroblock_type(I)")
            elif ptype == 2:
                quant, mf, mbk, pattern, intra = _vlc(
                    br, MB_TYPE_P, "macroblock_type(P)")
            else:
                quant, mf, mbk, pattern, intra = _vlc(
                    br, MB_TYPE_B, "macroblock_type(B)")
            if quant:
                qscale = br.read(5)
                if qscale == 0:
                    raise ValueError("mpeg1: quantizer_scale 0")
            if mf:
                mv_fx = _decode_mv_component(br, fc_f, mv_fx)
                mv_fy = _decode_mv_component(br, fc_f, mv_fy)
            elif ptype == 2:
                # P: non-MC macroblocks use and reset a zero forward
                # vector; B: an untransmitted direction leaves its
                # predictor untouched
                mv_fy = mv_fx = 0
            if mbk:
                mv_bx = _decode_mv_component(br, fc_b, mv_bx)
                mv_by = _decode_mv_component(br, fc_b, mv_by)
            if intra:
                y0, x0 = row * 16, col * 16
                for (dy, dx) in ((0, 0), (0, 8), (8, 0), (8, 8)):
                    blk, dc_y = _decode_intra_block(br, True, dc_y,
                                                    qscale, iq_zz)
                    _store_block(rec.y, y0 + dy, x0 + dx, blk)
                blk, dc_cb = _decode_intra_block(br, False, dc_cb,
                                                 qscale, iq_zz)
                _store_block(rec.cb, row * 8, col * 8, blk)
                blk, dc_cr = _decode_intra_block(br, False, dc_cr,
                                                 qscale, iq_zz)
                _store_block(rec.cr, row * 8, col * 8, blk)
                if ptype != 1:
                    mv_fy = mv_fx = mv_by = mv_bx = 0
                    last_b = None
                continue
            dc_y = dc_cb = dc_cr = 1024
            if ptype == 2 and not mf and not pattern:
                raise ValueError("mpeg1: P macroblock with "
                                 "neither MC, pattern nor intra")
            # prediction (scaled to half-pel units per direction)
            if ptype == 2:
                use_f, use_b = 1, 0
            else:
                use_f, use_b = mf, mbk
                if not mf and not mbk:
                    raise ValueError("mpeg1: B macroblock with no "
                                     "prediction direction")
            vfy = mv_fy * 2 if fp_f else mv_fy
            vfx = mv_fx * 2 if fp_f else mv_fx
            vby = mv_by * 2 if fp_b else mv_by
            vbx = mv_bx * 2 if fp_b else mv_bx
            if use_f and use_b:
                pf = _mb_predict(fwd, row, col, vfy, vfx)
                pb = _mb_predict(bwd, row, col, vby, vbx)
                py, pcb, pcr = (_avg_pred(a, b)
                                for a, b in zip(pf, pb))
            elif use_b:
                py, pcb, pcr = _mb_predict(bwd, row, col, vby, vbx)
            else:
                py, pcb, pcr = _mb_predict(fwd, row, col, vfy, vfx)
            if ptype == 3:
                last_b = (use_f, use_b, (vfy, vfx), (vby, vbx))
            if not pattern:
                store_mb(row, col, py, pcb, pcr)
                continue
            cbp = _vlc(br, CBP, "coded_block_pattern")
            y0, x0 = row * 16, col * 16
            for bi, (dy, dx) in enumerate(
                    ((0, 0), (0, 8), (8, 0), (8, 8))):
                blk = py[dy:dy + 8, dx:dx + 8].astype(np.float64)
                if cbp & (32 >> bi):
                    blk = blk + _reconstruct_nonintra(
                        _decode_nonintra_zz(br), qscale, niq_zz)
                _store_block(rec.y, y0 + dy, x0 + dx, blk)
            blk = pcb.astype(np.float64)
            if cbp & 2:
                blk = blk + _reconstruct_nonintra(
                    _decode_nonintra_zz(br), qscale, niq_zz)
            _store_block(rec.cb, row * 8, col * 8, blk)
            blk = pcr.astype(np.float64)
            if cbp & 1:
                blk = blk + _reconstruct_nonintra(
                    _decode_nonintra_zz(br), qscale, niq_zz)
            _store_block(rec.cr, row * 8, col * 8, blk)
    if ptype in (1, 4) and not covered.all():
        raise ValueError("mpeg1: I/D-picture does not cover every "
                         "macroblock")
    return rec


def decode_mpeg1(data: bytes, max_frames: "int | None" = None):
    """Decode an MPEG-1 video elementary stream → ``(fps, (w, h),
    frames)`` with one (H, W, 3) uint8 RGB array per picture in
    DISPLAY order (r15: B-pictures reorder via temporal_reference,
    which resets at each GOP header).  D-picture-only streams decode
    (r15: intra DC-only, certified tables throughout); mixing D with
    I/P/B raises per 2.4.1.  Lossy codec — round trips are
    SNR-bounded, not bit-equal.  Raises ValueError on corrupt input
    and on the documented uncertified path (the dct_coeff VLC
    tail)."""
    if len(data) < 16 or data[:4] != b"\x00\x00\x01\xb3":
        raise ValueError("not an MPEG-1 video elementary stream "
                         "(no sequence header start code)")
    codes = _find_start_codes(data)
    seq = None
    frames = []
    anchor_old = None                # older anchor (B forward ref)
    anchor_new = None                # most recent anchor
    display = []                     # [(temporal_ref, rgb)] this GOP
    next_tref = 0                    # next display slot in this GOP
    kinds: set = set()               # {"d"} xor {"ipb"} (2.4.1)
    cur = None     # (ptype, tref, fp_f, fc_f, fp_b, fc_b, slices)

    def to_rgb(rec):
        h, w = seq["h"], seq["w"]
        return _ycc_to_rgb(rec.y[:h, :w],
                           _upsample2(rec.cb, h, w),
                           _upsample2(rec.cr, h, w))

    def drain_ordered():
        # emit buffered pictures as soon as the display order allows
        # (streams without B-pictures emit immediately)
        nonlocal next_tref
        display.sort(key=lambda t: t[0])
        while display and display[0][0] == next_tref % 1024:
            frames.append(display.pop(0)[1])
            next_tref += 1

    def flush():
        nonlocal anchor_old, anchor_new, cur
        if cur is None:
            return
        ptype, tref, fpf, fcf, fpb, fcb, slices = cur
        cur = None
        if not slices:
            raise ValueError("mpeg1: picture with no slices")
        if ptype == 3:
            rec = _decode_picture(slices, seq, anchor_old, anchor_new,
                                  3, fpf, fcf, fpb, fcb)
        elif ptype == 4:
            # D-pictures (r15): intra DC-only, never a reference —
            # and a D sequence is D-only (2.4.1), enforced at the
            # header walk, so anchors are moot
            rec = _decode_picture(slices, seq, None, None, 4,
                                  fpf, fcf)
        else:
            rec = _decode_picture(slices, seq, anchor_new, None,
                                  ptype, fpf, fcf)
            anchor_old = anchor_new
            anchor_new = rec
        display.append((tref, to_rgb(rec)))
        drain_ordered()

    def close_gop():
        # a GOP boundary ends the reorder scope: whatever is still
        # buffered goes out in temporal_reference order
        nonlocal next_tref
        display.sort(key=lambda t: t[0])
        frames.extend(rgb for _, rgb in display)
        display.clear()
        next_tref = 0

    for code, s, e in codes:
        body = data[s:e]
        if code == 0xB3:
            br = MsbReader(body, eof=_EOF)
            seq = _parse_seq_header(br)
        elif code == 0xB8:           # GOP header: reorder boundary
            flush()
            close_gop()
            if max_frames is not None and len(frames) >= max_frames:
                return (seq["fps"], (seq["w"], seq["h"]),
                        frames[:max_frames])
        elif code == 0x00:           # picture header
            if seq is None:
                raise ValueError("mpeg1: picture before sequence "
                                 "header")
            flush()
            if max_frames is not None and len(frames) >= max_frames:
                return (seq["fps"], (seq["w"], seq["h"]),
                        frames[:max_frames])
            br = MsbReader(body, eof=_EOF)
            tref = br.read(10)
            ptype = br.read(3)
            br.read(16)              # vbv_delay
            fpf = fcf = fpb = fcb = 1
            if ptype == 1:
                fpf, fcf = 0, 1
            elif ptype in (2, 3):
                fpf = br.read(1)
                fcf = br.read(3)
                if fcf == 0:
                    raise ValueError("mpeg1: forward_f_code 0")
                if ptype == 3:
                    fpb = br.read(1)
                    fcb = br.read(3)
                    if fcb == 0:
                        raise ValueError("mpeg1: backward_f_code 0")
            elif ptype == 4:
                pass                 # D: intra DC-only, no f_codes
            else:
                raise ValueError(f"mpeg1: reserved picture type "
                                 f"{ptype}")
            # 2.4.1: a sequence contains EITHER D-pictures or
            # I/P/B-pictures, never both — a mixed stream would make
            # the next P silently reference across the D (wrong
            # output), so refuse loudly
            kinds.add("d" if ptype == 4 else "ipb")
            if len(kinds) > 1:
                raise ValueError("mpeg1: D-pictures cannot mix with "
                                 "I/P/B pictures in one sequence")
            cur = (ptype, tref, fpf, fcf, fpb, fcb, [])
        elif 0x01 <= code <= 0xAF:
            if cur is None:
                raise ValueError("mpeg1: slice before picture header")
            cur[6].append((code, body))
        elif code in (0xB2, 0xB5):   # user data / extension: skip
            continue
        elif code == 0xB7:           # sequence end
            break
    flush()
    close_gop()
    if seq is None:
        raise ValueError("mpeg1: no sequence header")
    if not frames:
        raise ValueError("mpeg1: no decodable pictures")
    if max_frames is not None:
        frames = frames[:max_frames]
    return seq["fps"], (seq["w"], seq["h"]), frames


def mpeg1_info(data: bytes) -> dict:
    """Header-level metadata without picture decode: dims, fps,
    bitrate, picture count + types from the start-code walk."""
    if len(data) < 16 or data[:4] != b"\x00\x00\x01\xb3":
        raise ValueError("not an MPEG-1 video elementary stream")
    br = MsbReader(data[4:], eof=_EOF)
    seq = _parse_seq_header(br)
    types = []
    i = data.find(b"\x00\x00\x01\x00")
    while i >= 0:
        if i + 5 < len(data):
            types.append((data[i + 5] >> 3) & 0x07)
        i = data.find(b"\x00\x00\x01\x00", i + 4)
    return {"width": seq["w"], "height": seq["h"], "fps": seq["fps"],
            "bitrate_400bps": seq["bitrate"], "n_pictures": len(types),
            "picture_types": types}


# ---------------------------------------------------------------------------
# encoder (conformant subset: I + skip/MC/intra P, 1 slice per MB row)
# ---------------------------------------------------------------------------

def _encode_dc(bw: MsbWriter, diff: int, luma: bool) -> None:
    table = DC_SIZE_LUMA if luma else DC_SIZE_CHROMA
    inv = {v: k for k, v in table.items()}
    size = 0 if diff == 0 else max(1, abs(diff).bit_length())
    if size > 8:
        raise ValueError(f"mpeg1: DC differential {diff} too large")
    _put(bw, inv[size])
    if size:
        bits = diff if diff > 0 else diff + (1 << size) - 1
        bw.write(bits, size)


_AC_INV = {v: k for k, v in AC_HEAD.items()}


def _encode_ac(bw: MsbWriter, run: int, level: int) -> None:
    key = (run, abs(level))
    if key in _AC_INV:
        _put(bw, _AC_INV[key])
        bw.write(1 if level < 0 else 0, 1)
        return
    # escape (fully specified fixed-length coding — accepted by every
    # decoder; the uncertified VLC tail is never emitted)
    if not -255 <= level <= 255 or level == 0:
        raise ValueError(f"mpeg1: AC level {level} out of escape range")
    _put(bw, AC_ESCAPE)
    bw.write(run, 6)
    if level > 127:
        bw.write(0, 8)
        bw.write(level, 8)
    elif level < -127:
        bw.write(0x80, 8)
        bw.write(level + 256, 8)
    else:
        bw.write(level & 0xFF, 8)


def _quantize_intra(block: np.ndarray, qscale: int,
                    iq_zz: np.ndarray) -> np.ndarray:
    """Float DCT → zigzag levels whose reconstruction (oddified)
    lands nearest the coefficient."""
    coef = _dct8(block.astype(np.float64))
    zz = coef.reshape(64)[_ZIGZAG]
    out = np.zeros(64, dtype=np.int64)
    out[0] = int(np.clip(np.round(zz[0] / 8.0), 0, 255))
    denom = 2.0 * qscale * iq_zz[1:]
    lv = np.round(zz[1:] * 16.0 / denom).astype(np.int64)
    out[1:] = np.clip(lv, -255, 255)
    return out


def _encode_intra_block(bw: MsbWriter, block: np.ndarray, luma: bool,
                        dc_pred: int, qscale: int,
                        iq_zz: np.ndarray) -> int:
    zz = _quantize_intra(block, qscale, iq_zz)
    dc = int(zz[0]) * 8
    _encode_dc(bw, (dc - dc_pred) // 8, luma)
    nz = np.nonzero(zz[1:])[0]
    last = -1
    for i in nz:
        _encode_ac(bw, int(i) - last - 1, int(zz[1:][i]))
        last = int(i)
    _put(bw, AC_EOB)
    return dc


def _encode_mv_component(bw: MsbWriter, delta: int,
                         f_code: int = 1) -> None:
    """Code one motion-vector delta at any f_code (r15): modulo-32f
    wrap into [-16f, 16f), |motion_code| = ceil(|delta|/f) with
    f_code-1 residual bits (11172-2 2.4.4.2 inverted)."""
    inv = {v: k for k, v in MOTION_CODE.items()}
    f = 1 << (f_code - 1)
    lo, hi = -16 * f, 16 * f
    rng = hi - lo
    while delta < lo:
        delta += rng
    while delta >= hi:
        delta -= rng
    a = abs(delta)
    if a == 0:
        _put(bw, inv[0])
        return
    c = (a + f - 1) // f             # |motion_code| in 1..16
    r = a - (1 + f * (c - 1))        # residual in [0, f-1]
    _put(bw, inv[c])
    bw.write(1 if delta < 0 else 0, 1)
    if f_code > 1:
        bw.write(r, f_code - 1)


def _rate_code(fps: float) -> int:
    return min(PICTURE_RATES, key=lambda c: abs(PICTURE_RATES[c] - fps))


def _quantize_nonintra(block: np.ndarray, qscale: int,
                       niq_zz: np.ndarray) -> np.ndarray:
    """Residual block → zigzag non-intra levels (r15).  Dead-zone
    quantizer inverting the (2L+sign)*q*M/16 reconstruction; levels
    clip at the ±255 escape ceiling (module docstring policy)."""
    coef = _dct8(block.astype(np.float64))
    zz = coef.reshape(64)[_ZIGZAG]
    mag = np.abs(zz) * 16.0 / (qscale * niq_zz.astype(np.float64))
    lv = np.trunc(mag / 2.0).astype(np.int64)
    lv = np.clip(lv, 0, 255)
    return np.sign(zz).astype(np.int64) * lv


def _encode_nonintra_block(bw: MsbWriter, zz: np.ndarray) -> None:
    """Run-level code one coded block (must be nonzero): B.5c with the
    'first' context — (0, ±1) opens as '1'+sign (EOB cannot open)."""
    nz = np.nonzero(zz)[0]
    last = -1
    first = True
    for i in nz:
        run = int(i) - last - 1
        level = int(zz[i])
        if first and run == 0 and abs(level) == 1:
            bw.write(1, 1)
            bw.write(1 if level < 0 else 0, 1)
        else:
            _encode_ac(bw, run, level)
        first = False
        last = int(i)
    _put(bw, AC_EOB)


def _find_exact_mv(ref: _PlaneSet, yp, cbp, crp, row: int,
                   col: int, search: int, f_code: int = 1):
    """Full-pel exact-match motion search (±search pels) against one
    reference: returns the (vy, vx) HALF-PEL vector whose MC
    prediction reproduces the macroblock exactly (luma + both
    chroma), or None.  Candidates outside the f_code's representable
    half-pel range [-16f, 16f-1] are excluded — modulo-32f coding
    would alias them to the opposite vector (r15 fix)."""
    y0, x0 = row * 16, col * 16
    cur_y = yp[y0:y0 + 16, x0:x0 + 16]
    cur_cb = cbp[row * 8:row * 8 + 8, col * 8:col * 8 + 8]
    cur_cr = crp[row * 8:row * 8 + 8, col * 8:col * 8 + 8]
    ph, pw = ref.y.shape
    f = 1 << (f_code - 1)
    lo, hi = -16 * f, 16 * f - 1
    # candidates sorted by (|dy|+|dx|, dy, dx): the FIRST match is the
    # smallest-displacement winner the old full scan picked (same
    # tie-break — row-major within an L1 shell), so blobs are
    # bit-identical while the common static/small-motion case exits
    # after a few compares instead of (2s+1)^2
    offs = sorted(((dy, dx)
                   for dy in range(-search, search + 1)
                   for dx in range(-search, search + 1)
                   if dy % 2 == 0 and dx % 2 == 0
                   and lo <= 2 * dy <= hi and lo <= 2 * dx <= hi),
                  key=lambda o: (abs(o[0]) + abs(o[1]), o[0], o[1]))
    for dy, dx in offs:
        sy, sx = y0 + dy, x0 + dx
        if sy < 0 or sx < 0 or sy + 16 > ph or sx + 16 > pw:
            continue
        if not np.array_equal(cur_y,
                              ref.y[sy:sy + 16, sx:sx + 16]):
            continue
        cy, cx = row * 8 + dy // 2, col * 8 + dx // 2
        if (np.array_equal(cur_cb, ref.cb[cy:cy + 8, cx:cx + 8])
                and np.array_equal(cur_cr,
                                   ref.cr[cy:cy + 8, cx:cx + 8])):
            return (dy * 2, dx * 2)       # half-pel units
    return None


def _sad_best_mv(ref: _PlaneSet, yp, row: int, col: int, search: int,
                 f_code: int):
    """Best full-pel luma-SAD vector (half-pel units) for residual
    coding; ties break toward the smallest L1 displacement."""
    y0, x0 = row * 16, col * 16
    cur = yp[y0:y0 + 16, x0:x0 + 16]
    ph, pw = ref.y.shape
    f = 1 << (f_code - 1)
    lo, hi = -16 * f, 16 * f - 1
    best, best_sad = (0, 0), None
    for dy, dx in sorted(((dy, dx)
                          for dy in range(-search, search + 1)
                          for dx in range(-search, search + 1)
                          if dy % 2 == 0 and dx % 2 == 0
                          and lo <= 2 * dy <= hi
                          and lo <= 2 * dx <= hi),
                         key=lambda o: (abs(o[0]) + abs(o[1]),
                                        o[0], o[1])):
        sy, sx = y0 + dy, x0 + dx
        if sy < 0 or sx < 0 or sy + 16 > ph or sx + 16 > pw:
            continue
        sad = int(np.abs(cur - ref.y[sy:sy + 16,
                                     sx:sx + 16]).sum())
        if best_sad is None or sad < best_sad:
            best, best_sad = (dy * 2, dx * 2), sad
    return best


def encode_mpeg1(frames, fps: float = 25.0, *, qscale: int = 6,
                 gop: int = 12, p_frames: bool = True,
                 mv_search: int = 4, b_frames: int = 0,
                 inter_residual: bool = False,
                 d_pictures: bool = False,
                 intra_matrix: "np.ndarray | None" = None) -> bytes:
    """Encode (H, W, 3) uint8 RGB frames → an MPEG-1 video elementary
    stream (certified-subset writer, module docstring).  I-pictures
    every ``gop`` frames; between them P-pictures built from skipped
    (bit-identical to reference), forward-MC not-coded (exact
    translation match within ±``mv_search`` full pels),
    coded-residual (CBP, when ``inter_residual``) and intra-refresh
    macroblocks.  ``b_frames`` > 0 inserts that many B-pictures
    between anchors (coding order: anchor first, its Bs after;
    temporal_reference carries display order, one GOP header per
    GOP).  The forward/backward f_codes derive from ``mv_search``
    (f_code=2 once ±8 full-pel vectors are needed — half-pel +16 is
    unrepresentable at f_code=1, r15 fix).

    ``d_pictures=True`` writes a D-picture-only stream (2.4.3.4,
    r15): every picture intra DC-only — each block carries just its
    dct_dc_size-coded DC, so a block decodes flat at its rounded
    mean; blockwise-constant content round-trips EXACTLY.  D streams
    are sequence-exclusive (2.4.1), so combining with ``b_frames``
    or ``inter_residual`` raises.

    AC levels saturate at MPEG-1's ±255 escape-coding ceiling — on
    full-band noise at fine quantizers (the pathological case) real
    encoders raise qscale instead; this one clips, trading fidelity
    on content no real video resembles for a fixed rate ladder."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("encode_mpeg1: need at least one frame")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) or f.ndim != 3 or f.shape[2] != 3
           for f in frames):
        raise ValueError("encode_mpeg1: frames must share one "
                         "(H, W, 3) shape")
    if not 1 <= qscale <= 31:
        raise ValueError(f"qscale must be in [1, 31], got {qscale}")
    if not (16 <= w <= 4095 and 16 <= h <= 2800):
        raise ValueError(f"encode_mpeg1: dims {w}x{h} outside the "
                         "supported 16..4095 x 16..2800 range (slice "
                         "vertical position is one byte, <= 175 rows)")
    if not 0 <= b_frames <= 8:
        raise ValueError("encode_mpeg1: b_frames must be in [0, 8]")
    if not 0 <= mv_search <= 60:
        raise ValueError("encode_mpeg1: mv_search must be in [0, 60]")
    if d_pictures and (b_frames or inter_residual):
        raise ValueError("encode_mpeg1: d_pictures streams are "
                         "D-only (2.4.1) — drop b_frames/"
                         "inter_residual")
    fcode = 1
    while 16 * (1 << (fcode - 1)) - 1 < 2 * mv_search:
        fcode += 1
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    if intra_matrix is None:
        iq_zz = DEFAULT_INTRA_Q[_ZIGZAG]
    else:
        im = np.asarray(intra_matrix, dtype=np.int64).reshape(64)
        if ((im < 1) | (im > 255)).any():
            raise ValueError("encode_mpeg1: intra matrix entries must "
                             "be in [1, 255]")
        iq_zz = im[_ZIGZAG]
    niq_zz = DEFAULT_NONINTRA_Q

    out = bytearray()
    # sequence header
    bw = MsbWriter()
    bw.write(w, 12)
    bw.write(h, 12)
    bw.write(1, 4)                   # square pels
    bw.write(_rate_code(fps), 4)
    bw.write(0x3FFFF, 18)            # variable bitrate
    bw.write(1, 1)
    bw.write(0, 10)
    bw.write(0, 1)                   # not constrained
    if intra_matrix is None:
        bw.write(0, 1)               # default intra matrix
    else:
        bw.write(1, 1)               # custom matrix, zigzag order
        for v in iq_zz:
            bw.write(int(v), 8)
    bw.write(0, 1)                   # default non-intra matrix
    out += b"\x00\x00\x01\xb3" + bw.bytes()

    def gop_header() -> bytes:
        g = MsbWriter()
        g.write(0, 25)               # time code 0
        g.write(1, 1)                # closed gop
        g.write(0, 1)
        return b"\x00\x00\x01\xb8" + g.bytes()

    def pad_plane(p, bh, bwd):
        ph, pw = p.shape
        q = np.zeros((bh, bwd), dtype=np.int64)
        q[:ph, :pw] = p
        if ph < bh:
            q[ph:, :pw] = p[ph - 1:ph, :]
        if pw < bwd:
            q[:, pw:] = q[:, pw - 1:pw]
        return q

    def planes(fr):
        y, cb, cr = _rgb_to_ycc(fr)
        return (pad_plane(y.astype(np.int64), mbh * 16, mbw * 16),
                pad_plane(cb[::2, ::2].astype(np.int64),
                          mbh * 8, mbw * 8),
                pad_plane(cr[::2, ::2].astype(np.int64),
                          mbh * 8, mbw * 8))

    def encode_picture(ptype, tref, fr, fwd_rec, bwd_rec):
        """One coded picture → (bytes, reconstructed _PlaneSet)."""
        yp, cbp_pl, crp = planes(fr)
        rec = _PlaneSet(mbw, mbh)
        if ptype == 2:
            rec.y[:] = fwd_rec.y
            rec.cb[:] = fwd_rec.cb
            rec.cr[:] = fwd_rec.cr
        pic = bytearray()
        bw = MsbWriter()
        bw.write(tref % 1024, 10)
        bw.write(ptype, 3)
        bw.write(0xFFFF, 16)         # vbv_delay: variable
        if ptype in (2, 3):
            bw.write(0, 1)           # half-pel forward vectors
            bw.write(fcode, 3)
            if ptype == 3:
                bw.write(0, 1)       # half-pel backward vectors
                bw.write(fcode, 3)
        pic += b"\x00\x00\x01\x00" + bw.bytes()
        inv_addr = {v: k for k, v in ADDR_INC.items()
                    if isinstance(v, int)}
        for row in range(mbh):
            bw = MsbWriter()
            bw.write(qscale, 5)
            bw.write(0, 1)           # no extra slice info
            dc_y = dc_cb = dc_cr = 1024
            mvp_f = [0, 0]           # forward MV predictor (x, y)
            mvp_b = [0, 0]
            last_b = None            # (uf, ub, vf, vb) for B skips
            pending_skip = 0

            def emit_intra(col):
                nonlocal dc_y, dc_cb, dc_cr
                y0, x0 = row * 16, col * 16
                for (dy, dx) in ((0, 0), (0, 8), (8, 0), (8, 8)):
                    dc_y = _encode_intra_block(
                        bw, yp[y0 + dy:y0 + dy + 8,
                               x0 + dx:x0 + dx + 8], True, dc_y,
                        qscale, iq_zz)
                    _reconstruct_into(rec.y, y0 + dy, x0 + dx, dc_y,
                                      yp[y0 + dy:y0 + dy + 8,
                                         x0 + dx:x0 + dx + 8],
                                      qscale, iq_zz)
                dc_cb = _encode_intra_block(
                    bw, cbp_pl[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8],
                    False, dc_cb, qscale, iq_zz)
                _reconstruct_into(rec.cb, row * 8, col * 8, dc_cb,
                                  cbp_pl[row * 8:row * 8 + 8,
                                         col * 8:col * 8 + 8],
                                  qscale, iq_zz)
                dc_cr = _encode_intra_block(
                    bw, crp[row * 8:row * 8 + 8, col * 8:col * 8 + 8],
                    False, dc_cr, qscale, iq_zz)
                _reconstruct_into(rec.cr, row * 8, col * 8, dc_cr,
                                  crp[row * 8:row * 8 + 8,
                                      col * 8:col * 8 + 8],
                                  qscale, iq_zz)

            def cur_blocks(col):
                y0, x0 = row * 16, col * 16
                return (yp[y0:y0 + 16, x0:x0 + 16],
                        cbp_pl[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8],
                        crp[row * 8:row * 8 + 8, col * 8:col * 8 + 8])

            def pred_exact(ref, col, mv):
                py, pcb, pcr = _mb_predict(ref, row, col, *mv)
                cy, ccb, ccr = cur_blocks(col)
                return (np.array_equal(cy, py)
                        and np.array_equal(ccb, pcb)
                        and np.array_equal(ccr, pcr))

            def residual_zz(pred_y, pred_cb, pred_cr, col):
                """Quantize the 6 residual blocks → (cbp, [zz...])."""
                cy, ccb, ccr = cur_blocks(col)
                zzs, cbp_bits = [], 0
                for bi, (dy, dx) in enumerate(
                        ((0, 0), (0, 8), (8, 0), (8, 8))):
                    res = (cy[dy:dy + 8, dx:dx + 8]
                           - pred_y[dy:dy + 8, dx:dx + 8])
                    zz = _quantize_nonintra(res, qscale, niq_zz)
                    if zz.any():
                        cbp_bits |= 32 >> bi
                        zzs.append(zz)
                    else:
                        zzs.append(None)
                for bit, curc, predc in ((2, ccb, pred_cb),
                                         (1, ccr, pred_cr)):
                    zz = _quantize_nonintra(curc - predc, qscale,
                                            niq_zz)
                    if zz.any():
                        cbp_bits |= bit
                        zzs.append(zz)
                    else:
                        zzs.append(None)
                return cbp_bits, zzs

            def store_coded(col, pred_y, pred_cb, pred_cr, zzs):
                y0, x0 = row * 16, col * 16
                for bi, (dy, dx) in enumerate(
                        ((0, 0), (0, 8), (8, 0), (8, 8))):
                    blk = pred_y[dy:dy + 8, dx:dx + 8].astype(
                        np.float64)
                    if zzs[bi] is not None:
                        blk = blk + _reconstruct_nonintra(
                            zzs[bi], qscale, niq_zz)
                    _store_block(rec.y, y0 + dy, x0 + dx, blk)
                for k, (plane, predc) in enumerate(
                        ((rec.cb, pred_cb), (rec.cr, pred_cr))):
                    blk = predc.astype(np.float64)
                    if zzs[4 + k] is not None:
                        blk = blk + _reconstruct_nonintra(
                            zzs[4 + k], qscale, niq_zz)
                    _store_block(plane, row * 8, col * 8, blk)

            def emit_addr(col):
                nonlocal pending_skip, dc_y, dc_cb, dc_cr
                inc = pending_skip + 1
                pending_skip = 0
                while inc > 33:
                    _put(bw, "00000001000")
                    inc -= 33
                _put(bw, inv_addr[inc])
                if inc > 1 and ptype == 2:
                    # P predictors reset across skipped macroblocks
                    dc_y = dc_cb = dc_cr = 1024
                    mvp_f[0] = mvp_f[1] = 0

            for col in range(mbw):
                y0, x0 = row * 16, col * 16
                if ptype == 1:
                    emit_addr(col)
                    _put(bw, "1")          # intra
                    emit_intra(col)
                    continue
                if ptype == 2:
                    can_skip = (0 < col < mbw - 1
                                and pred_exact(fwd_rec, col, (0, 0)))
                    if can_skip:
                        pending_skip += 1
                        continue
                    mv = _find_exact_mv(fwd_rec, yp, cbp_pl, crp,
                                        row, col, mv_search, fcode)
                    if mv is not None:
                        emit_addr(col)
                        _put(bw, "001")    # MC, not coded
                        _encode_mv_component(bw, mv[1] - mvp_f[0],
                                             fcode)
                        _encode_mv_component(bw, mv[0] - mvp_f[1],
                                             fcode)
                        mvp_f[:] = [mv[1], mv[0]]
                        dc_y = dc_cb = dc_cr = 1024
                        py, pcb, pcr = _mb_predict(fwd_rec, row, col,
                                                   *mv)
                        rec.y[y0:y0 + 16, x0:x0 + 16] = py
                        rec.cb[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8] = pcb
                        rec.cr[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8] = pcr
                        continue
                    if inter_residual:
                        mv = _sad_best_mv(fwd_rec, yp, row, col,
                                          mv_search, fcode)
                        py, pcb, pcr = _mb_predict(fwd_rec, row, col,
                                                   *mv)
                        cbp_bits, zzs = residual_zz(py, pcb, pcr, col)
                        saturated = any(
                            z is not None and np.abs(z).max() >= 255
                            for z in zzs)
                        if not saturated:
                            emit_addr(col)
                            dc_y = dc_cb = dc_cr = 1024
                            if cbp_bits == 0:
                                # quantized to nothing: MC not coded
                                _put(bw, "001")
                                _encode_mv_component(
                                    bw, mv[1] - mvp_f[0], fcode)
                                _encode_mv_component(
                                    bw, mv[0] - mvp_f[1], fcode)
                                mvp_f[:] = [mv[1], mv[0]]
                                rec.y[y0:y0 + 16, x0:x0 + 16] = py
                                rec.cb[row * 8:row * 8 + 8,
                                       col * 8:col * 8 + 8] = pcb
                                rec.cr[row * 8:row * 8 + 8,
                                       col * 8:col * 8 + 8] = pcr
                                continue
                            if mv == (0, 0):
                                _put(bw, "01")   # no MC, coded
                                mvp_f[0] = mvp_f[1] = 0
                            else:
                                _put(bw, "1")    # MC, coded
                                _encode_mv_component(
                                    bw, mv[1] - mvp_f[0], fcode)
                                _encode_mv_component(
                                    bw, mv[0] - mvp_f[1], fcode)
                                mvp_f[:] = [mv[1], mv[0]]
                            _put(bw, _CBP_INV[cbp_bits])
                            for z in zzs:
                                if z is not None:
                                    _encode_nonintra_block(bw, z)
                            store_coded(col, py, pcb, pcr, zzs)
                            continue
                    emit_addr(col)
                    _put(bw, "00011")      # P intra
                    emit_intra(col)
                    mvp_f[0] = mvp_f[1] = 0
                    continue
                # ---- B picture ----
                if (last_b is not None and 0 < col < mbw - 1):
                    uf, ub, vf, vb = last_b
                    if uf and ub:
                        pf = _mb_predict(fwd_rec, row, col, *vf)
                        pb = _mb_predict(bwd_rec, row, col, *vb)
                        pred = tuple(_avg_pred(a, b)
                                     for a, b in zip(pf, pb))
                    elif ub:
                        pred = _mb_predict(bwd_rec, row, col, *vb)
                    else:
                        pred = _mb_predict(fwd_rec, row, col, *vf)
                    cy, ccb, ccr = cur_blocks(col)
                    if (np.array_equal(cy, pred[0])
                            and np.array_equal(ccb, pred[1])
                            and np.array_equal(ccr, pred[2])):
                        pending_skip += 1
                        rec.y[y0:y0 + 16, x0:x0 + 16] = pred[0]
                        rec.cb[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8] = pred[1]
                        rec.cr[row * 8:row * 8 + 8,
                               col * 8:col * 8 + 8] = pred[2]
                        continue
                mvf = _find_exact_mv(fwd_rec, yp, cbp_pl, crp,
                                     row, col, mv_search, fcode)
                if mvf is not None:
                    emit_addr(col)
                    _put(bw, "0010")       # fwd, not coded
                    _encode_mv_component(bw, mvf[1] - mvp_f[0], fcode)
                    _encode_mv_component(bw, mvf[0] - mvp_f[1], fcode)
                    mvp_f[:] = [mvf[1], mvf[0]]
                    dc_y = dc_cb = dc_cr = 1024
                    py, pcb, pcr = _mb_predict(fwd_rec, row, col,
                                               *mvf)
                    rec.y[y0:y0 + 16, x0:x0 + 16] = py
                    rec.cb[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pcb
                    rec.cr[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pcr
                    last_b = (1, 0, mvf, (0, 0))
                    continue
                mvb = _find_exact_mv(bwd_rec, yp, cbp_pl, crp,
                                     row, col, mv_search, fcode)
                if mvb is not None:
                    emit_addr(col)
                    _put(bw, "010")        # bwd, not coded
                    _encode_mv_component(bw, mvb[1] - mvp_b[0], fcode)
                    _encode_mv_component(bw, mvb[0] - mvp_b[1], fcode)
                    mvp_b[:] = [mvb[1], mvb[0]]
                    dc_y = dc_cb = dc_cr = 1024
                    py, pcb, pcr = _mb_predict(bwd_rec, row, col,
                                               *mvb)
                    rec.y[y0:y0 + 16, x0:x0 + 16] = py
                    rec.cb[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pcb
                    rec.cr[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pcr
                    last_b = (0, 1, mvb, (0, 0))
                    continue
                # zero-vector interpolation (exact average match)
                pf = _mb_predict(fwd_rec, row, col, 0, 0)
                pb = _mb_predict(bwd_rec, row, col, 0, 0)
                pavg = tuple(_avg_pred(a, b) for a, b in zip(pf, pb))
                cy, ccb, ccr = cur_blocks(col)
                if (np.array_equal(cy, pavg[0])
                        and np.array_equal(ccb, pavg[1])
                        and np.array_equal(ccr, pavg[2])):
                    emit_addr(col)
                    _put(bw, "10")         # interp, not coded
                    _encode_mv_component(bw, 0 - mvp_f[0], fcode)
                    _encode_mv_component(bw, 0 - mvp_f[1], fcode)
                    _encode_mv_component(bw, 0 - mvp_b[0], fcode)
                    _encode_mv_component(bw, 0 - mvp_b[1], fcode)
                    mvp_f[0] = mvp_f[1] = 0
                    mvp_b[0] = mvp_b[1] = 0
                    dc_y = dc_cb = dc_cr = 1024
                    rec.y[y0:y0 + 16, x0:x0 + 16] = pavg[0]
                    rec.cb[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pavg[1]
                    rec.cr[row * 8:row * 8 + 8,
                           col * 8:col * 8 + 8] = pavg[2]
                    last_b = (1, 1, (0, 0), (0, 0))
                    continue
                if inter_residual:
                    mv = _sad_best_mv(fwd_rec, yp, row, col,
                                      mv_search, fcode)
                    py, pcb, pcr = _mb_predict(fwd_rec, row, col, *mv)
                    cbp_bits, zzs = residual_zz(py, pcb, pcr, col)
                    saturated = any(
                        z is not None and np.abs(z).max() >= 255
                        for z in zzs)
                    if not saturated and cbp_bits:
                        emit_addr(col)
                        _put(bw, "0011")   # fwd, coded
                        _encode_mv_component(bw, mv[1] - mvp_f[0],
                                             fcode)
                        _encode_mv_component(bw, mv[0] - mvp_f[1],
                                             fcode)
                        mvp_f[:] = [mv[1], mv[0]]
                        dc_y = dc_cb = dc_cr = 1024
                        _put(bw, _CBP_INV[cbp_bits])
                        for z in zzs:
                            if z is not None:
                                _encode_nonintra_block(bw, z)
                        store_coded(col, py, pcb, pcr, zzs)
                        last_b = (1, 0, mv, (0, 0))
                        continue
                emit_addr(col)
                _put(bw, "00011")          # B intra
                emit_intra(col)
                mvp_f[0] = mvp_f[1] = 0
                mvp_b[0] = mvp_b[1] = 0
                last_b = None
            # trailing skipped MBs are illegal (last MB of a slice
            # must be coded) — the skip guards stop at col mbw-2, so
            # pending_skip is 0 here
            pic += bytes([0, 0, 1, row + 1]) + bw.bytes()
        return bytes(pic), rec

    if d_pictures:
        # D-only stream (r15): per MB — addr_inc '1', the single
        # B.2d type code '1', six DC differentials (block = rounded
        # mean, the exact inverse of the flat dc/8 reconstruction),
        # end_of_macroblock '1'
        out += gop_header()
        for idx, fr in enumerate(frames):
            yp, cbp_pl, crp = planes(fr)
            bw = MsbWriter()
            bw.write(idx % 1024, 10)
            bw.write(4, 3)
            bw.write(0xFFFF, 16)     # vbv_delay: variable
            out += b"\x00\x00\x01\x00" + bw.bytes()

            def block_dc(plane, r0, c0):
                m = plane[r0:r0 + 8, c0:c0 + 8].mean()
                return int(min(max(round(m), 0), 255)) * 8

            for row in range(mbh):
                bw = MsbWriter()
                bw.write(qscale, 5)
                bw.write(0, 1)       # no extra slice info
                dc_y = dc_cb = dc_cr = 1024
                for col in range(mbw):
                    _put(bw, "1")          # addr inc 1
                    _put(bw, "1")          # B.2d type
                    for (dy, dx) in ((0, 0), (0, 8), (8, 0), (8, 8)):
                        dc = block_dc(yp, row * 16 + dy,
                                      col * 16 + dx)
                        _encode_dc(bw, (dc - dc_y) // 8, True)
                        dc_y = dc
                    dc = block_dc(cbp_pl, row * 8, col * 8)
                    _encode_dc(bw, (dc - dc_cb) // 8, False)
                    dc_cb = dc
                    dc = block_dc(crp, row * 8, col * 8)
                    _encode_dc(bw, (dc - dc_cr) // 8, False)
                    dc_cr = dc
                    bw.write(1, 1)              # end_of_macroblock
                out += bytes([0, 0, 1, row + 1]) + bw.bytes()
        out += b"\x00\x00\x01\xb7"
        return bytes(out)

    if b_frames == 0 or not p_frames:
        # classic I/P path (bit-identical to the r14 writer for
        # default options: one GOP header, stream-global tref)
        out += gop_header()
        prev_rec = None
        for idx, fr in enumerate(frames):
            is_i = (idx % gop == 0) or not p_frames or prev_rec is None
            pic, rec = encode_picture(1 if is_i else 2, idx, fr,
                                      prev_rec, None)
            out += pic
            prev_rec = rec
        out += b"\x00\x00\x01\xb7"
        return bytes(out)

    # B-frame path: one GOP header per GOP; within each GOP anchors
    # sit every b_frames+1 display slots (GOP tail closes with a
    # forced anchor so every B has both references); coding order is
    # anchor-then-its-Bs, temporal_reference = display slot
    prev_anchor = None
    for g0 in range(0, len(frames), gop):
        grp = frames[g0:g0 + gop]
        out += gop_header()
        anchors = list(range(0, len(grp), b_frames + 1))
        if anchors[-1] != len(grp) - 1:
            anchors.append(len(grp) - 1)
        # first anchor: I (closed GOP; any leading Bs would need the
        # previous GOP's anchor — our GOPs always open on an anchor)
        pic, rec = encode_picture(1, anchors[0], grp[anchors[0]],
                                  None, None)
        out += pic
        prev_anchor = rec
        for ai in range(1, len(anchors)):
            a_prev, a_next = anchors[ai - 1], anchors[ai]
            pic, rec = encode_picture(2, a_next, grp[a_next],
                                      prev_anchor, None)
            out += pic
            next_anchor = rec
            for bpos in range(a_prev + 1, a_next):
                pic, _ = encode_picture(3, bpos, grp[bpos],
                                        prev_anchor, next_anchor)
                out += pic
            prev_anchor = next_anchor
    out += b"\x00\x00\x01\xb7"
    return bytes(out)


_CBP_INV = {v: k for k, v in CBP.items()}


def _reconstruct_into(plane, y0, x0, dc, block, qscale, iq_zz) -> None:
    """Encoder-side reconstruction (must match the decoder exactly so
    P-frame references agree)."""
    zz = _quantize_intra(block, qscale, iq_zz)
    rec = np.zeros(64, dtype=np.int64)
    rec[0] = dc
    ac = zz[1:]
    nz = ac != 0
    if nz.any():
        v = (2 * ac[nz] * qscale * iq_zz[1:][nz])
        r = np.sign(v) * (np.abs(v) // 16)
        even = (r % 2 == 0) & (r != 0)
        r = np.where(even, r - np.sign(r), r)
        rec[1:][nz] = np.clip(r, -2048, 2047)
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = rec
    plane[y0:y0 + 8, x0:x0 + 8] = np.clip(
        np.round(_idct8(coef.reshape(8, 8))), 0, 255)


# ---------------------------------------------------------------------------
# MPEG-1 program streams (ISO/IEC 11172-1 pack/PES layer) — r14.
# Pure header arithmetic, zero spec data tables: the container that
# real-world .mpg files wrap the video elementary stream in.
# ---------------------------------------------------------------------------

PS_PACK = 0xBA
PS_SYSTEM = 0xBB
PS_END = 0xB9
VIDEO_STREAM_0 = 0xE0
AUDIO_STREAM_0 = 0xC0


def _scr_bytes(scr: int, mux_rate: int) -> bytes:
    """MPEG-1 pack header payload: '0010' + SCR(33 bits, marker-split
    3/15/15) + marker + marker + mux_rate(22) + marker — 8 bytes."""
    hi3 = (scr >> 30) & 0x07
    mid15 = (scr >> 15) & 0x7FFF
    lo15 = scr & 0x7FFF
    b = 0
    b = (0b0010 << 44) | (hi3 << 41) | (1 << 40) | (mid15 << 25) \
        | (1 << 24) | (lo15 << 9) | (1 << 8) | (1 << 7) \
        | ((mux_rate >> 15) & 0x7F)
    first6 = b.to_bytes(6, "big")
    rest = (((mux_rate & 0x7FFF) << 1) | 1).to_bytes(2, "big")
    return first6 + rest


def mux_mpeg_ps(video_es: bytes, *, packet_bytes: int = 2034,
                mux_rate: int = 10000) -> bytes:
    """Wrap an MPEG-1 video elementary stream as a program stream
    (11172-1): one pack per PES packet — pack header (SCR advancing
    one tick per pack, mux_rate in 50-byte/s units), a system header
    on the first pack, video PES packets (stream 0xE0, no-timestamp
    form — the 0x0F byte after stuffing), ISO end code.  The demuxer
    below round-trips the ES bit-exactly; real demuxers accept the
    layout (no STD timing claims — PTS/DTS are omitted, legal for all
    but the first packet of a presentation unit in strict STD terms,
    and universally tolerated)."""
    if not video_es:
        raise ValueError("mux_mpeg_ps: empty elementary stream")
    if not 1 <= packet_bytes <= 0xFFFF - 20:
        raise ValueError("mux_mpeg_ps: packet_bytes out of range")
    out = bytearray()
    pos = 0
    pack_no = 0
    while pos < len(video_es):
        chunk = video_es[pos:pos + packet_bytes]
        pos += len(chunk)
        out += b"\x00\x00\x01\xba" + _scr_bytes(pack_no * 3600,
                                                mux_rate)
        if pack_no == 0:
            # system header: rate bound + 1 video stream bound
            body = bytearray()
            body += ((1 << 23) | (mux_rate << 1) | 1).to_bytes(3, "big")
            body += bytes([0x00])  # audio_bound 0, fixed/CSPS 0
            body += bytes([0x21])             # video_bound 1, marker
            body += bytes([0xFF])             # reserved
            body += bytes([VIDEO_STREAM_0])
            body += ((0b11 << 14) | (1 << 13)
                     | 46).to_bytes(2, "big")  # STD buffer bound
            out += b"\x00\x00\x01\xbb" + len(body).to_bytes(2, "big") \
                + bytes(body)
        payload = b"\x0f" + chunk              # no-timestamp marker
        out += b"\x00\x00\x01" + bytes([VIDEO_STREAM_0]) \
            + len(payload).to_bytes(2, "big") + payload
        pack_no += 1
    out += b"\x00\x00\x01\xb9"
    return bytes(out)


def demux_mpeg_ps(data: bytes) -> "dict[int, bytes]":
    """Walk an MPEG-1 program stream → {stream_id: elementary-stream
    bytes} (11172-1 packet layer: stuffing 0xFF run, optional STD
    buffer field '01', PTS ('0010'), PTS+DTS ('0011') or the 0x0F
    no-timestamp byte).  Raises ValueError on anything that is not a
    conformant pack/PES walk."""
    if len(data) < 12 or data[:4] != b"\x00\x00\x01\xba":
        raise ValueError("not an MPEG program stream (no pack start "
                         "code)")
    streams: "dict[int, bytearray]" = {}
    pos = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos:pos + 3] != b"\x00\x00\x01":
            raise ValueError("mpeg-ps: lost pack sync")
        code = data[pos + 3]
        pos += 4
        if code == PS_PACK:
            if pos + 8 > n:
                raise ValueError("mpeg-ps: truncated pack header")
            if (data[pos] >> 4) != 0b0010:
                raise ValueError("mpeg-ps: bad pack SCR marker "
                                 "(MPEG-2 program streams use the "
                                 "'01' form — only MPEG-1 packs "
                                 "parse here)")
            pos += 8
        elif code == PS_SYSTEM:
            if pos + 2 > n:
                raise ValueError("mpeg-ps: truncated system header")
            ln = int.from_bytes(data[pos:pos + 2], "big")
            pos += 2 + ln
        elif code == PS_END:
            break
        elif 0xBC <= code <= 0xFF:
            if pos + 2 > n:
                raise ValueError("mpeg-ps: truncated PES header")
            ln = int.from_bytes(data[pos:pos + 2], "big")
            pos += 2
            if pos + ln > n:
                raise ValueError("mpeg-ps: truncated PES packet")
            body = data[pos:pos + ln]
            pos += ln
            if code in (0xBE, 0xBF):           # padding / private-2:
                continue                       # no packet header
            i = 0
            while i < len(body) and body[i] == 0xFF:
                i += 1                          # stuffing
                if i > 16:
                    raise ValueError("mpeg-ps: > 16 stuffing bytes")
            if i >= len(body):
                raise ValueError("mpeg-ps: empty PES body")
            b0 = body[i]
            if b0 >> 6 == 0b01:                 # STD buffer field
                i += 2
                if i >= len(body):
                    raise ValueError("mpeg-ps: truncated STD field")
                b0 = body[i]
            if b0 >> 4 == 0b0010:               # PTS
                i += 5
            elif b0 >> 4 == 0b0011:             # PTS + DTS
                i += 10
            elif b0 == 0x0F:                    # no timestamp
                i += 1
            else:
                raise ValueError(f"mpeg-ps: bad packet header byte "
                                 f"0x{b0:02x}")
            if i > len(body):
                raise ValueError("mpeg-ps: truncated timestamps")
            streams.setdefault(code, bytearray()).extend(body[i:])
        else:
            raise ValueError(f"mpeg-ps: unexpected start code "
                             f"0x{code:02x} at pack level")
    if not streams:
        raise ValueError("mpeg-ps: no PES payloads found")
    return {k: bytes(v) for k, v in streams.items()}


def mpeg_ps_video_es(data: bytes) -> bytes:
    """The FIRST video stream's (0xE0-0xEF) elementary bytes."""
    streams = demux_mpeg_ps(data)
    for sid in sorted(streams):
        if 0xE0 <= sid <= 0xEF:
            return streams[sid]
    raise ValueError("mpeg-ps: no video stream (0xE0-0xEF) present")


def mpeg_ps_info(data: bytes) -> dict:
    """Header-level program-stream metadata: pack count, mux_rate,
    stream ids with payload sizes, and the video sequence facts via
    :func:`mpeg1_info` on the demuxed video ES."""
    if len(data) < 12 or data[:4] != b"\x00\x00\x01\xba":
        raise ValueError("not an MPEG program stream")
    n_packs = data.count(b"\x00\x00\x01\xba")
    mux_rate = ((int.from_bytes(data[10:12], "big") >> 1) & 0x7FFF) \
        | (((data[9] & 0x7F)) << 15)
    streams = demux_mpeg_ps(data)
    out = {"n_packs": n_packs, "mux_rate_50Bps": mux_rate,
           "streams": {f"0x{sid:02x}": len(es)
                       for sid, es in streams.items()}}
    for sid in sorted(streams):
        if 0xE0 <= sid <= 0xEF:
            out["video"] = mpeg1_info(streams[sid])
            break
    return out
