"""MPEG-1/2 Layer III (mp3) sample decode — pure Python/numpy, no
codec library.

The container walk (frame headers, ID3 skip) already lives in
operators/mediainfo.py; this module decodes the audio itself:

  frame → side info → bit reservoir → scalefactors → Huffman spectral
  decode → requantize → (reorder) → stereo → alias reduction → IMDCT +
  window + overlap-add → frequency inversion → polyphase synthesis →
  PCM16

Layout facts (field widths, tables) are transcribed from the public
standards ISO/IEC 11172-3 (MPEG-1) and ISO/IEC 13818-3 (MPEG-2 LSF);
everything algorithmic (IMDCT, windows, alias butterflies, synthesis
matrixing) is computed from the closed forms in the same standards.
The Huffman code tables (11172-3 Table B.7) are spec DATA; this
transcription is additionally validated EMPIRICALLY: decoding a
third-party (LAME-encoded) stream must consume exactly
``part2_3_length`` bits per granule — a wrong codeword desynchronizes
the bitstream immediately, so full-stream conformance pins the tables
actually exercised (see tests/test_mp3.py).

Scale posture: like every codec here, decode runs once per blob
inside Arrow ``mapInPandas`` (multimodal.py dispatch) — no shuffle,
corrupt input raises ValueError (caught per row, never aborting the
batch).  Reference anchor: conduino has no media types — north-star
engine extension (SURVEY §7, M6).
"""

from __future__ import annotations

import struct

import numpy as np

from conduino_spark.operators.bitio import MsbReader, MsbWriter
from conduino_spark.operators.mediainfo import _MP3_BITRATES, _MP3_RATES
from conduino_spark.operators.mp3_tables import (
    BIG_TABLES, COUNT1_A, LINBITS, PRETAB, SFB_LONG, SFB_SHORT,
    SYNTH_D, UNCERTIFIED_TABLES,
)

__all__ = ["decode_mp3", "encode_mp3", "side_info_scan"]


_EOF = "mp3: bitstream overrun"


# ---------------------------------------------------------------------------
# frame header (full fields — mediainfo._mp3_frame keeps only geometry)
# ---------------------------------------------------------------------------

def _parse_header(data: bytes, pos: int):
    """Layer III frame header at ``pos`` → dict or None."""
    if pos + 4 > len(data):
        return None
    b0, b1, b2, b3 = data[pos:pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    ver_bits = (b1 >> 3) & 0x3
    layer_bits = (b1 >> 1) & 0x3
    if ver_bits == 1 or layer_bits != 1:     # Layer III only here
        return None
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    mpeg1 = ver_bits == 3
    kbps = _MP3_BITRATES[(1, 3) if mpeg1 else (2, 2)][br_idx]
    rate = _MP3_RATES[ver_bits][sr_idx]
    pad = (b2 >> 1) & 1
    protection = not (b1 & 1)                # CRC present when bit==0
    mode = (b3 >> 6) & 0x3                   # 0 stereo 1 js 2 dual 3 mono
    mode_ext = (b3 >> 4) & 0x3
    nch = 1 if mode == 3 else 2
    coef = 144 if mpeg1 else 72
    flen = coef * kbps * 1000 // rate + pad
    if flen < 4:
        return None
    return {"mpeg1": mpeg1, "mpeg25": ver_bits == 0, "kbps": kbps,
            "rate": rate, "sr_idx": sr_idx, "pad": pad, "mode": mode,
            "mode_ext": mode_ext, "nch": nch, "flen": flen,
            "protection": protection,
            "samples": 1152 if mpeg1 else 576}


# ---------------------------------------------------------------------------
# side info (11172-3 2.4.1.7 / 13818-3 LSF layout)
# ---------------------------------------------------------------------------

def _read_side_info(br: MsbReader, h: dict) -> dict:
    nch = h["nch"]
    si: dict = {}
    if h["mpeg1"]:
        si["main_data_begin"] = br.read(9)
        br.read(5 if nch == 1 else 3)        # private_bits
        si["scfsi"] = [[br.read(1) for _ in range(4)]
                       for _ in range(nch)]
        ngr = 2
    else:
        si["main_data_begin"] = br.read(8)
        br.read(1 if nch == 1 else 2)
        si["scfsi"] = [[0, 0, 0, 0] for _ in range(nch)]
        ngr = 1
    si["ngr"] = ngr
    grs = []
    for _gr in range(ngr):
        chs = []
        for _ch in range(nch):
            g: dict = {}
            g["part2_3_length"] = br.read(12)
            g["big_values"] = br.read(9)
            if g["big_values"] > 288:
                raise ValueError(
                    f"mp3: big_values {g['big_values']} > 288")
            g["global_gain"] = br.read(8)
            g["scalefac_compress"] = br.read(4 if h["mpeg1"] else 9)
            g["window_switching"] = br.read(1)
            if g["window_switching"]:
                g["block_type"] = br.read(2)
                g["mixed_block"] = br.read(1)
                if g["block_type"] == 0:
                    raise ValueError("mp3: window_switching with "
                                     "block_type 0 is forbidden")
                g["table_select"] = [br.read(5), br.read(5), 0]
                g["subblock_gain"] = [br.read(3) for _ in range(3)]
                # fixed region split (11172-3 2.4.2.7): region0 ends
                # at sfb 8 (long part) for block_type 2 non-mixed →
                # 36 samples; others 54/... handled in huffman stage
                g["region0_count"] = 8 if (g["block_type"] == 2
                                           and not g["mixed_block"]) \
                    else 7
                g["region1_count"] = 36      # sentinel: region2 empty
            else:
                g["block_type"] = 0
                g["mixed_block"] = 0
                g["table_select"] = [br.read(5) for _ in range(3)]
                g["region0_count"] = br.read(4)
                g["region1_count"] = br.read(3)
            if h["mpeg1"]:
                g["preflag"] = br.read(1)
            else:
                g["preflag"] = 0             # LSF: derived, not sent
            g["scalefac_scale"] = br.read(1)
            g["count1table_select"] = br.read(1)
            chs.append(g)
        grs.append(chs)
    si["granules"] = grs
    return si


def _side_info_len(h: dict) -> int:
    if h["mpeg1"]:
        return 17 if h["nch"] == 1 else 32
    return 9 if h["nch"] == 1 else 17


# ---------------------------------------------------------------------------
# scalefactors
# ---------------------------------------------------------------------------

#: 11172-3 Table B.6 — scalefac_compress → (slen1, slen2)
_SLEN = ((0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2),
         (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3),
         (4, 2), (4, 3))


def _read_scalefactors_mpeg1(br: MsbReader, g: dict, scfsi, prev) -> dict:
    """MPEG-1 scalefactor read → {'l': [22], 's': [[3][13]]} raw
    indices (NOT yet scaled); honors scfsi copy from granule 0."""
    slen1, slen2 = _SLEN[g["scalefac_compress"]]
    sf_l = [0] * 23
    sf_s = [[0] * 13 for _ in range(3)]
    if g["block_type"] == 2:
        if g["mixed_block"]:
            for sfb in range(8):
                sf_l[sfb] = br.read(slen1)
            for sfb in range(3, 6):
                for w in range(3):
                    sf_s[w][sfb] = br.read(slen1)
        else:
            for sfb in range(6):
                for w in range(3):
                    sf_s[w][sfb] = br.read(slen1)
        for sfb in range(6, 12):
            for w in range(3):
                sf_s[w][sfb] = br.read(slen2)
    else:
        groups = ((0, 6, slen1), (6, 11, slen1), (11, 16, slen2),
                  (16, 21, slen2))
        for gi, (a, b, slen) in enumerate(groups):
            if scfsi[gi] and prev is not None:
                for sfb in range(a, b):
                    sf_l[sfb] = prev["l"][sfb]
            else:
                for sfb in range(a, b):
                    sf_l[sfb] = br.read(slen)
    return {"l": sf_l, "s": sf_s}


def _lsf_slens(g: dict, *, intensity: bool) -> tuple:
    """13818-3 LSF scalefactor partitioning → (slens[4], nsfb[4],
    preflag).  ``intensity`` selects the intensity-channel variant."""
    sfc = g["scalefac_compress"]
    bt = g["block_type"]
    mixed = g["mixed_block"]
    blockcase = 0 if bt != 2 else (2 if mixed else 1)
    preflag = 0
    if not intensity:
        if sfc < 400:
            slens = ((sfc >> 4) // 5, (sfc >> 4) % 5, (sfc & 15) >> 2,
                     sfc & 3)
            nsfb = (((6, 5, 5, 5), (9, 9, 9, 9), (6, 9, 9, 9))
                    [blockcase])
        elif sfc < 500:
            c = sfc - 400
            slens = ((c >> 2) // 5, (c >> 2) % 5, c & 3, 0)
            nsfb = (((6, 5, 7, 3), (9, 9, 12, 6), (6, 9, 12, 6))
                    [blockcase])
        else:
            c = sfc - 500
            slens = (c // 3, c % 3, 0, 0)
            nsfb = (((11, 10, 0, 0), (18, 18, 0, 0), (15, 18, 0, 0))
                    [blockcase])
            preflag = 1
    else:
        # intensity channel (right channel when intensity stereo on):
        # 13818-3 partitions on sfc>>1
        c = sfc >> 1
        if c < 180:
            slens = (c // 36, (c % 36) // 6, c % 6, 0)
            nsfb = (((7, 7, 7, 0), (12, 12, 12, 0), (6, 15, 12, 0))
                    [blockcase])
        elif c < 244:
            c -= 180
            slens = ((c & 63) >> 4, (c & 15) >> 2, c & 3, 0)
            nsfb = (((6, 6, 6, 3), (12, 9, 9, 6), (6, 12, 9, 6))
                    [blockcase])
        else:
            c -= 244
            slens = (c // 3, c % 3, 0, 0)
            nsfb = (((8, 8, 5, 0), (15, 12, 9, 0), (6, 18, 9, 0))
                    [blockcase])
    return slens, nsfb, preflag


def _read_scalefactors_lsf(br: MsbReader, g: dict, *,
                           intensity: bool) -> dict:
    slens, nsfb, preflag = _lsf_slens(g, intensity=intensity)
    g["preflag"] = preflag
    raw = []
    for part in range(4):
        for _ in range(nsfb[part]):
            raw.append(br.read(slens[part]) if slens[part] else 0)
    sf_l = [0] * 23
    sf_s = [[0] * 13 for _ in range(3)]
    if g["block_type"] == 2:
        if g["mixed_block"]:
            nlong = 6
            for sfb in range(nlong):
                sf_l[sfb] = raw[sfb]
            k = nlong
            for sfb in range(3, 3 + (len(raw) - nlong) // 3):
                for w in range(3):
                    if k < len(raw):
                        sf_s[w][sfb] = raw[k]
                        k += 1
        else:
            k = 0
            for sfb in range(len(raw) // 3):
                for w in range(3):
                    sf_s[w][sfb] = raw[k]
                    k += 1
    else:
        for sfb in range(min(len(raw), 22)):
            sf_l[sfb] = raw[sfb]
    return {"l": sf_l, "s": sf_s, "part2_bits":
            sum(s * n for s, n in zip(slens, nsfb))}


def _part2_bits_mpeg1(g: dict, scfsi, first_granule: bool) -> int:
    slen1, slen2 = _SLEN[g["scalefac_compress"]]
    if g["block_type"] == 2:
        if g["mixed_block"]:
            return 17 * slen1 + 18 * slen2
        return 18 * slen1 + 18 * slen2
    bits = 0
    groups = ((6, slen1), (5, slen1), (5, slen2), (5, slen2))
    for gi, (n, slen) in enumerate(groups):
        if first_granule or not scfsi[gi]:
            bits += n * slen
    return bits


# ---------------------------------------------------------------------------
# Huffman spectral decode
# ---------------------------------------------------------------------------

def _decode_big_pair(br: MsbReader, table: int):
    """One (x, y) pair from big-values table ``table`` (with linbits
    and sign handling)."""
    if table == 0:
        return 0, 0
    codes = BIG_TABLES.get(table)
    if codes is None:
        if table in UNCERTIFIED_TABLES:
            raise ValueError(
                f"mp3: huffman table {table} selected — its code "
                "transcription is not certified in this build (no "
                "reference stream with spectral content was available "
                "to pin it); refusing to decode rather than risk "
                "silently-wrong audio")
        raise ValueError(f"mp3: huffman table {table} is not defined "
                         "in the spec (tables 4 and 14 are unused)")
    node = codes
    while True:
        node = node[br.read(1)]
        if not isinstance(node, tuple):
            break
    x, y = node >> 4, node & 0xF
    lb = LINBITS[table]
    if x == 15 and lb:
        x += br.read(lb)
    if x and br.read(1):
        x = -x
    if y == 15 and lb:                       # y is 0..15 here (sign
        y += br.read(lb)                     # applied just below)
    if y and br.read(1):
        y = -y
    return x, y


def _decode_count1(br: MsbReader, table_b: bool):
    """One (v, w, x, y) quadruple from the count1 region."""
    if table_b:
        bits = br.read(4)
        quad = [(bits >> 3) & 1, (bits >> 2) & 1, (bits >> 1) & 1,
                bits & 1]
        # table B: all-ones 4-bit pattern → quadruple of 1s; the sent
        # bits are the INVERTED values per 11172-3 (hcod='1111'... is
        # value 0000): codes are the complement
        quad = [1 - q for q in quad]
    else:
        node = COUNT1_A
        while True:
            node = node[br.read(1)]
            if not isinstance(node, tuple):
                break
        quad = [(node >> 3) & 1, (node >> 2) & 1, (node >> 1) & 1,
                node & 1]
    out = []
    for q in quad:
        if q and br.read(1):
            q = -q
        out.append(q)
    return out


def _region_boundaries(g: dict, h: dict) -> tuple:
    """(region1_start, region2_start) sample indices for the
    big-values region table dispatch."""
    sfb_long = SFB_LONG[(h["mpeg1"], h["mpeg25"], h["sr_idx"])]
    if g["window_switching"] and g["block_type"] == 2:
        # 11172-3 2.4.2.7: short/mixed blocks: region0 = first 36
        # samples (mixed: first 8 long sfbs + ...), region2 empty
        r1 = 36
        return r1, 576
    r0c, r1c = g["region0_count"], g["region1_count"]
    r1 = sfb_long[min(r0c + 1, len(sfb_long) - 1)]
    r2 = sfb_long[min(r0c + 1 + r1c + 1, len(sfb_long) - 1)]
    return r1, r2


#: r15 hot-path LUTs: every certified table is a complete prefix
#: code (Kraft == 1, validated at import in mp3_tables), so a flat
#: 2^maxlen window lookup decodes one symbol per table probe instead
#: of one tree step per BIT — built lazily FROM the validated trees
#: (no second transcription to certify)
_HUFF_LUTS: dict = {}


def _lut_from_tree(tree):
    codes = []

    def walk(node, code, depth):
        if isinstance(node, int):
            codes.append((code, depth, node))
            return
        walk(node[0], code << 1, depth + 1)
        walk(node[1], (code << 1) | 1, depth + 1)

    walk(tree, 0, 0)
    L = max(d for _, d, _ in codes)
    lv = [0] * (1 << L)
    ll = [0] * (1 << L)
    for code, dep, val in codes:
        lo = code << (L - dep)
        for i in range(lo, lo + (1 << (L - dep))):
            lv[i] = val
            ll[i] = dep
    return L, lv, ll


def _get_lut(key, tree):
    lut = _HUFF_LUTS.get(key)
    if lut is None:
        lut = _HUFF_LUTS[key] = _lut_from_tree(tree)
    return lut


def _read_huffman(br: MsbReader, g: dict, h: dict, bits_end: int):
    """Spectral values ``is[576]`` + count1 extent; raises when the
    region decode overruns ``bits_end`` (conformance violation).

    r15: decodes via flat window LUTs over the reader's zero-padded
    24-bit windows — one window probe per symbol instead of a Python
    tree step per bit.  The zero pad only ever supplies bits PAST
    the physical stream end; every decode that consumed a
    phantom bit is detected by the ``p > nbits`` checks below and
    handled exactly as the bit-at-a-time reader's overrun raise did
    (big values: loud ValueError; the final count1 quad: dropped and
    rewound to the budget boundary — the r13 ADVICE behavior)."""
    xs = np.zeros(576, np.int32)
    r1, r2 = _region_boundaries(g, h)
    nbig = g["big_values"] * 2
    w24 = br.w24
    nbits = br.nbits
    p = br.pos
    pos = 0
    ts = g["table_select"]
    for seg_end, t in ((min(r1, nbig), ts[0]),
                       (min(r2, nbig), ts[1]), (nbig, ts[2])):
        if pos >= seg_end:
            continue
        if t == 0:                   # table 0: zero pairs, no bits
            pos = seg_end
            continue
        tree = BIG_TABLES.get(t)
        if tree is None:
            _decode_big_pair(br, t)  # canonical uncertified raise
        L, lv, ll = _get_lut(t, tree)
        lb = LINBITS[t]
        msk = (1 << L) - 1
        sh = 24 - L
        while pos < seg_end:
            idx = (w24[p >> 3] >> (sh - (p & 7))) & msk
            packed = lv[idx]
            p += ll[idx]
            x = packed >> 4
            y = packed & 15
            if x == 15 and lb:
                x += (w24[p >> 3]
                      >> (24 - lb - (p & 7))) & ((1 << lb) - 1)
                p += lb
            if x:
                if (w24[p >> 3] >> (23 - (p & 7))) & 1:
                    x = -x
                p += 1
            if y == 15 and lb:
                y += (w24[p >> 3]
                      >> (24 - lb - (p & 7))) & ((1 << lb) - 1)
                p += lb
            if y:
                if (w24[p >> 3] >> (23 - (p & 7))) & 1:
                    y = -y
                p += 1
            xs[pos] = x
            xs[pos + 1] = y
            pos += 2
            if p > nbits:
                raise ValueError("mp3: bitstream overrun")
            if p > bits_end:
                br.pos = p
                raise ValueError("mp3: big-values region overran "
                                 "part2_3_length")
    # count1: quadruples until the bit budget is exhausted or 576;
    # a quad STARTING below 576 is decoded even when it crosses the
    # end (spec: the spilled values are discarded) — `pos <= 572`
    # here silently zeroed lines 573-575 (r13 review finding)
    qstart = pos
    table_b = g["count1table_select"]
    if not table_b:
        Lc, lvc, llc = _get_lut("count1a", COUNT1_A)
        mskc = (1 << Lc) - 1
        shc = 24 - Lc
    while p < bits_end and pos < 576:
        qstart = pos
        if table_b:
            # table B: 4 sent bits are the INVERTED quad values
            bits = (w24[p >> 3] >> (20 - (p & 7))) & 0xF
            p += 4
            node = 0xF ^ bits
        else:
            idx = (w24[p >> 3] >> (shc - (p & 7))) & mskc
            node = lvc[idx]
            p += llc[idx]
        quad = []
        for shift in (3, 2, 1, 0):
            q = (node >> shift) & 1
            if q:
                if (w24[p >> 3] >> (23 - (p & 7))) & 1:
                    q = -1
                p += 1
            quad.append(q)
        if p > nbits:
            # the final quad ran past the PHYSICAL buffer end (not
            # just past part2_3_length): the stuffed bits simply
            # don't exist in the stream's last frame — drop the quad
            # and rewind to the budget boundary (r13 ADVICE: raising
            # here failed streams that are conformant except for
            # their very last stuffed quadruple)
            p = bits_end
            break
        hi = min(pos + 4, 576)
        xs[pos:hi] = quad[:hi - pos]
        pos = hi
    if p > bits_end:
        # a conformant stream ends the count1 region exactly at the
        # budget, but real-world encoders may let the reader run one
        # partial quadruple past it (the bits belonged to stuffing /
        # the next granule): standard decoder behavior is to drop
        # that quad and rewind to the budget boundary
        xs[qstart:pos] = 0
        pos = qstart
        p = bits_end
    br.pos = p
    return xs, pos


# ---------------------------------------------------------------------------
# main-data (bit reservoir) assembly + the frame walk
# ---------------------------------------------------------------------------

def _frames(data: bytes):
    """Yield (header, side_info, main_data_chunk) per frame, skipping
    ID3v2/ID3v1; ValueError when nothing parses."""
    end = len(data)
    if end >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
                | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        pos = 10 + size
    n = 0
    while pos + 4 <= end:
        h = _parse_header(data, pos)
        if h is None:
            if n:
                break
            pos += 1
            continue
        if pos + h["flen"] > end:
            break
        body_start = pos + 4 + (2 if h["protection"] else 0)
        md_start = body_start + _side_info_len(h)
        br = MsbReader(data[body_start:md_start], eof=_EOF)
        si = _read_side_info(br, h)
        main = data[md_start:pos + h["flen"]]
        yield h, si, main
        n += 1
        pos += h["flen"]
    if not n:
        raise ValueError("mp3: no Layer III frames found")


def side_info_scan(data: bytes) -> dict:
    """Structural scan (no spectral decode): frame count, granule
    table-usage histogram, reservoir stats — the empirical validation
    probe for the side-info layer."""
    tables: dict = {}
    n_frames = 0
    reservoir = []
    c1 = {0: 0, 1: 0}
    bt = {0: 0, 1: 0, 2: 0, 3: 0}
    for h, si, main in _frames(data):
        n_frames += 1
        reservoir.append(si["main_data_begin"])
        for gr in si["granules"]:
            for g in gr:
                bt[g["block_type"]] += 1
                c1[g["count1table_select"]] += 1
                nbig = g["big_values"] * 2
                if nbig == 0:
                    continue
                r1, r2 = _region_boundaries(g, h)
                for t, lo in ((g["table_select"][0], 0),
                              (g["table_select"][1], r1),
                              (g["table_select"][2], r2)):
                    if lo < nbig:
                        tables[t] = tables.get(t, 0) + 1
    return {"n_frames": n_frames, "tables": tables,
            "main_data_begin": reservoir, "count1": c1,
            "block_types": bt}


# ---------------------------------------------------------------------------
# requantize / reorder / stereo / alias reduction
# ---------------------------------------------------------------------------

def _requantize(xs, g: dict, sf: dict, h: dict):
    """Huffman integers → spectral values xr[576] (11172-3 2.4.3.4)."""
    key = (h["mpeg1"], h["mpeg25"], h["sr_idx"])
    gain = 2.0 ** ((g["global_gain"] - 210) / 4.0)
    sfs = 1.0 if g["scalefac_scale"] else 0.5
    mags = np.abs(xs).astype(np.float64) ** (4.0 / 3.0)
    xr = np.sign(xs) * mags
    if g["block_type"] == 2:
        sfb_s = SFB_SHORT[key]
        sfb_l = SFB_LONG[key]
        nlong = 36 if g["mixed_block"] else 0
        if nlong:
            for sfb in range(8):
                lo, hi = sfb_l[sfb], min(sfb_l[sfb + 1], nlong)
                if lo >= nlong:
                    break
                e = -sfs * (sf["l"][sfb]
                            + g["preflag"] * PRETAB[sfb])
                xr[lo:hi] *= gain * 2.0 ** e
        first_sfb = 3 if g["mixed_block"] else 0
        for sfb in range(first_sfb, 13):
            w_len = sfb_s[sfb + 1] - sfb_s[sfb]
            base = nlong + 3 * (sfb_s[sfb]
                                - (sfb_s[first_sfb] if nlong else 0)) \
                if nlong else 3 * sfb_s[sfb]
            for w in range(3):
                lo = base + w * w_len
                hi = lo + w_len
                if lo >= 576:
                    break
                e = (-2.0 * g["subblock_gain"][w]
                     - sfs * sf["s"][w][sfb])
                xr[lo:min(hi, 576)] *= gain * 2.0 ** e
    else:
        sfb_l = SFB_LONG[key]
        for sfb in range(22):
            lo, hi = sfb_l[sfb], sfb_l[sfb + 1]
            e = -sfs * (sf["l"][sfb] + g["preflag"] * PRETAB[sfb])
            xr[lo:hi] *= gain * 2.0 ** e
    return xr


def _reorder_short(xr, g: dict, h: dict):
    """Short-block spectra arrive ordered (sfb, window, line); the
    IMDCT wants (subband, interleaved windows) — 11172-3 2.4.3.4."""
    if g["block_type"] != 2:
        return xr
    key = (h["mpeg1"], h["mpeg25"], h["sr_idx"])
    sfb_s = SFB_SHORT[key]
    out = xr.copy()
    nlong = 36 if g["mixed_block"] else 0
    first_sfb = 3 if g["mixed_block"] else 0
    src = nlong
    for sfb in range(first_sfb, 13):
        w_len = sfb_s[sfb + 1] - sfb_s[sfb]
        for w in range(3):
            for i in range(w_len):
                dst = nlong + 3 * (sfb_s[sfb] - sfb_s[first_sfb]) \
                    + i * 3 + w if g["mixed_block"] else \
                    3 * sfb_s[sfb] + i * 3 + w
                if src >= 576 or dst >= 576:
                    break
                out[dst] = xr[src]
                src += 1
    return out


def _ms_stereo(xr_l, xr_r):
    s = np.sqrt(2.0)
    l = (xr_l + xr_r) / s
    r = (xr_l - xr_r) / s
    return l, r


#: alias-reduction butterfly coefficients (11172-3 Table B.9)
_CI = np.array([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
                -0.0037])
_CS = 1.0 / np.sqrt(1.0 + _CI ** 2)
_CA = _CI / np.sqrt(1.0 + _CI ** 2)

#: r15 vectorization: all 31x8 butterflies touch DISJOINT lines
#: (up rows [18sb-8, 18sb-1], down rows [18sb, 18sb+7] — adjacent
#: boundaries never overlap), so one gather + the same per-element
#: multiply-adds is bit-identical to the loop
_AA_UP = (18 * np.arange(1, 32)[:, None] - 1
          - np.arange(8)[None, :]).ravel()
_AA_DN = (18 * np.arange(1, 32)[:, None]
          + np.arange(8)[None, :]).ravel()
_AA_CS = np.tile(_CS, 31)
_AA_CA = np.tile(_CA, 31)


def _antialias(xr, g: dict):
    """Decoder alias-reduction butterflies across subband boundaries
    (skipped for pure short blocks)."""
    if g["block_type"] == 2 and not g["mixed_block"]:
        return xr
    k = 8 if (g["block_type"] == 2 and g["mixed_block"]) else 248
    up, dn = _AA_UP[:k], _AA_DN[:k]
    out = xr.copy()
    u, d = out[up], out[dn]
    out[up] = u * _AA_CS[:k] - d * _AA_CA[:k]
    out[dn] = d * _AA_CS[:k] + u * _AA_CA[:k]
    return out


# ---------------------------------------------------------------------------
# hybrid filterbank: IMDCT + window + overlap-add, frequency inversion
# ---------------------------------------------------------------------------

def _imdct_matrix(n: int):
    i = np.arange(n)[:, None]
    k = np.arange(n // 2)[None, :]
    return np.cos(np.pi / (2 * n) * (2 * i + 1 + n // 2) * (2 * k + 1))


_IMDCT36 = _imdct_matrix(36)
_IMDCT12 = _imdct_matrix(12)


def _win_long(bt: int):
    i = np.arange(36)
    w = np.sin(np.pi / 36 * (i + 0.5))
    if bt == 1:                              # start
        w = w.copy()
        w[18:24] = 1.0
        w[24:30] = np.sin(np.pi / 12 * (i[24:30] - 18 + 0.5))
        w[30:] = 0.0
    elif bt == 3:                            # stop
        w = w.copy()
        w[:6] = 0.0
        w[6:12] = np.sin(np.pi / 12 * (i[6:12] - 6 + 0.5))
        w[12:18] = 1.0
    return w


_WIN = {0: _win_long(0), 1: _win_long(1), 3: _win_long(3),
        "s": np.sin(np.pi / 12 * (np.arange(12) + 0.5))}


def _imdct_granule(xr, g: dict, overlap):
    """18 spectral lines per subband → 18 time samples per subband,
    overlap-added with the previous granule; returns (samples[18][32],
    new_overlap[32][18]).

    r15: the window multiply and the overlap/out split are hoisted
    out of the per-subband loop (elementwise — bit-identical); the
    IMDCT itself stays one GEMV per subband, NOT a batched GEMM,
    because BLAS re-blocking could reassociate the dot products."""
    ts = np.empty((32, 36))
    bt = g["block_type"]
    if bt != 2:                      # all-long granule (common case)
        spec32 = xr.reshape(32, 18)
        for sb in range(32):
            ts[sb] = _IMDCT36 @ spec32[sb]
        ts *= _WIN[bt][None, :]
    else:
        ts[:] = 0.0
        for sb in range(32):
            spec = xr[18 * sb:18 * sb + 18]
            if g["mixed_block"] and sb < 2:
                ts[sb] = (_IMDCT36 @ spec) * _WIN[0]
            else:
                ws = _WIN["s"]
                for w in range(3):
                    y = (_IMDCT12 @ spec[w::3]) * ws
                    ts[sb, 6 + 6 * w:18 + 6 * w] += y
    out = (ts[:, :18] + overlap).T.copy()
    new_overlap = ts[:, 18:].copy()
    return out, new_overlap


def _freq_invert(out):
    """Compensate the IMDCT's alternating spectrum image: odd
    subbands negate odd time samples (11172-3 2.4.3.4.10.3.2)."""
    out[1::2, 1::2] *= -1.0
    return out


# ---------------------------------------------------------------------------
# polyphase synthesis (11172-3 Annex A.2)
# ---------------------------------------------------------------------------

_SYNTH_N = np.cos((16 + np.arange(64)[:, None])
                  * (2 * np.arange(32)[None, :] + 1) * np.pi / 64)


#: r15 synthesis batching: the u-window's 16 rows pull from V-FIFO
#: blocks k, k-1, ..., k-15 — row j takes entries [0:32] of block
#: k-j when j is even, entries [32:64] when j is odd.  Relative
#: flat-index matrix into the block history (newest block last).
_SYNTH_REL = (np.arange(32)[None, :]
              + (np.arange(16) % 2)[:, None] * 32
              - 64 * np.arange(16)[:, None])
_SYNTH_D16 = None                    # SYNTH_D.reshape(16, 32), lazy


class _Synth:
    """Polyphase synthesis with a batched window pass (r15): the old
    per-slot path np.roll'ed a 1024-FIFO and re-gathered u for every
    32-sample slot (40% of decode wall).  run_many keeps a (16, 64)
    history tail, computes each slot's V block with the SAME per-slot
    GEMV (no GEMM re-blocking — bit-identity), then evaluates ALL
    windows in one fancy-index gather + one (N, 16, 32) multiply and
    a length-16 axis reduction — the identical per-element operation
    order as the per-slot (16, 32).sum(axis=0), so PCM is bit-equal
    (fixture hashes pinned in tests/test_mp3.py)."""

    def __init__(self):
        self.hist = np.zeros((16, 64))

    def run_many(self, S):
        """(N, 32) subband sample sets → (N, 32) PCM samples."""
        global _SYNTH_D16
        if _SYNTH_D16 is None:
            _SYNTH_D16 = SYNTH_D.reshape(16, 32)
        n = S.shape[0]
        H = np.empty((16 + n, 64))
        H[:16] = self.hist
        for k in range(n):           # GEMV per slot, as before
            H[16 + k] = _SYNTH_N @ S[k]
        self.hist = H[-16:].copy()
        flat = H.reshape(-1)
        base = (np.arange(n) + 16)[:, None, None] * 64
        u = flat[base + _SYNTH_REL[None]]
        return (u * _SYNTH_D16[None]).sum(axis=1)

    def run(self, s32):
        """One set of 32 subband samples → 32 PCM samples."""
        return self.run_many(s32[None])[0]


# ---------------------------------------------------------------------------
# the decoder
# ---------------------------------------------------------------------------

def decode_mp3(data: bytes):
    """Decode an MPEG-1/2 Layer III stream → ``(rate, n_channels,
    int16 interleaved pcm)`` — the operators/flac.py return shape.

    Strict: every granule must consume exactly ``part2_3_length``
    bits (bitstream conformance), unknown/uncertified Huffman tables
    raise, and reservoir underruns raise."""
    rate = nch = None
    reservoir = b""
    synths = None
    overlaps = None
    pcm_parts = []
    n_frames = 0
    for h, si, main in _frames(data):
        n_frames += 1
        if rate is None:
            rate, nch = h["rate"], h["nch"]
            synths = [_Synth() for _ in range(nch)]
            overlaps = [np.zeros((32, 18)) for _ in range(nch)]
        elif (h["rate"], h["nch"]) != (rate, nch):
            raise ValueError("mp3: mid-stream rate/channel change")
        mdb = si["main_data_begin"]
        if mdb > len(reservoir):
            # legal at a cut-in point (stream started mid-broadcast):
            # skip this frame's audio but keep its bytes
            reservoir = (reservoir + main)[-4096:]
            continue
        buf = (reservoir[len(reservoir) - mdb:] if mdb else b"") + main
        br = MsbReader(buf, eof=_EOF)
        prev_sf = [None] * nch
        for gr_i, gr in enumerate(si["granules"]):
            for ch in range(nch):
                g = gr[ch]
                start = br.pos
                bits_end = start + g["part2_3_length"]
                if h["mpeg1"]:
                    sf = _read_scalefactors_mpeg1(
                        br, g, si["scfsi"][ch],
                        prev_sf[ch] if gr_i else None)
                else:
                    intensity = (ch == 1 and h["mode"] == 1
                                 and bool(h["mode_ext"] & 1))
                    sf = _read_scalefactors_lsf(br, g,
                                                intensity=intensity)
                prev_sf[ch] = sf
                if g["part2_3_length"]:
                    xs, _n = _read_huffman(br, g, h, bits_end)
                else:
                    xs = np.zeros(576, np.int32)
                if br.pos != bits_end:
                    if br.pos < bits_end:    # stuffing bits: legal
                        br.pos = bits_end
                    else:
                        raise ValueError(
                            "mp3: granule overran part2_3_length "
                            f"({br.pos - start} > "
                            f"{g['part2_3_length']} bits)")
                g["_xs"] = xs
                g["_sf"] = sf
            # stereo processing needs both channels' spectra
            chs = gr
            xrs = []
            for ch in range(nch):
                g = chs[ch]
                xr = _requantize(g["_xs"], g, g["_sf"], h)
                xrs.append(xr)
            if nch == 2 and h["mode"] == 1 and (h["mode_ext"] & 2):
                xrs[0], xrs[1] = _ms_stereo(xrs[0], xrs[1])
            if nch == 2 and h["mode"] == 1 and (h["mode_ext"] & 1):
                raise ValueError("mp3: intensity stereo not "
                                 "supported in this build")
            block = np.empty((nch, 18, 32))
            for ch in range(nch):
                g = chs[ch]
                xr = _reorder_short(xrs[ch], g, h)
                xr = _antialias(xr, g)
                out, overlaps[ch] = _imdct_granule(xr, g,
                                                   overlaps[ch])
                block[ch] = _freq_invert(out)
            # synthesis: 18 sample sets of 32 per granule per channel,
            # evaluated as ONE batched window pass (r15)
            gpcm = np.empty((nch, 18 * 32))
            for ch in range(nch):
                gpcm[ch] = synths[ch].run_many(block[ch]).reshape(-1)
            pcm_parts.append(gpcm)
        reservoir = (reservoir + main)[-4096:]
    if rate is None:
        raise ValueError("mp3: no decodable frames")
    if not pcm_parts:
        return rate, nch, np.zeros(0, np.int16)
    pcm = np.concatenate(pcm_parts, axis=1)
    out = np.empty(pcm.shape[1] * nch)
    for ch in range(nch):
        out[ch::nch] = pcm[ch]
    return rate, nch, np.clip(np.round(out * 32768.0), -32768,
                              32767).astype(np.int16)


# ---------------------------------------------------------------------------
# the encoder (MPEG-1 Layer III, long blocks, certified tables only)
# ---------------------------------------------------------------------------

_ENC_TABLES = None


def _enc_tables():
    """Lazy {table: {(x, y): (code, length)}} encode maps (certified
    tables only) + per-table max value."""
    global _ENC_TABLES
    if _ENC_TABLES is None:
        from conduino_spark.operators.mp3_tables import (_CODE_TABLES,
                                                         _COUNT1_A_CODES)
        maps = {}
        for t, codes in _CODE_TABLES.items():
            inv = {xy: (int(code, 2), len(code))
                   for code, xy in codes.items()}
            n = max(x for x, _ in inv) + 1
            maps[t] = (inv, n - 1)
        c1 = {v: (int(code, 2), len(code))
              for code, v in _COUNT1_A_CODES.items()}
        _ENC_TABLES = (maps, c1)
    return _ENC_TABLES


def _pick_table(maxv: int) -> int:
    for t, cap in ((0, 0), (1, 1), (2, 2), (5, 3), (7, 5), (10, 7)):
        if maxv <= cap:
            return t
    raise AssertionError("encoder quantized beyond |7|")


def _analysis_granule(x, state):
    """576 input samples → 32 subbands × 18 samples (Fig C.1)."""
    C = SYNTH_D / 32.0
    M = np.cos((2 * np.arange(32)[:, None] + 1)
               * (np.arange(64)[None, :] - 16) * np.pi / 64)
    out = np.empty((18, 32))
    X = state
    for t in range(18):
        X = np.roll(X, 32)
        X[:32] = x[t * 32:(t + 1) * 32][::-1]
        out[t] = M @ (C * X).reshape(8, 64).sum(axis=0)
    return out, X


def _mdct_long(sub2, prev):
    """Two consecutive granules' subband samples → 18 MDCT lines per
    subband for the CURRENT granule (36-tap sine window, forward of
    the decoder's _IMDCT36 path; scale 4/36 makes IMDCT(MDCT) == the
    TDAC identity used by the decoder's overlap-add)."""
    win = _WIN[0]
    lines = np.empty(576)
    for sb in range(32):
        z = np.concatenate([prev[:, sb], sub2[:, sb]]) * win
        lines[18 * sb:18 * sb + 18] = (4.0 / 36.0) * (z @ _IMDCT36)
    return lines


def _alias_forward(xr):
    out = xr.copy()
    for sb in range(1, 32):
        for i in range(8):
            u = out[18 * sb - 1 - i]
            d = out[18 * sb + i]
            out[18 * sb - 1 - i] = u * _CS[i] + d * _CA[i]
            out[18 * sb + i] = d * _CS[i] - u * _CA[i]
    return out


def _encode_granule_channel(xr, sfb_l, maps, c1map, bw: MsbWriter):
    """Quantize + Huffman-encode one granule-channel spectrum onto the
    frame's main-data writer ``bw`` → side_dict."""
    import math
    amax = np.abs(xr).max()
    if amax < 1e-10:
        gain = 210
        xs = np.zeros(576, np.int64)
    else:
        # smallest step with max quantized value <= 7
        step = amax / (7.49 ** (4.0 / 3.0))
        gain = 210 + int(math.ceil(4 * np.log2(step)))
        gain = min(max(gain, 0), 255)
        q = (np.abs(xr) / 2.0 ** ((gain - 210) / 4.0)) ** 0.75
        xs = np.round(q).astype(np.int64)
        while xs.max() > 7 and gain < 255:
            gain += 1
            q = (np.abs(xr) / 2.0 ** ((gain - 210) / 4.0)) ** 0.75
            xs = np.round(q).astype(np.int64)
        xs *= np.sign(xr).astype(np.int64)
    # split: big values region then count1 quads (|v| <= 1)
    nz = np.nonzero(xs)[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    big_end = last
    while big_end > 0 and abs(xs[big_end - 1]) <= 1:
        big_end -= 1
    big_end += big_end & 1                   # even pair count
    count1_end = min(576, big_end + ((last - big_end + 3) // 4) * 4)
    # regions on sfb boundaries: region0 first 8 bands, region1 next
    # 8 (table per region by its max)
    r0c, r1c = 7, 7
    r1 = sfb_l[r0c + 1]
    r2 = sfb_l[r0c + r1c + 2]
    start = bw.tell()
    tsel = []
    for lo, hi in ((0, min(r1, big_end)),
                   (min(r1, big_end), min(r2, big_end)),
                   (min(r2, big_end), big_end)):
        seg_max = int(np.abs(xs[lo:hi]).max()) if hi > lo else 0
        t = _pick_table(seg_max)
        tsel.append(t)
        if t == 0:
            continue
        inv, _cap = maps[t]
        for i in range(lo, hi, 2):
            xv, yv = int(xs[i]), int(xs[i + 1])
            bw.write_code(*inv[(abs(xv), abs(yv))])
            if xv:
                bw.write(1 if xv < 0 else 0, 1)
            if yv:
                bw.write(1 if yv < 0 else 0, 1)
    for i in range(big_end, count1_end, 4):
        quad = [int(xs[j]) if j < 576 else 0 for j in range(i, i + 4)]
        packed = sum((1 if abs(v) else 0) << (3 - k)
                     for k, v in enumerate(quad))
        bw.write_code(*c1map[packed])
        for v in quad:
            if v:
                bw.write(1 if v < 0 else 0, 1)
    return {"part2_3_length": bw.tell() - start,
            "big_values": big_end // 2,
            "global_gain": gain,
            "table_select": tsel}


def encode_mp3(samples, rate: int = 44100, *, kbps: int = 128,
               ms_stereo: bool = False):
    """Encode int16 (or float [-1,1]) samples — 1-D mono or (T, 2)
    stereo — into an MPEG-1 Layer III stream: long blocks, all-zero
    scalefactors, certified Huffman tables only (global_gain chosen
    per granule-channel so quantized values stay <= 7; coarse but
    fully conformant).  ``ms_stereo=True`` encodes mid/side spectra
    under joint-stereo mode_ext=2, exercising the decoder's MS
    inverse.  44100/48000/32000 Hz only (MPEG-1)."""
    if rate not in (44100, 48000, 32000):
        raise ValueError(f"encode_mp3: MPEG-1 rates only, got {rate}")
    x = np.asarray(samples, np.float64)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] > 2:
        raise ValueError("encode_mp3: mono 1-D or (T, 2) stereo only")
    if x.size and np.abs(x).max() > 4.0:     # int16-scaled input
        x = x / 32768.0
    T, nch = x.shape
    if ms_stereo and nch != 2:
        raise ValueError("encode_mp3: ms_stereo needs stereo input")
    sr_idx = (44100, 48000, 32000).index(rate)
    key = (True, False, sr_idx)
    sfb_l = SFB_LONG[key]
    n_frames = max(1, -(-T // 1152))
    x = np.pad(x, ((0, n_frames * 1152 - T), (0, 0)))
    maps, c1map = _enc_tables()
    states = [np.zeros(512) for _ in range(nch)]
    prev_subs = [np.zeros((18, 32)) for _ in range(nch)]
    frames = []
    br_idx = _MP3_BITRATES[(1, 3)].index(kbps)
    # header mode/ext: mono 0xC0; stereo 0x00; MS joint 0x60
    b3 = 0xC0 if nch == 1 else (0x60 if ms_stereo else 0x00)
    si_len = 17 if nch == 1 else 32
    for f in range(n_frames):
        mw = MsbWriter()                     # main data, all granules
        side = []
        for gr in range(2):
            xrs = []
            for c in range(nch):
                seg = x[f * 1152 + gr * 576:
                        f * 1152 + gr * 576 + 576, c]
                sub, states[c] = _analysis_granule(seg, states[c])
                # frequency inversion is self-inverse and lives in
                # the TIME domain: the decoder negates odd time
                # samples of odd subbands after its IMDCT, so the
                # encoder negates the same positions before its MDCT
                sub = sub.copy()
                sub[1::2, 1::2] *= -1.0
                xr = _mdct_long(sub, prev_subs[c])
                prev_subs[c] = sub
                xrs.append(_alias_forward(xr))
            if ms_stereo:
                s2 = np.sqrt(2.0)
                xrs = [(xrs[0] + xrs[1]) / s2, (xrs[0] - xrs[1]) / s2]
            for c in range(nch):
                side.append(_encode_granule_channel(xrs[c], sfb_l,
                                                    maps, c1map, mw))
        # frame assembly
        hdr = bytes([0xFF, 0xFA | 0x01,      # MPEG-1 L3, no CRC
                     (br_idx << 4) | (sr_idx << 2), b3])
        bw = MsbWriter()
        bw.write(0, 9)                       # main_data_begin = 0
        bw.write(0, 5 if nch == 1 else 3)    # private bits
        bw.write(0, 4 * nch)                 # scfsi
        for g in side:
            bw.write(g["part2_3_length"], 12)
            bw.write(g["big_values"], 9)
            bw.write(g["global_gain"], 8)
            bw.write(0, 4)                   # scalefac_compress 0
            bw.write(0, 1)                   # no window switching
            for t in g["table_select"]:
                bw.write(t, 5)
            bw.write(7, 4)                   # region0_count
            bw.write(7, 3)                   # region1_count
            bw.write(0, 1)                   # preflag
            bw.write(0, 1)                   # scalefac_scale
            bw.write(0, 1)                   # count1table A
        si_bytes = bw.bytes()
        assert len(si_bytes) == si_len
        main_bytes = mw.bytes()
        flen = 144 * kbps * 1000 // rate     # no padding bit
        room = flen - 4 - si_len
        if len(main_bytes) > room:
            raise ValueError(
                f"encode_mp3: frame {f} needs {len(main_bytes)} main "
                f"bytes > {room} available at {kbps} kbps — raise "
                "kbps")
        frames.append(hdr + si_bytes + main_bytes
                      + b"\x00" * (room - len(main_bytes)))
    return b"".join(frames)
