"""WebP lossless (VP8L) in pure Python + numpy — no codec library.

Why this exists: WebP is the dominant crawl-corpus image container
after JPEG/PNG, and its LOSSLESS profile (VP8L) is a fully public
bitstream (RFC 9649 / the WebP lossless bitstream specification) that
needs nothing but bit twiddling: canonical prefix codes, an LZ77 over
pixels with a 2-D distance map, a color cache, and four reversible
transforms.  Implementing it flips the ``codec='webp'`` slot in
``operators/multimodal.py`` from "environmental raise" to REAL — the
lossy VP8 profile stays out of scope (DSP-grade DCT reconstruction;
wire libwebp for that).

Scope:
  * decode: the complete VP8L feature set — simple + normal prefix
    codes (incl. max-symbol early termination and code-length run
    codes 16/17/18), meta-prefix entropy images, color cache, LZ77
    backward references through the 120-entry 2-D distance map, and
    all four transforms (predictor with its 14 modes, cross-color,
    subtract-green, color-indexing incl. sub-byte pixel bundling).
    Container: bare VP8L chunks and VP8X extended files holding a
    VP8L payload.  Lossy VP8 raises ValueError.
  * encode: a valid-subset writer used as the round-trip test double
    and a real (if unoptimized) writer — palette or subtract-green
    paths, optional uniform predictor / cross-color transforms,
    optional color cache and distance-1/row LZ77 runs, canonical
    length-limited Huffman with zero-run code-length compression.
    Every decoder code path above is reachable from some encoder
    option combination, so the Hypothesis round-trip laws exercise
    the whole decoder.

Cost posture: identical to the sibling codecs (operators/jpeg.py,
operators/flac.py) — decode runs once per blob inside Arrow-batched
``mapInPandas`` at ingestion and is correctness-grade, not
throughput-grade; production decode rates come from wiring libwebp
into the same slot.  Reference anchor: conduino has no media types —
north-star engine extension (SURVEY §7, M6).
"""

from __future__ import annotations

import struct

import numpy as np

from conduino_spark.operators.bitio import (LsbReader, LsbWriter,
                                            PrefixDecoder)

#: VP8L reads bits LSB-first within each byte; prefix codes are
#: traversed MSB-of-code first (the deflate convention)
_EOF = "vp8l: bitstream truncated"


# ---------------------------------------------------------------------------
# canonical prefix codes (deflate numbering: codes assigned by
# increasing length, ties by symbol index)
# ---------------------------------------------------------------------------

#: order in which code-length-code lengths are stored
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)


def _canonical_codes(lengths) -> dict:
    """symbol -> (length, code) for all nonzero lengths."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (ln, next_code[ln])
            next_code[ln] += 1
    return out


def _decoder(codes) -> PrefixDecoder:
    """``(symbol, (length, code))`` pairs → decoder.  A single-symbol
    code (the VP8L 'simple' 1-symbol form) is one length-0 codeword:
    it decodes without reading a bit."""
    return PrefixDecoder(codes, lsb_first=True, maxlen=16,
                         error="vp8l: invalid prefix code in stream")


def _read_code_lengths(br: LsbReader, cl_dec: PrefixDecoder,
                       alphabet: int) -> list:
    lengths = [0] * alphabet
    if br.read(1):                       # use max_symbol
        nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(nbits)
    else:
        max_symbol = alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_dec.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev = cl
        else:
            if cl == 16:
                repeat, val = 3 + br.read(2), prev
            elif cl == 17:
                repeat, val = 3 + br.read(3), 0
            else:
                repeat, val = 11 + br.read(7), 0
            if symbol + repeat > alphabet:
                raise ValueError("vp8l: code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = val
                symbol += 1
    return lengths


def _read_prefix_code(br: LsbReader, alphabet: int) -> PrefixDecoder:
    if br.read(1):                       # simple code
        num_symbols = br.read(1) + 1
        sym0 = br.read(8) if br.read(1) else br.read(1)
        lengths = [0] * alphabet
        if num_symbols == 1:
            return _decoder([(sym0, (0, 0))])
        sym1 = br.read(8)
        if sym0 >= alphabet or sym1 >= alphabet or sym0 == sym1:
            raise ValueError("vp8l: bad simple code symbols")
        lengths[sym0] = lengths[sym1] = 1
        return _decoder(_canonical_codes(lengths).items())
    # normal code: code lengths are themselves prefix-coded
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_used = [i for i, x in enumerate(cl_lengths) if x]
    if not cl_used:
        raise ValueError("vp8l: empty code-length code")
    if len(cl_used) == 1:
        cl_dec = _decoder([(cl_used[0], (0, 0))])
    else:
        cl_dec = _decoder(_canonical_codes(cl_lengths).items())
    lengths = _read_code_lengths(br, cl_dec, alphabet)
    used = [s for s, ln in enumerate(lengths) if ln]
    if not used:
        raise ValueError("vp8l: prefix code with no symbols")
    if len(used) == 1:
        return _decoder([(used[0], (0, 0))])
    return _decoder(_canonical_codes(lengths).items())


# ---------------------------------------------------------------------------
# LZ77 prefix values and the 2-D distance map
# ---------------------------------------------------------------------------

def _prefix_value(code: int, br: LsbReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


#: (code, lo, hi, extra_bits, offset) ranges for writing prefix values
_PREFIX_RANGES = []
for _c in range(40):
    if _c < 4:
        _PREFIX_RANGES.append((_c, _c + 1, _c + 1, 0, _c + 1))
    else:
        _e = (_c - 2) >> 1
        _o = (2 + (_c & 1)) << _e
        _PREFIX_RANGES.append((_c, _o + 1, _o + (1 << _e), _e, _o + 1))


def _prefix_encode(v: int):
    """value -> (code, extra_bits, extra_val)."""
    for code, lo, hi, extra, base in _PREFIX_RANGES:
        if lo <= v <= hi:
            return code, extra, v - base
    raise ValueError(f"vp8l: prefix value {v} out of range")


#: the spec's 120 short-distance (xoffset, yoffset) codes, 1-based
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

_DIST_MAP_INV = {xy: i + 1 for i, xy in enumerate(_DIST_MAP)}


def _dist_from_code(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    x, y = _DIST_MAP[dist_code - 1]
    return max(1, y * xsize + x)


def _dist_to_code(dist: int, xsize: int) -> int:
    """Smallest dist_code the decoder maps back to ``dist``."""
    if 0 < xsize:
        y, x = divmod(dist, xsize)
        if x > 8:
            x -= xsize
            y += 1
        if (x, y) in _DIST_MAP_INV:
            return _DIST_MAP_INV[(x, y)]
    return dist + 120


# ---------------------------------------------------------------------------
# entropy-coded pixel stream (shared by the main image and every
# sub-resolution transform/entropy/palette image)
# ---------------------------------------------------------------------------

_CACHE_MUL = 0x1E35A7BD


def _decode_pixels(br: LsbReader, w: int, h: int, *,
                   top_level: bool) -> list:
    """Decode an entropy-coded VP8L image into a flat list of ARGB
    ints (row-major, length w*h)."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color-cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    meta_bits = 0
    n_groups = 1
    if top_level and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _subsample(w, meta_bits)
        mh = _subsample(h, meta_bits)
        meta = _decode_pixels(br, mw, mh, top_level=False)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1

    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),      # red
            _read_prefix_code(br, 256),      # blue
            _read_prefix_code(br, 256),      # alpha
            _read_prefix_code(br, 40),       # distance
        ))

    out = [0] * (w * h)
    pos = 0
    n = w * h
    shift = 32 - cache_bits if cache_bits else 0
    while pos < n:
        if meta is not None:
            x = pos % w
            y = pos // w
            mp = meta[(y >> meta_bits) * _subsample(w, meta_bits)
                      + (x >> meta_bits)]
            g_dec, r_dec, b_dec, a_dec, d_dec = \
                groups[(mp >> 8) & 0xFFFF]
        else:
            g_dec, r_dec, b_dec, a_dec, d_dec = groups[0]
        sym = g_dec.decode(br)
        if sym < 256:                        # literal: G then R, B, A
            # inlined LUT fast path (r13): three decode() calls per
            # literal are the hottest call sites in the whole codec;
            # one truncation check covers all three (the window pad
            # keeps the reads in range, and the slow path raises the
            # same text)
            w24 = br.w24
            p = br.pos
            e = r_dec.lut[(w24[p >> 3] >> (p & 7)) & 0xFF]
            if e:
                p += e & 15
                red = e >> 5
            else:
                br.pos = p
                red = r_dec.decode(br)
                p = br.pos
            e = b_dec.lut[(w24[p >> 3] >> (p & 7)) & 0xFF]
            if e:
                p += e & 15
                blue = e >> 5
            else:
                br.pos = p
                blue = b_dec.decode(br)
                p = br.pos
            e = a_dec.lut[(w24[p >> 3] >> (p & 7)) & 0xFF]
            if e:
                p += e & 15
                alpha = e >> 5
            else:
                br.pos = p
                alpha = a_dec.decode(br)
                p = br.pos
            if p > br.nbits:
                raise ValueError(_EOF)
            br.pos = p
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift] = px
            pos += 1
        elif sym < 280:                      # backward reference
            length = _prefix_value(sym - 256, br)
            dist_code = _prefix_value(d_dec.decode(br), br)
            dist = _dist_from_code(dist_code, w)
            if dist > pos:
                raise ValueError("vp8l: backward reference before "
                                 "image start")
            if pos + length > n:
                raise ValueError("vp8l: backward reference overruns "
                                 "image")
            if cache is None and dist >= length:
                # non-overlapping copy with no cache to maintain:
                # one list slice (r13 — long matches were per-pixel)
                out[pos:pos + length] = out[pos - dist:
                                            pos - dist + length]
                pos += length
            else:
                for _ in range(length):
                    px = out[pos - dist]
                    out[pos] = px
                    if cache is not None:
                        cache[((_CACHE_MUL * px) & 0xFFFFFFFF)
                              >> shift] = px
                    pos += 1
        else:                                # color-cache hit
            if cache is None:
                raise ValueError("vp8l: cache symbol without cache")
            out[pos] = cache[sym - 280]
            pos += 1
    return out


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ---------------------------------------------------------------------------
# transforms (inverse = decode side)
# ---------------------------------------------------------------------------

def _avg2(a: int, b: int) -> int:
    return ((a >> 24) + (b >> 24) >> 1) << 24 \
        | (((a >> 16) & 0xFF) + ((b >> 16) & 0xFF) >> 1) << 16 \
        | (((a >> 8) & 0xFF) + ((b >> 8) & 0xFF) >> 1) << 8 \
        | ((a & 0xFF) + (b & 0xFF) >> 1)


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        c = _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                   - ((tl >> sh) & 0xFF))
        out |= c << sh
    return out


def _cas_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        # C-style truncation toward zero, per the reference arithmetic
        c = _clamp(a + int((a - b) / 2))
        out |= c << sh
    return out


def _select(l: int, t: int, tl: int) -> int:
    p_l = 0
    p_t = 0
    for sh in (24, 16, 8, 0):
        lc = (l >> sh) & 0xFF
        tc = (t >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p_l += abs(tc - tlc)                 # |p - L| where p = L+T-TL
        p_t += abs(lc - tlc)                 # |p - T|
    return t if p_t <= p_l else l


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _cas_full(l, t, tl)
    if mode == 13:
        return _cas_half(l, t, tl)
    raise ValueError(f"vp8l: predictor mode {mode} out of range")


def _add_px(a: int, b: int) -> int:
    """Per-channel mod-256 pixel addition."""
    return ((((a >> 24) + (b >> 24)) & 0xFF) << 24
            | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
            | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
            | (((a & 0xFF) + (b & 0xFF)) & 0xFF))


def _sub_px(a: int, b: int) -> int:
    return ((((a >> 24) - (b >> 24)) & 0xFF) << 24
            | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
            | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
            | (((a & 0xFF) - (b & 0xFF)) & 0xFF))


def _pred_inverse(pix: list, w: int, h: int, bits: int,
                  modes: list) -> None:
    """Inverse predictor transform (r13 rewrite): rows as four
    channel lists with the mode dispatched once PER BLOCK SEGMENT,
    not per pixel — same arithmetic as the packed-int reference
    helpers above (which the round-trip/fuzz laws still pin), ~4x
    faster.  Linear-buffer TR quirk preserved: the last column's TR
    is the current row's first pixel."""
    mw = _subsample(w, bits)
    # row 0: pred = black for (0,0), L afterwards
    for x in range(w):
        pix[x] = _add_px(pix[x], 0xFF000000 if x == 0 else pix[x - 1])
    step = 1 << bits
    for y in range(1, h):
        base = y * w
        # unpack the residual row + reconstructed previous row into
        # channel lists (A, R, G, B)
        row = pix[base:base + w]
        prow = pix[base - w:base]
        ca = [(v >> 24) & 0xFF for v in row]
        cr = [(v >> 16) & 0xFF for v in row]
        cg = [(v >> 8) & 0xFF for v in row]
        cb = [v & 0xFF for v in row]
        pa = [(v >> 24) & 0xFF for v in prow]
        pr_ = [(v >> 16) & 0xFF for v in prow]
        pg = [(v >> 8) & 0xFF for v in prow]
        pb = [v & 0xFF for v in prow]
        chans = ((ca, pa), (cr, pr_), (cg, pg), (cb, pb))
        # x == 0: pred = T
        ca[0] = (ca[0] + pa[0]) & 0xFF
        cr[0] = (cr[0] + pr_[0]) & 0xFF
        cg[0] = (cg[0] + pg[0]) & 0xFF
        cb[0] = (cb[0] + pb[0]) & 0xFF
        mrow = (y >> bits) * mw
        x0 = 1
        while x0 < w:
            bk = x0 >> bits
            x1 = min(w, (bk + 1) << bits)
            mode = (modes[mrow + bk] >> 8) & 0xFF
            if mode == 0:
                for x in range(x0, x1):
                    ca[x] = (ca[x] + 255) & 0xFF
            elif mode == 1:                  # L
                for c, _p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + c[x - 1]) & 0xFF
            elif mode == 2:                  # T
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + p[x]) & 0xFF
            elif mode == 3:                  # TR
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + (p[x + 1] if x + 1 < w
                                        else c[0])) & 0xFF
            elif mode == 4:                  # TL
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + p[x - 1]) & 0xFF
            elif mode == 5:                  # avg2(avg2(L, TR), T)
                for c, p in chans:
                    for x in range(x0, x1):
                        tr = p[x + 1] if x + 1 < w else c[0]
                        c[x] = (c[x] + ((((c[x - 1] + tr) >> 1)
                                         + p[x]) >> 1)) & 0xFF
            elif mode == 6:                  # avg2(L, TL)
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + ((c[x - 1] + p[x - 1]) >> 1)) \
                            & 0xFF
            elif mode == 7:                  # avg2(L, T)
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + ((c[x - 1] + p[x]) >> 1)) & 0xFF
            elif mode == 8:                  # avg2(TL, T)
                for c, p in chans:
                    for x in range(x0, x1):
                        c[x] = (c[x] + ((p[x - 1] + p[x]) >> 1)) & 0xFF
            elif mode == 9:                  # avg2(T, TR)
                for c, p in chans:
                    for x in range(x0, x1):
                        tr = p[x + 1] if x + 1 < w else c[0]
                        c[x] = (c[x] + ((p[x] + tr) >> 1)) & 0xFF
            elif mode == 10:          # avg2(avg2(L, TL), avg2(T, TR))
                for c, p in chans:
                    for x in range(x0, x1):
                        tr = p[x + 1] if x + 1 < w else c[0]
                        c[x] = (c[x] + ((((c[x - 1] + p[x - 1]) >> 1)
                                         + ((p[x] + tr) >> 1)) >> 1)) \
                            & 0xFF
            elif mode == 11:                 # select (cross-channel)
                for x in range(x0, x1):
                    p_l = (abs(pa[x] - pa[x - 1]) + abs(pr_[x] - pr_[x - 1])
                           + abs(pg[x] - pg[x - 1]) + abs(pb[x] - pb[x - 1]))
                    p_t = (abs(ca[x - 1] - pa[x - 1])
                           + abs(cr[x - 1] - pr_[x - 1])
                           + abs(cg[x - 1] - pg[x - 1])
                           + abs(cb[x - 1] - pb[x - 1]))
                    if p_t <= p_l:
                        ca[x] = (ca[x] + pa[x]) & 0xFF
                        cr[x] = (cr[x] + pr_[x]) & 0xFF
                        cg[x] = (cg[x] + pg[x]) & 0xFF
                        cb[x] = (cb[x] + pb[x]) & 0xFF
                    else:
                        ca[x] = (ca[x] + ca[x - 1]) & 0xFF
                        cr[x] = (cr[x] + cr[x - 1]) & 0xFF
                        cg[x] = (cg[x] + cg[x - 1]) & 0xFF
                        cb[x] = (cb[x] + cb[x - 1]) & 0xFF
            elif mode == 12:                 # clamp(L + T - TL)
                for c, p in chans:
                    for x in range(x0, x1):
                        v = c[x - 1] + p[x] - p[x - 1]
                        c[x] = (c[x] + (0 if v < 0 else
                                        255 if v > 255 else v)) & 0xFF
            elif mode == 13:          # clamp-add-subtract-half
                for c, p in chans:
                    for x in range(x0, x1):
                        a = (c[x - 1] + p[x]) >> 1
                        d = a - p[x - 1]
                        half = d // 2 if d >= 0 else -((-d) // 2)
                        v = a + half
                        c[x] = (c[x] + (0 if v < 0 else
                                        255 if v > 255 else v)) & 0xFF
            else:
                raise ValueError(
                    f"vp8l: predictor mode {mode} out of range")
            x0 = x1
        for x in range(w):
            pix[base + x] = (ca[x] << 24) | (cr[x] << 16) \
                | (cg[x] << 8) | cb[x]


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(pred: int, color: int) -> int:
    return (_s8(pred & 0xFF) * _s8(color & 0xFF)) >> 5


def _color_inverse(pix: list, w: int, h: int, bits: int,
                   ctes: list) -> None:
    mw = _subsample(w, bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = ctes[(y >> bits) * mw + (x >> bits)]
            g2r = cte & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = (cte >> 16) & 0xFF
            px = pix[i]
            green = (px >> 8) & 0xFF
            red = ((px >> 16) & 0xFF) + _ct_delta(g2r, green) & 0xFF
            blue = (px & 0xFF) + _ct_delta(g2b, green)
            blue = (blue + _ct_delta(r2b, red)) & 0xFF
            pix[i] = (px & 0xFF00FF00) | (red << 16) | blue


def _subgreen_inverse(pix: list) -> None:
    # vectorized (r13): one numpy pass over the packed pixels
    a = np.array(pix, np.int64)
    g = (a >> 8) & 0xFF
    red = (((a >> 16) & 0xFF) + g) & 0xFF
    blue = ((a & 0xFF) + g) & 0xFF
    pix[:] = ((a & 0xFF00FF00) | (red << 16) | blue).tolist()


def _palette_width_bits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def _palette_inverse(pix: list, w: int, h: int, palette: list) -> list:
    """Map (possibly bundled) index pixels back to palette colors at
    full width ``w``."""
    wb = _palette_width_bits(len(palette))
    xs = _subsample(w, wb) if wb else w
    per = 1 << wb
    ibits = 8 >> wb
    mask = (1 << ibits) - 1
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            packed = pix[y * xs + (x >> wb)] if wb else pix[y * xs + x]
            idx = ((packed >> 8) & 0xFF)
            if wb:
                idx = (idx >> ((x % per) * ibits)) & mask
            out[y * w + x] = palette[idx] if idx < len(palette) else 0
    return out


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def decode_vp8l(payload: bytes):
    """Decode a raw VP8L chunk payload → (h, w, 3|4) uint8 RGB(A)
    array (alpha kept iff the stream's alpha hint is set)."""
    br = LsbReader(payload, eof=_EOF)
    if br.read(8) != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_hint = br.read(1)
    if br.read(3) != 0:
        raise ValueError("vp8l: unsupported stream version")

    xsize = w                               # reduced by color-indexing
    transforms = []                         # (type, captured_xsize, data)
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(ttype)
        if ttype == 2:                      # subtract-green
            transforms.append((2, xsize, None))
        elif ttype in (0, 1):               # predictor / cross-color
            bits = br.read(3) + 2
            sub = _decode_pixels(
                br, _subsample(xsize, bits), _subsample(h, bits),
                top_level=False)
            transforms.append((ttype, xsize, (bits, sub)))
        else:                               # color indexing
            size = br.read(8) + 1
            deltas = _decode_pixels(br, size, 1, top_level=False)
            palette = []
            prev = 0
            for d in deltas:
                prev = _add_px(prev, d)
                palette.append(prev)
            transforms.append((3, xsize, palette))
            xsize = _subsample(xsize, _palette_width_bits(size))

    pix = _decode_pixels(br, xsize, h, top_level=True)

    for ttype, txs, data in reversed(transforms):
        if ttype == 3:
            pix = _palette_inverse(pix, txs, h, data)
        elif ttype == 0:
            _pred_inverse(pix, txs, h, data[0], data[1])
        elif ttype == 1:
            _color_inverse(pix, txs, h, data[0], data[1])
        else:
            _subgreen_inverse(pix)

    a = np.array(pix, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = (a >> 16) & 0xFF
    rgba[:, :, 1] = (a >> 8) & 0xFF
    rgba[:, :, 2] = a & 0xFF
    rgba[:, :, 3] = (a >> 24) & 0xFF
    return rgba if alpha_hint else rgba[:, :, :3].copy()


def decode_webp(data: bytes):
    """Decode a WebP file → (h, w, 3|4) uint8 array.  Lossless (VP8L)
    only — bare VP8L files and VP8X extended containers with a VP8L
    frame; lossy 'VP8 ' payloads raise ValueError (DSP decode — wire
    libwebp)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) blob")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 payload — only the "
                             "lossless VP8L profile decodes here")
        if tag == b"ANMF":
            # animated file: decode the FIRST frame (the gif.py
            # convention); frame_sample(codec='webp') is the 1:N path
            sub = 16
            while sub + 8 <= len(body):
                stag = body[sub:sub + 4]
                (ssize,) = struct.unpack("<I", body[sub + 4:sub + 8])
                if stag == b"VP8L":
                    return decode_vp8l(body[sub + 8:sub + 8 + ssize])
                if stag == b"VP8 ":
                    raise ValueError("webp: lossy VP8 frame — only "
                                     "the lossless VP8L profile "
                                     "decodes here")
                sub += 8 + ssize + (ssize & 1)
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk found")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _limit_lengths(freqs: list, limit: int) -> list:
    """Huffman code lengths from frequencies, depth-limited via the
    classic bl_count overflow fixup (keeps the Kraft sum exactly 1,
    i.e. the code stays complete)."""
    import heapq
    syms = [s for s, f in enumerate(freqs) if f > 0]
    if not syms:
        return [0] * len(freqs)
    if len(syms) == 1:
        out = [0] * len(freqs)
        out[syms[0]] = 1
        return out
    heap = [(freqs[s], s, (s,)) for s in syms]
    heapq.heapify(heap)
    depth = {}
    while len(heap) > 1:
        f1, t1, m1 = heapq.heappop(heap)
        f2, t2, m2 = heapq.heappop(heap)
        for s in m1 + m2:
            depth[s] = depth.get(s, 0) + 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), m1 + m2))
    lengths = [depth.get(s, 0) for s in range(len(freqs))]
    if max(lengths) <= limit:
        return lengths
    bl_count = [0] * (limit + 1)
    overflow = 0
    for s in syms:
        ln = min(lengths[s], limit)
        if lengths[s] > limit:
            overflow += 1
        bl_count[ln] += 1
    while overflow > 0:
        bits = limit - 1
        while bl_count[bits] == 0:
            bits -= 1
        bl_count[bits] -= 1
        bl_count[bits + 1] += 2
        bl_count[limit] -= 1
        overflow -= 2
    order = sorted(syms, key=lambda s: (lengths[s], -freqs[s], s))
    out = [0] * len(freqs)
    i = 0
    for ln in range(1, limit + 1):
        for _ in range(bl_count[ln]):
            out[order[i]] = ln
            i += 1
    return out


def _write_prefix_code(bw: LsbWriter, lengths: list):
    """Write one prefix code (simple if ≤2 small symbols, else the
    code-length-coded normal form) and return symbol->(len, code)."""
    used = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(used) <= 2 and max(used) <= 255:
        bw.write(1, 1)                       # simple
        bw.write(len(used) - 1, 1)
        s0 = used[0]
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        if len(used) == 2:
            bw.write(used[1], 8)
            return {used[0]: (1, 0), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.write(0, 1)                           # normal
    # run-length compress the code-length array (zero runs via 17/18)
    tokens = []
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                tokens.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                tokens.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                tokens.append((0, 0, 0))
            i = j
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    cl_freq = [0] * 19
    for t, _, _ in tokens:
        cl_freq[t] += 1
    cl_lengths = _limit_lengths(cl_freq, 7)
    if sum(1 for x in cl_lengths if x) == 1:
        # a single code-length symbol still needs a nonzero slot; give
        # it length 1 (the decoder special-cases 1-symbol codes anyway)
        cl_lengths = [1 if x else 0 for x in cl_lengths]
    bw.write(19 - 4, 4)                      # store all 19 positions
    for sym in _CL_ORDER:
        bw.write(cl_lengths[sym], 3)
    bw.write(0, 1)                           # no max_symbol shortcut
    cl_codes = _canonical_codes(cl_lengths)
    n_cl_used = len(cl_codes)
    for t, extra, ebits in tokens:
        ln, code = cl_codes[t]
        if n_cl_used > 1:
            bw.write_code(code, ln)
        if ebits:
            bw.write(extra, ebits)
    return {s: lc for s, lc in _canonical_codes(lengths).items()}


class _CodeWriter:
    __slots__ = ("codes", "multi")

    def __init__(self, codes: dict):
        self.codes = codes
        self.multi = len(codes) > 1

    def emit(self, bw: LsbWriter, sym: int):
        ln, code = self.codes[sym]
        if self.multi:
            bw.write_code(code, ln)


def _tokenize(pix: list, w: int, *, cache_bits: int,
              use_lz77: bool) -> list:
    """Greedy tokens: ('lit', argb) / ('cache', idx) /
    ('copy', length, dist).  LZ77 tries distance 1 (run) and distance
    w (copy row above) only — enough to exercise the decoder's
    backward-reference path while staying trivially correct."""
    n = len(pix)
    shift = 32 - cache_bits if cache_bits else 0
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []
    pos = 0
    while pos < n:
        if use_lz77:
            best_len = 0
            best_dist = 0
            for dist in (1, w):
                if dist == 0 or dist > pos:
                    continue
                ln = 0
                while pos + ln < n and ln < 4096 \
                        and pix[pos + ln] == pix[pos + ln - dist]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
            if best_len >= 3:
                tokens.append(("copy", best_len, best_dist))
                if cache is not None:
                    for k in range(best_len):
                        px = pix[pos + k]
                        cache[((_CACHE_MUL * px) & 0xFFFFFFFF)
                              >> shift] = px
                pos += best_len
                continue
        px = pix[pos]
        if cache is not None:
            idx = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift
            if cache[idx] == px:
                tokens.append(("cache", idx))
                pos += 1
                continue
            cache[idx] = px
        tokens.append(("lit", px))
        pos += 1
    return tokens


def _encode_pixels(bw: LsbWriter, pix: list, w: int, *,
                   cache_bits: int = 0, use_lz77: bool = False,
                   top_level: bool = False) -> None:
    """Write one entropy-coded image (single prefix-code group).
    Only the top-level image carries the meta-prefix bit — sub-images
    (transform data, palettes) never do, mirroring the decode side."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if top_level:
        bw.write(0, 1)                       # no meta-prefix image

    tokens = _tokenize(pix, w, cache_bits=cache_bits,
                       use_lz77=use_lz77)
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    freq = [
        [0] * green_alpha, [0] * 256, [0] * 256, [0] * 256, [0] * 40,
    ]
    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            freq[0][(px >> 8) & 0xFF] += 1
            freq[1][(px >> 16) & 0xFF] += 1
            freq[2][px & 0xFF] += 1
            freq[3][(px >> 24) & 0xFF] += 1
        elif tok[0] == "cache":
            freq[0][280 + tok[1]] += 1
        else:
            _, length, dist = tok
            lc, _, _ = _prefix_encode(length)
            freq[0][256 + lc] += 1
            dc, _, _ = _prefix_encode(_dist_to_code(dist, w))
            freq[4][dc] += 1
    if not any(freq[4]):
        freq[4][0] = 1                       # distance tree must exist
    writers = []
    for f in freq:
        lengths = _limit_lengths(f, 15)
        writers.append(_CodeWriter(_write_prefix_code(bw, lengths)))
    gw, rw, bw_, aw, dw = writers
    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            gw.emit(bw, (px >> 8) & 0xFF)
            rw.emit(bw, (px >> 16) & 0xFF)
            bw_.emit(bw, px & 0xFF)
            aw.emit(bw, (px >> 24) & 0xFF)
        elif tok[0] == "cache":
            gw.emit(bw, 280 + tok[1])
        else:
            _, length, dist = tok
            lc, ebits, extra = _prefix_encode(length)
            gw.emit(bw, 256 + lc)
            if ebits:
                bw.write(extra, ebits)
            dcode = _dist_to_code(dist, w)
            dc, ebits, extra = _prefix_encode(dcode)
            dw.emit(bw, dc)
            if ebits:
                bw.write(extra, ebits)


def _pred_forward(pix: list, w: int, h: int, mode: int) -> list:
    """Residuals for a UNIFORM predictor mode (the encoder side of
    _pred_inverse; edge pixels use the spec's forced edge modes)."""
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]
            elif x == 0:
                pred = pix[i - w]
            else:
                pred = _predict(mode, pix[i - 1], pix[i - w],
                                pix[i - w + 1], pix[i - w - 1])
            out[i] = _sub_px(pix[i], pred)
    return out


def _color_forward(pix: list, cte: int) -> list:
    g2r = cte & 0xFF
    g2b = (cte >> 8) & 0xFF
    r2b = (cte >> 16) & 0xFF
    out = [0] * len(pix)
    for i, px in enumerate(pix):
        green = (px >> 8) & 0xFF
        red0 = (px >> 16) & 0xFF             # the value decode restores
        red = (red0 - _ct_delta(g2r, green)) & 0xFF
        blue = ((px & 0xFF) - _ct_delta(g2b, green)
                - _ct_delta(r2b, red0)) & 0xFF
        out[i] = (px & 0xFF00FF00) | (red << 16) | blue
    return out


def encode_vp8l(arr, *, use_palette: "bool | None" = None,
                use_subtract_green: bool = True,
                predictor_mode: "int | None" = None,
                color_cte: "int | None" = None,
                cache_bits: int = 0, use_lz77: bool = True) -> bytes:
    """Encode (H, W, 3|4) uint8 → a raw VP8L payload.

    A valid-subset writer: palette path when the image has ≤256
    colors (``use_palette=None`` auto-detects; palettes ≤16 bundle
    sub-byte indices per spec), else optional subtract-green plus
    optional UNIFORM predictor (``predictor_mode`` 0-13) and
    cross-color (``color_cte`` packed r2b<<16|g2b<<8|g2r) transforms;
    optional color cache and a distance-1/row LZ77.  Single prefix
    group (no meta image) — the decoder handles the full spec."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("encode_vp8l wants (H, W, 3|4) uint8")
    h, w, c = a.shape
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("vp8l: dims must be 1..16384")
    alpha = a[:, :, 3].astype(np.uint32) if c == 4 \
        else np.full((h, w), 255, np.uint32)
    argb = ((alpha << 24) | (a[:, :, 0].astype(np.uint32) << 16)
            | (a[:, :, 1].astype(np.uint32) << 8)
            | a[:, :, 2].astype(np.uint32))
    pix = [int(v) for v in argb.reshape(-1)]

    colors = sorted(set(pix))
    if use_palette is None:
        use_palette = (len(colors) <= 256 and predictor_mode is None
                       and color_cte is None)
    if use_palette and len(colors) > 256:
        raise ValueError("vp8l: palette path needs ≤256 colors")

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if c == 4 else 0, 1)
    bw.write(0, 3)                           # version

    xsize = w
    if use_palette:
        lut = {px: i for i, px in enumerate(colors)}
        bw.write(1, 1)
        bw.write(3, 2)                       # color-indexing transform
        bw.write(len(colors) - 1, 8)
        deltas = []
        prev = 0
        for px in colors:
            deltas.append(_sub_px(px, prev))
            prev = px
        _encode_pixels(bw, deltas, len(colors))
        wb = _palette_width_bits(len(colors))
        if wb:
            xs = _subsample(w, wb)
            per = 1 << wb
            ibits = 8 >> wb
            packed = [0] * (xs * h)
            for y in range(h):
                for x in range(w):
                    idx = lut[pix[y * w + x]]
                    j = y * xs + (x >> wb)
                    packed[j] |= idx << ((x % per) * ibits)
            pix = [0xFF000000 | (g << 8) for g in packed]
            xsize = xs
        else:
            pix = [0xFF000000 | (lut[px] << 8) for px in pix]
    else:
        if use_subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            pix = [(px & 0xFF00FF00)
                   | ((((px >> 16) & 0xFF) - ((px >> 8) & 0xFF))
                      & 0xFF) << 16
                   | (((px & 0xFF) - ((px >> 8) & 0xFF)) & 0xFF)
                   for px in pix]
        if color_cte is not None:
            bits = 4
            bw.write(1, 1)
            bw.write(1, 2)                   # cross-color transform
            bw.write(bits - 2, 3)
            sub = [0xFF000000 | color_cte] * (
                _subsample(xsize, bits) * _subsample(h, bits))
            _encode_pixels(bw, sub, _subsample(xsize, bits))
            pix = _color_forward(pix, color_cte)
        if predictor_mode is not None:
            if not 0 <= predictor_mode <= 13:
                raise ValueError("vp8l: predictor mode 0..13")
            bits = 4
            bw.write(1, 1)
            bw.write(0, 2)                   # predictor transform
            bw.write(bits - 2, 3)
            sub = [0xFF000000 | (predictor_mode << 8)] * (
                _subsample(xsize, bits) * _subsample(h, bits))
            _encode_pixels(bw, sub, _subsample(xsize, bits))
            pix = _pred_forward(pix, xsize, h, predictor_mode)

    bw.write(0, 1)                           # no more transforms
    _encode_pixels(bw, pix, xsize, cache_bits=cache_bits,
                   use_lz77=use_lz77, top_level=True)
    return bw.bytes()


def encode_webp(arr, **opts) -> bytes:
    """Encode (H, W, 3|4) uint8 → a lossless WebP file (RIFF + VP8L).
    Options forward to :func:`encode_vp8l`."""
    return encode_webp_container(encode_vp8l(arr, **opts))


# ---------------------------------------------------------------------------
# animated WebP (VP8X + ANIM/ANMF) — lossless frames only
# ---------------------------------------------------------------------------

def _u24(v: int) -> bytes:
    return struct.pack("<I", v)[:3]


def _anim_walk(data: bytes, max_frames: "int | None" = None,
               need_payload: bool = True):
    """Shared container walk for animated WebP.  Returns ``(animated,
    canvas, frames)`` where each frame is a dict ``{fx, fy, fw, fh,
    dur, blend, dispose, payload}`` (``payload`` = the raw VP8L chunk
    body, or None with ``need_payload=False`` — the metadata-only
    mode skips locating it).  A non-animated VP8L file yields
    ``animated=False`` and one frame covering the canvas.  Lossy
    'VP8 ' payloads raise."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) blob")
    frames = []
    pos = 12
    animated = False
    canvas = None                    # (w, h) from VP8X when present
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"VP8X":
            if len(body) < 10:
                raise ValueError("webp: truncated VP8X chunk")
            animated = bool(body[0] & 0x02)
            canvas = (int.from_bytes(body[4:7], "little") + 1,
                      int.from_bytes(body[7:10], "little") + 1)
        elif tag == b"VP8L" and not animated:
            if canvas is None:
                if len(body) < 5 or body[0] != 0x2F:
                    raise ValueError("vp8l: bad signature byte")
                bits = int.from_bytes(body[1:5], "little")
                canvas = ((bits & 0x3FFF) + 1,
                          ((bits >> 14) & 0x3FFF) + 1)
            frames.append({"fx": 0, "fy": 0, "fw": canvas[0],
                           "fh": canvas[1], "dur": 0, "blend": True,
                           "dispose": False, "payload": body})
            return False, canvas, frames
        elif tag == b"VP8 ":
            raise ValueError("webp: lossy VP8 frame — only the "
                             "lossless VP8L profile decodes here")
        elif tag == b"ANMF":
            if len(body) < 16:
                raise ValueError("webp: truncated ANMF header")
            if canvas is None:
                raise ValueError("webp: ANMF frame without a VP8X "
                                 "canvas chunk")
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            if fx + fw > canvas[0] or fy + fh > canvas[1]:
                raise ValueError(
                    f"webp: ANMF frame ({fw}x{fh}@{fx},{fy}) exceeds "
                    f"the VP8X canvas {canvas}")
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            f = {"fx": fx, "fy": fy, "fw": fw, "fh": fh, "dur": dur,
                 # container spec flag byte: bit 1 = blending method
                 # (0 = alpha-blend, 1 = overwrite), bit 0 = disposal
                 # (0 = keep, 1 = dispose frame rect)
                 "blend": not (flags & 0x02),
                 "dispose": bool(flags & 0x01),
                 "payload": None}
            if need_payload:
                sub = 16
                while sub + 8 <= len(body):
                    stag = body[sub:sub + 4]
                    (ssize,) = struct.unpack(
                        "<I", body[sub + 4:sub + 8])
                    if stag == b"VP8L":
                        f["payload"] = body[sub + 8:sub + 8 + ssize]
                        break
                    if stag == b"VP8 ":
                        raise ValueError(
                            "webp: lossy VP8 frame — only the "
                            "lossless VP8L profile decodes here")
                    sub += 8 + ssize + (ssize & 1)
                if f["payload"] is None:
                    raise ValueError("webp: ANMF frame without a "
                                     "VP8L payload")
            frames.append(f)
            if max_frames is not None and len(frames) >= max_frames:
                return True, canvas, frames
        pos += 8 + size + (size & 1)
    if not frames:
        raise ValueError("webp: no decodable frames found")
    return animated, canvas, frames


def anim_metadata(data: bytes):
    """Animation metadata WITHOUT pixel decode: ``(canvas_w, canvas_h,
    durations_ms)`` from the VP8X chunk + ANMF walk alone — sub-canvas
    frames are fine here (r13 ADVICE: video_metadata only needs dims,
    count and durations; forcing it through the compositing path
    turned spec-legal files into error rows).  A non-animated file
    reports one frame with duration 0."""
    _, canvas, frames = _anim_walk(data, need_payload=False)
    return canvas[0], canvas[1], [f["dur"] for f in frames]


def composite_anim(data: bytes, max_frames: "int | None" = None):
    """Decode an animated WebP into COMPOSITED canvas frames:
    ``(arrays, durations_ms)`` with one (canvas_h, canvas_w, 4) uint8
    RGBA array per ANMF frame, following the container spec's
    compositing model as implemented by libwebp's AnimDecoder (the
    de-facto rendering standard, demux/anim_decode.c):

      * canvas starts fully transparent;
      * blending method 0 alpha-blends the frame rect over the canvas
        with straight (non-premultiplied) alpha in integer arithmetic
        (a source pixel with alpha 0 leaves the canvas pixel); method
        1 overwrites the rect;
      * after snapshotting the output frame, disposal method 1 clears
        the frame rect to transparent (the ANIM background color is a
        hint real renderers ignore; so does this).

    Sub-canvas frames (nonzero offset / smaller dims) composite onto
    the persistent canvas — the overwhelmingly common delta-frame
    layout real encoders emit."""
    animated, canvas, frames = _anim_walk(data, max_frames)
    cw, ch = canvas
    cv = np.zeros((ch, cw, 4), dtype=np.uint8)
    out = []
    durs = []
    for f in frames:
        arr = decode_vp8l(f["payload"])
        if arr.shape[:2] != (f["fh"], f["fw"]):
            raise ValueError(
                f"webp: ANMF header says {f['fw']}x{f['fh']} but the "
                f"VP8L payload decodes to {arr.shape[1]}x{arr.shape[0]}")
        if arr.shape[2] == 3:
            arr = np.dstack([arr, np.full(arr.shape[:2], 255,
                                          np.uint8)])
        y0, y1 = f["fy"], f["fy"] + f["fh"]
        x0, x1 = f["fx"], f["fx"] + f["fw"]
        if f["blend"]:
            dst = cv[y0:y1, x0:x1].astype(np.uint32)
            src = arr.astype(np.uint32)
            sa = src[:, :, 3]
            da = dst[:, :, 3]
            # libwebp BlendPixelRowNonPremult integer formulas:
            # scale = da*(255-sa)/255; aOut = sa + scale;
            # cOut = (cSrc*sa + cDst*scale) / aOut (0 when aOut = 0);
            # a source pixel with sa = 0 leaves the dst pixel as-is
            scale = (da * (255 - sa)) // 255
            a_out = sa + scale
            denom = np.maximum(a_out, 1)
            blended = np.empty_like(src)
            for c in range(3):
                blended[:, :, c] = ((src[:, :, c] * sa
                                     + dst[:, :, c] * scale) // denom)
            blended[:, :, 3] = a_out
            keep = (sa == 0)[:, :, None]
            cv[y0:y1, x0:x1] = np.where(
                keep, dst, blended).astype(np.uint8)
        else:
            cv[y0:y1, x0:x1] = arr
        out.append(cv.copy())
        durs.append(f["dur"])
        if f["dispose"]:
            cv[y0:y1, x0:x1] = 0
    return out, durs


def anim_frames(data: bytes, max_frames: "int | None" = None):
    """Walk an animated WebP (VP8X with the animation flag) and return
    ``(frame_blobs, durations_ms)`` with one standalone lossless WebP
    file per animation frame, each showing the FULL composited canvas.

    When every ANMF frame covers the whole canvas (what
    :func:`encode_webp_anim` emits by default), the blobs are the
    stream's own VP8L bitstreams re-wrapped — bit-preserving, no
    decode/re-encode generation loss (the operators/avi.py
    convention).  Sub-canvas delta frames (r14 — previously a raise)
    go through :func:`composite_anim` and each canvas snapshot is
    re-encoded losslessly: pixel-preserving, not bit-preserving.

    A non-animated file returns itself as one frame with duration 0.
    Lossy 'VP8 ' frames raise.  The walk early-stops after
    ``max_frames``."""
    animated, canvas, frames = _anim_walk(data, max_frames)
    if not animated:
        return [data], [0]

    def _standalone(f):
        # a frame whose snapshot IS the frame itself: covers the whole
        # canvas AND cannot show the previous canvas through it —
        # overwrite mode, or no alpha channel (VP8L alpha hint, bit 28
        # of the header word, without decoding pixels)
        if (f["fx"], f["fy"]) != (0, 0) or (f["fw"], f["fh"]) != canvas:
            return False
        if not f["blend"]:
            return True
        p = f["payload"]
        return len(p) >= 5 and not (int.from_bytes(p[1:5], "little")
                                    >> 28) & 1

    if all(_standalone(f) for f in frames):
        return ([encode_webp_container(f["payload"]) for f in frames],
                [f["dur"] for f in frames])
    arrays, durs = composite_anim(data, max_frames)
    return [encode_webp(a) for a in arrays], durs


def canvas_dims(data: bytes) -> tuple:
    """Canvas ``(width, height)`` of a WebP blob WITHOUT decoding any
    pixels: the VP8X chunk when present (the authoritative canvas for
    extended/animated files — an ANMF frame may legally be smaller),
    else the 14-bit dims in the bare VP8L bitstream header."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) blob")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"VP8X":
            if len(body) < 10:
                raise ValueError("webp: truncated VP8X chunk")
            return (int.from_bytes(body[4:7], "little") + 1,
                    int.from_bytes(body[7:10], "little") + 1)
        if tag == b"VP8L":
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("vp8l: bad signature byte")
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no VP8X or VP8L chunk with dims")


def encode_webp_container(vp8l_payload: bytes) -> bytes:
    """Wrap a raw VP8L payload as a standalone RIFF/WEBP file."""
    chunk = vp8l_payload + (b"\x00" if len(vp8l_payload) & 1 else b"")
    body = b"WEBP" + b"VP8L" + struct.pack(
        "<I", len(vp8l_payload)) + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_webp_anim(frames, durations_ms=None, *, offsets=None,
                     blend=None, dispose=None, canvas=None,
                     **opts) -> bytes:
    """Encode a list of (H, W, 3|4) uint8 arrays into an animated
    lossless WebP (VP8X + ANIM + one ANMF per frame).  Options forward
    to :func:`encode_vp8l`.

    Default: full-canvas frames (all sharing one shape), the profile
    :func:`anim_frames` rewraps bit-preservingly.  r14 adds the
    sub-canvas delta-frame profile: per-frame ``offsets`` (x, y) —
    even values, the container stores them halved — with ``canvas``
    (w, h) defaulting to the max frame extent, plus per-frame
    ``blend`` (True = alpha-blend onto the canvas, the container
    default; False = overwrite the rect) and ``dispose`` (True =
    clear the rect to transparent after display) flags."""
    if not frames:
        raise ValueError("encode_webp_anim: need at least one frame")
    n = len(frames)
    if durations_ms is None:
        durations_ms = [100] * n
    if len(durations_ms) != n:
        raise ValueError("encode_webp_anim: one duration per frame")
    if offsets is None:
        offsets = [(0, 0)] * n
    if blend is None:
        blend = [True] * n
    if dispose is None:
        dispose = [False] * n
    if not (len(offsets) == len(blend) == len(dispose) == n):
        raise ValueError("encode_webp_anim: offsets/blend/dispose "
                         "must have one entry per frame")
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    for (x, y) in offsets:
        if x % 2 or y % 2 or x < 0 or y < 0:
            raise ValueError("encode_webp_anim: frame offsets must be "
                             "even and non-negative (the container "
                             "stores them halved)")
    if canvas is None:
        canvas = (max(x + a.shape[1] for (x, y), a in zip(offsets, arrs)),
                  max(y + a.shape[0] for (x, y), a in zip(offsets, arrs)))
    w, h = canvas
    for (x, y), a in zip(offsets, arrs):
        if x + a.shape[1] > w or y + a.shape[0] > h:
            raise ValueError("encode_webp_anim: frame exceeds canvas")
    has_alpha = any(a.shape[2] == 4 for a in arrs)
    chunks = bytearray()
    flags = 0x02 | (0x10 if has_alpha else 0)
    vp8x = bytes([flags, 0, 0, 0]) + _u24(w - 1) + _u24(h - 1)
    chunks += b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    anim = struct.pack("<IH", 0xFFFFFFFF, 0)     # bg color, loop 0
    chunks += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for a, dur, (x, y), bl, dsp in zip(arrs, durations_ms, offsets,
                                       blend, dispose):
        payload = encode_vp8l(a, **opts)
        sub = b"VP8L" + struct.pack("<I", len(payload)) + payload \
            + (b"\x00" if len(payload) & 1 else b"")
        fbyte = (0 if bl else 0x02) | (0x01 if dsp else 0)
        body = (_u24(x // 2) + _u24(y // 2)
                + _u24(a.shape[1] - 1) + _u24(a.shape[0] - 1)
                + _u24(int(dur)) + bytes([fbyte]) + sub)
        chunks += b"ANMF" + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")
    riff = b"WEBP" + bytes(chunks)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
