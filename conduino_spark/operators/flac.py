"""FLAC (Free Lossless Audio Codec) in pure Python + numpy — no
external codec library.

Why this exists: FLAC is the lossless audio container of archival and
speech corpora; with it real, the only stubbed audio formats left are
the lossy DSP-bound ones (mp3/ogg).  The format is fully public
(xiph.org spec / RFC 9639) and needs nothing beyond bit twiddling:
Rice-coded residuals under constant / verbatim / fixed-polynomial /
LPC predictors, CRC-8 framed headers, CRC-16 framed payloads.

Scope:
  * decode: 16-bit streams, 1-2 channels, all four subframe types
    (constant, verbatim, fixed orders 0-4, LPC orders 1-32), both
    residual coding methods (4- and 5-bit Rice parameters, escape
    partitions), partition orders, wasted bits, stereo decorrelation
    (left/side, right/side, mid/side), frame CRC-8 + CRC-16 VERIFIED.
    Other bit depths raise ValueError.
  * encode: 16-bit mono/stereo, fixed block size, per-block best-of
    (constant | fixed 0-2 | verbatim) subframes plus an explicit
    ``lpc=(coefs, shift)`` mode — an arbitrary quantized-LPC frame is
    still EXACT (residuals are computed under the integer recurrence),
    which is how the decoder's LPC path is round-trip tested without
    a reference encoder.

Cost shape: per-blob Python inside Arrow-batched ``mapInPandas`` —
the decode-once ingestion path (same posture as operators/jpeg.py).
"""

from __future__ import annotations

import struct

import numpy as np

from conduino_spark.operators.bitio import MsbReader, MsbWriter

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                4: [4, -6, 4, -1]}


def _crc8(data: bytes) -> int:
    crc = 0
    tab = _CRC8_TAB
    for b in data:
        crc = tab[crc ^ b]
    return crc


#: table-driven CRCs (r13 vectorization pass) — tables DERIVED from
#: the polynomials at import, one lookup per byte instead of 8 shift
#: steps
_CRC8_TAB = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TAB.append(_c)

_CRC16_TAB = []
for _i in range(256):
    _c = _i << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 \
            else (_c << 1) & 0xFFFF
    _CRC16_TAB.append(_c)


def _crc16(data: bytes) -> int:
    crc = 0
    tab = _CRC16_TAB
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ tab[(crc >> 8) ^ b]
    return crc


_EOF = "truncated FLAC bitstream"


def _signed(br: MsbReader, bits: int) -> int:
    v = br.read(bits)
    return v - (1 << bits) if v >= (1 << (bits - 1)) else v


def _unary(br: MsbReader) -> int:
    q = 0
    while br.read(1) == 0:
        q += 1
    return q


def _zigzag(n: "np.ndarray") -> "np.ndarray":
    return (n.astype(np.int64) << 1) ^ (n.astype(np.int64) >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _utf8ish(n: int) -> bytes:
    """FLAC's UTF-8-style frame-number coding (plain UTF-8 for the
    values an encoder with sequential frame numbers produces)."""
    if n < 0x80:
        return bytes([n])
    out = []
    bits = n.bit_length()
    nbytes = 2
    while bits > 6 * (nbytes - 1) + (7 - nbytes):
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    out.append(lead | (n >> (6 * (nbytes - 1))))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8ish(br: MsbReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    n = b0 & (mask - 1)
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("corrupt FLAC frame number")
        n = (n << 6) | (b & 0x3F)
    return n


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def _write_residuals(bw: MsbWriter, res: "np.ndarray",
                     block: int, order: int) -> None:
    """Rice method 0, partition order 0, parameter chosen from the
    mean magnitude (escape to raw when Rice would blow up)."""
    mean = float(np.abs(res).mean()) if len(res) else 0.0
    param = max(0, min(14, int(mean).bit_length()))
    u = _zigzag(res)
    if param >= 14 and u.size and int(u.max()).bit_length() > 30:
        # Escape to raw residuals.  The raw width must cover the actual
        # signed range (LPC residuals can exceed 16 bits long before the
        # escape condition triggers); the 5-bit field caps it at 31.
        lo, hi = int(res.min()), int(res.max())
        raw = max(1, hi.bit_length() + 1 if hi >= 0 else 1,
                  (-lo - 1).bit_length() + 1 if lo < 0 else 1)
        if raw > 31:
            raise ValueError(
                f"FLAC escape residuals need {raw} bits (max 31): "
                "residual range too wide for a raw partition")
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(15, 4)                 # escape: raw residuals
        bw.write(raw, 5)
        mask = (1 << raw) - 1
        for v in res:
            bw.write(int(v) & mask, raw)
        return
    bw.write(0, 2)                      # residual method 0 (4-bit Rice)
    bw.write(0, 4)                      # partition order 0
    bw.write(param, 4)
    for v in u:
        bw.write(1, (int(v) >> param) + 1)     # unary quotient
        if param:
            bw.write(int(v) & ((1 << param) - 1), param)


def _encode_subframe(bw: MsbWriter, x: "np.ndarray",
                     lpc: "tuple | None", bits: int = 16) -> None:
    if lpc is not None:
        coefs, shift = lpc
        order = len(coefs)
        if not 1 <= order <= 32:
            raise ValueError(f"LPC order must be 1-32, got {order}")
        if not 0 <= shift <= 15:
            raise ValueError(f"LPC shift must be 0-15, got {shift}")
        if any(not -(1 << 14) <= int(c) < (1 << 14) for c in coefs):
            raise ValueError("LPC coefficients must fit signed 15 bits")
        bw.write(0, 1)
        bw.write(0x20 | (order - 1), 6)         # LPC subframe
        bw.write(0, 1)                          # no wasted bits
        for s in x[:order]:
            bw.write(int(s) & ((1 << bits) - 1), bits)
        prec = 15
        bw.write(prec - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(int(c) & 0x7FFF, prec)
        hist = x.astype(np.int64)
        res = []
        for i in range(order, len(x)):
            pred = sum(int(coefs[j]) * int(hist[i - 1 - j])
                       for j in range(order)) >> shift
            res.append(int(hist[i]) - pred)
        _write_residuals(bw, np.array(res, np.int64), len(x), order)
        return
    if np.all(x == x[0]):
        bw.write(0, 1)
        bw.write(0, 6)                          # constant
        bw.write(0, 1)
        bw.write(int(x[0]) & ((1 << bits) - 1), bits)
        return
    # pick the cheapest fixed order 0-2 by residual magnitude
    best_order, best_res, best_cost = None, None, None
    xi = x.astype(np.int64)
    for order, coefs in list(_FIXED_COEFS.items())[:3]:
        if len(x) <= order:
            continue
        res = xi[order:].copy()
        for j, c in enumerate(coefs):
            res -= c * xi[order - 1 - j:len(x) - 1 - j]
        cost = float(np.abs(res).sum())
        if best_cost is None or cost < best_cost:
            best_order, best_res, best_cost = order, res, cost
    verbatim_cost = float(np.abs(xi).sum()) * 1.5
    if best_cost is not None and best_cost < verbatim_cost:
        bw.write(0, 1)
        bw.write(0x08 | best_order, 6)          # fixed
        bw.write(0, 1)
        for s in x[:best_order]:
            bw.write(int(s) & ((1 << bits) - 1), bits)
        _write_residuals(bw, best_res, len(x), best_order)
        return
    bw.write(0, 1)
    bw.write(0x01, 6)                           # verbatim
    bw.write(0, 1)
    for s in x:
        bw.write(int(s) & ((1 << bits) - 1), bits)


def encode_flac(samples, sample_rate: int, *, block_size: int = 4096,
                lpc: "tuple | None" = None) -> bytes:
    """Serialize int16 samples — shape (N,) mono or (N, 2) stereo —
    as a FLAC stream (fLaC magic + STREAMINFO + frames).  Subframes
    pick constant / fixed-order / verbatim per block; ``lpc=(coefs,
    shift)`` forces every subframe through the integer LPC recurrence
    with those quantized coefficients (any choice is lossless — this
    is how the decoder's LPC path is tested without a reference
    encoder)."""
    x = np.asarray(samples, dtype=np.int16)
    if x.ndim == 1:
        x = x[:, None]
    n, nch = x.shape
    if nch not in (1, 2):
        raise ValueError(f"encode_flac: 1 or 2 channels, got {nch}")

    streaminfo = bytearray()
    streaminfo += struct.pack(">HH", block_size, block_size)
    streaminfo += b"\x00\x00\x00" * 2                    # frame sizes
    packed = (sample_rate << 44) | ((nch - 1) << 41) | ((16 - 1) << 36) \
        | n
    streaminfo += packed.to_bytes(8, "big")
    streaminfo += b"\x00" * 16                           # md5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] \
        + bytes(streaminfo)

    for fi, off in enumerate(range(0, n, block_size)):
        blk = x[off:off + block_size]
        bs = blk.shape[0]
        hdr = MsbWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)                                    # reserved
        hdr.write(0, 1)                                    # fixed blocksize
        hdr.write(0b0111, 4)                               # 16-bit bs-1 next
        hdr.write(0b0000, 4)                               # rate: STREAMINFO
        hdr.write(nch - 1, 4)                              # independent
        hdr.write(0b100, 3)                                # 16 bits
        hdr.write(0, 1)
        hdr.align()
        head = hdr.bytes() + _utf8ish(fi) \
            + struct.pack(">H", bs - 1)
        head += bytes([_crc8(head)])
        bw = MsbWriter()
        for ch in range(nch):
            _encode_subframe(bw, blk[:, ch], lpc)
        bw.align()
        frame = head + bw.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_BS_TABLE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608, 8: 256,
             9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
             14: 16384, 15: 32768}


def _bit_cache(br: MsbReader, cache: dict):
    """Lazily build (into ``cache``) an unpacked-bit view of the
    reader's whole stream: ``bits`` (uint8 0/1, MSB-first — FLAC's
    bit order) and ``ones`` (sorted positions of the 1-bits, as a
    Python list for cheap per-symbol scanning).  Built once per
    decode; the Rice fast path below runs on it instead of bit-by-bit
    reads.

    Memory posture: transiently ~8x the blob for ``bits`` plus ~30x
    for the ``ones`` int list (and ~40x for the reader's window list)
    — fine for the multi-MB audio blobs of a crawl corpus inside a
    several-GB executor, and the cache dies with the decode call."""
    if not cache:
        cache["bits"] = np.unpackbits(np.frombuffer(br.data, np.uint8))
        cache["ones"] = np.flatnonzero(cache["bits"]).tolist()
    return cache["bits"], cache["ones"]


def _rice_batch(br: MsbReader, cnt: int, param: int,
                cache: dict) -> "np.ndarray":
    """Decode ``cnt`` Rice(param) codes in one pass: unary quotients
    by scanning the precomputed 1-bit positions (each code's
    terminator is a 1-bit; fixed ``param`` payload bits follow), then
    ONE vectorized gather for all payloads.  Bit-exact with the
    per-symbol path (tests/test_round11 fuzz matrix + round-trips)."""
    bits, ones = _bit_cache(br, cache)
    bitpos = br.pos
    nbits = len(bits)
    # index of the first 1-bit at/after bitpos
    import bisect
    j = bisect.bisect_left(ones, bitpos)
    n_ones = len(ones)
    qs = np.empty(cnt, np.int64)
    starts = np.empty(cnt, np.int64)
    step = 1 + param
    for i in range(cnt):
        # skip 1-bits consumed by the previous payload
        while j < n_ones and ones[j] < bitpos:
            j += 1
        if j >= n_ones:
            raise ValueError(_EOF)
        t = ones[j]
        j += 1
        qs[i] = t - bitpos
        starts[i] = t + 1
        bitpos = t + step
    if bitpos > nbits:
        raise ValueError(_EOF)
    if param:
        idx = starts[:, None] + np.arange(param)
        vals = bits[idx].astype(np.int64) @ \
            (1 << np.arange(param - 1, -1, -1, dtype=np.int64))
        u = (qs << param) | vals
    else:
        u = qs
    br.pos = bitpos                          # exactly past the partition
    return (u >> 1) ^ -(u & 1)               # vectorized unzigzag


def _read_residuals(br: MsbReader, bs: int, order: int,
                    cache: dict) -> "np.ndarray":
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError(f"unknown FLAC residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    parts = []
    nparts = 1 << porder
    if bs % nparts:
        raise ValueError("corrupt FLAC: partition order vs block size")
    for p in range(nparts):
        cnt = bs // nparts - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            parts.append(np.array(
                [_signed(br, raw) if raw else 0
                 for _ in range(cnt)], np.int64))
            continue
        parts.append(_rice_batch(br, cnt, param, cache))
    return np.concatenate(parts) if parts else np.zeros(0, np.int64)


def _decode_subframe(br: MsbReader, bs: int, bits: int,
                     cache: dict) -> "np.ndarray":
    if br.read(1):
        raise ValueError("corrupt FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + _unary(br)
    eff = bits - wasted
    if stype == 0:                                   # constant
        out = np.full(bs, _signed(br, eff), np.int64)
    elif stype == 1:                                 # verbatim
        out = np.array([_signed(br, eff) for _ in range(bs)],
                       np.int64)
    elif 8 <= stype <= 12:                           # fixed
        order = stype - 8
        warm = [_signed(br, eff) for _ in range(order)]
        res = _read_residuals(br, bs, order, cache)
        # a fixed predictor of order o means res == the o-th finite
        # difference of the output, so reconstruction is o exact
        # integer integrations (cumsum) seeded by the warmup's
        # finite differences — fully vectorized, bit-exact
        cur = np.asarray(res, np.int64)
        w = np.asarray(warm, np.int64)
        for k in range(order - 1, -1, -1):
            lead = int(np.diff(w, k)[0])     # = Δᵏout[k], the seed
            cur = np.cumsum(np.concatenate(([lead], cur)))
        out = cur
    elif stype >= 0x20:                              # LPC
        order = (stype & 0x1F) + 1
        warm = [_signed(br, eff) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = _signed(br, 5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [_signed(br, prec) for _ in range(order)]
        res = _read_residuals(br, bs, order, cache)
        # sequential IIR recurrence — plain-Python ints beat numpy
        # scalar indexing ~4x here; exactness is integer either way
        out_l = list(warm)
        res_l = res.tolist()
        rng = range(order)
        for i in range(order, bs):
            pred = 0
            for j in rng:
                pred += coefs[j] * out_l[i - 1 - j]
            out_l.append((pred >> shift) + res_l[i - order])
        out = np.array(out_l, np.int64)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    return out << wasted


def decode_flac(data: bytes):
    """Parse a FLAC blob → ``(sample_rate, n_channels, samples)``
    with samples an int16 numpy array, interleaved like
    :func:`~conduino_spark.operators.multimodal.decode_wav`'s output.
    CRC-8 (frame header) and CRC-16 (whole frame) are VERIFIED;
    16-bit streams, 1-2 channels, every subframe type and stereo
    decorrelation mode.  Raises ValueError on other depths,
    truncation, or CRC mismatch."""
    if not data or len(data) < 8 or data[:4] != b"fLaC":
        raise ValueError("not a FLAC blob")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        hdr = data[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        blen = int.from_bytes(data[pos + 1:pos + 4], "big")
        if pos + 4 + blen > len(data):
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            body = data[pos + 4:pos + 4 + blen]
            if len(body) < 34:
                raise ValueError("short FLAC STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            nch = ((packed >> 41) & 0x07) + 1
            bits = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            info = (rate, nch, bits, total)
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC without STREAMINFO")
    rate, nch, bits, total = info
    if bits != 16:
        raise ValueError(f"only 16-bit FLAC supported (bits={bits})")
    if nch > 2:
        raise ValueError(f"only 1-2 channels supported (got {nch})")

    chans: "list[list[int]]" = [[] for _ in range(nch)]
    # one reader over the whole blob; the Rice fast path's unpacked-
    # bit view is built by the first frame that needs it and shared
    # by every later frame (rebuilding per frame would be quadratic)
    br = MsbReader(data, eof=_EOF)
    bit_cache: dict = {}
    got = 0
    while (total == 0 or got < total) and pos < len(data):
        frame_start = pos
        br.pos = pos * 8
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError("corrupt FLAC: lost frame sync")
        br.read(1)
        br.read(1)
        bs_code = br.read(4)
        rate_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)
        _read_utf8ish(br)
        if bs_code == 6:
            bs = br.read(8) + 1
        elif bs_code == 7:
            bs = br.read(16) + 1
        elif bs_code in _BS_TABLE:
            bs = _BS_TABLE[bs_code]
        else:
            raise ValueError(f"reserved FLAC block size code {bs_code}")
        if rate_code == 12:
            br.read(8)
        elif rate_code in (13, 14):
            br.read(16)
        if ss_code not in (0, 0b100):
            raise ValueError("only 16-bit FLAC frames supported")
        br.align()
        hdr_end = br.pos >> 3
        crc8 = br.read(8)
        if _crc8(data[frame_start:hdr_end]) != crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code < 8:
            n_sub = ch_code + 1
            modes = ["ind"] * n_sub
        elif ch_code == 8:
            n_sub, modes = 2, ["left", "side"]
        elif ch_code == 9:
            n_sub, modes = 2, ["side", "right"]
        elif ch_code == 10:
            n_sub, modes = 2, ["mid", "side"]
        else:
            raise ValueError(f"reserved FLAC channel code {ch_code}")
        if (n_sub if ch_code < 8 else 2) != nch:
            raise ValueError("FLAC frame channel count != STREAMINFO")

        subs = []
        for si in range(n_sub):
            extra = 1 if (ch_code == 8 and si == 1) \
                or (ch_code == 9 and si == 0) \
                or (ch_code == 10 and si == 1) else 0
            subs.append(_decode_subframe(br, bs, 16 + extra, bit_cache))
        br.align()
        body_end = br.pos >> 3
        crc16 = struct.unpack(">H", data[body_end:body_end + 2])[0] \
            if body_end + 2 <= len(data) else -1
        if _crc16(data[frame_start:body_end]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = body_end + 2

        if ch_code < 8:
            out = subs
        elif ch_code == 8:       # left/side: right = left - side
            out = [subs[0], subs[0] - subs[1]]
        elif ch_code == 9:       # side/right: left = right + side
            out = [subs[1] + subs[0], subs[1]]
        else:                    # mid/side
            side = subs[1]
            mid = (subs[0] << 1) | (side & 1)
            out = [(mid + side) >> 1, (mid - side) >> 1]
        for ch in range(nch):
            chans[ch].extend(np.asarray(out[ch]).tolist())
        got += bs

    if total and got < total:
        raise ValueError(f"truncated FLAC: {got}/{total} samples")
    arrs = [np.array(c[:total] if total else c, np.int64)
            for c in chans]
    inter = np.empty(sum(len(a) for a in arrs), np.int64)
    for ch, a in enumerate(arrs):
        inter[ch::nch] = a
    return int(rate), nch, inter.astype(np.int16)
