"""Baseline TIFF in pure numpy — no external codec library.

Why this exists: TIFF is the scanned-document container (OCR corpora,
archival dumps).  Baseline TIFF 6.0 is a tag directory over raw strip
data — nothing but struct parses — and PackBits is a 20-line RLE.

Scope:
  * decode: both byte orders (II/MM), 8-bit grayscale and RGB(A),
    multi-strip, compression 1 (none), 5 (LZW with early-change
    widths + optional horizontal-differencing predictor — r12b, the
    most common real-world TIFF) and 32773 (PackBits), first IFD
    (page 1 of multi-page files).  Tiled, JPEG-compressed, and
    non-8-bit TIFFs raise ValueError — re-encode upstream.
  * encode: (H, W), (H, W, 1), (H, W, 3) or (H, W, 4) uint8, single
    strip, little-endian, optional PackBits — the round-trip test
    double and a real writer.

Same cost posture as the sibling codecs (operators/jpeg.py): decode
runs once per blob inside Arrow-batched ``mapInPandas`` at ingestion.
"""

from __future__ import annotations

import struct

import numpy as np

from conduino_spark.operators.bitio import MsbReader, MsbWriter

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_PREDICTOR = 317
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:                     # literal run of n+1 bytes
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:                   # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("truncated PackBits stream")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError(f"truncated PackBits strip: {len(out)} of "
                         f"{expected} bytes")
    return bytes(out[:expected])


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (compression 5): MSB-first codes, 9→12-bit
    widths with EARLY CHANGE (the width bumps when the table reaches
    2^w - 1, one code before GIF would), Clear=256 / EOI=257."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    br = MsbReader(data)
    width = 9
    table = []
    prev = None
    while br.pos + width <= br.nbits and len(out) < expected:
        code = br.read(width)
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if table == []:
            raise ValueError("TIFF LZW: data before first Clear code")
        if prev is None:
            if code >= len(table):
                raise ValueError("TIFF LZW: bad first code")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("TIFF LZW: code beyond table")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError(f"truncated TIFF LZW strip: {len(out)} of "
                         f"{expected} bytes")
    return bytes(out[:expected])


def _lzw_encode(data: bytes) -> bytes:
    """TIFF LZW writer — the exact mirror of :func:`_lzw_decode`
    (early-change widths, table reset at 4094 entries)."""
    CLEAR, EOI = 256, 257
    bw = MsbWriter()
    width = 9

    def fresh():
        return ({bytes([i]): i for i in range(256)}, 258)

    bw.write(CLEAR, width)
    table, nxt = fresh()
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        bw.write(table[run], width)
        table[cand] = nxt
        nxt += 1
        # early-change sync (libtiff): the encoder bumps when its
        # free entry passes 2^w - 1; the decoder — one entry behind
        # during each phrase — when ITS table reaches 2^w - 1
        if nxt >= (1 << width) and width < 12:
            width += 1
        if nxt > 4093:
            bw.write(CLEAR, width)
            width = 9
            table, nxt = fresh()
        run = bytes([byte])
    if run:
        bw.write(table[run], width)
    bw.write(EOI, width)
    return bw.bytes()


def _predict2_encode(a: "np.ndarray") -> "np.ndarray":
    """Horizontal differencing (TIFF predictor 2) per row/channel."""
    d = a.astype(np.int16)
    d[:, 1:, :] -= d[:, :-1, :].copy()
    return (d % 256).astype(np.uint8)


def _predict2_decode(a: "np.ndarray") -> "np.ndarray":
    return np.cumsum(a.astype(np.int64), axis=1).astype(np.uint8)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + 1
        while j < n and (j - i) < 128 \
                and not (j + 1 < n and data[j] == data[j + 1]):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def encode_tiff(arr, *, packbits: bool = False,
                compression: "str | None" = None,
                predictor: bool = False) -> bytes:
    """Serialize an 8-bit array as a little-endian baseline TIFF with
    one strip.  ``compression``: 'none' / 'packbits' / 'lzw' (r12b —
    the most common real-world TIFF compression; ``predictor=True``
    adds horizontal differencing, tag 317 value 2, LZW only); the
    ``packbits`` bool stays as the pre-r12b spelling."""
    if compression is None:
        compression = "packbits" if packbits else "none"
    if compression not in ("none", "packbits", "lzw"):
        raise ValueError(f"encode_tiff: unknown compression "
                         f"{compression!r}")
    if predictor and compression != "lzw":
        raise ValueError("encode_tiff: predictor=True is the LZW "
                         "horizontal-differencing mode")
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c not in (1, 3, 4):
        raise ValueError(f"encode_tiff: 1/3/4 samples per pixel, got {c}")
    payload = _predict2_encode(a) if predictor else a
    raw = payload.tobytes()
    if compression == "packbits":
        strip, comp = _packbits_encode(raw), 32773
    elif compression == "lzw":
        strip, comp = _lzw_encode(raw), 5
    else:
        strip, comp = raw, 1
    photometric = 1 if c == 1 else 2

    entries = []                       # (tag, type, count, value)
    extra = bytearray()
    n_entries = 9 if predictor else 8
    data_start = 8 + 2 + 12 * n_entries + 4

    def short(tag, value):
        entries.append(struct.pack("<HHI", tag, 3, 1)
                       + struct.pack("<HH", value, 0))

    def long_(tag, value):
        entries.append(struct.pack("<HHII", tag, 4, 1, value))

    short(_TAG_WIDTH, w)
    short(_TAG_HEIGHT, h)
    if c == 1:
        short(_TAG_BITS, 8)
    else:
        bits_off = data_start + len(extra)
        extra += struct.pack(f"<{c}H", *([8] * c))
        entries.append(struct.pack("<HHII", _TAG_BITS, 3, c, bits_off))
    short(_TAG_COMPRESSION, comp)
    short(_TAG_PHOTOMETRIC, photometric)
    strip_off_pos = data_start + len(extra)
    extra += strip                      # strip payload inline
    long_(_TAG_STRIP_OFFSETS, strip_off_pos)
    short(_TAG_SPP, c)
    long_(_TAG_STRIP_COUNTS, len(strip))
    if predictor:
        short(_TAG_PREDICTOR, 2)
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])

    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for e in entries:
        out += e
    out += struct.pack("<I", 0)        # no next IFD
    out += extra
    return bytes(out)


def decode_tiff(data: bytes) -> "np.ndarray":
    """Parse a baseline TIFF blob → (H, W, C) uint8 array (first
    IFD).  Raises ValueError on non-TIFF input, truncation, tiled
    layout, non-8-bit samples, or compressions other than none /
    PackBits."""
    if not data or len(data) < 8:
        raise ValueError("not a TIFF blob")
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF blob")
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF: IFD offset past buffer")
    (n_entries,) = struct.unpack(bo + "H", data[ifd_off:ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries > len(data):
        raise ValueError("truncated TIFF IFD")

    tags: "dict[int, list[int]]" = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(bo + "HHI", data[off:off + 8])
        if typ not in _TYPE_SIZES:
            continue
        size = _TYPE_SIZES[typ] * cnt
        if size <= 4:
            body = data[off + 8:off + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", data[off + 8:off + 12])
            if voff + size > len(data):
                raise ValueError(f"truncated TIFF tag {tag}")
            body = data[voff:voff + size]
        if typ == 3:
            vals = list(struct.unpack(bo + f"{cnt}H", body))
        elif typ == 4:
            vals = list(struct.unpack(bo + f"{cnt}I", body))
        elif typ == 1:
            vals = list(body)
        elif typ == 5:
            vals = [struct.unpack(bo + "II", body[k:k + 8])[0]
                    for k in range(0, size, 8)]
        else:
            vals = []
        tags[tag] = vals

    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF unsupported (strip layout only)")
    try:
        w = tags[_TAG_WIDTH][0]
        h = tags[_TAG_HEIGHT][0]
        offsets = tags[_TAG_STRIP_OFFSETS]
        counts = tags[_TAG_STRIP_COUNTS]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}") from e
    def tag1(tag, default):
        # a forged IFD entry with count 0 yields an empty value list —
        # corrupt input, not an IndexError (r12b fuzz contract)
        vs = tags.get(tag, [default])
        if not vs:
            raise ValueError(f"corrupt TIFF: tag {tag} with count 0")
        return vs[0]

    spp = tag1(_TAG_SPP, 1)
    bits = tags.get(_TAG_BITS, [8])
    comp = tag1(_TAG_COMPRESSION, 1)
    rows_per_strip = tag1(_TAG_ROWS_PER_STRIP, h)
    predictor = tag1(_TAG_PREDICTOR, 1)
    if any(b != 8 for b in bits):
        raise ValueError(f"only 8-bit TIFF supported (bits={bits})")
    if comp not in (1, 5, 32773):
        raise ValueError(f"TIFF compression {comp} unsupported "
                         f"(none/LZW/PackBits decode here)")
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} unsupported")
    if len(offsets) != len(counts):
        raise ValueError("TIFF strip offsets/counts mismatch")

    raw = bytearray()
    remaining = h
    for si, (so, sc) in enumerate(zip(offsets, counts)):
        if so + sc > len(data):
            raise ValueError(f"truncated TIFF strip {si}")
        body = data[so:so + sc]
        rows = min(rows_per_strip, remaining)
        expected = rows * w * spp
        if comp == 32773:
            raw += _packbits_decode(body, expected)
        elif comp == 5:
            raw += _lzw_decode(body, expected)
        else:
            if len(body) < expected:
                raise ValueError(f"short TIFF strip {si}: {len(body)} "
                                 f"< {expected}")
            raw += body[:expected]
        remaining -= rows
    if len(raw) < h * w * spp:
        raise ValueError(f"TIFF pixel data short: {len(raw)} < "
                         f"{h * w * spp}")
    out = np.frombuffer(bytes(raw), np.uint8,
                        count=h * w * spp).reshape(h, w, spp).copy()
    if predictor == 2:
        out = _predict2_decode(out)
    return out
