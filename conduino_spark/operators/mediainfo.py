"""Header-level metadata for the lossy/DSP containers — REAL parsing,
no sample decode.

The sample-decode slots for mp3/ogg/mp4/webm stay honest
NotImplementedError raises in operators/multimodal.py (lossy DSP —
wire soundfile/ffmpeg), but a 100 TB corpus-health pass mostly needs
CONTAINER facts: duration, rate, channels, dimensions, frame counts.
Those live in public fixed-layout headers:

  * MP3  — MPEG-1/2/2.5 Layer I/II/III frame-header walk (bitrate /
    sample-rate tables, padding arithmetic, ID3v2 skip via syncsafe
    size, ID3v1 tail skip); duration = Σ samples-per-frame / rate.
  * Ogg  — page walk ('OggS', 27-byte header + segment table); codec
    identified from the first packet ('\\x01vorbis' → rate/channels
    out of the id header; 'OpusHead' → channels/pre-skip, 48 kHz
    granule clock); duration from the LAST page's granule position.
    Page CRCs (poly 0x04C11DB7, unreflected — derived from the
    polynomial, not transcribed) are written for real and verified on
    demand (``verify_crc=True``).
  * MP4  — big-endian box walk: moov > mvhd (timescale + duration,
    versions 0 and 1) and moov > trak > tkhd (16.16 fixed-point
    width/height).
  * WebM — EBML vint walk: Segment > Info (TimestampScale +
    Duration float) and Segment > Tracks > TrackEntry > Video
    (PixelWidth/PixelHeight).

Each parser has a matching synthetic WRITER used by the tests (and
usable as a fixture generator) — the encode side constructs minimal
valid files from the same tables, so the parse arithmetic is pinned
by round-trip, not by fixtures we cannot ship.

Scale posture: one mapInPandas pass over blob batches, like every
codec here (see ``audio_metadata`` / ``video_metadata`` dispatch in
operators/multimodal.py).  Reference anchor: conduino has no media
types — north-star engine extension (SURVEY §7, M6).
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# MP3 (MPEG audio) frame-header walk
# ---------------------------------------------------------------------------

#: bitrate kbps tables [version_group][layer] — 0 = free, None = bad
_MP3_BITRATES = {
    # MPEG-1: layer 1, 2, 3
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    # MPEG-2/2.5: layer 1 and layers 2+3
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}

_MP3_RATES = {3: (44100, 48000, 32000),       # MPEG-1
              2: (22050, 24000, 16000),       # MPEG-2
              0: (11025, 12000, 8000)}        # MPEG-2.5


def _mp3_frame(data: bytes, pos: int):
    """Parse one frame header at ``pos`` → (frame_len, samples, rate,
    channels) or None if the sync/fields are invalid."""
    if pos + 4 > len(data):
        return None
    b0, b1, b2, b3 = data[pos:pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    ver_bits = (b1 >> 3) & 0x3                # 3=MPEG1 2=MPEG2 0=2.5
    layer_bits = (b1 >> 1) & 0x3              # 3=L1 2=L2 1=L3
    if ver_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    pad = (b2 >> 1) & 0x1
    vgroup = 1 if ver_bits == 3 else 2
    tkey = (vgroup, layer if vgroup == 1 else min(layer, 2))
    kbps = _MP3_BITRATES[tkey][br_idx]
    rate = _MP3_RATES[ver_bits][sr_idx]
    channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
    if layer == 1:
        samples = 384
        flen = (12 * kbps * 1000 // rate + pad) * 4
    else:
        samples = 1152 if (vgroup == 1 or layer == 2) else 576
        coef = 144 if (vgroup == 1 or layer == 2) else 72
        flen = coef * kbps * 1000 // rate + pad
    if flen < 4:
        return None
    return flen, samples, rate, channels


def mp3_info(data: bytes) -> dict:
    """Walk every MPEG audio frame → ``{rate, channels, n_frames,
    n_samples, duration_ms}``.  Skips a leading ID3v2 tag (syncsafe
    size) and a trailing ID3v1 tag; raises ValueError when no valid
    frame sequence exists."""
    end = len(data)
    if end >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
                | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        pos = 10 + size
    n_frames = n_samples = 0
    rate = channels = None
    #: mid-stream resync bound: after valid frames, scan at most this
    #: far for the next sync word before declaring trailing junk
    RESYNC_MAX = 4096
    while pos + 4 <= end:
        fr = _mp3_frame(data, pos)
        if fr is None:
            if n_frames:
                # mid-stream junk (damaged sync, broadcast splice):
                # bounded forward scan for the next header whose rate
                # matches the stream AND whose successor also parses —
                # a single-header match on garbage is too easy
                found = None
                for p2 in range(pos + 1,
                                min(pos + 1 + RESYNC_MAX, end - 3)):
                    f2 = _mp3_frame(data, p2)
                    if f2 is None or f2[2] != rate:
                        continue
                    nxt = p2 + f2[0]
                    if nxt >= end or (_mp3_frame(data, nxt) is not None
                                      and _mp3_frame(data, nxt)[2] == rate):
                        found = p2
                        break
                if found is None:
                    break                    # trailing junk after frames
                pos = found
                continue
            pos += 1                         # resync scan
            continue
        flen, samples, r, ch = fr
        if rate is None:
            rate, channels = r, ch
        n_frames += 1
        n_samples += samples
        pos += flen
    if not n_frames or rate is None:
        raise ValueError("mp3: no valid MPEG audio frames found")
    return {"rate": rate, "channels": channels, "n_frames": n_frames,
            "n_samples": n_samples,
            "duration_ms": round(1000 * n_samples / rate)}


def encode_mp3_stub(n_frames: int, *, kbps: int = 128,
                    rate: int = 44100, channels: int = 2,
                    id3_bytes: int = 0) -> bytes:
    """Synthesize a structurally valid MPEG-1 Layer III stream —
    correct frame headers and lengths, zeroed payloads (silence-shaped
    bits, NOT decodable audio) — the round-trip fixture for
    :func:`mp3_info`."""
    br_idx = _MP3_BITRATES[(1, 3)].index(kbps)
    sr_idx = _MP3_RATES[3].index(rate)
    out = bytearray()
    if id3_bytes:
        size = id3_bytes
        out += b"ID3\x04\x00\x00" + bytes([
            (size >> 21) & 0x7F, (size >> 14) & 0x7F,
            (size >> 7) & 0x7F, size & 0x7F]) + b"\x00" * size
    mode = 0xC0 if channels == 1 else 0x00
    for i in range(n_frames):
        pad = i % 2                          # exercise the pad bit
        hdr = bytes([0xFF, 0xFB,
                     (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                     mode])
        flen = 144 * kbps * 1000 // rate + pad
        out += hdr + b"\x00" * (flen - 4)
    return bytes(out)


# ---------------------------------------------------------------------------
# Ogg (Vorbis / Opus) page walk
# ---------------------------------------------------------------------------

def _ogg_pages(data: bytes):
    """Walk consecutive Ogg pages from byte 0 (stops at the first
    missing 'OggS' capture pattern) → per page ``(start, header_type,
    granule, serial, segment_table, body_start, body_end)``.
    ``body_end`` may pass ``len(data)`` on a truncated last page —
    callers decide whether that is an error."""
    pos = 0
    while pos + 27 <= len(data) and data[pos:pos + 4] == b"OggS":
        granule, serial = struct.unpack("<qI", data[pos + 6:pos + 18])
        n_segs = data[pos + 26]
        seg_table = data[pos + 27:pos + 27 + n_segs]
        body_start = pos + 27 + n_segs
        body_end = body_start + sum(seg_table)
        yield (pos, data[pos + 5], granule, serial, seg_table,
               body_start, body_end)
        pos = body_end


def _ogg_page_crc_ok(data: bytes, start: int, end: int) -> bool:
    """Page CRC check (poly 0x04C11DB7, unreflected), computed over
    the page with its CRC field zeroed."""
    page = bytearray(data[start:end])
    want = struct.unpack("<I", page[22:26])[0]
    page[22:26] = b"\x00" * 4
    return _ogg_crc(bytes(page)) == want


def ogg_info(data: bytes, *, verify_crc: bool = False) -> dict:
    """Walk Ogg pages → ``{codec, rate, channels, n_pages,
    duration_ms}``.  Codec/rate/channels come from the first packet's
    id header ('\\x01vorbis' or 'OpusHead'); duration from the last
    page's granule position (Vorbis: PCM samples at ``rate``; Opus:
    48 kHz clock minus pre-skip).  ``verify_crc`` checks each page's
    CRC (poly 0x04C11DB7, unreflected) and raises on corruption."""
    if data[:4] != b"OggS":
        raise ValueError("not an Ogg stream")
    first_payload = None
    stream_serial = None                     # serial of the first BOS
    last_granule = 0
    n_pages = 0
    for start, _, granule, serial, _, body_start, body_end in \
            _ogg_pages(data):
        if verify_crc and not _ogg_page_crc_ok(data, start, body_end):
            raise ValueError(f"ogg: page {n_pages} CRC mismatch")
        if stream_serial is None:
            stream_serial = serial
            first_payload = data[body_start:body_end]
        # multiplexed/chained streams: duration and page count follow
        # the FIRST logical stream's serial only — another stream's
        # last page must not set this stream's granule clock
        if serial == stream_serial:
            if granule >= 0:
                last_granule = granule
            n_pages += 1
    if first_payload is None:
        raise ValueError("ogg: no pages found")
    if first_payload[:7] == b"\x01vorbis":
        if len(first_payload) < 16:
            raise ValueError("ogg: truncated Vorbis id header")
        channels = first_payload[11]
        rate = struct.unpack("<I", first_payload[12:16])[0]
        codec = "vorbis"
        samples = last_granule
        clock = rate
    elif first_payload[:8] == b"OpusHead":
        if len(first_payload) < 16:
            raise ValueError("ogg: truncated Opus id header")
        channels = first_payload[9]
        pre_skip = struct.unpack("<H", first_payload[10:12])[0]
        rate = struct.unpack("<I", first_payload[12:16])[0]
        codec = "opus"
        samples = max(last_granule - pre_skip, 0)
        clock = 48000                        # Opus granules are 48 kHz
    else:
        raise ValueError("ogg: first packet is neither a Vorbis nor "
                         "an Opus id header")
    if rate < 1:
        raise ValueError("ogg: id header declares rate 0")
    return {"codec": codec, "rate": rate, "channels": channels,
            "n_pages": n_pages,
            "duration_ms": round(1000 * samples / clock)}


#: Ogg page CRC: 32-bit CRC with polynomial 0x04C11DB7, NOT
#: reflected, zero init/xorout (differs from zlib's crc32) — built
#: algorithmically from the polynomial, no transcribed table
_OGG_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7 if _r & 0x80000000
              else _r << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


#: slice-by-8 companion tables (r14): T_{k}[b] = CRC state after the
#: T_{k-1} state is advanced by one zero byte — lets the hot loop eat
#: 8 bytes per iteration.  Derived from the polynomial like the base
#: table; equality with the bytewise loop is law-tested.
_OGG_CRC_SLICE = [_OGG_CRC_TABLE]
for _k in range(7):
    _prev = _OGG_CRC_SLICE[-1]
    _OGG_CRC_SLICE.append([
        ((_v << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[(_v >> 24) & 0xFF]
        for _v in _prev])


def _ogg_crc_bytewise(data: bytes, crc: int = 0) -> int:
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) \
            ^ _OGG_CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def _ogg_crc(data: bytes) -> int:
    t0, t1, t2, t3, t4, t5, t6, t7 = _OGG_CRC_SLICE
    crc = 0
    n = len(data)
    end8 = n - (n & 7)
    i = 0
    while i < end8:
        b0, b1, b2, b3, b4, b5, b6, b7 = data[i:i + 8]
        crc = (t7[b0 ^ ((crc >> 24) & 0xFF)]
               ^ t6[b1 ^ ((crc >> 16) & 0xFF)]
               ^ t5[b2 ^ ((crc >> 8) & 0xFF)]
               ^ t4[b3 ^ (crc & 0xFF)]
               ^ t3[b4] ^ t2[b5] ^ t1[b6] ^ t0[b7])
        i += 8
    return _ogg_crc_bytewise(data[end8:], crc)


def _ogg_page_multi(serial: int, seq: int, granule: int,
                    payloads: "list[bytes]",
                    header_type: int = 0) -> bytes:
    """An Ogg page carrying several COMPLETE packets (lacing per
    packet: 255-runs then a terminator lace < 255).  The single
    canonical page writer — operators/vorbis.py frames real streams
    through it too."""
    segs = []
    body = bytearray()
    for payload in payloads:
        rest = len(payload)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        body += payload
    if len(segs) > 255:
        raise ValueError("ogg: too many segments for one page")
    hdr = (b"OggS\x00" + bytes([header_type])
           + struct.pack("<q", granule) + struct.pack("<I", serial)
           + struct.pack("<I", seq) + b"\x00\x00\x00\x00"
           + bytes([len(segs)]) + bytes(segs))
    page = bytearray(hdr + body)
    # the CRC field (bytes 22-26) is computed over the page with the
    # field zeroed, then patched in (r12b: real CRCs, not zeros)
    page[22:26] = struct.pack("<I", _ogg_crc(bytes(page)))
    return bytes(page)


def _ogg_page(serial: int, seq: int, granule: int, payload: bytes,
              header_type: int = 0) -> bytes:
    return _ogg_page_multi(serial, seq, granule, [payload],
                           header_type)


def encode_ogg_stub(codec: str, *, rate: int = 48000,
                    channels: int = 2, n_samples: int = 96000,
                    pre_skip: int = 312) -> bytes:
    """Synthesize a structurally valid Ogg stream (id-header page +
    one data page carrying the final granule) for :func:`ogg_info`.
    Pages carry REAL CRCs (r12b)."""
    if codec == "vorbis":
        idh = (b"\x01vorbis" + b"\x00\x00\x00\x00"
               + bytes([channels]) + struct.pack("<I", rate)
               + b"\x00" * 16 + b"\x01")
        granule = n_samples
    elif codec == "opus":
        idh = (b"OpusHead\x01" + bytes([channels])
               + struct.pack("<H", pre_skip) + struct.pack("<I", rate)
               + b"\x00\x00\x00")
        granule = n_samples + pre_skip       # 48 kHz clock incl. skip
    else:
        raise ValueError(f"unknown ogg codec {codec!r}")
    p0 = _ogg_page(7, 0, 0, idh, header_type=2)      # BOS
    p1 = _ogg_page(7, 1, granule, b"\x00" * 64, header_type=4)  # EOS
    return p0 + p1


# ---------------------------------------------------------------------------
# MP4 / QuickTime box walk
# ---------------------------------------------------------------------------

def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        btype = data[pos + 4:pos + 8]
        if size == 1:                        # 64-bit largesize
            (size,) = struct.unpack(">Q", data[pos + 8:pos + 16])
            body = pos + 16
        elif size == 0:                      # to end of file
            size = end - pos
            body = pos + 8
        else:
            body = pos + 8
        if size < 8 or pos + size > end:
            raise ValueError("mp4: corrupt box size")
        yield btype, body, pos + size
        pos += size


def mp4_info(data: bytes) -> dict:
    """Box-walk an ISO BMFF (mp4/mov) blob → ``{width, height,
    timescale, duration_ms, n_tracks}`` from moov>mvhd and the first
    video-sized moov>trak>tkhd."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF (mp4) blob — no ftyp")
    timescale = duration = None
    width = height = 0
    n_tracks = 0
    for btype, body, bend in _walk_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for t2, b2, e2 in _walk_boxes(data, body, bend):
            if t2 == b"mvhd":
                ver = data[b2]
                if ver == 1:
                    timescale = struct.unpack(
                        ">I", data[b2 + 20:b2 + 24])[0]
                    duration = struct.unpack(
                        ">Q", data[b2 + 24:b2 + 32])[0]
                else:
                    timescale = struct.unpack(
                        ">I", data[b2 + 12:b2 + 16])[0]
                    duration = struct.unpack(
                        ">I", data[b2 + 16:b2 + 20])[0]
            elif t2 == b"trak":
                n_tracks += 1
                for t3, b3, e3 in _walk_boxes(data, b2, e2):
                    if t3 == b"tkhd":
                        w16, h16 = struct.unpack(
                            ">II", data[e3 - 8:e3])
                        if not width and w16:
                            width, height = w16 >> 16, h16 >> 16
    if timescale is None:
        raise ValueError("mp4: no moov/mvhd box")
    if timescale == 0:
        raise ValueError("mp4: mvhd declares timescale 0")
    return {"width": width, "height": height, "timescale": timescale,
            "duration_ms": round(1000 * duration / timescale),
            "n_tracks": n_tracks}


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mp4_stub(*, width: int = 640, height: int = 360,
                    timescale: int = 1000, duration: int = 5000,
                    version: int = 0) -> bytes:
    """Minimal valid ISO BMFF skeleton (ftyp + moov[mvhd + trak[tkhd]])
    for :func:`mp4_info` — headers only, no media data."""
    if version == 1:
        mvhd = (b"\x01\x00\x00\x00" + b"\x00" * 16
                + struct.pack(">I", timescale)
                + struct.pack(">Q", duration) + b"\x00" * 80)
    else:
        mvhd = (b"\x00\x00\x00\x00" + b"\x00" * 8
                + struct.pack(">I", timescale)
                + struct.pack(">I", duration) + b"\x00" * 80)
    tkhd = (b"\x00\x00\x00\x07" + b"\x00" * 72
            + struct.pack(">II", width << 16, height << 16))
    moov = _box(b"moov", _box(b"mvhd", mvhd)
                + _box(b"trak", _box(b"tkhd", tkhd)))
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


# ---------------------------------------------------------------------------
# WebM / Matroska (EBML) walk
# ---------------------------------------------------------------------------

def _read_vint(data: bytes, pos: int, *, keep_marker: bool):
    """EBML variable-length integer at ``pos`` → (value, next_pos)."""
    if pos >= len(data):
        raise ValueError("webm: truncated vint")
    first = data[pos]
    if first == 0:
        raise ValueError("webm: invalid vint")
    length = 9 - first.bit_length()
    if pos + length > len(data):
        raise ValueError("webm: truncated vint body")
    v = first if keep_marker else first & ((1 << (8 - length)) - 1)
    for i in range(1, length):
        v = (v << 8) | data[pos + i]
    return v, pos + length


def _ebml_children(data: bytes, start: int, end: int):
    pos = start
    while pos < end:
        eid, p2 = _read_vint(data, pos, keep_marker=True)
        size, p3 = _read_vint(data, p2, keep_marker=False)
        if p3 + size > end:
            raise ValueError("webm: element overruns parent")
        yield eid, p3, p3 + size
        pos = p3 + size


def webm_info(data: bytes) -> dict:
    """EBML-walk a WebM/Matroska blob → ``{width, height,
    duration_ms, n_tracks}`` from Segment>Info (TimestampScale +
    Duration) and Segment>Tracks>TrackEntry>Video."""
    if data[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML (webm/mkv) blob")
    segment = None
    for eid, b, e in _ebml_children(data, 0, len(data)):
        if eid == 0x18538067:                # Segment
            segment = (b, e)
    if segment is None:
        raise ValueError("webm: no Segment element")
    tscale = 1_000_000                       # ns per tick, default
    duration_ticks = 0.0
    width = height = 0
    n_tracks = 0
    for eid, b, e in _ebml_children(data, *segment):
        if eid == 0x1549A966:                # Info
            for i2, b2, e2 in _ebml_children(data, b, e):
                if i2 == 0x2AD7B1:
                    tscale = int.from_bytes(data[b2:e2], "big")
                elif i2 == 0x4489:
                    raw = data[b2:e2]
                    if len(raw) not in (4, 8):
                        raise ValueError(
                            f"webm: Duration element of {len(raw)} "
                            f"bytes (must be a 4/8-byte float)")
                    duration_ticks = struct.unpack(
                        ">f" if len(raw) == 4 else ">d", raw)[0]
        elif eid == 0x1654AE6B:              # Tracks
            for i2, b2, e2 in _ebml_children(data, b, e):
                if i2 != 0xAE:               # TrackEntry
                    continue
                n_tracks += 1
                for i3, b3, e3 in _ebml_children(data, b2, e2):
                    if i3 == 0xE0:           # Video
                        for i4, b4, e4 in _ebml_children(data, b3, e3):
                            if i4 == 0xB0 and not width:
                                width = int.from_bytes(
                                    data[b4:e4], "big")
                            elif i4 == 0xBA and not height:
                                height = int.from_bytes(
                                    data[b4:e4], "big")
    return {"width": width, "height": height,
            "duration_ms": round(duration_ticks * tscale / 1e6),
            "n_tracks": n_tracks}


def _ebml(eid: int, payload: bytes) -> bytes:
    id_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    # encode size as a 2-byte vint for simplicity (marker 0x40)
    if n > 0x3FFF - 1:
        size = bytes([0x08 | (n >> 32)]) + (n & 0xFFFFFFFF).to_bytes(
            4, "big")
    else:
        size = bytes([0x40 | (n >> 8), n & 0xFF])
    return id_bytes + size + payload


def encode_webm_stub(*, width: int = 1280, height: int = 720,
                     duration_ms: int = 4000,
                     tscale: int = 1_000_000) -> bytes:
    """Minimal valid WebM skeleton (EBML header + Segment[Info +
    Tracks[TrackEntry[Video]]]) for :func:`webm_info`."""
    header = _ebml(0x1A45DFA3, _ebml(0x4282, b"webm"))
    ticks = duration_ms * 1e6 / tscale
    info = _ebml(0x1549A966,
                 _ebml(0x2AD7B1, tscale.to_bytes(4, "big"))
                 + _ebml(0x4489, struct.pack(">d", ticks)))
    video = _ebml(0xE0, _ebml(0xB0, width.to_bytes(2, "big"))
                  + _ebml(0xBA, height.to_bytes(2, "big")))
    tracks = _ebml(0x1654AE6B, _ebml(0xAE, video))
    return header + _ebml(0x18538067, info + tracks)
