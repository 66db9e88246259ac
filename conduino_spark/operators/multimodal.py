"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (north star, BASELINE.json).

The codecs are pure Python + numpy, no codec library: wav/bmp/png/pnm/
aiff here, the rest in their own modules (jpeg, gif, tiff, webp, flac,
mp3, vorbis, avi, mpeg1; container headers in mediainfo).  One table,
``_CODECS``, maps each codec name to its functions; every operator
below dispatches through it and refuses, when the stage is built, a
``codec=`` it does not list.  Codec → operators:

* images — ``bmp``, ``png``, ``jpeg`` (baseline, extended, progressive),
  ``gif`` (first frame), ``tiff``, ``pnm``, ``webp`` (lossless VP8L):
  :func:`image_metadata`, :func:`feature_extract`,
  :func:`media_profile`; :func:`image_resize` for all but ``gif``
  (sample the animation first).
* audio — ``wav`` (PCM, IEEE float, G.711, IMA ADPCM), ``flac``,
  ``aiff``, ``mp3`` (Layer III), ``ogg`` and ``vorbis`` (Ogg Vorbis;
  an Opus payload raises ValueError): :func:`audio_metadata`,
  :func:`feature_extract`, :func:`media_profile`.
* video — ``avi`` (Motion-JPEG), ``webp`` (animated lossless),
  ``mpeg1`` (video elementary stream) and ``mpeg_ps`` (program stream,
  demuxed first): :func:`video_metadata`, :func:`frame_sample` (which
  also takes ``gif``); :func:`media_profile` takes ``avi``, ``mpeg1``
  and ``mpeg_ps``.
* containers — ``mp3``, ``ogg`` (Vorbis or Opus), ``mp4``, ``webm``,
  ``mpeg1``, ``mpeg_ps``: :func:`container_info` reads header facts
  (duration, rate, channels, dims, unit counts) with no sample decode.
* ``codec='fake'`` (the default of the six single-codec operators) —
  deterministic byte-digest double that exercises the distributed
  pipeline at any scale.
* ``codec='real'`` — the six single-codec operators decode through
  PIL / soundfile / av when an importlib probe finds them
  (:func:`_native_probe`: lossy VP8 webp, opus, mp4/webm video); in
  an environment without them the slot raises NotImplementedError
  naming the library.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.files.maxPartitionBytes`` sized so a partition of blobs
fits executor memory, and decode with ``mapInPandas`` (streaming
batches) rather than collect-style UDAFs.  The pure-Python decoders
are correctness-grade, not throughput-grade — measured single-core
numbers live in the README (tools/scale_probe.py records them per
round); wire PIL/soundfile into the raise slots for production decode
rates.  :func:`media_profile` emits exact INTEGER stats per blob, the
hash-verifiable corpus-health pass.

One Python worker per task: the decoding operators here
(:func:`media_profile`, :func:`container_info`, :func:`feature_extract`,
the ``*_metadata`` readers, ...) each run one ``mapInPandas`` pass, and
each running task holds a Python worker for it.  A Python producer that feeds the operator in the same stage, such
as a ``mapInPandas`` that builds the blobs, pipelines into that task
and holds a second worker for the whole pass.  End the producer at a
stage boundary (``.repartition(n, id_col)`` with an explicit ``n``, so
AQE does not coalesce the decode onto one core), as the media fixtures
in ``__spark_entry__.py`` do; ``tools/plan_audit.py`` reports the
per-task count as ``max_python_per_task``.
"""

from __future__ import annotations

import hashlib
import importlib
import io
import struct
from typing import Callable, Iterable, NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conduino_spark.operators import mediainfo as mi
from conduino_spark.operators.avi import decode_avi
from conduino_spark.operators.flac import decode_flac
from conduino_spark.operators.gif import decode_gif
from conduino_spark.operators.jpeg import decode_jpeg, encode_jpeg
from conduino_spark.operators.mp3 import decode_mp3
from conduino_spark.operators.tiff import decode_tiff, encode_tiff
from conduino_spark.operators.vorbis import decode_vorbis
from conduino_spark.plans.core import Stage

IMAGE_META_SCHEMA = ("id long, width int, height int, channels int, "
                     "format string, n_bytes long")
AUDIO_META_SCHEMA = "id long, sample_rate int, n_samples long, format string"


# ---------------------------------------------------------------------------
# WAV (PCM int16 and variants) and BMP (BI_RGB 24bpp): RIFF/DIB headers
# are struct parses and the payloads fixed-layout arrays
# ---------------------------------------------------------------------------

def _g711_compress(x, expand):
    """Nearest-level G.711 compressor derived FROM the expansion
    table: decode all 256 codes once, pick each sample's nearest
    level.  Correct by construction — the quantizer always matches
    this module's expander, whatever rounding convention an external
    table would use."""
    import numpy as _np
    codes = _np.arange(256, dtype=_np.uint8)
    levels = expand(codes).astype(_np.int32)
    order = _np.argsort(levels, kind="stable")
    lv, cd = levels[order], codes[order]
    xs = _np.asarray(x, dtype=_np.int32)
    j = _np.clip(_np.searchsorted(lv, xs), 1, len(lv) - 1)
    pick_lo = (xs - lv[j - 1]) <= (lv[j] - xs)
    return _np.where(pick_lo, cd[j - 1], cd[j]).astype(_np.uint8)


def _ima_adpcm_encode_mono(x, block_align: int) -> bytes:
    """IMA ADPCM mono encoder (mirror of the decode recurrence — the
    predictor is updated through the DECODER arithmetic so both sides
    stay bit-synchronized)."""
    import numpy as _np
    xs = _np.asarray(x, dtype=_np.int16).astype(int).tolist()
    spb = (block_align - 4) * 2 + 1      # samples per block
    out = bytearray()
    idx = 0
    for off in range(0, len(xs), spb):
        blk = xs[off:off + spb]
        pred = blk[0]
        out += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in blk[1:]:
            step = _IMA_STEPS[idx]
            delta = s - pred
            nib = 8 if delta < 0 else 0
            d = -delta if delta < 0 else delta
            if d >= step:
                nib |= 4
                d -= step
            if d >= step >> 1:
                nib |= 2
                d -= step >> 1
            if d >= step >> 2:
                nib |= 1
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
            nibs.append(nib)
        if len(nibs) % 2:
            nibs.append(0)
        for lo, hi in zip(nibs[::2], nibs[1::2]):
            out.append(lo | (hi << 4))
        pad = block_align - 4 - len(nibs) // 2
        out += b"\x00" * max(pad, 0)
    return bytes(out)


def encode_wav(samples, sample_rate: int, n_channels: int = 1, *,
               fmt: str = "pcm16", block_align: int = 256) -> bytes:
    """Serialize int16 samples (interleaved if multi-channel) into a
    canonical RIFF/WAVE byte string — the test-double generator for
    :func:`decode_wav` and a real writer in its own right.

    ``fmt`` (r11): ``'pcm16'`` (default), ``'alaw'`` / ``'mulaw'``
    (G.711 — nearest-level compression against this module's exact
    expansion), ``'ima'`` (mono IMA ADPCM, ``block_align`` bytes per
    block), or ``'float32'`` (r12b — IEEE-float full-scale ±1.0,
    int16 values exactly representable so the round trip is
    bit-exact)."""
    import numpy as _np
    arr = _np.asarray(samples, dtype="<i2")
    if fmt == "pcm16":
        tag, bits, payload = 1, 16, arr.tobytes()
        block = 2 * n_channels
    elif fmt in ("alaw", "mulaw"):
        expand = _alaw_to_pcm16 if fmt == "alaw" else _mulaw_to_pcm16
        tag, bits = (6 if fmt == "alaw" else 7), 8
        payload = _g711_compress(arr, expand).tobytes()
        block = n_channels
    elif fmt == "float32":
        tag, bits = 3, 32
        payload = (arr.astype(_np.float64) / 32768.0) \
            .astype("<f4").tobytes()
        block = 4 * n_channels
    elif fmt == "ima":
        if n_channels != 1:
            raise ValueError("IMA ADPCM writer: only mono supported")
        tag, bits = 0x11, 4
        payload = _ima_adpcm_encode_mono(arr, block_align)
        block = block_align
    else:
        raise ValueError(f"unknown wav fmt {fmt!r}")
    hdr = struct.pack("<HHIIHH", tag, n_channels, sample_rate,
                      sample_rate * block, block, bits)
    # Non-PCM formats carry a 'fact' chunk with the true per-channel
    # sample count (RIFF spec) — without it an IMA decoder can't tell
    # encoder block padding from real samples (ADVICE r11).
    fact = b""
    if tag != 1:
        n_frames = len(arr) // max(n_channels, 1)
        fact = b"fact" + struct.pack("<II", 4, n_frames)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(hdr)) + hdr
            + fact
            + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mulaw_to_pcm16(codes):
    """ITU-T G.711 μ-law byte → int16 PCM (exact table semantics:
    invert, split sign/exponent/mantissa, bias 0x84)."""
    import numpy as _np
    u = (~_np.asarray(codes, dtype=_np.uint8)).astype(_np.int32) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return _np.where(sign, -mag, mag).astype(_np.int16)


def _alaw_to_pcm16(codes):
    """ITU-T G.711 A-law byte → int16 PCM (0x55 XOR; the classic
    alaw2linear expansion — the (mant<<4) terms are already at int16
    scale, max 32256, and a SET sign bit means POSITIVE, the reverse
    of μ-law)."""
    import numpy as _np
    a = (_np.asarray(codes, dtype=_np.uint8) ^ 0x55).astype(_np.int32)
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = _np.where(exp == 0, (mant << 4) + 8,
                    ((mant << 4) + 0x108) << (exp - 1))
    return _np.where(sign, mag, -mag).astype(_np.int16)


#: IMA ADPCM step table (IMA/DVI spec — 89 entries) and index deltas
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_adpcm_decode_mono(body: bytes, block_align: int):
    """IMA ADPCM (WAVE fmt 0x11), mono: per-block 4-byte header
    (predictor int16, step index, reserved) then 4-bit nibbles,
    low nibble first.  Pure-Python recurrence — decode-once path."""
    import numpy as _np
    out = []
    for off in range(0, len(body), block_align):
        blk = body[off:off + block_align]
        if len(blk) < 4:
            break
        pred = struct.unpack("<h", blk[0:2])[0]
        idx = min(max(blk[2], 0), 88)
        out.append(pred)
        for byte in blk[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
                out.append(pred)
    return _np.array(out, dtype=_np.int16)


def decode_wav(data: bytes):
    """Parse a RIFF/WAVE blob → ``(sample_rate, n_channels,
    samples)`` with samples an int16 numpy array (interleaved).
    Walks the chunk list (tolerates extra chunks in any order).

    Formats (r11 grew the telephony/compressed variants): PCM-16
    (fmt 1), IEEE-float 32/64-bit (fmt 3, r12b — full-scale ±1.0 ≙
    ±32768, clamped), G.711 A-law (fmt 6) and μ-law (fmt 7) expanded
    to int16 exactly per the ITU tables, and mono IMA ADPCM
    (fmt 0x11).
    Anything else raises ValueError — feed through
    :func:`sniff_format` first at scale."""
    import numpy as _np
    if not data or len(data) < 12 or data[0:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, rate, nch, bits, pcm = 12, None, None, None, None
    afmt, block_align, fact_frames = None, 0, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        # ADVICE r10: a declared size past the buffer decoded SILENTLY
        # with fewer samples (and a short fmt body crashed with
        # struct.error) — truncation is corrupt input, raise loudly
        if pos + 8 + size > len(data):
            raise ValueError(
                f"truncated WAV: chunk {tag!r} declares {size} bytes, "
                f"{len(data) - pos - 8} remain")
        body = data[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError(
                    f"truncated WAV fmt chunk ({len(body)} < 16 bytes)")
            afmt, nch, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if afmt == 1 and bits != 16:
                raise ValueError(f"only 16-bit PCM supported "
                                 f"(bits={bits})")
            if afmt == 3 and bits not in (32, 64):
                raise ValueError(f"IEEE-float WAV must be 32/64-bit "
                                 f"(bits={bits})")
            if afmt not in (1, 3, 6, 7, 0x11):
                raise ValueError(
                    f"unsupported WAV format {afmt} (PCM-16, "
                    f"IEEE-float, G.711 A-law/mu-law, and mono IMA "
                    f"ADPCM decode here)")
            if afmt == 0x11 and nch != 1:
                raise ValueError("IMA ADPCM: only mono supported")
        elif tag == b"fact" and len(body) >= 4:
            (fact_frames,) = struct.unpack("<I", body[:4])
        elif tag == b"data":
            pcm = body
        pos += 8 + size + (size & 1)   # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("missing fmt /data chunk")
    if afmt == 3:
        # IEEE-float (r12b): full-scale ±1.0 ≙ ±32768, clamped —
        # the DAW/ML-pipeline interchange variant
        f = _np.frombuffer(pcm, dtype="<f4" if bits == 32 else "<f8")
        with _np.errstate(all="ignore"):
            # corrupt float payloads (inf/nan) clamp deterministically
            samples = _np.clip(
                _np.nan_to_num(_np.round(f * 32768.0), nan=0.0,
                               posinf=32767.0, neginf=-32768.0),
                -32768, 32767).astype(_np.int16)
    elif afmt == 6:
        samples = _alaw_to_pcm16(_np.frombuffer(pcm, _np.uint8))
    elif afmt == 7:
        samples = _mulaw_to_pcm16(_np.frombuffer(pcm, _np.uint8))
    elif afmt == 0x11:
        samples = _ima_adpcm_decode_mono(pcm, max(int(block_align), 4))
    else:
        samples = _np.frombuffer(pcm, dtype="<i2")
    if afmt != 1 and fact_frames is not None:
        # 'fact' carries the true per-channel sample count — truncate
        # the encoder's final-block zero padding (ADVICE r11: fmt 0x11
        # otherwise reports inflated n_samples).
        samples = samples[:fact_frames * int(nch)]
    return int(rate), int(nch), samples


def encode_bmp(arr) -> bytes:
    """Serialize an (H, W, 3) uint8 RGB array into a BI_RGB 24-bit
    BMP (bottom-up rows, 4-byte row padding) — the test-double
    generator for :func:`decode_bmp` and a real writer."""
    import numpy as _np
    a = _np.asarray(arr, dtype=_np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (-row) % 4
    # BMP stores BGR bottom-up
    body = b"".join(a[y, :, ::-1].tobytes() + b"\x00" * pad
                    for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0,
                       14 + 40)
    return head + info + body


def decode_bmp(data: bytes):
    """Parse a BI_RGB 24-bit BMP blob → (H, W, 3) uint8 RGB array
    (handles bottom-up and top-down rows, 4-byte padding); raises
    ValueError on other BMP variants or non-BMP input."""
    import numpy as _np
    if not data or len(data) < 54 or data[0:2] != b"BM":
        raise ValueError("not a BMP blob")
    (offset,) = struct.unpack("<I", data[10:14])
    hsz, w, h, _, bpp, comp = struct.unpack("<IiiHHI", data[14:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"only BI_RGB 24bpp supported "
                         f"(bpp={bpp}, compression={comp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = _np.frombuffer(data, dtype=_np.uint8,
                         count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()   # BGR -> RGB


def _fake_decode_image(data: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake codec: derives (w, h, c, fmt) from a digest of
    the bytes.  Replace with PIL/opencv in a real deployment."""
    d = hashlib.md5(data).digest()
    w = 64 + struct.unpack("<H", d[0:2])[0] % 1984
    h = 64 + struct.unpack("<H", d[2:4])[0] % 1984
    c = 1 + d[4] % 4
    fmt = ["jpeg", "png", "webp"][d[5] % 3]
    return w, h, c, fmt


#: PNG color type → channel count
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Adam7 interlace passes: (x0, y0, dx, dy)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_filter_row(row, prior, bpp: int, f: int):
    """Apply PNG filter ``f`` to a reconstructed row (encoder side) —
    the exact inverse pairs of :func:`_png_unfilter_row`, used by
    :func:`encode_png` and the filter-matrix tests."""
    import numpy as _np
    r = row.astype(_np.int32)
    p = prior.astype(_np.int32)
    left = _np.concatenate([_np.zeros(bpp, _np.int32), r[:-bpp]])
    pleft = _np.concatenate([_np.zeros(bpp, _np.int32), p[:-bpp]])
    if f == 0:
        out = r
    elif f == 1:
        out = r - left
    elif f == 2:
        out = r - p
    elif f == 3:
        out = r - (left + p) // 2
    elif f == 4:
        pa = _np.abs(p - pleft)
        pb = _np.abs(left - pleft)
        pc = _np.abs(left + p - 2 * pleft)
        pred = _np.where((pa <= pb) & (pa <= pc), left,
                         _np.where(pb <= pc, p, pleft))
        out = r - pred
    else:
        raise ValueError(f"unknown PNG filter {f}")
    return (out % 256).astype(_np.uint8)


def _png_unfilter_row(raw, prior, bpp: int, f: int):
    """Reconstruct one PNG row from its filtered bytes.  Filters 0-2
    are vectorized (2 is pure addition; 1 is a per-lane cumsum —
    mod-256 survives cumsum in int64); 3/4 carry an intra-row
    dependency through the floor/predictor and run as a per-byte loop
    (decode cost is per-blob inside the Arrow batch UDF — the 100 TB
    path decodes once at ingestion and persists features, never
    per-query)."""
    import numpy as _np
    if f == 0:
        return raw.copy()
    if f == 2:
        return ((raw.astype(_np.int32) + prior) % 256).astype(_np.uint8)
    if f == 1:
        lanes = raw.reshape(-1, bpp).astype(_np.int64)
        return (_np.cumsum(lanes, axis=0) % 256) \
            .astype(_np.uint8).reshape(-1)
    if f not in (3, 4):
        raise ValueError(f"unknown PNG filter {f}")
    # filters 3/4 carry the intra-row left-dependency: plain-Python
    # list loop (r13 — numpy scalar indexing was ~5x slower here)
    raw_l = raw.tolist()
    p_l = prior.tolist()
    n = len(raw_l)
    out = [0] * n
    # walk per byte-lane with carried left/upper-left state — no
    # per-byte indexing arithmetic or boundary branches
    for lane in range(bpp):
        left = ul = 0
        i = lane
        if f == 3:
            while i < n:
                left = (raw_l[i] + ((left + p_l[i]) >> 1)) & 0xFF
                out[i] = left
                i += bpp
        else:
            while i < n:
                up = p_l[i]
                pa = up - ul
                pb = left - ul
                pc = pa + pb
                if pa < 0:
                    pa = -pa
                if pb < 0:
                    pb = -pb
                if pc < 0:
                    pc = -pc
                if pa <= pb and pa <= pc:
                    pred = left
                elif pb <= pc:
                    pred = up
                else:
                    pred = ul
                left = (raw_l[i] + pred) & 0xFF
                out[i] = left
                ul = up
                i += bpp
    return _np.array(out, _np.uint8)


def _png_filter_pass(px_bytes, ph, pw, bpp, filter_type):
    """Filter one (sub-)image of raw bytes → filtered rows with their
    filter tag bytes (shared by plain and Adam7 encodes)."""
    import numpy as _np
    flat = px_bytes.reshape(ph, pw * bpp)
    rows = []
    prior = _np.zeros(pw * bpp, _np.uint8)
    for y in range(ph):
        rows.append(bytes([filter_type])
                    + _png_filter_row(flat[y], prior, bpp,
                                      filter_type).tobytes())
        prior = flat[y]
    return b"".join(rows)


def encode_png(arr, *, filter_type: int = 0,
               interlace: bool = False) -> bytes:
    """Serialize an (H, W) or (H, W, C≤4) array into a PNG (gray /
    gray+alpha / RGB / RGBA by channel count; one zlib IDAT) — the
    test-double generator for :func:`decode_png` and a real writer.
    uint8 input writes 8-bit depth, uint16 (r12b) 16-bit big-endian;
    ``interlace=True`` (r12b) writes the seven Adam7 passes.
    ``filter_type`` applies one filter to every row (the
    filter-matrix tests exercise 0-4)."""
    import zlib
    import numpy as _np
    a = _np.asarray(arr)
    if a.dtype == _np.uint16:
        depth = 16
    else:
        a = a.astype(_np.uint8)
        depth = 8
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c * (depth // 8)

    def rowbytes(sub):
        if depth == 16:
            return _np.frombuffer(
                sub.astype(">u2").tobytes(), _np.uint8)                 .reshape(sub.shape[0], -1)
        return sub.reshape(sub.shape[0], -1)

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            ph, pw = sub.shape[0], sub.shape[1]
            if ph == 0 or pw == 0:
                continue
            parts.append(_png_filter_pass(
                rowbytes(sub).reshape(-1), ph, pw, bpp, filter_type))
        raw = b"".join(parts)
    else:
        raw = _png_filter_pass(rowbytes(a).reshape(-1), h, w, bpp,
                               filter_type)

    def chunk(tag: bytes, body: bytes) -> bytes:
        import zlib as _z
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0,
                       1 if interlace else 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def decode_png(data: bytes):
    """Parse a PNG blob → (H, W, C) array (gray=1, gray+alpha=2,
    RGB=3, RGBA=4; palette images resolve through their PLTE table to
    RGB).  Pure stdlib-zlib + numpy — no external codec.  All five
    row filters; 8-bit (uint8 out) and 16-bit big-endian (uint16 out,
    r12b) depths; Adam7 interlacing (r12b).  Raises ValueError on
    non-PNG input, truncated chunks, or sub-byte depths."""
    import zlib
    import numpy as _np
    if not data or len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG blob")
    pos, meta, idat, plte, ended = 8, None, [], None, False
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        if pos + 8 + size > len(data):
            raise ValueError(
                f"truncated PNG: chunk {tag!r} declares {size} bytes, "
                f"{len(data) - pos - 8} remain")
        body = data[pos + 8:pos + 8 + size]
        if tag == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated PNG IHDR")
            meta = struct.unpack(">IIBBBBB", body[:13])
        elif tag == b"PLTE":
            plte = _np.frombuffer(body, _np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            ended = True
            break
        pos += 12 + size  # len + tag + body + crc
    if meta is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if not ended:
        # a cut anywhere in the trailing bytes escapes the per-chunk
        # length check above — no complete IEND means the byte stream
        # ended early (the decode_wav truncation posture)
        raise ValueError("truncated PNG: no IEND chunk")
    w, h, depth, color, comp, filt, interlace = meta
    if depth not in (8, 16) or comp != 0 or filt != 0:
        raise ValueError(f"only 8/16-bit depth supported "
                         f"(depth={depth}, comp={comp}, filter={filt})")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    if color == 3 and depth == 16:
        raise ValueError("palette PNG cannot be 16-bit")
    c = _PNG_CHANNELS[color]
    bpp = c * (depth // 8)
    if h * w > 100_000_000:
        raise ValueError(f"PNG dims {w}x{h} exceed the decoder's "
                         f"sanity cap")
    if interlace == 1:
        expected = sum(ph * (pw * bpp + 1)
                       for pw, ph in ((len(range(x0, w, dx)),
                                       len(range(y0, h, dy)))
                                      for x0, y0, dx, dy in _ADAM7)
                       if pw and ph)
    else:
        expected = h * (w * bpp + 1)
    try:
        # bounded inflate: a forged stream can't balloon past the
        # declared geometry (decompression-bomb guard), and corrupt
        # deflate data surfaces as ValueError like every other decoder
        # failure — a dirty corpus must never abort a profile batch
        dobj = zlib.decompressobj()
        raw = _np.frombuffer(
            dobj.decompress(b"".join(idat), expected + 1), _np.uint8)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG deflate stream: {e}") from e

    def unfilter(buf, ph, pw):
        stride = pw * bpp
        out = _np.empty((ph, stride), _np.uint8)
        prior = _np.zeros(stride, _np.uint8)
        for y in range(ph):
            f = int(buf[y * (stride + 1)])
            row = buf[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
            out[y] = _png_unfilter_row(row, prior, bpp, f)
            prior = out[y]
        return out

    def to_px(rows, ph, pw):
        if depth == 16:
            return _np.frombuffer(rows.tobytes(), ">u2")                 .astype(_np.uint16).reshape(ph, pw, c)
        return rows.reshape(ph, pw, c)

    if interlace == 1:                       # Adam7 (r12b)
        dt = _np.uint16 if depth == 16 else _np.uint8
        img = _np.zeros((h, w, c), dt)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = len(range(x0, w, dx))
            ph = len(range(y0, h, dy))
            if pw == 0 or ph == 0:
                continue
            need = ph * (pw * bpp + 1)
            if pos + need > len(raw):
                raise ValueError("PNG pixel data short for Adam7 "
                                 "passes")
            img[y0::dy, x0::dx] = to_px(
                unfilter(raw[pos:pos + need], ph, pw), ph, pw)
            pos += need
        if pos != len(raw):
            raise ValueError(f"PNG pixel data length {len(raw)} != "
                             f"expected {pos}")
    else:
        if len(raw) != h * (w * bpp + 1):
            raise ValueError(f"PNG pixel data length {len(raw)} != "
                             f"expected {h * (w * bpp + 1)}")
        img = to_px(unfilter(raw, h, w), h, w)
    if color == 3:  # palette → RGB through PLTE
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        img = plte[img[:, :, 0]]
    return img.copy()


# ---------------------------------------------------------------------------
# netpbm (PGM/PPM) — the vision-pipeline interchange format (r12)
# ---------------------------------------------------------------------------

def encode_pnm(arr) -> bytes:
    """Serialize an (H, W) / (H, W, 1) gray or (H, W, 3) RGB uint8
    array into binary netpbm (P5/P6, maxval 255) — the zero-overhead
    container vision pipelines exchange decoded frames in."""
    import numpy as _np
    a = _np.asarray(arr, dtype=_np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise ValueError(
            f"encode_pnm wants (H,W[,1|3]) uint8, got {a.shape}")
    h, w, c = a.shape
    magic = b"P5" if c == 1 else b"P6"
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_pnm(data: bytes):
    """Parse a binary netpbm blob (P5 gray / P6 RGB, maxval <= 255) →
    (H, W, C) uint8 array.  Header whitespace and ``#`` comments per
    the spec; ASCII (P2/P3), bitmap (P1/P4), and 16-bit maxval raise
    ValueError."""
    import numpy as _np
    if not data or len(data) < 2:
        raise ValueError("not a netpbm blob")
    magic = data[:2]
    if magic in (b"P1", b"P2", b"P3", b"P4"):
        raise ValueError(f"netpbm {magic.decode()} (ASCII/bitmap) not "
                         "supported — binary P5/P6 only")
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a netpbm blob")
    # header token scan: magic, width, height, maxval — whitespace
    # separated, '#' comments run to end of line
    pos, toks = 2, []
    while len(toks) < 3:
        if pos >= len(data):
            raise ValueError("truncated netpbm header")
        ch = data[pos:pos + 1]
        if ch == b"#":
            nl = data.find(b"\n", pos)
            pos = len(data) if nl < 0 else nl + 1
        elif ch.isspace():
            pos += 1
        else:
            end = pos
            while end < len(data) and not data[end:end + 1].isspace():
                end += 1
            toks.append(data[pos:end])
            pos = end
    try:
        w, h, maxval = (int(t) for t in toks)
    except ValueError as e:
        raise ValueError(f"corrupt netpbm header: {toks}") from e
    if maxval > 255:
        raise ValueError(f"16-bit netpbm (maxval {maxval}) not "
                         "supported")
    if maxval < 1 or w < 1 or h < 1:
        raise ValueError(f"corrupt netpbm header: {w}x{h}@{maxval}")
    pos += 1                         # exactly ONE whitespace after maxval
    c = 1 if magic == b"P5" else 3
    need = w * h * c
    raster = data[pos:pos + need]
    if len(raster) < need:
        raise ValueError(f"truncated netpbm raster: {len(raster)} of "
                         f"{need} bytes")
    return _np.frombuffer(raster, _np.uint8).reshape(h, w, c).copy()


# ---------------------------------------------------------------------------
# AIFF — big-endian PCM audio (r12)
# ---------------------------------------------------------------------------

def _f80_pack(x: float) -> bytes:
    """80-bit IEEE 754 extended float (AIFF sample-rate field)."""
    import math
    if x <= 0 or math.isnan(x) or math.isinf(x):
        raise ValueError(f"AIFF sample rate must be positive: {x}")
    m, e = math.frexp(x)                 # x = m * 2^e, 0.5 <= m < 1
    exp = e + 16382
    mant = int(m * (1 << 64))            # explicit leading 1
    return struct.pack(">H", exp) + struct.pack(">Q", mant)


def _f80_unpack(b: bytes) -> float:
    if len(b) != 10:
        raise ValueError("AIFF extended float must be 10 bytes")
    (exp,) = struct.unpack(">H", b[:2])
    (mant,) = struct.unpack(">Q", b[2:])
    if exp == 0 and mant == 0:
        return 0.0
    sign = -1.0 if exp & 0x8000 else 1.0
    try:
        return sign * mant * 2.0 ** ((exp & 0x7FFF) - 16383 - 63)
    except OverflowError as e:
        # forged exponent (corrupt COMM chunk) — a decode failure,
        # not a crash
        raise ValueError("corrupt AIFF extended-float sample "
                         "rate") from e


def encode_aiff(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Serialize int16 samples (interleaved if multi-channel) into an
    AIFF blob — the big-endian sibling of :func:`encode_wav` (the
    container Mac-originated audio corpora arrive in)."""
    import numpy as _np
    arr = _np.asarray(samples, dtype=_np.int16)
    if n_channels < 1 or len(arr) % n_channels:
        raise ValueError(
            f"{len(arr)} samples not divisible by {n_channels} channels")
    nframes = len(arr) // n_channels
    comm = (struct.pack(">hIh", n_channels, nframes, 16)
            + _f80_pack(float(sample_rate)))
    pcm = arr.astype(">i2").tobytes()
    ssnd = struct.pack(">II", 0, 0) + pcm
    body = (b"AIFF"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
            + (b"\x00" if len(ssnd) % 2 else b""))
    return b"FORM" + struct.pack(">I", len(body)) + body


def decode_aiff(data: bytes):
    """Parse an AIFF blob → ``(sample_rate, n_channels, samples)``
    with samples int16 interleaved (the :func:`decode_wav` contract).
    Walks the IFF chunk list (word-aligned, any order); 16-bit PCM
    only — AIFC compression types and other depths raise."""
    import numpy as _np
    if not data or len(data) < 12 or data[:4] != b"FORM" \
            or data[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF blob")
    if data[8:12] == b"AIFC":
        raise ValueError("AIFC (compressed AIFF) not supported")
    pos, rate, nch, nframes, bits, pcm = 12, None, None, None, None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack(">I", data[pos + 4:pos + 8])
        if pos + 8 + size > len(data):
            raise ValueError(
                f"truncated AIFF: chunk {tag!r} declares {size} bytes, "
                f"{len(data) - pos - 8} remain")
        body = data[pos + 8:pos + 8 + size]
        if tag == b"COMM":
            if len(body) < 18:
                raise ValueError("truncated AIFF COMM chunk")
            nch, nframes, bits = struct.unpack(">hIh", body[:8])
            rate = _f80_unpack(body[8:18])
            if bits != 16:
                raise ValueError(f"only 16-bit AIFF supported "
                                 f"(bits={bits})")
        elif tag == b"SSND":
            if len(body) < 8:
                raise ValueError("truncated AIFF SSND chunk")
            (off,) = struct.unpack(">I", body[:4])
            pcm = body[8 + off:]
        pos += 8 + size + (size & 1)     # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("missing COMM/SSND chunk")
    samples = _np.frombuffer(pcm, ">i2").astype(_np.int16)
    if nframes is not None:
        samples = samples[:nframes * max(int(nch), 1)]
    return int(round(rate)), int(nch), samples


def _fake_decode_audio(data: bytes) -> tuple[int, int, str]:
    """Deterministic fake audio header parse: (sample_rate, n_samples,
    fmt) from a digest of the bytes.  Replace with soundfile/ffprobe in
    a real deployment."""
    d = hashlib.md5(data).digest()
    rate = [8000, 16000, 22050, 44100, 48000][d[6] % 5]
    n_samples = 1 + struct.unpack("<I", d[7:11])[0] % (rate * 30)
    fmt = ["wav", "flac", "mp3", "ogg"][d[11] % 4]
    return rate, n_samples, fmt


# ---------------------------------------------------------------------------
# The codec table: one entry per codec name, one slot per media kind
# ---------------------------------------------------------------------------

class _Codec(NamedTuple):
    """One codec's functions by media kind; a slot is None where the
    codec lacks that kind.

    * image: ``image_decode(b)`` → (H, W, C) array; ``image_encode(a)``
      → bytes (None for gif: resize sampled frames instead).
    * audio: ``audio_decode(b)`` → (rate, n_channels, interleaved int16).
    * video: ``video_info(b)`` → (width, height, n_frames, fps);
      ``video_frames(b, n)`` → the first ``n`` frames, which
      ``frame_blob`` turns into output blobs (None: they are blobs
      already); ``video_pixels(b)`` → (n_frames, width, height, the
      frames whose pixels :func:`media_profile` sums).
    * container: ``container`` = (``info(b)`` → a mediainfo dict, the
      dict key that counts its units).
    """
    image_decode: Optional[Callable] = None
    image_encode: Optional[Callable] = None
    audio_decode: Optional[Callable] = None
    video_info: Optional[Callable] = None
    video_frames: Optional[Callable] = None
    frame_blob: Optional[Callable] = None
    video_pixels: Optional[Callable] = None
    container: "Optional[tuple[Callable, str]]" = None


def _lazy_op(module: str):
    """``conduino_spark.operators.<module>``, imported at first use:
    the webp and mpeg1 codecs (~45 ms of imports) stay out of the
    Python workers that never decode them."""
    return importlib.import_module(f"conduino_spark.operators.{module}")


def _webp_info(b: bytes):
    # canvas dims from VP8X, count and durations from the ANMF walk, no
    # pixel decode; fps from the mean frame duration (0 when static)
    w, h, durs = _lazy_op("webp").anim_metadata(b)
    tot = sum(durs)
    return w, h, len(durs), round(1000 * len(durs) / tot) if tot > 0 else 0


def _avi_info(b: bytes):
    fps, w, h, blobs = decode_avi(b)
    return w, h, len(blobs), fps


def _avi_pixels(b: bytes):
    # MJPEG frames decode independently: the first one stands for all
    _fps, w, h, blobs = decode_avi(b, max_frames=None)
    return len(blobs), w, h, [decode_jpeg(blobs[0])]


def _ps_video_es(b: bytes) -> bytes:
    """A program stream's video elementary stream (pack/PES demux)."""
    return _lazy_op("mpeg1").mpeg_ps_video_es(bytes(b))


def _sniffed_es(b: bytes) -> bytes:
    # a pack start code marks a program stream
    return _ps_video_es(b) if b[:4] == b"\x00\x00\x01\xba" else b


def _mpeg_info(b: bytes):
    i = _lazy_op("mpeg1").mpeg1_info(_sniffed_es(b))
    return i["width"], i["height"], i["n_pictures"], round(i["fps"])


def _mpeg_pixels(b: bytes):
    # every picture: the I/P reconstruction chain is what the stats pin
    _fps, (w, h), fs = _lazy_op("mpeg1").decode_mpeg1(_sniffed_es(b))
    return len(fs), w, h, fs


def _mpeg_container(b: bytes) -> dict:
    i = _lazy_op("mpeg1").mpeg1_info(_sniffed_es(b))
    return dict(i, duration_ms=int(round(i["n_pictures"] * 1000
                                         / i["fps"])))


#: ``mpeg1`` and ``mpeg_ps`` name one entry: every slot sniffs the
#: blob, so either name reads an elementary or a program stream
_MPEG = _Codec(video_info=_mpeg_info,
               video_frames=lambda b, n: _lazy_op("mpeg1").decode_mpeg1(
                   _sniffed_es(b), max_frames=n)[2],
               frame_blob=encode_png, video_pixels=_mpeg_pixels,
               container=(_mpeg_container, "n_pictures"))


_CODECS: "dict[str, _Codec]" = {
    "bmp": _Codec(image_decode=decode_bmp, image_encode=encode_bmp),
    "png": _Codec(image_decode=decode_png, image_encode=encode_png),
    "jpeg": _Codec(image_decode=decode_jpeg, image_encode=encode_jpeg),
    "gif": _Codec(image_decode=lambda b: decode_gif(b, max_frames=1)[0][0],
                  video_frames=lambda b, n: decode_gif(b, max_frames=n)[0],
                  frame_blob=encode_png),
    "tiff": _Codec(image_decode=decode_tiff, image_encode=encode_tiff),
    "pnm": _Codec(image_decode=decode_pnm, image_encode=encode_pnm),
    # animation frames are the stream's own VP8L bitstreams re-wrapped
    "webp": _Codec(image_decode=lambda b: _lazy_op("webp").decode_webp(b),
                   image_encode=lambda a: _lazy_op("webp").encode_webp(a),
                   video_info=_webp_info,
                   video_frames=lambda b, n: _lazy_op("webp").anim_frames(
                       b, max_frames=n)[0]),
    "wav": _Codec(audio_decode=decode_wav),
    "flac": _Codec(audio_decode=decode_flac),
    "aiff": _Codec(audio_decode=decode_aiff),
    "mp3": _Codec(audio_decode=decode_mp3,
                  container=(mi.mp3_info, "n_frames")),
    "ogg": _Codec(audio_decode=decode_vorbis,
                  container=(mi.ogg_info, "n_pages")),
    "vorbis": _Codec(audio_decode=decode_vorbis),
    "mp4": _Codec(container=(mi.mp4_info, "n_tracks")),
    "webm": _Codec(container=(mi.webm_info, "n_tracks")),
    # sampled frames are the stream's own JPEG blobs, bit-equal
    "avi": _Codec(video_info=_avi_info,
                  video_frames=lambda b, n: decode_avi(b, max_frames=n)[3],
                  video_pixels=_avi_pixels),
    "mpeg1": _MPEG,
    "mpeg_ps": _MPEG,
}

_NO_CODEC = _Codec()


def _codec(name) -> _Codec:
    """The table entry for ``name``; an entry with no slots when there
    is none.  Row functions look codecs up through here, so a stage
    ships its Python workers this function's name, not a copy of the
    table."""
    return _CODECS.get(name, _NO_CODEC)


#: what a codec that fails to decode raises; media_profile and
#: container_info land such blobs as format='error' rows
_DECODE_ERRORS = (ValueError, struct.error, IndexError, OverflowError)


def _check_codec(op: str, codec, slots, what: str,
                 extra=("fake", "real")) -> None:
    """Refuse, at build time, a codec with none of ``slots`` filled."""
    names = tuple(n for n, c in _CODECS.items()
                  if any(getattr(c, s) is not None for s in slots)) + extra
    if codec not in names:
        raise ValueError(f"{op}: unknown {what} {codec!r} (one of {names})")


def _native_probe(kind: str):
    """Importlib probe for the optional native decode libraries: PIL
    for images, soundfile for audio, av (PyAV / ffmpeg bindings) for
    video.  Returns the imported module or None (tests skip, not fail,
    when absent: tests/test_round15.py)."""
    name = {"image": "PIL.Image", "audio": "soundfile",
            "video": "av"}[kind]
    try:
        return importlib.import_module(name)
    except Exception:
        return None


def _native(kind: str, needs: str):
    """The ``codec='real'`` slot's library; when the probe finds none,
    the slot's NotImplementedError saying what it needs."""
    lib = _native_probe(kind)
    if lib is None:
        raise NotImplementedError(needs)
    return lib


def _sample_frames(frames: Iterable, every_n: int, max_frames: int):
    """(frame_no, frame) for every ``every_n``-th frame, at most
    ``max_frames`` of them; stops pulling frames after the last."""
    taken = 0
    for i, fr in enumerate(frames):
        if taken >= max_frames:
            break
        if i % every_n == 0:
            yield i, fr
            taken += 1


def _per_blob(name: str, schema: str, row: Callable, binary_col: str,
              id_col: str, *, codec: "str | None" = None,
              codec_col: "str | None" = None,
              fan_out: bool = False) -> Stage:
    """The media operators' one ``mapInPandas`` pass.  ``row(codec,
    blob)`` returns the output columns after the id for one blob (with
    ``fan_out``, a list of such tuples); ``codec`` is the operator's own
    or the blob's ``codec_col`` value, and a NULL blob arrives as
    ``b""``."""
    names = [c.split()[0] for c in schema.split(",")]

    def fn(df: DataFrame) -> DataFrame:
        cols = [F.col(id_col), F.col(binary_col)]
        if codec_col is not None:
            cols.append(F.col(codec_col))

        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                codecs = (pdf[codec_col] if codec_col is not None
                          else [codec] * len(pdf))
                out = []
                for i, c, b in zip(pdf[id_col], codecs, pdf[binary_col]):
                    got = row(c, b if b is not None else b"")
                    if fan_out:
                        out.extend((i,) + r for r in got)
                    else:
                        out.append((i,) + got)
                yield pd.DataFrame(out, columns=names)

        return df.select(*cols).mapInPandas(run, schema)

    return Stage(fn, name=name, seq_preserving=False)


# ---------------------------------------------------------------------------
# The operators: each is its docstring plus a per-blob row function
# ---------------------------------------------------------------------------

def image_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode image headers → typed metadata rows.  ``mapInPandas``
    streams Arrow batches of blobs; output schema is fixed/typed."""
    _check_codec("image_metadata", codec, ("image_decode",), "image codec")

    def row(codec, b):
        if codec == "real":
            pil = _native("image", "codec='real' image metadata needs PIL "
                          "(pillow) — importlib probe found none; "
                          "bmp/png/jpeg/webp decode is REAL today via "
                          "codec=, PIL is only required for lossy VP8")
            with pil.open(io.BytesIO(b)) as im:
                meta = (im.width, im.height, len(im.getbands()),
                        (im.format or "unknown").lower())
        elif codec == "fake":
            meta = _fake_decode_image(b)
        else:
            a = _codec(codec).image_decode(b)
            meta = (a.shape[1], a.shape[0], a.shape[2], codec)
        return meta + (len(b),)

    return _per_blob("image_metadata", IMAGE_META_SCHEMA, row, binary_col,
                     id_col, codec=codec)


def audio_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode audio headers → typed metadata rows (the
    :data:`AUDIO_META_SCHEMA` shape) — same ``mapInPandas`` Arrow
    plumbing as :func:`image_metadata`, with the duration derivable as
    ``n_samples / sample_rate`` downstream in pure column algebra."""
    _check_codec("audio_metadata", codec, ("audio_decode",), "audio codec")

    def row(codec, b):
        if codec == "real":
            sfm = _native("audio", "codec='real' audio metadata needs "
                          "soundfile — importlib probe found none; "
                          "wav (incl. G.711/ADPCM), flac, aiff, mp3 "
                          "and ogg-vorbis decode is REAL today via "
                          "codec=, soundfile is only required for "
                          "opus")
            info = sfm.info(io.BytesIO(b))
            return (int(info.samplerate), int(info.frames),
                    str(info.format).lower())
        if codec == "fake":
            return _fake_decode_audio(b)
        rate, nch, pcm = _codec(codec).audio_decode(b)
        return rate, len(pcm) // max(nch, 1), codec

    return _per_blob("audio_metadata", AUDIO_META_SCHEMA, row, binary_col,
                     id_col, codec=codec)


def image_resize(binary_col: str = "content", id_col: str = "id", *,
                 width: int = 224, height: int = 224, codec: str = "fake") -> Stage:
    """Resize stub: real Arrow plumbing, fake resample (content digest ⊕
    target dims).  Output keeps binary type so downstream stages are
    schema-stable when a real codec lands.

    With a real codec: nearest-neighbor resize (decode, index-map,
    re-encode) in the blob's own codec — png gray/alpha channel counts
    survive, palettes resolve to RGB, jpeg re-encodes lossily."""
    if _codec(codec).image_decode and _codec(codec).image_encode is None:
        raise ValueError(
            f"image_resize(codec={codec!r}): sample frames first "
            f"(frame_sample(codec={codec!r}) emits PNG frames) and "
            "resize those")
    _check_codec("image_resize", codec, ("image_encode",), "image codec")

    def row(codec, b):
        if codec == "real":
            pil = _native("image", "codec='real' resize needs PIL (pillow) "
                          "— importlib probe found none; bmp/png/jpeg/"
                          "webp resize is REAL today via codec=, PIL is "
                          "only required for lossy VP8")
            rs = getattr(pil, "Resampling", pil)
            with pil.open(io.BytesIO(b)) as im:
                fmt = im.format or "PNG"
                buf = io.BytesIO()
                im.resize((width, height), rs.NEAREST).save(buf, format=fmt)
            out = buf.getvalue()
        elif codec == "fake":
            out = hashlib.md5(b + struct.pack("<II", width, height)).digest()
        else:
            a = _codec(codec).image_decode(b)
            ys = np.linspace(0, a.shape[0] - 1, height).round().astype(int)
            xs = np.linspace(0, a.shape[1] - 1, width).round().astype(int)
            out = _codec(codec).image_encode(a[ys][:, xs])
        return out, width, height

    return _per_blob("image_resize",
                     "id long, content binary, width int, height int", row,
                     binary_col, id_col, codec=codec)


def frame_sample(binary_col: str = "content", id_col: str = "id", *,
                 every_n: int = 30, max_frames: int = 8,
                 codec: str = "fake") -> Stage:
    """Frame sampling: 1 input row → ≤max_frames rows (the 1:N fan-out
    shape of frame extraction).

    ``codec='gif'`` is REAL: animated GIFs decode (pure-Python LZW,
    operators/gif.py), every ``every_n``-th composited frame is kept up
    to ``max_frames``, and each sampled frame is emitted as a PNG blob
    (:func:`encode_png`) so the downstream image operators compose
    (``frame_sample | image_resize(codec='png')``).  The decode stops
    at the last needed frame — later frames are never LZW-decoded.

    ``codec='avi'`` is REAL: Motion-JPEG AVI (operators/avi.py
    container walk + the real baseline-JPEG decoder per frame) — the
    sampled frames are the stream's own JPEG blobs re-emitted AS-IS
    (no re-encode generation loss; ``image_resize(codec='jpeg')``
    composes downstream).  The walk early-stops after the last needed
    frame.

    ``codec='webp'`` is REAL: animated lossless WebP (VP8X/ANMF walk,
    operators/webp.py) — sampled frames are the stream's own VP8L
    bitstreams re-wrapped as standalone WebP files (the AVI
    bit-preserving convention); a static WebP yields itself as frame 0.

    ``codec='mpeg1'`` is REAL: MPEG-1 video elementary streams
    (operators/mpeg1.py — I/P pictures, motion compensation, the
    certified-table subset documented there); sampled frames are
    decoded and re-emitted as PNG blobs (the GIF convention).  Program
    streams (``mpeg_ps``, what real .mpg files are) demux first.
    mp4/webm containers keep the ffmpeg raise slot."""
    _check_codec("frame_sample", codec, ("video_frames",), "video codec")
    need = 1 + (max_frames - 1) * every_n

    def row(codec, b):
        if codec == "real":
            avm = _native("video", "codec='real' frame sampling needs av "
                          "(PyAV/ffmpeg) — importlib probe found none; "
                          "animated GIF, MJPEG AVI, animated WebP and "
                          "MPEG-1 are REAL today via codec=")
            with avm.open(io.BytesIO(b)) as c:
                return [(i, encode_png(fr.to_ndarray(format="rgb24")))
                        for i, fr in _sample_frames(c.decode(video=0),
                                                    every_n, max_frames)]
        if codec == "fake":
            n = 1 + (hashlib.md5(b).digest()[0] % max_frames)
            return [(i * every_n, hashlib.md5(b + struct.pack("<I", i))
                     .digest()) for i in range(n)]
        c = _codec(codec)
        frames = _sample_frames(c.video_frames(b, need), every_n, max_frames)
        if c.frame_blob is None:
            return list(frames)
        return [(i, c.frame_blob(fr)) for i, fr in frames]

    return _per_blob("frame_sample", "id long, frame_no int, frame binary",
                     row, binary_col, id_col, codec=codec, fan_out=True)


VIDEO_META_SCHEMA = ("id long, width int, height int, n_frames long, "
                     "fps int, format string")


def video_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode video container headers → typed metadata rows (the
    :data:`VIDEO_META_SCHEMA` shape).  ``codec='avi'`` is REAL —
    Motion-JPEG AVI via operators/avi.py (dims/fps from the avih/strh
    headers, frame count from the movi walk); so are animated ``webp``
    and ``mpeg1``/``mpeg_ps`` (sequence header and picture walk, no
    pixel decode); ``codec='real'`` raises until ffmpeg lands
    (mp4/webm); the default fake is the deterministic byte-digest test
    double."""
    _check_codec("video_metadata", codec, ("video_info",), "video codec")

    def row(codec, b):
        if codec == "real":
            avm = _native("video", "codec='real' video metadata needs av "
                          "(PyAV/ffmpeg) — importlib probe found none; "
                          "MJPEG AVI, animated WebP and MPEG-1 are REAL "
                          "today via codec=")
            with avm.open(io.BytesIO(b)) as c:
                s = c.streams.video[0]
                return (int(s.codec_context.width),
                        int(s.codec_context.height), int(s.frames or 0),
                        int(round(float(s.average_rate or 0))),
                        str(s.codec_context.name or "video"))
        if codec == "fake":
            d = hashlib.sha256(b).digest()
            return (160 + d[0], 90 + d[1], 1 + d[2] % 64, 24 + d[3] % 7,
                    "fake")
        return _codec(codec).video_info(b) + (codec,)

    return _per_blob("video_metadata", VIDEO_META_SCHEMA, row, binary_col,
                     id_col, codec=codec)


def feature_extract(binary_col: str = "content", id_col: str = "id", *,
                    dim: int = 16, codec: str = "fake") -> Stage:
    """Feature-extraction stub: blob → float vector (the embedding
    shape), deterministic from bytes.

    With a real codec the vector holds signal stats, zero-padded to
    ``dim``: audio gives duration, RMS, zero-crossing rate and peak;
    images give dims plus per-channel mean and std in [0, 1] (first 3
    channels).  ``codec='real'`` emits PIL pixel stats — a learned
    vision/audio encoder is a model, not a codec."""
    _check_codec("feature_extract", codec, ("audio_decode", "image_decode"),
                 "codec")

    def row(codec, b):
        if codec == "real":
            pil = _native("image", "codec='real' feature extraction needs "
                          "PIL (pillow) for pixel decode — importlib "
                          "probe found none; wire a vision/audio encoder "
                          "here (wav/bmp/png/jpeg signal stats are REAL "
                          "today)")
            with pil.open(io.BytesIO(b)) as im:
                a = np.asarray(im.convert("RGB"), dtype=np.float64)
            v = [a.shape[0], a.shape[1], a.shape[2], float(a.mean()),
                 float(a.std()), float(a.min()), float(a.max())]
        elif codec == "fake":
            d = hashlib.sha256(b).digest()
            v = [d[i] / 255.0 for i in range(dim)]
        elif _codec(codec).audio_decode:
            rate, nch, pcm = _codec(codec).audio_decode(b)
            x = pcm.astype(np.float64) / 32768.0
            v = [len(pcm) / max(nch, 1) / rate,
                 float(np.sqrt((x * x).mean())) if len(x) else 0.0,
                 float((np.diff(np.signbit(x)) != 0).mean())
                 if len(x) > 1 else 0.0,
                 float(np.abs(x).max()) if len(x) else 0.0]
        else:
            a0 = _codec(codec).image_decode(b)
            # normalize by the decoded dtype's full scale (16-bit PNGs
            # decode as uint16)
            a = a0.astype(np.float64) / np.iinfo(a0.dtype).max
            nc = min(a.shape[2], 3)
            v = ([float(a.shape[0]), float(a.shape[1])]
                 + [float(a[:, :, c].mean()) for c in range(nc)]
                 + [float(a[:, :, c].std()) for c in range(nc)])
        return ((v + [0.0] * dim)[:dim],)

    return _per_blob("feature_extract", "id long, features array<double>",
                     row, binary_col, id_col, codec=codec)


#: magic-byte signatures for format sniffing — (format, hex prefix,
#: byte offset).  Pure bytes comparison: no codec library involved,
#: so unlike the decode operators this is REAL (not stubbed) in any
#: environment.
MAGIC_SIGNATURES: "list[tuple[str, str, int]]" = [
    ("png",  "89504e47", 0),
    ("jpeg", "ffd8ff",   0),
    ("gif",  "474946",   0),
    ("riff", "52494646", 0),   # container: WAV/AVI/WebP — see refinement
    ("pdf",  "25504446", 0),
    ("zip",  "504b0304", 0),
    ("mp3",  "494433",   0),   # ID3-tagged
    ("flac", "664c6143", 0),
    ("tiff", "49492a00", 0),   # little-endian (II*\0)
    ("tiff", "4d4d002a", 0),   # big-endian (MM\0*)
    ("pnm",  "5035",     0),   # binary PGM (P5)
    ("pnm",  "5036",     0),   # binary PPM (P6)
    ("form", "464f524d", 0),   # container: AIFF/AIFC — see refinement
    ("ogg",  "4f676753", 0),   # OggS page (Vorbis/Opus)
    ("webm", "1a45dfa3", 0),   # EBML (WebM/Matroska)
    ("mp4",  "66747970", 4),   # ISO BMFF: 'ftyp' at byte 4
    ("mpeg1", "000001b3", 0),  # MPEG video elementary stream (r14)
    ("mpeg_ps", "000001ba", 0),  # MPEG program stream pack (r14)
    ("bmp",  "424d",     0),   # 'BM' DIB (r15 — was a sniff gap:
    # bmp decoded for real since r10 but never got a magic row, so
    # mixed-column dispatch sent every bmp to the error bucket)
    # bare MPEG-audio sync (no ID3) — 2-byte prefixes, lowest priority
    ("mp3",  "fffb",     0),
    ("mp3",  "fffa",     0),   # MPEG-1 L3 with CRC
    ("mp3",  "fff3",     0),
    ("mp3",  "fff2",     0),
]


def sniff_format(binary_col: str = "content", *,
                 out: str = "format") -> Stage:
    """Detect a binary column's container format from magic bytes —
    the multimodal ingestion gate that needs NO codec library: a
    mislabeled blob (a PDF in the image column, truncated junk) is
    flagged before any decode UDF wastes a batch on it.

    Pure column algebra: ``hex(substring(content, ...))`` prefix
    comparisons, whole-stage codegen, no shuffle, NULL/short blobs →
    'unknown'.  RIFF containers are refined by their subtype tag
    (bytes 9-12: WAVE/AVI /WEBP)."""

    def fn(df: DataFrame) -> DataFrame:
        b = F.col(binary_col)
        head = F.lower(F.hex(F.substring(b, 1, 8)))
        expr = F.lit("unknown")
        for fmt, sig, off in reversed(MAGIC_SIGNATURES):
            cond = head.startswith(sig) if off == 0 else \
                F.lower(F.hex(F.substring(b, off + 1, len(sig) // 2))) \
                 .startswith(sig)
            expr = F.when(cond, F.lit(fmt)).otherwise(expr)
        # refine RIFF by subtype tag (ASCII at bytes 9-12)
        sub = F.decode(F.substring(b, 9, 4), "UTF-8")
        expr = (F.when(expr == "riff",
                       F.when(sub == "WAVE", F.lit("wav"))
                        .when(sub == F.lit("AVI "), F.lit("avi"))
                        .when(sub == "WEBP", F.lit("webp"))
                        .otherwise(F.lit("riff")))
                 .when(expr == "form",
                       F.when(sub.isin("AIFF", "AIFC"), F.lit("aiff"))
                        .otherwise(F.lit("form")))
                 .otherwise(expr))
        return df.withColumn(
            out, F.when(b.isNull(), F.lit("unknown")).otherwise(expr))

    return Stage(fn, name="sniff_format", seq_preserving=True)


def container_info(binary_col: str = "content", id_col: str = "id", *,
                   codec: "str | None" = None,
                   codec_col: "str | None" = None) -> Stage:
    """Header-level metadata for the lossy/DSP containers
    (operators/mediainfo.py) — REAL parsing of mp3 / ogg(vorbis,
    opus) / mp4 / webm container structure with NO sample decode: a
    100 TB corpus-health pass mostly needs duration, rate, channels,
    dims, and unit counts, and those are fixed-layout header facts.
    The sample-decode slots for these formats stay honest raises in
    :func:`audio_metadata` / :func:`video_metadata` until
    soundfile/ffmpeg land.

    Dispatch like :func:`media_profile`: ``codec=`` for a homogeneous
    column or ``codec_col=`` (from :func:`sniff_format`) for a mixed
    one.  Output per blob — audio rows carry (sample_rate, channels),
    video rows (width, height); ``n_units`` = frames (mp3), pages
    (ogg), tracks (mp4/webm), pictures (mpeg1/mpeg_ps); unparseable
    blobs land as format='error' zeros, never aborting the batch."""
    if (codec is None) == (codec_col is None):
        raise ValueError("container_info: pass exactly one of "
                         "codec= or codec_col=")
    if codec is not None:
        _check_codec("container_info", codec, ("container",), "container",
                     extra=())

    def row(codec, b):
        c = _codec(codec)
        try:
            if c.container is not None:
                info, units = c.container
                i = info(b)
                return (i.get("codec", codec), i.get("width", 0),
                        i.get("height", 0), i.get("rate", 0),
                        i.get("channels", 0), i["duration_ms"], i[units])
        except _DECODE_ERRORS:
            pass
        return ("error", 0, 0, 0, 0, 0, 0)

    return _per_blob("container_info",
                     "id long, format string, width int, height int, "
                     "sample_rate int, channels int, duration_ms long, "
                     "n_units long", row, binary_col, id_col, codec=codec,
                     codec_col=codec_col)


def media_profile(binary_col: str = "content", id_col: str = "id", *,
                  codec: "str | None" = None,
                  codec_col: "str | None" = None) -> Stage:
    """Corpus-health profile of a binary media column — the multimodal
    analog of ``profile_table``: REAL decode (no codec library), then
    exact INTEGER statistics per blob, so a media profile can be
    re-derived bit-for-bit by any engine that knows the source data
    (the driver-gate hash convention — floats never enter the row).

    Dispatch: pass ``codec='png'`` etc. for a homogeneous column, or
    ``codec_col='format'`` (usually from :func:`sniff_format`) for a
    mixed column profiled in one pass.  Output per blob:

    * ``format``  — the codec that decoded it (``'error'`` when the
      blob fails to decode or the format has no real decoder here;
      profiling a dirty corpus must not abort the batch).
    * audio: ``n_units`` = interleaved sample count, ``meta`` =
      ``sample_rate * 10 + n_channels``, ``sum_abs`` / ``max_abs`` =
      Σ|pcm| and max|pcm| (int16 domain, exact int64 sums).
    * image: ``n_units`` = ``h*w*c`` sample count, ``meta`` =
      ``h*1_000_000 + w*1_000 + c``, ``sum_abs`` / ``max_abs`` =
      pixel sum and max (uint8 domain).  GIF profiles its FIRST
      composited frame (see ``frame_sample`` for the 1:N path).
    * video (avi, mpeg1, mpeg_ps): ``n_units`` = frame count, ``meta``
      = ``h*1_000_000 + w*1_000``, pixel sum and max over the first
      frame (avi: its MJPEG frames decode independently) or over every
      frame (mpeg: the I/P reconstruction chain is what the stats pin).

    Scale: one ``mapInPandas`` pass, Arrow-batched, no shuffle; stats
    are mergeable downstream by plain ``groupBy(...).sum()``.
    Reference anchor: conduino has no media types — north-star engine
    extension (SURVEY §7, M6)."""
    if (codec is None) == (codec_col is None):
        raise ValueError("media_profile: pass exactly one of "
                         "codec= or codec_col=")
    if codec is not None:
        _check_codec("media_profile", codec,
                     ("audio_decode", "image_decode", "video_pixels"),
                     "codec", extra=())

    def row(codec, b):
        c = _codec(codec)
        try:
            if c.audio_decode:
                rate, nch, pcm = c.audio_decode(b)
                a = np.abs(pcm.astype(np.int64))
                return (codec, int(len(pcm)), int(rate) * 10 + int(nch),
                        int(a.sum()), int(a.max()) if len(a) else 0)
            if c.image_decode:
                a = c.image_decode(b).astype(np.int64)
                h, w, ch = a.shape
                return (codec, int(a.size), h * 1_000_000 + w * 1_000 + ch,
                        int(a.sum()), int(a.max()) if a.size else 0)
            if c.video_pixels:
                n, w, h, frames = c.video_pixels(b)
                return (codec, n, h * 1_000_000 + w * 1_000,
                        sum(int(f.astype(np.int64).sum()) for f in frames),
                        max(int(f.max()) for f in frames))
        except _DECODE_ERRORS:
            pass
        return ("error", 0, 0, 0, 0)

    return _per_blob("media_profile",
                     "id long, format string, n_units long, meta long, "
                     "sum_abs long, max_abs long", row, binary_col, id_col,
                     codec=codec, codec_col=codec_col)
