"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (north star, BASELINE.json).

The Spark-side plumbing is REAL and tested: schemas, Arrow batch shape,
``mapInPandas`` signatures, partitioning.  Codec status (r11):

* ``codec='wav'`` / ``codec='bmp'`` — REAL decoders (plus writers
  :func:`encode_wav` / :func:`encode_bmp`): RIFF/DIB are struct
  parses and the payloads fixed-layout numpy arrays.
* ``codec='png'`` (r11) — REAL: stdlib zlib + numpy, all five row
  filters, gray/alpha/RGB/RGBA + palette (:func:`encode_png` /
  :func:`decode_png`).
* ``codec='jpeg'`` (r11) — REAL baseline/extended-sequential decode +
  baseline encode in pure numpy (operators/jpeg.py): in-file
  DQT/DHT tables, 4:4:4/4:2:2/4:2:0, restart markers; progressive
  raises.
* ``codec='gif'`` (r11) — REAL pure-Python LZW (operators/gif.py):
  multi-frame animations make :func:`frame_sample` a real 1:N
  extractor.
* ``codec='flac'`` (r11) — REAL lossless audio (operators/flac.py):
  Rice-coded fixed/LPC predictors, CRC-verified frames; decode_wav
  additionally grew G.711 μ-law/A-law + mono IMA ADPCM.
* ``codec='tiff'`` (r11) — REAL baseline TIFF (operators/tiff.py):
  both byte orders, gray/RGB/RGBA strips, none/PackBits compression.
* ``codec='pnm'`` / ``codec='aiff'`` (r12) — REAL: binary netpbm
  P5/P6 (the vision-pipeline interchange format) and big-endian AIFF
  PCM-16 (80-bit extended-float sample rates parsed exactly).
* ``codec='avi'`` (r12) — REAL video: Motion-JPEG AVI
  (operators/avi.py container walk + the real JPEG decoder per
  frame); :func:`video_metadata` and :func:`frame_sample` consume it,
  the sampled frames being the stream's own JPEG blobs bit-equal.
* ``codec='webp'`` (r12) — REAL lossless WebP (operators/webp.py):
  the full VP8L bitstream — prefix codes, meta-prefix groups, color
  cache, 2-D-mapped LZ77, and all four transforms — in pure
  Python + numpy; ANIMATED lossless WebP rides
  :func:`video_metadata` / :func:`frame_sample` (VP8X/ANMF walk,
  frames re-emitted bit-equal); the lossy VP8 profile raises.
  decode_wav additionally grew the IEEE-float variant (fmt 3).
* ``codec='real'`` — the remaining SAMPLE-DECODE slots (lossy-VP8
  webp; mp3/ogg audio; mp4/webm video) are WIRED behind an importlib
  probe (r15, ``_native_probe``): when PIL / soundfile / av are
  installed the slots decode through them; in this container they
  raise the documented ``NotImplementedError`` (environmental —
  lossy DSP).
  Their CONTAINER metadata is REAL regardless (r12b):
  :func:`container_info` parses mp3 frame walks, Ogg Vorbis/Opus
  pages, MP4 boxes, and WebM EBML (operators/mediainfo.py) — no
  sample decode needed for corpus-health facts.
* ``codec='fake'`` (default) — deterministic byte-digest fake, the
  test double that exercises the distributed pipeline at any scale.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.files.maxPartitionBytes`` sized so a partition of blobs
fits executor memory, and decode with ``mapInPandas`` (streaming
batches) rather than collect-style UDAFs.  The pure-Python decoders
are correctness-grade, not throughput-grade — measured single-core
numbers live in the README (tools/scale_probe.py records them per
round); wire PIL/soundfile into the raise slots for production decode
rates.  :func:`media_profile` (r12) emits exact INTEGER stats per
blob, the hash-verifiable corpus-health pass.

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
import struct
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conduino_spark.plans.core import Stage

IMAGE_META_SCHEMA = ("id long, width int, height int, channels int, "
                     "format string, n_bytes long")
AUDIO_META_SCHEMA = "id long, sample_rate int, n_samples long, format string"


# ---------------------------------------------------------------------------
# REAL pure-numpy codecs (r10): WAV (PCM int16) and BMP (BI_RGB 24bpp)
# need no external library — RIFF/DIB headers are struct parses and
# the payloads are fixed-layout arrays.  These flip the decode slots
# for two ubiquitous formats from "stubbed" to "real" in ANY
# environment; jpeg/png/mp3/... keep their codec='real' raise slots
# until PIL/soundfile land (environmental).
# ---------------------------------------------------------------------------

def _native_probe(kind: str):
    """Importlib probe for the optional native decode libraries (r15,
    VERDICT r14 #8): PIL for images, soundfile for audio, av (PyAV /
    ffmpeg bindings) for video.  Returns the imported module or None —
    the ``codec='real'`` slots call this FIRST and only raise the
    documented NotImplementedError when the library is genuinely
    absent, so the engine is production-usable the day the
    environment provides the libraries (tests skip, not fail, when
    absent: tests/test_round15.py)."""
    import importlib
    name = {"image": "PIL.Image", "audio": "soundfile",
            "video": "av"}[kind]
    try:
        return importlib.import_module(name)
    except Exception:
        return None


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
    d = hashlib.md5(data or b"").digest()
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


def _real_image_codec(codec: str):
    """(decode, encode) for the REAL image codecs: bmp (r10), png /
    baseline jpeg / gif (r11).  None when the codec is fake/stubbed.
    GIF decodes its FIRST composited frame here (metadata/features);
    its encode slot is None — resizing an animation means sampling
    frames first (``frame_sample(codec='gif')`` emits PNG frames)."""
    if codec == "bmp":
        return decode_bmp, encode_bmp
    if codec == "png":
        return decode_png, encode_png
    if codec == "jpeg":
        from conduino_spark.operators.jpeg import decode_jpeg, encode_jpeg
        return decode_jpeg, encode_jpeg
    if codec == "gif":
        from conduino_spark.operators.gif import decode_gif
        return (lambda b: decode_gif(b, max_frames=1)[0][0]), None
    if codec == "tiff":
        from conduino_spark.operators.tiff import decode_tiff, encode_tiff
        return decode_tiff, encode_tiff
    if codec == "pnm":
        return decode_pnm, encode_pnm
    if codec == "webp":
        from conduino_spark.operators.webp import (decode_webp,
                                                   encode_webp)
        return decode_webp, encode_webp
    return None


def image_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode image headers → typed metadata rows.  ``mapInPandas``
    streams Arrow batches of blobs; output schema is fixed/typed."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                if codec == "real":
                    pil = _native_probe("image")
                    if pil is None:
                        raise NotImplementedError(
                            "codec='real' image metadata needs PIL "
                            "(pillow) — importlib probe found none; "
                            "bmp/png/jpeg/webp decode is REAL today "
                            "via codec=, PIL is only required for "
                            "lossy VP8")
                    import io as _io
                    rows = []
                    for b in pdf[binary_col]:
                        with pil.open(_io.BytesIO(
                                b if b is not None else b"")) as im:
                            rows.append((im.width, im.height,
                                         len(im.getbands()),
                                         (im.format
                                          or "unknown").lower()))
                elif _real_image_codec(codec):
                    # REAL decode (r10 bmp; r11 png + baseline jpeg):
                    # pure numpy + stdlib, no codec library
                    dec, _ = _real_image_codec(codec)
                    rows = []
                    for b in pdf[binary_col]:
                        a = dec(b if b is not None else b"")
                        rows.append((a.shape[1], a.shape[0],
                                     a.shape[2], codec))
                else:
                    rows = [(_fake_decode_image(
                        b if b is not None else b""))
                        for b in pdf[binary_col]]
                yield pd.DataFrame({
                    "id": pdf[id_col],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "channels": [r[2] for r in rows],
                    "format": [r[3] for r in rows],
                    "n_bytes": [len(b) if b is not None else 0
                                for b in pdf[binary_col]],
                })

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, IMAGE_META_SCHEMA)

    return Stage(fn, name="image_metadata", seq_preserving=False)


def _fake_decode_audio(data: bytes) -> tuple[int, int, str]:
    """Deterministic fake audio header parse: (sample_rate, n_samples,
    fmt) from a digest of the bytes.  Replace with soundfile/ffprobe in
    a real deployment."""
    d = hashlib.md5(data or b"").digest()
    rate = [8000, 16000, 22050, 44100, 48000][d[6] % 5]
    n_samples = 1 + struct.unpack("<I", d[7:11])[0] % (rate * 30)
    fmt = ["wav", "flac", "mp3", "ogg"][d[11] % 4]
    return rate, n_samples, fmt


def _real_audio_codec(codec: str):
    """decode fn for the REAL audio codecs — (rate, n_channels,
    int16 interleaved samples).  wav (r10 + r11 G.711/ADPCM variants),
    flac (r11, operators/flac.py), aiff (r12), mp3 (r13,
    operators/mp3.py — MPEG-1/2 Layer III sample decode); None for
    fake/stubbed."""
    if codec == "wav":
        return decode_wav
    if codec == "flac":
        from conduino_spark.operators.flac import decode_flac
        return decode_flac
    if codec == "aiff":
        return decode_aiff
    if codec == "mp3":
        from conduino_spark.operators.mp3 import decode_mp3
        return decode_mp3
    if codec in ("ogg", "vorbis"):
        # r13: Ogg-Vorbis sample decode (operators/vorbis.py);
        # "ogg" is what sniff_format tags — an Opus payload inside
        # raises ValueError (media_profile lands it as an error row)
        from conduino_spark.operators.vorbis import decode_vorbis
        return decode_vorbis
    return None


def audio_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode audio headers → typed metadata rows (the
    :data:`AUDIO_META_SCHEMA` shape) — same ``mapInPandas`` Arrow
    plumbing as :func:`image_metadata`, with the duration derivable as
    ``n_samples / sample_rate`` downstream in pure column algebra."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                if codec == "real":
                    sfm = _native_probe("audio")
                    if sfm is None:
                        raise NotImplementedError(
                            "codec='real' audio metadata needs "
                            "soundfile — importlib probe found none; "
                            "wav (incl. G.711/ADPCM), flac, aiff, mp3 "
                            "and ogg-vorbis decode is REAL today via "
                            "codec=, soundfile is only required for "
                            "opus")
                    import io as _io
                    rows = []
                    for b in pdf[binary_col]:
                        info = sfm.info(_io.BytesIO(
                            b if b is not None else b""))
                        rows.append((int(info.samplerate),
                                     int(info.frames),
                                     str(info.format).lower()))
                elif _real_audio_codec(codec):
                    # REAL decode (r10 wav; r11 flac): pure numpy +
                    # stdlib, no codec library
                    dec = _real_audio_codec(codec)
                    rows = []
                    for b in pdf[binary_col]:
                        rate, nch, pcm = dec(
                            b if b is not None else b"")
                        rows.append((rate, len(pcm) // max(nch, 1),
                                     codec))
                else:
                    rows = [_fake_decode_audio(
                        b if b is not None else b"")
                        for b in pdf[binary_col]]
                yield pd.DataFrame({
                    "id": pdf[id_col],
                    "sample_rate": [r[0] for r in rows],
                    "n_samples": [r[1] for r in rows],
                    "format": [r[2] for r in rows],
                })

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, AUDIO_META_SCHEMA)

    return Stage(fn, name="audio_metadata", seq_preserving=False)


def image_resize(binary_col: str = "content", id_col: str = "id", *,
                 width: int = 224, height: int = 224, codec: str = "fake") -> Stage:
    """Resize stub: real Arrow plumbing, fake resample (content digest ⊕
    target dims).  Output keeps binary type so downstream stages are
    schema-stable when a real codec lands."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            import numpy as _np
            for pdf in batches:
                if codec == "real":
                    pil = _native_probe("image")
                    if pil is None:
                        raise NotImplementedError(
                            "codec='real' resize needs PIL (pillow) — "
                            "importlib probe found none; bmp/png/jpeg/"
                            "webp resize is REAL today via codec=, "
                            "PIL is only required for lossy VP8")
                    import io as _io
                    rs = getattr(pil, "Resampling", pil)
                    out = []
                    for b in pdf[binary_col]:
                        with pil.open(_io.BytesIO(
                                b if b is not None else b"")) as im:
                            fmt = im.format or "PNG"
                            buf = _io.BytesIO()
                            im.resize((width, height),
                                      rs.NEAREST).save(buf, format=fmt)
                            out.append(buf.getvalue())
                elif _real_image_codec(codec):
                    # REAL nearest-neighbor resize (r10 bmp; r11 png +
                    # jpeg): decode, index-map, re-encode.  Each codec
                    # keeps its own container (png gray/alpha channel
                    # counts survive; palette resolves to RGB; jpeg
                    # re-encodes lossily, as any real resizer does).
                    dec, enc = _real_image_codec(codec)
                    if enc is None:
                        raise ValueError(
                            "image_resize(codec='gif'): sample frames "
                            "first (frame_sample(codec='gif') emits "
                            "PNG frames) and resize those")
                    out = []
                    for b in pdf[binary_col]:
                        a = dec(b if b is not None else b"")
                        ys = _np.linspace(0, a.shape[0] - 1, height) \
                            .round().astype(int)
                        xs = _np.linspace(0, a.shape[1] - 1, width) \
                            .round().astype(int)
                        out.append(enc(a[ys][:, xs]))
                else:
                    out = [hashlib.md5((b or b"")
                           + struct.pack("<II", width, height)).digest()
                           for b in pdf[binary_col]]
                yield pd.DataFrame({"id": pdf[id_col], "content": out,
                                    "width": width, "height": height})

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, "id long, content binary, width int, height int")

    return Stage(fn, name="image_resize", seq_preserving=False)


def frame_sample(binary_col: str = "content", id_col: str = "id", *,
                 every_n: int = 30, max_frames: int = 8,
                 codec: str = "fake") -> Stage:
    """Frame sampling: 1 input row → ≤max_frames rows (the 1:N fan-out
    shape of frame extraction).

    ``codec='gif'`` (r11) is REAL: animated GIFs decode (pure-Python
    LZW, operators/gif.py), every ``every_n``-th composited frame is
    kept up to ``max_frames``, and each sampled frame is emitted as a
    PNG blob (:func:`encode_png`) so the downstream image operators
    compose (``frame_sample | image_resize(codec='png')``).  The
    decode stops at the last needed frame — later frames are never
    LZW-decoded.

    ``codec='avi'`` (r12) is REAL: Motion-JPEG AVI (operators/avi.py
    container walk + the real baseline-JPEG decoder per frame) — the
    sampled frames are the stream's own JPEG blobs re-emitted AS-IS
    (no re-encode generation loss; ``image_resize(codec='jpeg')``
    composes downstream).  The walk early-stops after the last needed
    frame.

    ``codec='webp'`` (r12b) is REAL: animated lossless WebP
    (VP8X/ANMF walk, operators/webp.py) — sampled frames are the
    stream's own VP8L bitstreams re-wrapped as standalone WebP files
    (the AVI bit-preserving convention); a static WebP yields itself
    as frame 0.

    ``codec='mpeg1'`` (r14) is REAL: MPEG-1 video elementary streams
    (operators/mpeg1.py — I/P pictures, motion compensation, the
    certified-table subset documented there); sampled frames are
    decoded and re-emitted as PNG blobs (the GIF convention).
    mp4/webm containers keep the ffmpeg raise slot."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                ids, fnos, frames = [], [], []
                if codec == "real":
                    avm = _native_probe("video")
                    if avm is None:
                        raise NotImplementedError(
                            "codec='real' frame sampling needs av "
                            "(PyAV/ffmpeg) — importlib probe found "
                            "none; animated GIF, MJPEG AVI, animated "
                            "WebP and MPEG-1 are REAL today via "
                            "codec=")
                    import io as _io
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        taken = 0
                        with avm.open(_io.BytesIO(
                                b if b is not None else b"")) as c:
                            for i, fr in enumerate(
                                    c.decode(video=0)):
                                if taken >= max_frames:
                                    break
                                if i % every_n:
                                    continue
                                ids.append(vid)
                                fnos.append(i)
                                frames.append(encode_png(
                                    fr.to_ndarray(format="rgb24")))
                                taken += 1
                elif codec == "gif":
                    from conduino_spark.operators.gif import decode_gif
                    need = 1 + (max_frames - 1) * every_n
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        fs, _ = decode_gif(b if b is not None else b"",
                                           max_frames=need)
                        taken = 0
                        for i in range(0, len(fs), every_n):
                            if taken >= max_frames:
                                break
                            ids.append(vid)
                            fnos.append(i)
                            frames.append(encode_png(fs[i]))
                            taken += 1
                elif codec == "avi":
                    from conduino_spark.operators.avi import decode_avi
                    need = 1 + (max_frames - 1) * every_n
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        _, _, _, blobs = decode_avi(
                            b if b is not None else b"",
                            max_frames=need)
                        taken = 0
                        for i in range(0, len(blobs), every_n):
                            if taken >= max_frames:
                                break
                            ids.append(vid)
                            fnos.append(i)
                            frames.append(blobs[i])
                            taken += 1
                elif codec == "webp":
                    # r12b: animated lossless WebP — the sampled
                    # frames are the stream's own VP8L bitstreams
                    # re-wrapped as standalone WebP files (the AVI
                    # bit-preserving convention; image_resize(
                    # codec='webp') composes downstream)
                    from conduino_spark.operators.webp import \
                        anim_frames
                    need = 1 + (max_frames - 1) * every_n
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        blobs, _durs = anim_frames(
                            b if b is not None else b"",
                            max_frames=need)
                        taken = 0
                        for i in range(0, len(blobs), every_n):
                            if taken >= max_frames:
                                break
                            ids.append(vid)
                            fnos.append(i)
                            frames.append(blobs[i])
                            taken += 1
                elif codec in ("mpeg1", "mpeg_ps"):
                    # r14: MPEG-1 elementary streams — decoded canvas
                    # frames re-emitted as PNG (the GIF convention;
                    # image_resize(codec='png') composes downstream).
                    # The decode early-stops after the last needed
                    # picture.  Program streams (pack/PES wrapped —
                    # what real .mpg files are) demux transparently.
                    from conduino_spark.operators.mpeg1 import (
                        decode_mpeg1, mpeg_ps_video_es)
                    need = 1 + (max_frames - 1) * every_n
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        b = b if b is not None else b""
                        if b[:4] == b"\x00\x00\x01\xba":
                            b = mpeg_ps_video_es(bytes(b))
                        _, _, fs = decode_mpeg1(b, max_frames=need)
                        taken = 0
                        for i in range(0, len(fs), every_n):
                            if taken >= max_frames:
                                break
                            ids.append(vid)
                            fnos.append(i)
                            frames.append(encode_png(fs[i]))
                            taken += 1
                else:
                    for vid, b in zip(pdf[id_col], pdf[binary_col]):
                        b = b or b""
                        n = 1 + (hashlib.md5(b).digest()[0] % max_frames)
                        for i in range(n):
                            ids.append(vid)
                            fnos.append(i * every_n)
                            frames.append(hashlib.md5(
                                b + struct.pack("<I", i)).digest())
                yield pd.DataFrame({"id": ids, "frame_no": fnos,
                                    "frame": frames})

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, "id long, frame_no int, frame binary")

    return Stage(fn, name="frame_sample", seq_preserving=False)


VIDEO_META_SCHEMA = ("id long, width int, height int, n_frames long, "
                     "fps int, format string")


def video_metadata(binary_col: str = "content", id_col: str = "id", *,
                   codec: str = "fake") -> Stage:
    """Decode video container headers → typed metadata rows (the
    :data:`VIDEO_META_SCHEMA` shape).  ``codec='avi'`` (r12) is REAL —
    Motion-JPEG AVI via operators/avi.py (dims/fps from the avih/strh
    headers, frame count from the movi walk); ``codec='real'`` raises
    until ffmpeg lands (mp4/webm); the default fake is the
    deterministic byte-digest test double."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                rows = []
                if codec == "real":
                    avm = _native_probe("video")
                    if avm is None:
                        raise NotImplementedError(
                            "codec='real' video metadata needs av "
                            "(PyAV/ffmpeg) — importlib probe found "
                            "none; MJPEG AVI, animated WebP and "
                            "MPEG-1 are REAL today via codec=")
                    import io as _io
                    for b in pdf[binary_col]:
                        with avm.open(_io.BytesIO(
                                b if b is not None else b"")) as c:
                            s = c.streams.video[0]
                            rows.append((
                                int(s.codec_context.width),
                                int(s.codec_context.height),
                                int(s.frames or 0),
                                int(round(float(s.average_rate or 0))),
                                str(s.codec_context.name or "video")))
                elif codec == "avi":
                    from conduino_spark.operators.avi import decode_avi
                    for b in pdf[binary_col]:
                        fps, w, h, blobs = decode_avi(
                            b if b is not None else b"")
                        rows.append((w, h, len(blobs), fps, "avi"))
                elif codec == "webp":
                    # r12b: animated lossless WebP — canvas dims from
                    # the VP8X chunk (r13, the authoritative canvas —
                    # a frame may legally be smaller), count from the
                    # ANMF walk, fps from the mean frame duration
                    # (0 when static).  r14: metadata-only walk (no
                    # pixel decode, no compositing) so sub-canvas
                    # animations count frames/durations too
                    from conduino_spark.operators.webp import \
                        anim_metadata
                    for b in pdf[binary_col]:
                        w, h, durs = anim_metadata(
                            b if b is not None else b"")
                        tot = sum(durs)
                        fps = (round(1000 * len(durs) / tot)
                               if tot > 0 else 0)
                        rows.append((w, h, len(durs), fps, "webp"))
                elif codec in ("mpeg1", "mpeg_ps"):
                    # r14: MPEG-1 elementary stream — dims/fps from
                    # the sequence header, picture count from the
                    # start-code walk; no pixel decode.  Program
                    # streams demux (headers only) transparently.
                    from conduino_spark.operators.mpeg1 import (
                        mpeg1_info, mpeg_ps_video_es)
                    for b in pdf[binary_col]:
                        b = b if b is not None else b""
                        if b[:4] == b"\x00\x00\x01\xba":
                            b = mpeg_ps_video_es(bytes(b))
                        inf = mpeg1_info(b)
                        rows.append((inf["width"], inf["height"],
                                     inf["n_pictures"],
                                     round(inf["fps"]), codec))
                else:
                    for b in pdf[binary_col]:
                        d = hashlib.sha256(b or b"").digest()
                        rows.append((160 + d[0], 90 + d[1],
                                     1 + d[2] % 64, 24 + d[3] % 7,
                                     "fake"))
                yield pd.DataFrame({
                    "id": pdf[id_col],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "n_frames": [r[2] for r in rows],
                    "fps": [r[3] for r in rows],
                    "format": [r[4] for r in rows],
                })

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, VIDEO_META_SCHEMA)

    return Stage(fn, name="video_metadata", seq_preserving=False)


def feature_extract(binary_col: str = "content", id_col: str = "id", *,
                    dim: int = 16, codec: str = "fake") -> Stage:
    """Feature-extraction stub: blob → float vector (the embedding
    shape), deterministic from bytes."""

    def fn(df: DataFrame) -> DataFrame:
        def run(batches: Iterable[pd.DataFrame]):
            import numpy as _np
            for pdf in batches:
                if codec == "real":
                    # a learned vision/audio ENCODER is a model, not
                    # a codec: with PIL present we emit deterministic
                    # pixel-stat features (the signal-stat convention
                    # below); without it, the documented raise
                    pil = _native_probe("image")
                    if pil is None:
                        raise NotImplementedError(
                            "codec='real' feature extraction needs "
                            "PIL (pillow) for pixel decode — "
                            "importlib probe found none; wire a "
                            "vision/audio encoder here (wav/bmp/png/"
                            "jpeg signal stats are REAL today)")
                    import io as _io
                    vecs = []
                    for b in pdf[binary_col]:
                        with pil.open(_io.BytesIO(
                                b if b is not None else b"")) as im:
                            a = _np.asarray(im.convert("RGB"),
                                            dtype=_np.float64)
                        v = [a.shape[0], a.shape[1], a.shape[2],
                             float(a.mean()), float(a.std()),
                             float(a.min()), float(a.max())]
                        vecs.append((v + [0.0] * dim)[:dim])
                    yield pd.DataFrame({"id": pdf[id_col],
                                        "features": vecs})
                    continue
                vecs = []
                for b in pdf[binary_col]:
                    if _real_audio_codec(codec):
                        # REAL signal features (r10 wav, r11 flac):
                        # duration, RMS, zero-crossing rate, peak —
                        # zero-padded to dim
                        rate, nch, pcm = _real_audio_codec(codec)(
                            b or b"")
                        x = pcm.astype(_np.float64) / 32768.0
                        v = [len(pcm) / max(nch, 1) / rate,
                             float(_np.sqrt((x * x).mean())) if len(x)
                             else 0.0,
                             float((_np.diff(_np.signbit(x)) != 0)
                                   .mean()) if len(x) > 1 else 0.0,
                             float(_np.abs(x).max()) if len(x) else 0.0]
                    elif _real_image_codec(codec):
                        # REAL pixel features: dims + per-channel
                        # mean/std in [0,1] (first 3 channels; gray
                        # images contribute their single channel)
                        dec, _ = _real_image_codec(codec)
                        a0 = dec(b or b"")
                        # normalize by the decoded dtype's full scale
                        # (16-bit PNGs decode as uint16 since r12b)
                        a = a0.astype(_np.float64) \
                            / _np.iinfo(a0.dtype).max
                        nc = min(a.shape[2], 3)
                        v = ([float(a.shape[0]), float(a.shape[1])]
                             + [float(a[:, :, c].mean())
                                for c in range(nc)]
                             + [float(a[:, :, c].std())
                                for c in range(nc)])
                    else:
                        d = hashlib.sha256(b or b"").digest()
                        v = [d[i] / 255.0 for i in range(dim)]
                    v = (v + [0.0] * dim)[:dim]
                    vecs.append(v)
                yield pd.DataFrame({"id": pdf[id_col], "features": vecs})

        return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
            run, f"id long, features array<double>")

    return Stage(fn, name="feature_extract", seq_preserving=False)


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


#: codecs media_profile can dispatch per row, grouped by kind
_AUDIO_CODECS = ("wav", "flac", "aiff", "mp3", "ogg", "vorbis")
_IMAGE_CODECS = ("bmp", "png", "jpeg", "gif", "tiff", "pnm", "webp")

#: containers container_info can dispatch (header-level parsers in
#: operators/mediainfo.py — REAL metadata, no sample decode)
_CONTAINER_CODECS = ("mp3", "ogg", "mp4", "webm", "mpeg1", "mpeg_ps")


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
    (ogg), tracks (mp4/webm); unparseable blobs land as
    format='error' zeros, never aborting the batch."""
    if (codec is None) == (codec_col is None):
        raise ValueError("container_info: pass exactly one of "
                         "codec= or codec_col=")
    if codec is not None and codec not in _CONTAINER_CODECS:
        raise ValueError(f"container_info: unknown container "
                         f"{codec!r} (one of {_CONTAINER_CODECS})")

    def _one(fmt: str, b: bytes):
        from conduino_spark.operators import mediainfo as mi
        try:
            b = b or b""
            if fmt == "mp3":
                i = mi.mp3_info(b)
                return (fmt, 0, 0, i["rate"], i["channels"],
                        i["duration_ms"], i["n_frames"])
            if fmt == "ogg":
                i = mi.ogg_info(b)
                return (i["codec"], 0, 0, i["rate"], i["channels"],
                        i["duration_ms"], i["n_pages"])
            if fmt == "mp4":
                i = mi.mp4_info(b)
                return (fmt, i["width"], i["height"], 0, 0,
                        i["duration_ms"], i["n_tracks"])
            if fmt == "webm":
                i = mi.webm_info(b)
                return (fmt, i["width"], i["height"], 0, 0,
                        i["duration_ms"], i["n_tracks"])
            if fmt in ("mpeg1", "mpeg_ps"):
                # r14: MPEG-1 video ES / program stream — duration
                # from picture count x frame period (exact for the
                # integral picture_rate codes); n_units = pictures
                from conduino_spark.operators.mpeg1 import (
                    mpeg1_info, mpeg_ps_video_es)
                es = mpeg_ps_video_es(bytes(b)) if fmt == "mpeg_ps" \
                    else b
                i = mpeg1_info(es)
                dur = int(round(i["n_pictures"] * 1000 / i["fps"]))
                return (fmt, i["width"], i["height"], 0, 0,
                        dur, i["n_pictures"])
            return ("error", 0, 0, 0, 0, 0, 0)
        except (ValueError, struct.error, IndexError, OverflowError):
            return ("error", 0, 0, 0, 0, 0, 0)

    def fn(df: DataFrame) -> DataFrame:
        cols = [F.col(id_col), F.col(binary_col)]
        if codec_col is not None:
            cols.append(F.col(codec_col))

        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                fmts = (pdf[codec_col] if codec_col is not None
                        else [codec] * len(pdf))
                rows = [_one(f, b) for f, b in
                        zip(fmts, pdf[binary_col])]
                yield pd.DataFrame({
                    "id": pdf[id_col],
                    "format": [r[0] for r in rows],
                    "width": [r[1] for r in rows],
                    "height": [r[2] for r in rows],
                    "sample_rate": [r[3] for r in rows],
                    "channels": [r[4] for r in rows],
                    "duration_ms": [r[5] for r in rows],
                    "n_units": [r[6] for r in rows],
                })

        return df.select(*cols).mapInPandas(
            run, "id long, format string, width int, height int, "
                 "sample_rate int, channels int, duration_ms long, "
                 "n_units long")

    return Stage(fn, name="container_info", seq_preserving=False)


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

    Scale: one ``mapInPandas`` pass, Arrow-batched, no shuffle; stats
    are mergeable downstream by plain ``groupBy(...).sum()``.
    Reference anchor: conduino has no media types — north-star engine
    extension (SURVEY §7, M6)."""
    if (codec is None) == (codec_col is None):
        raise ValueError("media_profile: pass exactly one of "
                         "codec= or codec_col=")

    def _one(fmt: str, b: bytes):
        import numpy as _np
        try:
            if fmt in _AUDIO_CODECS:
                rate, nch, pcm = _real_audio_codec(fmt)(b or b"")
                a = _np.abs(pcm.astype(_np.int64))
                return (fmt, int(len(pcm)), int(rate) * 10 + int(nch),
                        int(a.sum()), int(a.max()) if len(a) else 0)
            if fmt in _IMAGE_CODECS:
                dec, _enc = _real_image_codec(fmt)
                a = dec(b or b"").astype(_np.int64)
                h, w, c = a.shape
                return (fmt, int(a.size), h * 1_000_000 + w * 1_000 + c,
                        int(a.sum()), int(a.max()) if a.size else 0)
            if fmt == "avi":
                # video: n_units = frame count, dims packed in meta,
                # pixel stats over the FIRST frame (deterministic
                # MJPEG decode; later frames never touched)
                from conduino_spark.operators.avi import decode_avi
                from conduino_spark.operators.jpeg import decode_jpeg
                fps, w, h, blobs = decode_avi(b or b"", max_frames=None)
                a = decode_jpeg(blobs[0]).astype(_np.int64)
                return (fmt, len(blobs), h * 1_000_000 + w * 1_000,
                        int(a.sum()), int(a.max()) if a.size else 0)
            if fmt in ("mpeg1", "mpeg_ps"):
                # r14: MPEG-1 elementary stream — pixel stats over
                # EVERY decoded frame (the I/P reconstruction chain is
                # what the stats pin, unlike AVI's independent MJPEG
                # frames).  Program streams demux first (pack/PES).
                from conduino_spark.operators.mpeg1 import (
                    decode_mpeg1, mpeg_ps_video_es)
                es = b or b""
                if fmt == "mpeg_ps":
                    es = mpeg_ps_video_es(bytes(es))
                _fps, (w, h), frames = decode_mpeg1(es)
                tot = sum(int(f.astype(_np.int64).sum())
                          for f in frames)
                mx = max(int(f.max()) for f in frames)
                return (fmt, len(frames), h * 1_000_000 + w * 1_000,
                        tot, mx)
            return ("error", 0, 0, 0, 0)
        except (ValueError, struct.error, IndexError, OverflowError):
            return ("error", 0, 0, 0, 0)

    def fn(df: DataFrame) -> DataFrame:
        cols = [F.col(id_col), F.col(binary_col)]
        if codec_col is not None:
            cols.append(F.col(codec_col))

        def run(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                fmts = (pdf[codec_col] if codec_col is not None
                        else [codec] * len(pdf))
                rows = [_one(f, b) for f, b in
                        zip(fmts, pdf[binary_col])]
                yield pd.DataFrame({
                    "id": pdf[id_col],
                    "format": [r[0] for r in rows],
                    "n_units": [r[1] for r in rows],
                    "meta": [r[2] for r in rows],
                    "sum_abs": [r[3] for r in rows],
                    "max_abs": [r[4] for r in rows],
                })

        return df.select(*cols).mapInPandas(
            run, "id long, format string, n_units long, meta long, "
                 "sum_abs long, max_abs long")

    return Stage(fn, name="media_profile", seq_preserving=False)


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
