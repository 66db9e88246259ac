"""Bit-level I/O for the pure-numpy codecs: one reader and one writer
per bit order, and one LUT prefix-code decoder.

Two bit orders cover every codec here:

* **MSB-first** (:class:`MsbReader` / :class:`MsbWriter`) — JPEG,
  mp3, MPEG-1 video, FLAC, TIFF's LZW: the first stream bit is the
  high bit of each byte and multi-bit values arrive high bit first.
* **LSB-first** (:class:`LsbReader` / :class:`LsbWriter`) — VP8L and
  Vorbis: the first stream bit is the low bit of each byte and
  multi-bit values arrive low bit first.  Prefix codewords in both
  formats still go MSB-of-codeword first, which is what
  :meth:`LsbWriter.write_code` and the LSB-first
  :class:`PrefixDecoder` table do.

Readers keep ``pos`` as a BIT position and expose ``w24``, one 24-bit
window per byte (zero-padded past the end), so a hot loop can inline
``n <= 17``-bit reads at any bit position:

* MSB: ``(w24[p >> 3] >> (24 - n - (p & 7))) & ((1 << n) - 1)``
* LSB: ``(w24[p >> 3] >> (p & 7)) & ((1 << n) - 1)``

``w24`` is a Python list (scalar indexing); ``w24_array`` holds the
same windows as a uint32 array for vectorized gathers.

Truncation: :meth:`read` and :meth:`consume` past ``nbits`` raise
``ValueError(eof)``, with the message the caller passed in; a
:meth:`peek` past the end reads zero bits (a prefix LUT wants 8 bits
of lookahead even on a stream's last short code).

Cost posture: building the windows is one strided numpy view plus
``tolist`` — ~40 bytes of Python list per stream byte, alive as long
as the reader.
"""

from __future__ import annotations

import numpy as np

__all__ = ["MsbReader", "MsbWriter", "LsbReader", "LsbWriter",
           "PrefixDecoder"]


class _Reader:
    """What both bit orders share: the position, the end check and the
    window arrays (``_WORD`` picks the byte order of the 32-bit word
    starting at every byte, ``_window`` cuts it to 24 bits)."""

    __slots__ = ("data", "pos", "nbits", "w24", "w24_array", "eof")

    def __init__(self, data, pos: int = 0, *,
                 eof: str = "bitstream truncated"):
        self.data = data
        self.pos = pos
        self.nbits = len(data) * 8
        self.eof = eof
        # a word at every byte plus 4 past the end (zero-padded):
        # enough windows for a peek of up to 32 bits at any position
        # <= nbits
        words = np.ndarray((len(data) + 4,), self._WORD,
                           bytes(data) + b"\x00" * 7, 0, (1,))
        self.w24_array = self._window(words)
        self.w24 = self.w24_array.tolist()

    def consume(self, n: int) -> None:
        p = self.pos + n
        if p > self.nbits:
            raise ValueError(self.eof)
        self.pos = p

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.pos = (self.pos + 7) & ~7


class MsbReader(_Reader):
    """MSB-first bit reader over ``data`` starting at bit ``pos``."""

    __slots__ = ()
    _WORD = ">u4"

    @staticmethod
    def _window(words: "np.ndarray") -> "np.ndarray":
        return words >> 8

    def _at(self, p: int, n: int) -> int:
        w = self.w24
        v = 0
        while n > 16:
            v = (v << 16) | ((w[p >> 3] >> (8 - (p & 7))) & 0xFFFF)
            p += 16
            n -= 16
        return (v << n) | ((w[p >> 3] >> (24 - n - (p & 7)))
                           & ((1 << n) - 1))

    def read(self, n: int) -> int:
        """Next ``n`` bits as an unsigned int (any ``n >= 0``)."""
        p = self.pos
        if p + n > self.nbits:
            raise ValueError(self.eof)
        self.pos = p + n
        if n > 17:
            return self._at(p, n)
        return (self.w24[p >> 3] >> (24 - n - (p & 7))) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """Next ``n <= 32`` bits without consuming; zeros past the
        end."""
        p = self.pos
        if n > 17:
            return self._at(p, n)
        return (self.w24[p >> 3] >> (24 - n - (p & 7))) & ((1 << n) - 1)


class LsbReader(_Reader):
    """LSB-first bit reader over ``data`` starting at bit ``pos``."""

    __slots__ = ()
    _WORD = "<u4"

    @staticmethod
    def _window(words: "np.ndarray") -> "np.ndarray":
        return words & 0xFFFFFF

    def _at(self, p: int, n: int) -> int:
        w = self.w24
        v = s = 0
        while n > 16:
            v |= ((w[p >> 3] >> (p & 7)) & 0xFFFF) << s
            p += 16
            n -= 16
            s += 16
        return v | (((w[p >> 3] >> (p & 7)) & ((1 << n) - 1)) << s)

    def read(self, n: int) -> int:
        """Next ``n`` bits as an unsigned int (any ``n >= 0``)."""
        p = self.pos
        if p + n > self.nbits:
            raise ValueError(self.eof)
        self.pos = p + n
        if n > 17:
            return self._at(p, n)
        return (self.w24[p >> 3] >> (p & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """Next ``n <= 32`` bits without consuming; zeros past the
        end."""
        p = self.pos
        if n > 17:
            return self._at(p, n)
        return (self.w24[p >> 3] >> (p & 7)) & ((1 << n) - 1)


def _reverse(code: int, length: int) -> int:
    rev = 0
    for _ in range(length):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    return rev


class _Writer:
    """What both bit orders share: a byte buffer plus ``k`` pending
    bits in ``acc``."""

    __slots__ = ("buf", "acc", "k")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.k = 0

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        if self.k:
            self.write(0, 8 - self.k)

    def tell(self) -> int:
        """Bits written so far."""
        return len(self.buf) * 8 + self.k


class MsbWriter(_Writer):
    """MSB-first bit writer."""

    __slots__ = ()

    def write(self, v: int, n: int) -> None:
        """Append the low ``n`` bits of ``v``, high bit first."""
        acc = (self.acc << n) | (v & ((1 << n) - 1))
        k = self.k + n
        while k >= 8:
            k -= 8
            self.buf.append((acc >> k) & 0xFF)
        self.acc = acc & ((1 << k) - 1)
        self.k = k

    def write_code(self, code: int, length: int) -> None:
        """Append a prefix codeword, MSB of the codeword first."""
        self.write(code, length)

    def bytes(self) -> bytes:
        """Everything written, the last partial byte zero-padded."""
        if self.k:
            return bytes(self.buf) + bytes([self.acc << (8 - self.k)])
        return bytes(self.buf)


class LsbWriter(_Writer):
    """LSB-first bit writer."""

    __slots__ = ()

    def write(self, v: int, n: int) -> None:
        """Append the low ``n`` bits of ``v``, low bit first."""
        acc = self.acc | ((v & ((1 << n) - 1)) << self.k)
        k = self.k + n
        while k >= 8:
            self.buf.append(acc & 0xFF)
            acc >>= 8
            k -= 8
        self.acc = acc
        self.k = k

    def write_code(self, code: int, length: int) -> None:
        """Append a prefix codeword, MSB of the codeword first."""
        self.write(_reverse(code, length), length)

    def bytes(self) -> bytes:
        """Everything written, the last partial byte zero-padded."""
        if self.k:
            return bytes(self.buf) + bytes([self.acc])
        return bytes(self.buf)


class PrefixDecoder:
    """Prefix-code decoder: an 8-bit LUT for codewords of <= 8 bits,
    then a per-bit walk over the longer ones.

    ``codes`` yields ``(symbol, (length, code))`` pairs — a
    ``{symbol: (length, code)}`` map's ``items()``, or a list when two
    codewords carry the same symbol.  Codewords are read MSB first
    from a reader of the given bit order.  A lone length-0 codeword
    decodes its symbol without reading a bit.

    LUT entries are ``(symbol << 5) | 16 | length`` (0 = no codeword
    of <= 8 bits starts here): hot loops inline ``e & 15`` as the
    bits to consume and ``e >> 5`` as the symbol.  The walk reads at
    most ``maxlen >= 8`` bits, then raises ``ValueError(error)``."""

    __slots__ = ("lut", "head", "table", "maxlen", "error")

    def __init__(self, codes, *, lsb_first: bool, maxlen: int,
                 error: str):
        lut = [0] * 256
        table = {}
        for sym, (ln, code) in codes:
            if ln > 8:
                table[(ln, code)] = sym
                continue
            e = (sym << 5) | 16 | ln
            if lsb_first:
                rev = _reverse(code, ln)
                for j in range(1 << (8 - ln)):
                    lut[rev | (j << ln)] = e
            else:
                base = code << (8 - ln)
                for j in range(1 << (8 - ln)):
                    lut[base + j] = e
        self.lut = lut
        # LUT index (the next 8 stream bits) -> those bits as the
        # first 8 codeword bits
        self.head = _REV8 if lsb_first else _IDENT8
        self.table = table
        self.maxlen = maxlen
        self.error = error

    def decode(self, br) -> int:
        i = br.peek(8)
        e = self.lut[i]
        if e:
            br.consume(e & 15)
            return e >> 5
        # no codeword of <= 8 bits starts here (a shorter stream
        # tail raises at this consume, as a bit walk would): walk on
        # from 8 bits
        br.consume(8)
        code = self.head[i]
        table = self.table
        for ln in range(9, self.maxlen + 1):
            code = (code << 1) | br.read(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError(self.error)


_IDENT8 = list(range(256))
_REV8 = [_reverse(i, 8) for i in range(256)]
