"""Ogg-Vorbis sample decode (and a fixture-grade encoder) in pure
Python + numpy — no codec library.

Vorbis I is the one lossy audio codec that is fully SELF-DESCRIBING:
every entropy codebook, floor configuration and residue layout ships
inside the stream's own setup header, and everything else is a closed
form in the public specification (Vorbis I specification, Xiph.Org):

  * codeword assignment — the spec's sequential lowest-available-leaf
    tree filling (§3.2.1), implemented exactly;
  * the floor-1 inverse-dB table — geometric: value[i] =
    10^(-7*(255-i)/256)  (entry 0 = 1.0649863e-07, step 1.0649863 —
    both match the published table; asserted at import);
  * windows — sin(pi/2 * sin^2(pi*(n+.5)/N)), power-complementary
    (Princen-Bradley law tested);
  * IMDCT — the standard TDAC lapped transform (round-trip law
    tested to 1e-10).

So unlike MPEG audio (operators/mp3.py, whose fixed Huffman tables
cannot be certified offline), a spec-faithful Vorbis decoder carries
NO uncertifiable data tables.

Scope:
  * decode: Ogg page walk + packet reassembly (lacing, continued
    packets, CRC verify), all three headers, codebooks (ordered +
    unordered/sparse lengths, lookup types 0/1/2), floor 1 (floor 0 —
    the legacy LSP floor no mainstream encoder emits — raises),
    residue types 0/1/2, square-polar channel coupling, both block
    sizes with the long/short window transition lapping rules.
  * encode: a real (if simple) encoder used as the round-trip test
    double: single blocksize, two-point line floor, type-2 residue
    with a scalar (dim-1, lookup-type-1) value codebook, mono/stereo.
    Every decoder structure above except floor 0 is exercised by some
    encoder option.

Scale posture: decode-once per blob inside Arrow ``mapInPandas``
(multimodal.py dispatch); corrupt input raises ValueError, never
aborting a batch.  Reference anchor: conduino has no media types —
north-star engine extension (SURVEY §7, M6).

r15 structural pass (VERDICT r14 #3 — the per-partition bookkeeping
floor): (a) passes 1-7 walk only ACTIVE (partition, channel) entries
(inactive entries consume no bits, so the skip is bit-identical) and
are skipped wholesale for single-pass streams; (b) when the classbook
and the single pass-0 book are both fixed-rate, the whole pass-0 bit
layout is deterministic and decodes as a handful of cached numpy
gathers; (c) floor1 line rendering is the closed form, one slice per
segment; (d) parsed setup headers memoize per (bytes, ch) — a corpus
from one encoder config shares one setup across every file, so
codebook construction amortizes (first decode of a new setup pays the
parse).  Measured single-core: 2.15 -> ~5.9 MB/s on the scale-probe
fixture (2.7x; tools/scale_probe.py codec_mbps_single_core).
"""

from __future__ import annotations

import struct

import numpy as np

from conduino_spark.operators.bitio import (LsbReader, LsbWriter,
                                            PrefixDecoder)
from conduino_spark.operators.mediainfo import (_ogg_page_crc_ok,
                                                _ogg_page_multi, _ogg_pages)

__all__ = ["decode_vorbis", "encode_vorbis"]


#: Vorbis packs LSB-first; huffman codewords are walked
#: MSB-of-codeword-first (same convention as VP8L)
_EOF = "vorbis: packet truncated"


def _ilog(x: int) -> int:
    """Vorbis ilog: position of the highest set bit (ilog(0) = 0)."""
    return x.bit_length() if x > 0 else 0


def _float32_unpack(x: int) -> float:
    """Vorbis packed float: 21-bit mantissa, 10-bit exponent biased
    788, sign in bit 31 (spec §9.2.2)."""
    mantissa = x & 0x1FFFFF
    if x & 0x80000000:
        mantissa = -mantissa
    exponent = (x & 0x7FE00000) >> 21
    return float(mantissa) * 2.0 ** (exponent - 788)


def _float32_pack(v: float) -> int:
    """Inverse of :func:`_float32_unpack` for encoder-chosen values
    (exactly representable mantissa*2^e values only)."""
    if v == 0.0:
        return 788 << 21
    sign = 0x80000000 if v < 0 else 0
    v = abs(v)
    exponent = 0
    m = v
    while m != int(m) and exponent > -400:
        m *= 2.0
        exponent -= 1
    while (int(m) & ~0x1FFFFF) and exponent < 400:
        m /= 2.0
        exponent += 1
    m = int(m)
    if not 0 <= m <= 0x1FFFFF:
        raise ValueError(f"float {v} not packable")
    return sign | ((exponent + 788) << 21) | m


# ---------------------------------------------------------------------------
# codeword assignment (spec §3.2.1) + LUT decoder
# ---------------------------------------------------------------------------

def _assign_codewords(lengths: "list[int]") -> "dict[int, tuple[int, int]]":
    """symbol -> (length, codeword) by the Vorbis sequential
    lowest-available-leaf rule: each used symbol, in symbol order,
    takes the numerically smallest codeword of its length that keeps
    the code prefix-free.  Raises on over- or under-subscribed trees
    (an undersubscribed tree is only legal for a single-entry book,
    handled by the caller)."""
    used = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
    if not used:
        raise ValueError("vorbis: codebook with no used entries")
    out: dict = {}
    # available[l] = smallest free codeword of length l, aligned to a
    # 32-bit left-justified lattice (the stb-style formulation of the
    # spec's tree walk)
    available = [0] * 33
    first_sym, first_len = used[0]
    out[first_sym] = (first_len, 0)
    for i in range(1, first_len + 1):
        available[i] = 1 << (32 - i)
    for sym, ln in used[1:]:
        z = ln
        while z > 0 and not available[z]:
            z -= 1
        if z == 0:
            raise ValueError("vorbis: oversubscribed codebook")
        res = available[z]
        available[z] = 0
        out[sym] = (ln, res >> (32 - ln))
        for y in range(z + 1, ln + 1):
            available[y] = res + (1 << (32 - y))
    # a complete tree leaves no available branch; Vorbis requires
    # completeness except for single-entry books
    if len(used) > 1 and any(available[1:33]):
        raise ValueError("vorbis: undersubscribed codebook")
    return out


# ---------------------------------------------------------------------------
# codebook (setup-header) parse
# ---------------------------------------------------------------------------

class _Codebook:
    __slots__ = ("dims", "entries", "lengths", "huff", "single",
                 "uniform", "utable", "utl", "vq", "seq_p")

    def __init__(self, br: LsbReader):
        if br.read(24) != 0x564342:
            raise ValueError("vorbis: bad codebook sync")
        self.dims = br.read(16)
        self.entries = br.read(24)
        # allocation-bomb guard half 1 (the r12b decoder contract):
        # the raw 24-bit entries field drives the lengths list and
        # the Huffman dict; real codebooks are a few thousand entries
        if self.entries > (1 << 18):
            raise ValueError(
                f"vorbis: codebook with {self.entries} entries "
                "exceeds the sanity cap")
        lengths = [0] * self.entries
        if br.read(1):                       # ordered
            cur_len = br.read(5) + 1
            cur = 0
            while cur < self.entries:
                num = br.read(_ilog(self.entries - cur))
                if cur + num > self.entries:
                    raise ValueError("vorbis: ordered lengths overrun")
                for j in range(cur, cur + num):
                    lengths[j] = cur_len
                cur += num
                cur_len += 1
        else:
            sparse = br.read(1)
            for j in range(self.entries):
                if sparse:
                    if br.read(1):
                        lengths[j] = br.read(5) + 1
                else:
                    lengths[j] = br.read(5) + 1
        self.set_lengths(lengths)
        lookup = br.read(4)
        self.vq = None
        self.seq_p = 0
        if lookup == 0:
            return
        if lookup not in (1, 2):
            raise ValueError(f"vorbis: reserved lookup type {lookup}")
        if self.dims < 1:
            # (lv+1)**0 <= entries never terminates; dims 0 is
            # meaningless for a value book anyway
            raise ValueError("vorbis: lookup codebook with 0 dims")
        minv = _float32_unpack(br.read(32))
        delta = _float32_unpack(br.read(32))
        value_bits = br.read(4) + 1
        self.seq_p = br.read(1)
        if lookup == 1:
            lv = 0
            while (lv + 1) ** self.dims <= self.entries:
                lv += 1
        else:
            lv = self.entries * self.dims
        # decompression-bomb guard (the r12b decoder contract): the
        # entries field is 24 bits and dims 16 — a forged setup header
        # could demand gigabytes for the value-vector table.  Real
        # codebooks are a few thousand entries; cap the PRODUCT.
        if self.entries * max(self.dims, 1) > (1 << 22):
            raise ValueError(
                f"vorbis: codebook value table {self.entries}x"
                f"{self.dims} exceeds the sanity cap")
        mults = [br.read(value_bits) for _ in range(lv)]
        # precompute the value vector per entry
        vq = np.empty((self.entries, self.dims))
        if lookup == 1:
            for e in range(self.entries):
                last = 0.0
                idx_div = 1
                for d in range(self.dims):
                    off = (e // idx_div) % lv
                    vq[e, d] = minv + delta * mults[off] + last
                    if self.seq_p:
                        last = vq[e, d]
                    idx_div *= lv
        else:
            for e in range(self.entries):
                last = 0.0
                for d in range(self.dims):
                    vq[e, d] = minv + delta * mults[e * self.dims + d] \
                        + last
                    if self.seq_p:
                        last = vq[e, d]
        self.vq = vq

    def set_lengths(self, lengths) -> None:
        """Codeword lengths → decode tables.  ``huff`` is the LUT
        prefix decoder over the Vorbis assignment; a single-entry
        book instead sets ``single`` and reads ONE bit per symbol
        (the spec's single-entry special case — codeword 0 of length
        1).  r14: a UNIFORM-length book (every used codeword the same
        length L <= 16 — e.g. the fixed-rate scalar value books most
        encoders emit) also gets ``utable``, a direct window->symbol
        array, so a whole residue partition's symbols decode as ONE
        numpy gather instead of a per-symbol Python loop (``utl`` is
        its list form for small partitions)."""
        self.lengths = lengths
        self.huff = self.single = self.uniform = None
        self.utable = self.utl = None
        used = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not used:
            return
        if len(used) == 1:
            self.single = used[0][0]
            return
        codes = _assign_codewords(lengths)
        self.huff = PrefixDecoder(
            codes.items(), lsb_first=True, maxlen=32,
            error="vorbis: invalid codeword in stream")
        lns = {ln for _, ln in used}
        if len(lns) == 1 and (L := lns.pop()) <= 16:
            # -1 marks windows no codeword maps to (sparse/incomplete
            # books): the gather checks and raises like the slow path
            ut = np.full(1 << L, -1, np.int32)
            for sym, (ln, code) in codes.items():
                rev = 0
                for i in range(ln):
                    rev |= ((code >> i) & 1) << (ln - 1 - i)
                ut[rev] = sym
            self.uniform = L
            self.utable = ut
            self.utl = ut.tolist()

    def decode_scalar(self, br: LsbReader) -> int:
        if self.single is not None:
            br.read(1)
            return self.single
        if self.huff is None:
            raise ValueError("vorbis: scalar decode from unused book")
        return self.huff.decode(br)

    def decode_vector(self, br: LsbReader) -> "np.ndarray":
        if self.vq is None:
            raise ValueError("vorbis: VQ decode from scalar-only book")
        return self.vq[self.decode_scalar(br)]


# the floor-1 inverse dB table is geometric (asserted anchors from the
# published table)
FLOOR1_INVERSE_DB = 10.0 ** (-7.0 * (255 - np.arange(256)) / 256.0)
assert abs(FLOOR1_INVERSE_DB[0] - 1.0649863e-07) < 1e-13
assert abs(FLOOR1_INVERSE_DB[1] - 1.1341951e-07) < 1e-13
assert FLOOR1_INVERSE_DB[255] == 1.0


# ---------------------------------------------------------------------------
# floor 1 (spec §7.2) — floor 0 (legacy LSP) raises
# ---------------------------------------------------------------------------

def _render_point(x0, y0, x1, y1, x):
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0, y0, x1, y1, v, n):
    """Floor1 line render into ndarray v (r15: closed form — the
    spec's Bresenham accumulation equals render_point at every x:
    y(x) = y0 ± (|dy|*(x-x0))//adx, one numpy slice per segment)."""
    end = min(x1, n)
    if x0 >= n:
        return
    if x0 >= end:
        v[x0] = y0
        return
    dy = y1 - y0
    adx = x1 - x0
    off = (abs(dy) * np.arange(end - x0)) // adx
    v[x0:end] = y0 + (-off if dy < 0 else off)


class _Floor1:
    __slots__ = ("partition_classes", "class_dims", "class_subclasses",
                 "masterbooks", "subclass_books", "multiplier",
                 "rangebits", "xs", "posts")

    def __init__(self, br: LsbReader, n_books: int):
        partitions = br.read(5)
        self.partition_classes = [br.read(4) for _ in range(partitions)]
        max_class = (max(self.partition_classes) + 1
                     if partitions else 0)
        self.class_dims = []
        self.class_subclasses = []
        self.masterbooks = []
        self.subclass_books = []
        for c in range(max_class):
            self.class_dims.append(br.read(3) + 1)
            sub = br.read(2)
            self.class_subclasses.append(sub)
            if sub:
                mb = br.read(8)
                if mb >= n_books:
                    raise ValueError("vorbis: floor1 masterbook oob")
                self.masterbooks.append(mb)
            else:
                self.masterbooks.append(-1)
            books = []
            for _ in range(1 << sub):
                b = br.read(8) - 1
                if b >= n_books:
                    raise ValueError("vorbis: floor1 subclass book oob")
                books.append(b)
            self.subclass_books.append(books)
        self.multiplier = br.read(2) + 1
        self.rangebits = br.read(4)
        xs = [0, 1 << self.rangebits]
        for i in range(partitions):
            for _ in range(self.class_dims[self.partition_classes[i]]):
                xs.append(br.read(self.rangebits))
        if len(set(xs)) != len(xs):
            raise ValueError("vorbis: floor1 X values not unique")
        self.xs = xs
        self.posts = len(xs)

    def decode(self, br: LsbReader, books, n: int):
        """One channel's floor for a half-window of ``n`` bins →
        float curve or None (channel unused this frame)."""
        if not br.read(1):
            return None
        range_ = (256, 128, 86, 64)[self.multiplier - 1]
        ybits = _ilog(range_ - 1)
        ys = [br.read(ybits), br.read(ybits)]
        pi = 0
        for cls in self.partition_classes:
            cdim = self.class_dims[cls]
            cbits = self.class_subclasses[cls]
            csub = (1 << cbits) - 1
            cval = 0
            if cbits:
                cval = books[self.masterbooks[cls]].decode_scalar(br)
            for _ in range(cdim):
                b = self.subclass_books[cls][cval & csub]
                cval >>= cbits
                ys.append(books[b].decode_scalar(br) if b >= 0 else 0)
            pi += 1
        xs = self.xs
        posts = self.posts
        final = [0] * posts
        step2 = [False] * posts
        final[0], final[1] = ys[0], ys[1]
        step2[0] = step2[1] = True
        for i in range(2, posts):
            # low/high neighbors: among indices < i, the position of
            # the greatest X below X[i] / smallest X above X[i]
            lo = hi = -1
            for j in range(i):
                if xs[j] < xs[i] and (lo < 0 or xs[j] > xs[lo]):
                    lo = j
                if xs[j] > xs[i] and (hi < 0 or xs[j] < xs[hi]):
                    hi = j
            pred = _render_point(xs[lo], final[lo], xs[hi], final[hi],
                                 xs[i])
            val = ys[i]
            highroom = range_ - pred
            lowroom = pred
            room = 2 * (highroom if highroom < lowroom else lowroom)
            if val:
                step2[lo] = step2[hi] = step2[i] = True
                if val >= room:
                    final[i] = (val - lowroom + pred
                                if highroom > lowroom
                                else pred - (val - highroom) - 1)
                else:
                    final[i] = (pred - ((val + 1) >> 1) if val & 1
                                else pred + (val >> 1))
            else:
                step2[i] = False
                final[i] = pred
        # render: walk flagged points in X order
        order = sorted(range(posts), key=lambda j: xs[j])
        v = np.zeros(n, dtype=np.int64)
        j0 = order[0]
        lx, ly = 0, min(final[j0], range_ - 1) * self.multiplier
        hx = 0
        hy = ly
        for j in order[1:]:
            if not step2[j]:
                continue
            hx = xs[j]
            hy = min(final[j], range_ - 1) * self.multiplier
            _render_line(lx, ly, hx, hy, v, n)
            lx, ly = hx, hy
        if hx < n:
            _render_line(hx, hy, n, hy, v, n)
        curve = FLOOR1_INVERSE_DB[np.minimum(v, 255)]
        return curve


# ---------------------------------------------------------------------------
# residues (spec §8.6) — types 0, 1, 2
# ---------------------------------------------------------------------------

class _Residue:
    __slots__ = ("rtype", "begin", "end", "psize", "classifications",
                 "classbook", "cascade", "books", "_fast0_cache",
                 "_multi")

    def __init__(self, br: LsbReader, rtype: int, n_books: int):
        self.rtype = rtype
        self.begin = br.read(24)
        self.end = br.read(24)
        self.psize = br.read(24) + 1
        self.classifications = br.read(6) + 1
        self.classbook = br.read(8)
        if self.classbook >= n_books:
            raise ValueError("vorbis: residue classbook oob")
        self.cascade = []
        for _ in range(self.classifications):
            low = br.read(3)
            high = br.read(5) if br.read(1) else 0
            self.cascade.append((high << 3) | low)
        self.books = []
        for c in range(self.classifications):
            row = []
            for p in range(8):
                if self.cascade[c] & (1 << p):
                    b = br.read(8)
                    if b >= n_books:
                        raise ValueError("vorbis: residue book oob")
                    row.append(b)
                else:
                    row.append(-1)
            self.books.append(row)

    def decode(self, br: LsbReader, books, vectors, do_not_decode):
        """Additive decode into the channel ``vectors`` (numpy,
        length n/2 each).  Type 2 interleaves all channels into one
        virtual vector first."""
        if self.rtype == 2:
            if all(do_not_decode):
                return
            ch = len(vectors)
            n2 = len(vectors[0])
            inter = np.zeros(ch * n2)
            self._decode_core(br, books, [inter], [False])
            for c in range(ch):
                vectors[c] += inter[c::ch]
            return
        self._decode_core(br, books, vectors, do_not_decode)

    def _decode_core(self, br: LsbReader, books, vectors, do_not_decode):
        n = len(vectors[0])
        begin = min(self.begin, n)
        end = min(self.end, n)
        want = end - begin
        if want <= 0:
            return
        ptr = want // self.psize
        cb = books[self.classbook]
        cw = cb.dims
        if cw < 1:
            raise ValueError("vorbis: residue classbook with 0 dims")
        ch = len(vectors)
        psz = self.psize

        def decode_entry(j: int, pcount: int, b: int, pend: dict):
            """One (channel, partition) payload for the current pass —
            the r13b/r14 batched fast paths, unchanged."""
            book = books[b]
            if book.vq is None:
                raise ValueError("vorbis: residue book "
                                 "has no value lookup")
            off = begin + pcount * psz
            dims = book.dims
            v = vectors[j]
            # batch the partition: decode all entry indices (inlined
            # LUT fast path), ONE numpy gather + add for the whole
            # partition (r13b — per-symbol 1-element slice adds
            # dominated the decode profile)
            # symbol count per spec 8.6.2 / stb_vorbis
            # residue_decode: format 0 reads floor(psize/dims)
            # codewords (strided writes, trailing psize % dims
            # samples untouched); formats 1/2 read ceil(psize/dims)
            # and clamp the final vector's write to the partition
            # end — non-dividing dims are spec-legal (r13 ADVICE:
            # the old floor-everywhere desynced the bitstream and
            # died in a numpy broadcast)
            if self.rtype == 0:
                nsym = psz // dims
                if nsym < 1:
                    raise ValueError(
                        "vorbis: residue book dims "
                        "exceed partition size")
            else:
                nsym = -(-psz // dims)
            if book.single is not None:
                br.pos += nsym
                if br.pos > br.nbits:
                    raise ValueError(
                        "vorbis: packet truncated")
                idxs = [book.single] * nsym
            elif book.uniform is not None:
                # r14 fast path: fixed-rate book — window arithmetic
                # replaces the per-symbol VLC walk.  Partitions are
                # typically tiny (psize/dims ~ 8-32 symbols), where
                # numpy setup costs more than it saves, so small
                # partitions take a flat Python loop over the
                # list-form table and only large ones take the
                # vectorized gather.
                L = book.uniform
                pos = br.pos
                if pos + L * nsym > br.nbits:
                    raise ValueError(
                        "vorbis: packet truncated")
                if nsym < 64:
                    ut = book.utl
                    w24 = br.w24
                    mask = (1 << L) - 1
                    idxs = [0] * nsym
                    k = 0
                    if L <= 8:
                        # two symbols per 17-bit window (both fit:
                        # 2L <= 16)
                        L2 = 2 * L
                        for k in range(0, nsym - 1, 2):
                            w = (w24[pos >> 3]
                                 >> (pos & 7))
                            idxs[k] = ut[w & mask]
                            idxs[k + 1] = ut[(w >> L)
                                             & mask]
                            pos += L2
                        k = nsym - (nsym & 1)
                    for k in range(k, nsym):
                        idxs[k] = ut[(w24[pos >> 3]
                                      >> (pos & 7)) & mask]
                        pos += L
                    if min(idxs) < 0:
                        raise ValueError(
                            "vorbis: invalid codeword "
                            "in stream")
                else:
                    ps = pos + L * np.arange(
                        nsym, dtype=np.int64)
                    win = ((br.w24_array[ps >> 3]
                            >> (ps & 7).astype(np.uint32))
                           & np.uint32((1 << L) - 1))
                    idxs = book.utable[win]
                    if (idxs < 0).any():
                        raise ValueError(
                            "vorbis: invalid codeword "
                            "in stream")
                    pos += L * nsym
                br.pos = pos
            else:
                # r14 hot loop: window list index instead of per-symbol
                # slice+from_bytes, local pos instead of attribute
                # round-trips, ONE bounds check per partition (the
                # windows are zero-padded past the end, so a
                # truncated packet still lands on the same loud
                # ValueError)
                w24 = br.w24
                huff = book.huff
                lut = huff.lut
                pos = br.pos
                nbits = br.nbits
                idxs = []
                app = idxs.append
                for _ in range(nsym):
                    if pos > nbits:
                        raise ValueError(
                            "vorbis: packet truncated")
                    e = lut[(w24[pos >> 3]
                             >> (pos & 7)) & 0xFF]
                    if e:
                        pos += e & 15
                        app(e >> 5)
                    else:
                        br.pos = pos
                        app(huff.decode(br))
                        pos = br.pos
                br.pos = pos
                if pos > nbits:
                    raise ValueError(
                        "vorbis: packet truncated")
            if self.rtype == 0:
                # strided transpose layout: symbol k's dim j lands at
                # off+j*step+k (covers the first nsym*dims samples) —
                # applied per-partition (format 0 is rare)
                flat = book.vq[idxs].T.ravel()
                v[off:off + flat.size] += flat
            else:
                # r14: defer — batched per (channel, book) after the
                # pass (below)
                pend.setdefault((j, b), []).append((off, idxs))

        def flush(pend: dict):
            # batched apply for formats 1/2 (r14): partitions within
            # ONE pass occupy disjoint [off, off+psize) ranges, so a
            # single vq gather + one fancy-index scatter-add per
            # (channel, book) is bit-identical to the per-partition
            # slice adds it replaces — float addition order is
            # unchanged because no position receives two
            # contributions inside a pass.  nsym (= ceil(psize/dims))
            # is constant per book, so the gathered values reshape to
            # (n_partitions, nsym*dims) and trim to psize columns.
            for (j, b), items in pend.items():
                book = books[b]
                v = vectors[j]
                if len(items) == 1:
                    off, idxs = items[0]
                    v[off:off + psz] += book.vq[idxs].ravel()[:psz]
                    continue
                allv = book.vq[np.concatenate(
                    [np.asarray(ix, dtype=np.int64)
                     for _, ix in items])]
                m = allv.reshape(len(items), -1)[:, :psz]
                starts = np.fromiter((off for off, _ in items),
                                     np.int64, len(items))
                v[starts[:, None] + np.arange(psz)] += m

        if ptr <= 0:
            return
        live = [j for j in range(ch) if not do_not_decode[j]]
        # ---- r15 fixed-rate pass-0 sweep (the VERDICT r14 #3
        # structural rewrite): when the classbook is fixed-rate and
        # EVERY classification routes pass 0 to the same fixed-rate
        # book, the whole pass-0 bit layout is deterministic — so all
        # classwords and all payload symbols decode in a handful of
        # numpy gathers instead of a per-partition Python walk.
        # Bit-identical: positions replicate the sequential
        # group-interleaved layout exactly, payload offsets within a
        # pass are disjoint so the scatter-add order cannot change a
        # float sum, and the same utable/-1 validity check applies.
        multi = getattr(self, "_multi", None)
        if multi is None:
            # any classification carrying a book in passes 1-7?
            # (single-pass streams — every encode this module or a
            # typical low-rate encoder emits — skip the whole
            # later-pass machinery)
            multi = any(b >= 0 for row in self.books for b in row[1:])
            self._multi = multi
        classifs = ([[0] * (ptr + cw) for _ in range(ch)]
                    if multi else None)
        b0set = {self.books[c][0] for c in range(self.classifications)}
        fast0 = (live and cb.uniform is not None
                 and len(b0set) == 1 and self.rtype != 0)
        if fast0:
            b0 = b0set.pop()
            fast0 = (b0 >= 0 and books[b0].uniform is not None
                     and books[b0].vq is not None)
        if fast0:
            book = books[b0]
            # layout constants depend only on (n, nlive) for a fixed
            # stream — cache the relative position matrices so each
            # packet pays ~8 numpy ops, not a rebuild (r15b)
            nlive = len(live)
            cache = getattr(self, "_fast0_cache", None)
            if cache is None or cache[0] != (n, nlive):
                Lc = cb.uniform
                L = book.uniform
                dims = book.dims
                nsym = -(-psz // dims)
                B = nsym * L
                ngroups = -(-ptr // cw)
                gsizes = np.full(ngroups, cw, np.int64)
                gsizes[-1] = ptr - cw * (ngroups - 1)
                gtot = nlive * Lc + gsizes * (nlive * B)
                gstart_rel = np.concatenate(
                    ([0], np.cumsum(gtot)[:-1]))
                q = np.arange(ptr)
                g, t = q // cw, q % cw
                # classword positions (ngroups, nlive), relative
                cpos_rel = (gstart_rel[:, None]
                            + Lc * np.arange(nlive)[None, :])
                # payload symbol positions per live channel:
                # (nlive, ptr, nsym), relative
                ppos_base = gstart_rel + nlive * Lc
                pos_q = (ppos_base[g][None, :]
                         + (t * (nlive * B))[None, :]
                         + (B * np.arange(nlive))[:, None])
                sympos_rel = (pos_q[:, :, None]
                              + (L * np.arange(nsym))[None, None, :])
                cache = ((n, nlive), {
                    "total_bits": int(gtot.sum()),
                    "cpos_rel": cpos_rel,
                    "sympos_rel": sympos_rel,
                    "cmask": np.uint32((1 << Lc) - 1),
                    "pmask": np.uint32((1 << L) - 1),
                    "starts_cols": (begin + q * psz)[:, None]
                    + np.arange(psz)[None, :],
                    "nsym_dims": nsym * dims,
                })
                self._fast0_cache = cache
            cc = cache[1]
            total_bits = cc["total_bits"]
            if br.pos + total_bits > br.nbits:
                raise ValueError("vorbis: packet truncated")
            w24 = br.w24_array
            cpos = cc["cpos_rel"] + br.pos
            cwin = ((w24[cpos >> 3] >> (cpos & 7).astype(np.uint32))
                    & cc["cmask"])
            cvals = cb.utable[cwin].astype(np.int64)
            if (cvals < 0).any():
                raise ValueError("vorbis: invalid codeword in stream")
            digits = np.empty((cvals.shape[0], nlive, cw), np.int64)
            tmp = cvals.copy()
            for i in range(cw - 1, -1, -1):
                digits[:, :, i] = tmp % self.classifications
                tmp //= self.classifications
            sympos = cc["sympos_rel"] + br.pos
            win = ((w24[sympos >> 3]
                    >> (sympos & 7).astype(np.uint32)) & cc["pmask"])
            idxs = book.utable[win]        # (nlive, ptr, nsym)
            if (idxs < 0).any():
                raise ValueError("vorbis: invalid codeword in stream")
            allvals = book.vq[idxs.reshape(nlive, -1)].reshape(
                nlive, ptr, cc["nsym_dims"])[:, :, :psz]
            sc = cc["starts_cols"]
            for ji, j in enumerate(live):
                if multi:
                    classifs[j][:ptr] = list(
                        digits[:, ji, :].reshape(-1)[:ptr])
                vectors[j][sc] += allvals[ji]
            br.pos += total_bits
            # fall through to passes 1-7 below
            pcount = ptr
        # ---- pass 0 (general): classwords interleave with payloads
        # (spec 8.6.2), so this pass keeps the sequential walk ----
        if not fast0 and classifs is None:
            classifs = [[0] * (ptr + cw) for _ in range(ch)]
        pend: dict = {}
        pcount = 0 if not fast0 else ptr
        while pcount < ptr:
            for j in range(ch):
                if do_not_decode[j]:
                    continue
                temp = cb.decode_scalar(br)
                for i in range(cw - 1, -1, -1):
                    classifs[j][pcount + i] = \
                        temp % self.classifications
                    temp //= self.classifications
            for _ in range(cw):
                if pcount >= ptr:
                    break
                for j in range(ch):
                    if do_not_decode[j]:
                        continue
                    b = self.books[classifs[j][pcount]][0]
                    if b >= 0:
                        decode_entry(j, pcount, b, pend)
                pcount += 1
        flush(pend)

        # ---- passes 1-7: classifications are fully known, and
        # entries whose book is -1 consume NO bits — so walking only
        # the ACTIVE (partition, channel) entries in stream order is
        # bit-identical while skipping the per-entry Python
        # bookkeeping entirely (r15: for single-pass encodes — ours —
        # seven pass sweeps collapse to seven mask checks) ----
        if not live or not multi:
            return
        bmat = np.asarray(self.books, dtype=np.int64)   # (cls, 8)
        cls_mat = np.asarray([classifs[j][:ptr] for j in live],
                             dtype=np.int64)            # (nlive, ptr)
        for p in range(1, 8):
            bk = bmat[cls_mat, p]                       # (nlive, ptr)
            jj, pp = np.nonzero(bk >= 0)
            if not len(jj):
                continue
            order = np.lexsort((jj, pp))  # stream order: (pcount, j)
            pend = {}
            for t in order:
                decode_entry(live[int(jj[t])], int(pp[t]),
                             int(bk[jj[t], pp[t]]), pend)
            flush(pend)


# ---------------------------------------------------------------------------
# mappings + modes + setup parse
# ---------------------------------------------------------------------------

class _Mapping:
    __slots__ = ("submaps", "coupling", "mux", "submap_floor",
                 "submap_residue")

    def __init__(self, br: LsbReader, ch: int, n_floors: int, n_res: int):
        self.submaps = br.read(4) + 1 if br.read(1) else 1
        self.coupling = []
        if br.read(1):
            steps = br.read(8) + 1
            bits = _ilog(ch - 1)
            for _ in range(steps):
                m = br.read(bits)
                a = br.read(bits)
                if m == a or m >= ch or a >= ch:
                    raise ValueError("vorbis: bad coupling pair")
                self.coupling.append((m, a))
        if br.read(2):
            raise ValueError("vorbis: reserved mapping bits set")
        if self.submaps > 1:
            self.mux = [br.read(4) for _ in range(ch)]
            if any(m >= self.submaps for m in self.mux):
                raise ValueError("vorbis: mapping mux oob")
        else:
            self.mux = [0] * ch
        self.submap_floor = []
        self.submap_residue = []
        for _ in range(self.submaps):
            br.read(8)                       # unused time config
            f = br.read(8)
            r = br.read(8)
            if f >= n_floors or r >= n_res:
                raise ValueError("vorbis: submap floor/residue oob")
            self.submap_floor.append(f)
            self.submap_residue.append(r)


class _Setup:
    __slots__ = ("books", "floors", "residues", "mappings", "modes")


def _parse_setup(data: bytes, ch: int) -> _Setup:
    if data[:7] != b"\x05vorbis":
        raise ValueError("vorbis: bad setup header")
    br = LsbReader(data[7:], eof=_EOF)
    s = _Setup()
    n_books = br.read(8) + 1
    s.books = [_Codebook(br) for _ in range(n_books)]
    for _ in range(br.read(6) + 1):          # time transforms
        if br.read(16):
            raise ValueError("vorbis: nonzero time transform")
    s.floors = []
    for _ in range(br.read(6) + 1):
        ftype = br.read(16)
        if ftype == 0:
            raise ValueError(
                "vorbis: floor 0 (legacy LSP) is not supported — no "
                "mainstream encoder emits it")
        if ftype != 1:
            raise ValueError(f"vorbis: reserved floor type {ftype}")
        s.floors.append(_Floor1(br, n_books))
    s.residues = []
    for _ in range(br.read(6) + 1):
        rtype = br.read(16)
        if rtype not in (0, 1, 2):
            raise ValueError(f"vorbis: reserved residue type {rtype}")
        s.residues.append(_Residue(br, rtype, n_books))
    s.mappings = []
    for _ in range(br.read(6) + 1):
        mtype = br.read(16)
        if mtype != 0:
            raise ValueError(f"vorbis: reserved mapping type {mtype}")
        s.mappings.append(_Mapping(br, ch, len(s.floors),
                                   len(s.residues)))
    s.modes = []
    for _ in range(br.read(6) + 1):
        blockflag = br.read(1)
        if br.read(16) or br.read(16):
            raise ValueError("vorbis: reserved window/transform type")
        mapping = br.read(8)
        if mapping >= len(s.mappings):
            raise ValueError("vorbis: mode mapping oob")
        s.modes.append((blockflag, mapping))
    if not br.read(1):
        raise ValueError("vorbis: setup framing bit unset")
    return s


# ---------------------------------------------------------------------------
# windows + MDCT
# ---------------------------------------------------------------------------

_WIN_CACHE: dict = {}
_MDCT_CACHE: dict = {}


def _slope(n: int) -> "np.ndarray":
    i = np.arange(n)
    return np.sin(0.5 * np.pi
                  * np.sin((i + 0.5) / n * 0.5 * np.pi) ** 2)


def _window(n: int, prev_flag: int, next_flag: int,
            b0: int) -> "np.ndarray":
    """Spec §4.3.1 window: slope sizes shrink to the short block's
    when the neighbor is short."""
    key = (n, prev_flag, next_flag, b0)
    w = _WIN_CACHE.get(key)
    if w is None:
        w = np.zeros(n)
        ln = n // 2 if prev_flag else b0 // 2
        ls = n // 4 - ln // 2
        rn = n // 2 if next_flag else b0 // 2
        rs = (3 * n) // 4 - rn // 2
        w[ls:ls + ln] = _slope(ln)
        w[ls + ln:rs] = 1.0
        w[rs:rs + rn] = _slope(rn)[::-1]
        _WIN_CACHE[key] = w
    return w


def _imdct_mat(n: int) -> "np.ndarray":
    m = _MDCT_CACHE.get(n)
    if m is None:
        j = np.arange(n)[:, None]
        k = np.arange(n // 2)[None, :]
        m = np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * k + 1))
        _MDCT_CACHE[n] = m
    return m


# ---------------------------------------------------------------------------
# Ogg packet layer
# ---------------------------------------------------------------------------

def _ogg_packets(data: bytes):
    """Walk Ogg pages of the FIRST logical stream → (packets,
    final_granule).  CRCs verified; continued packets reassembled via
    the lacing rules."""
    if data[:4] != b"OggS":
        raise ValueError("vorbis: not an Ogg stream")
    serial0 = None
    packets = []
    cur = bytearray()
    granule = 0
    for start, hdr_type, g, serial, seg_table, body_start, body_end in \
            _ogg_pages(data):
        if body_end > len(data):
            raise ValueError("vorbis: truncated Ogg page")
        if not _ogg_page_crc_ok(data, start, body_end):
            raise ValueError("vorbis: Ogg page CRC mismatch")
        if serial0 is None:
            serial0 = serial
        if serial == serial0:
            if not (hdr_type & 0x01) and cur:
                # a fresh page while a packet is mid-assembly without
                # the continuation flag: lost sync
                raise ValueError("vorbis: lost Ogg packet sync")
            body = data[body_start:body_end]
            off = 0
            for lace in seg_table:
                cur += body[off:off + lace]
                off += lace
                if lace < 255:
                    packets.append(bytes(cur))
                    cur = bytearray()
            if g >= 0:
                granule = g
    if cur:
        raise ValueError("vorbis: unterminated Ogg packet")
    return packets, granule


# ---------------------------------------------------------------------------
# the decoder
# ---------------------------------------------------------------------------

def decode_vorbis(data: bytes):
    """Decode an Ogg-Vorbis stream → ``(rate, n_channels, int16
    interleaved pcm)`` — the operators/flac.py return shape.  Raises
    ValueError on corrupt input (never another exception type)."""
    try:
        return _decode_vorbis(data)
    except (ValueError, ZeroDivisionError, IndexError, OverflowError,
            struct.error) as e:
        if isinstance(e, ValueError):
            raise
        raise ValueError(f"vorbis: corrupt stream ({type(e).__name__})")


_SETUP_MEMO: dict = {}


def _decode_vorbis(data: bytes):
    packets, final_granule = _ogg_packets(data)
    if len(packets) < 3:
        raise ValueError("vorbis: fewer than 3 header packets")
    idh = packets[0]
    if idh[:7] != b"\x01vorbis" or len(idh) < 30:
        raise ValueError("vorbis: bad identification header")
    br = LsbReader(idh[7:], eof=_EOF)
    if br.read(32) != 0:
        raise ValueError("vorbis: unsupported stream version")
    ch = br.read(8)
    rate = br.read(32)
    br.read(32)
    br.read(32)
    br.read(32)
    bs0 = 1 << br.read(4)
    bs1 = 1 << br.read(4)
    if ch < 1 or rate < 1:
        raise ValueError("vorbis: bad channel count / rate")
    if not (64 <= bs0 <= bs1 <= 8192):
        raise ValueError("vorbis: bad blocksizes")
    if not br.read(1):
        raise ValueError("vorbis: id framing bit unset")
    if packets[1][:7] != b"\x03vorbis":
        raise ValueError("vorbis: bad comment header")
    # r15: memoize the parsed setup per (setup bytes, ch) — a corpus
    # from one encoder config shares one setup header across every
    # file, so codebook/floor/residue construction (and the residues'
    # warm layout caches) amortize across blobs.  Parsed setup is
    # read-only during decode except those caches, which are keyed by
    # layout and safe to share.
    memo_key = (packets[2], ch)   # exact bytes: no hash collisions
    setup = _SETUP_MEMO.get(memo_key)
    if setup is None:
        setup = _parse_setup(packets[2], ch)
        if len(_SETUP_MEMO) >= 64:
            _SETUP_MEMO.clear()
        _SETUP_MEMO[memo_key] = setup
    mode_bits = _ilog(len(setup.modes) - 1)

    tail = None                              # per channel windowed R half
    prev_n = 0
    out_parts = []
    for pk in packets[3:]:
        br = LsbReader(pk, eof=_EOF)
        if br.read(1) != 0:
            raise ValueError("vorbis: expected an audio packet")
        blockflag, mapping_i = setup.modes[br.read(mode_bits)
                                           if mode_bits else 0]
        mapping = setup.mappings[mapping_i]
        n = bs1 if blockflag else bs0
        prev_flag = next_flag = 1
        if blockflag:
            prev_flag = br.read(1)
            next_flag = br.read(1)
        floors = []
        no_residue = []
        for c in range(ch):
            f = setup.floors[mapping.submap_floor[mapping.mux[c]]]
            curve = f.decode(br, setup.books, n // 2)
            floors.append(curve)
            no_residue.append(curve is None)
        for (m, a) in mapping.coupling:
            if not (no_residue[m] and no_residue[a]):
                no_residue[m] = no_residue[a] = False
        vectors = [np.zeros(n // 2) for _ in range(ch)]
        for sm in range(mapping.submaps):
            idxs = [c for c in range(ch) if mapping.mux[c] == sm]
            res = setup.residues[mapping.submap_residue[sm]]
            res.decode(br, setup.books, [vectors[c] for c in idxs],
                       [no_residue[c] for c in idxs])
        for (m, a) in reversed(mapping.coupling):
            M = vectors[m]
            A = vectors[a]
            newM = M.copy()
            newA = A.copy()
            pos_m = M > 0
            pos_a = A > 0
            # square polar (spec §4.3.6)
            newA[pos_m & pos_a] = (M - A)[pos_m & pos_a]
            newM[pos_m & ~pos_a] = (M + A)[pos_m & ~pos_a]
            newA[pos_m & ~pos_a] = M[pos_m & ~pos_a]
            newA[~pos_m & pos_a] = (M + A)[~pos_m & pos_a]
            newM[~pos_m & ~pos_a] = (M - A)[~pos_m & ~pos_a]
            newA[~pos_m & ~pos_a] = M[~pos_m & ~pos_a]
            vectors[m] = newM
            vectors[a] = newA
        w = _window(n, prev_flag, next_flag, bs0)
        blocks = []
        for c in range(ch):
            if floors[c] is None:
                blocks.append(np.zeros(n))
                continue
            spec = vectors[c] * floors[c]
            blocks.append((_imdct_mat(n) @ spec) * w)
        if tail is not None:
            p = prev_n
            L = p // 4 + n // 4
            off = n // 4 - p // 4
            seg = np.zeros((ch, L))
            lo = max(0, -off)
            for c in range(ch):
                seg[c, lo:] += blocks[c][lo + off:off + L]
                m = min(len(tail[c]), L)
                seg[c, :m] += tail[c][:m]
            out_parts.append(seg)
        tail = [b[n // 2:] for b in blocks]
        prev_n = n
    if not out_parts:
        return rate, ch, np.zeros(0, np.int16)
    pcm = np.concatenate(out_parts, axis=1)
    # granule 0 is a legal "zero complete samples" position — no
    # truthiness guard here (a zero-length stream must trim to empty)
    if 0 <= final_granule < pcm.shape[1]:
        pcm = pcm[:, :final_granule]
    inter = np.empty(pcm.shape[1] * ch)
    for c in range(ch):
        inter[c::ch] = pcm[c]
    return rate, ch, np.clip(np.round(inter * 32768.0), -32768,
                             32767).astype(np.int16)


# ---------------------------------------------------------------------------
# the encoder (fixture-grade but real: single blocksize, line floor,
# type-2 residue over a scalar lookup-1 codebook)
# ---------------------------------------------------------------------------



def _encode_setup(n0: int, n1: int, value_bits: int, *,
                  residue_type: int, coupling: bool,
                  floor_classes: bool, ch: int) -> bytes:
    """Build the setup-header packet.  The fixed layout: book 0 =
    16-entry dim-4 classbook, book 1 = the value book (dim 1 for
    residue types 1/2, dim 2 for the type-0 interleave path), and —
    with ``floor_classes`` — books 2/3 = tiny floor master/subclass
    books so the class-based floor decode path is exercised; one
    floor, one residue of the requested type, one mapping (optionally
    with one square-polar coupling step), one mode per block size."""
    bw = LsbWriter()
    for b in b"\x05vorbis":
        bw.write(b, 8)
    n_books = 4 if floor_classes else 2
    bw.write(n_books - 1, 8)
    # --- book 0: classbook
    bw.write(0x564342, 24)
    bw.write(4, 16)
    bw.write(16, 24)
    bw.write(0, 1)
    bw.write(0, 1)
    for _ in range(16):
        bw.write(4 - 1, 5)
    bw.write(0, 4)
    # --- book 1: value book
    K = 1 << (value_bits - 1)
    vdims = 2 if residue_type == 0 else 1
    entries = 1 << (value_bits * vdims)
    bw.write(0x564342, 24)
    bw.write(vdims, 16)
    bw.write(entries, 24)
    bw.write(0, 1)
    bw.write(0, 1)
    for _ in range(entries):
        bw.write(value_bits * vdims - 1, 5)
    bw.write(1, 4)                           # lookup type 1
    bw.write(_float32_pack(float(-K)), 32)
    bw.write(_float32_pack(1.0), 32)
    bw.write(value_bits - 1, 4)
    bw.write(0, 1)                           # sequence_p
    for i in range(1 << value_bits):         # lookup_values = 2^vb
        bw.write(i, value_bits)
    if floor_classes:
        for _ in range(2):                   # books 2+3: 2-entry
            bw.write(0x564342, 24)
            bw.write(1, 16)
            bw.write(2, 24)
            bw.write(0, 1)
            bw.write(0, 1)
            bw.write(0, 5)                   # len 1
            bw.write(0, 5)                   # len 1
            bw.write(0, 4)
    # --- time transforms
    bw.write(0, 6)
    bw.write(0, 16)
    # --- floor 1
    bw.write(0, 6)
    bw.write(1, 16)
    if floor_classes:
        bw.write(1, 5)                       # 1 partition
        bw.write(0, 4)                       # class 0
        bw.write(2 - 1, 3)                   # class dims 2
        bw.write(1, 2)                       # 1 subclass bit
        bw.write(2, 8)                       # masterbook = book 2
        bw.write(3 + 1, 8)                   # subclass slot 0 → book 3
        bw.write(3 + 1, 8)                   # subclass slot 1 → book 3
        bw.write(0, 2)                       # multiplier-1
        bw.write(8, 4)                       # rangebits
        bw.write(85, 8)                      # X values (unique)
        bw.write(170, 8)
    else:
        bw.write(0, 5)
        bw.write(0, 2)
        bw.write(8, 4)
    # --- residue
    bw.write(0, 6)
    bw.write(residue_type, 16)
    bw.write(0, 24)                          # begin
    bw.write(1 << 22, 24)                    # end (clamped at decode)
    bw.write(16 - 1, 24)                     # partition size 16
    bw.write(2 - 1, 6)                       # 2 classifications
    bw.write(0, 8)                           # classbook 0
    for _ in range(2):
        bw.write(1, 3)                       # cascade: pass 0 only
        bw.write(0, 1)
    for _ in range(2):
        bw.write(1, 8)                       # value book 1
    # --- mapping
    bw.write(0, 6)
    bw.write(0, 16)
    bw.write(0, 1)                           # 1 submap
    if coupling and ch == 2:
        bw.write(1, 1)
        bw.write(0, 8)                       # 1 coupling step
        bw.write(0, 1)                       # magnitude ch 0
        bw.write(1, 1)                       # angle ch 1
    else:
        bw.write(0, 1)
    bw.write(0, 2)
    bw.write(0, 8)
    bw.write(0, 8)                           # floor 0
    bw.write(0, 8)                           # residue 0
    # --- modes (one per distinct block size)
    n_modes = 2 if n1 != n0 else 1
    bw.write(n_modes - 1, 6)
    for flag in range(n_modes):
        bw.write(flag, 1)
        bw.write(0, 16)
        bw.write(0, 16)
        bw.write(0, 8)
    bw.write(1, 1)
    return bw.bytes()


def _couple_forward(L: "np.ndarray", R: "np.ndarray"):
    """EXACT inverse of the decoder's square-polar mapping: picks
    (M, A) so that inverse coupling returns (L, R) bit-for-bit."""
    M = np.empty_like(L)
    A = np.empty_like(L)
    pos = L > 0
    ge = L > R
    # L>0, L>R   → M=L, A=L-R   (decode case M>0, A>0)
    m1 = pos & ge
    # L>0, L<=R  → M=R, A=L-R   (decode case M>0, A<=0)
    m2 = pos & ~ge
    # L<=0, R>L  → M=L, A=R-L   (decode case M<=0, A>0)
    m3 = ~pos & ~ge
    # L<=0, R<=L → M=R, A=R-L   (decode case M<=0, A<=0)
    m4 = ~pos & ge
    M[m1] = L[m1]
    A[m1] = (L - R)[m1]
    M[m2] = R[m2]
    A[m2] = (L - R)[m2]
    M[m3] = L[m3]
    A[m3] = (R - L)[m3]
    M[m4] = R[m4]
    A[m4] = (R - L)[m4]
    return M, A


def encode_vorbis(samples, rate: int = 44100, *, blocksize=256,
                  value_bits: int = 5, serial: int = 99,
                  packets_per_page: int = 16, residue_type: int = 2,
                  coupling: bool = False, floor_classes: bool = False,
                  mode_pattern=None) -> bytes:
    """Encode int16/float samples (1-D mono or (T, 2) stereo) into a
    REAL Ogg-Vorbis stream.  Coarse (scalar quantizer) but fully
    conformant — any spec decoder plays it.

    Coverage options (each flips a decoder path into round-trip
    testing): ``residue_type`` 0/1/2 (0 uses a dim-2 book through the
    interleaved-stride path), ``coupling`` (square-polar stereo),
    ``floor_classes`` (class-based floor posts through master/subclass
    books), and ``blocksize=(short, long)`` with ``mode_pattern``
    (block index → 0/1) for window-transition lapping."""
    x = np.asarray(samples, np.float64)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] > 2:
        raise ValueError("encode_vorbis: mono or (T, 2) stereo only")
    if x.size and np.abs(x).max() > 4.0:
        x = x / 32768.0
    T, ch = x.shape
    if isinstance(blocksize, (tuple, list)):
        n_s, n_l = blocksize
    else:
        n_s = n_l = blocksize
    for n in (n_s, n_l):
        if n & (n - 1) or not 64 <= n <= 8192:
            raise ValueError("encode_vorbis: blocksizes must be "
                             "powers of two in [64, 8192]")
    if n_s > n_l:
        raise ValueError("encode_vorbis: short blocksize > long")
    if residue_type not in (0, 1, 2):
        raise ValueError("encode_vorbis: residue_type must be 0/1/2")
    if coupling and ch != 2:
        raise ValueError("encode_vorbis: coupling needs stereo input")
    if mode_pattern is None:
        mode_pattern = (lambda b: (b // 4) % 2) if n_s != n_l \
            else (lambda b: 0)
    lg_s, lg_l = n_s.bit_length() - 1, n_l.bit_length() - 1
    # ---- headers
    idh = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([ch])
           + struct.pack("<I", rate) + b"\x00" * 12
           + bytes([lg_s | (lg_l << 4)]) + b"\x01")
    vendor = b"conduino-spark"
    cmt = (b"\x03vorbis" + struct.pack("<I", len(vendor)) + vendor
           + struct.pack("<I", 0) + b"\x01")
    stp = _encode_setup(n_s, n_l, value_bits, ch=ch,
                        residue_type=residue_type, coupling=coupling,
                        floor_classes=floor_classes)
    # ---- block plan: centers c_{b+1} = c_b + (n_b + n_{b+1})/4
    sizes = []
    centers = []
    c = 0
    b = 0
    while True:
        n = (n_s, n_l)[mode_pattern(b) if n_s != n_l else 0]
        sizes.append(n)
        centers.append(c)
        if c >= T and b >= 1:
            break
        nxt = (n_s, n_l)[mode_pattern(b + 1) if n_s != n_l else 0]
        c += (n + nxt) // 4
        b += 1
    # ---- spectra
    K = 1 << (value_bits - 1)
    Kq = K // 2 if coupling else K           # leave room for |A|<2Kq
    specs = []
    amax = 0.0
    for b, (n, c) in enumerate(zip(sizes, centers)):
        prev_long = sizes[b - 1] == n_l if b else True
        next_long = sizes[b + 1] == n_l if b + 1 < len(sizes) else True
        w = _window(n, int(prev_long), int(next_long), n_s) \
            if n == n_l else _window(n, 1, 1, n_s)
        M = _imdct_mat(n)
        lo = c - n // 2
        seg = np.zeros((n, ch))
        s0, s1 = max(0, lo), min(T, lo + n)
        if s1 > s0:
            seg[s0 - lo:s1 - lo] = x[s0:s1]
        S = np.empty((ch, n // 2))
        for cc in range(ch):
            S[cc] = (4.0 / n) * ((w * seg[:, cc]) @ M)
        specs.append(S)
        if S.size:
            amax = max(amax, float(np.abs(S).max()))
    if amax > 0:
        yc = min(int(np.searchsorted(FLOOR1_INVERSE_DB,
                                     amax / max(Kq - 1, 1))), 255)
        F = FLOOR1_INVERSE_DB[yc]
    else:
        yc, F = 0, FLOOR1_INVERSE_DB[0]
    # ---- audio packets
    psize = 16
    cw = 4
    n_modes = 2 if n_s != n_l else 1

    def _write_floor(bw):
        bw.write(1, 1)
        bw.write(yc, 8)
        bw.write(yc, 8)
        if floor_classes:
            # masterbook symbol 0 (1 bit), then per class dim the
            # subclass book's symbol 0 → Y value 0 → predicted (flat)
            bw.write_code(0, 1)
            bw.write_code(0, 1)
            bw.write_code(0, 1)

    def _write_partition_vals(bw, seg):
        if residue_type == 0:
            step = psize // 2
            lv = 1 << value_bits
            for k in range(step):
                d0 = int(seg[k]) + K
                d1 = int(seg[k + step]) + K
                bw.write_code(d0 + lv * d1, 2 * value_bits)
        else:
            for v in seg:
                bw.write_code(int(v) + K, value_bits)

    pkts = []
    for b, (n, S) in enumerate(zip(sizes, specs)):
        bw = LsbWriter()
        bw.write(0, 1)
        if n_modes == 2:
            bw.write(1 if n == n_l else 0, 1)
        if n == n_l and n_modes == 2:
            prev_long = sizes[b - 1] == n_l if b else True
            next_long = sizes[b + 1] == n_l if b + 1 < len(sizes) \
                else True
            bw.write(int(prev_long), 1)
            bw.write(int(next_long), 1)
        silent = not (S.size and np.abs(S).max() > 0)
        for _c in range(ch):
            if silent:
                bw.write(0, 1)
            else:
                _write_floor(bw)
        if not silent:
            R = np.clip(np.round(S / F), -Kq, Kq - 1).astype(np.int64)
            if coupling:
                M2, A2 = _couple_forward(R[0], R[1])
                R = np.stack([M2, A2])
            h2 = n // 2
            if residue_type == 2:
                inter = np.empty(ch * h2, np.int64)
                for cc in range(ch):
                    inter[cc::ch] = R[cc]
                ptr = (ch * h2) // psize
                for pc in range(ptr):
                    if pc % cw == 0:
                        bw.write_code(0, 4)
                    _write_partition_vals(
                        bw, inter[pc * psize:(pc + 1) * psize])
            else:
                # types 0/1: per-channel vectors; classwords for all
                # channels, then per partition per channel
                ptr = h2 // psize
                pc = 0
                while pc < ptr:
                    for _cc in range(ch):
                        bw.write_code(0, 4)
                    for _i in range(cw):
                        if pc >= ptr:
                            break
                        for cc in range(ch):
                            _write_partition_vals(
                                bw, R[cc][pc * psize:(pc + 1) * psize])
                        pc += 1
        pkts.append(bw.bytes())
    # ---- Ogg framing
    pages = [_ogg_page_multi(serial, 0, 0, [idh], 0x02),
             _ogg_page_multi(serial, 1, 0, [cmt]),
             _ogg_page_multi(serial, 2, 0, [stp])]
    seq = 3
    i = 0
    while i < len(pkts):
        group = pkts[i:i + packets_per_page]
        last_idx = i + len(group) - 1
        granule = min(centers[last_idx], T)
        htype = 0x04 if last_idx == len(pkts) - 1 else 0
        pages.append(_ogg_page_multi(serial, seq, granule, group,
                                     htype))
        seq += 1
        i += len(group)
    return b"".join(pages)
