"""WebP-LOSSLESS (VP8L) codec — dependency-free, from the public
"WebP Lossless Bitstream Specification" (and RIFF container docs).

Decoder covers the full lossless baseline a crawler meets: the RIFF
container (simple `VP8L` files plus `VP8X` extended files that carry a
VP8L chunk), all four transforms (predictor with its 14 modes, color
aka cross-color, subtract-green, color-indexing with sub-byte pixel
bundling), meta-Huffman code groups, the color cache, and LZ77
backward references including the 120-entry 2D distance plane codes.
Lossy `VP8 ` and animated (`ANIM`) files reject as ValueError to the
err channel, like every other codec here (multimodal.py catches
exactly (NotImplementedError, ValueError)).

The encoder below is the TEST/INTEROP side: an independent
transcription of the same spec (its own canonical-code construction,
package-merge length limiting, RLE code-length emission and forward
transforms), deliberately not sharing entropy machinery with the
decoder so roundtrip tests cross two implementations — the same
discipline as the PNG/JPEG/GIF test encoders.

Bit order: the VP8L stream packs bits LSB-first within bytes; Huffman
codes are canonical with their bits emitted most-significant-first
into that stream (the DEFLATE convention), so a bit-at-a-time
canonical walk reads them naturally. Plain `ReadBits(n)` fields are
LSB-first values.

Scale/bomb discipline (the err-channel contract every untrusted-bytes
parser in this repo follows): pixel count capped BEFORE allocation,
palette/cache/code sizes validated against the format's own bounds,
Kraft-complete Huffman codes enforced (single-symbol codes excepted,
as the format allows), ValueError-only failures. The entropy decode is
a per-symbol Python loop like the JPEG/GIF baselines (fine for the
favicon/thumbnail sizes crawls actually carry; a megapixel image costs
seconds and the distributed path amortizes across cores).
"""

from __future__ import annotations

import struct

import numpy as np

WEBP_MAX_PIXELS = 1 << 26

# kCodeLengthCodeOrder (spec)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
              13, 14, 15)

_GREEN_BASE = 256 + 24          # literals + length prefix codes


def _dist_table() -> list:
    """The 120-entry distance plane-code table. The spec lists it
    literally; it is exactly the set {(x, y): y in 0..7, x in -7..8,
    excluding (x<=0, y=0)} ordered by (x*x + y*y, |x|, x<0) — derived
    here so a transcription typo is impossible."""
    cand = [(x, y) for y in range(8) for x in range(-7, 9)
            if not (y == 0 and x <= 0)]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]),
                             p[0] < 0))
    assert len(cand) == 120
    return cand


_DIST_TABLE = _dist_table()


class _Bits:
    """LSB-first bit reader; out-of-data reads raise ValueError."""

    __slots__ = ("d", "pos", "nbits")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("webp: truncated VP8L stream")
        self.pos = p + n
        v = 0
        shift = 0
        while n > 0:
            byte = self.d[p >> 3]
            avail = 8 - (p & 7)
            take = avail if avail < n else n
            v |= ((byte >> (p & 7)) & ((1 << take) - 1)) << shift
            shift += take
            p += take
            n -= take
        return v

    def read1(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise ValueError("webp: truncated VP8L stream")
        self.pos = p + 1
        return (self.d[p >> 3] >> (p & 7)) & 1


class _Huff:
    """Canonical prefix decoder: per-length first-code/offset tables
    (the JPEG decoder's scheme). A 0-bit single-symbol code emits its
    symbol without consuming input."""

    __slots__ = ("single", "counts", "firsts", "offsets", "symbols",
                 "max_len")

    def __init__(self, lengths):
        used = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("webp: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            return
        self.single = None
        used.sort()
        self.max_len = used[-1][0]
        if self.max_len > 15:
            raise ValueError("webp: prefix code length > 15")
        counts = [0] * (self.max_len + 1)
        for ln, _s in used:
            counts[ln] += 1
        # Kraft must be exactly 1 (complete code) — hostile streams
        # with over/under-subscribed codes must not decode garbage
        kraft = sum(c << (self.max_len - ln)
                    for ln, c in enumerate(counts) if ln)
        if kraft != 1 << self.max_len:
            raise ValueError("webp: invalid (incomplete) prefix code")
        self.symbols = [s for _ln, s in used]
        firsts = [0] * (self.max_len + 1)
        offsets = [0] * (self.max_len + 1)
        code = 0
        off = 0
        for ln in range(1, self.max_len + 1):
            firsts[ln] = code
            offsets[ln] = off
            code = (code + counts[ln]) << 1
            off += counts[ln]
        self.counts = counts
        self.firsts = firsts
        self.offsets = offsets

    @classmethod
    def simple(cls, syms):
        h = cls.__new__(cls)
        if len(syms) == 1:
            h.single = syms[0]
        else:
            h.single = None
            h.max_len = 1
            h.counts = [0, 2]
            h.firsts = [0, 0]
            h.offsets = [0, 0]
            h.symbols = list(syms)      # bit 0 = first WRITTEN symbol
        return h

    def decode(self, bits: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | bits.read1()
            idx = code - self.firsts[ln]
            if idx < self.counts[ln]:
                return self.symbols[self.offsets[ln] + idx]
        raise ValueError("webp: bad prefix code in stream")


def _read_prefix_code(bits: _Bits, alphabet: int) -> _Huff:
    if bits.read1():                      # simple code
        two = bits.read1()
        s0 = bits.read(8 if bits.read1() else 1)
        syms = [s0]
        if two:
            syms.append(bits.read(8))
        if any(s >= alphabet for s in syms) or len(set(syms)) != len(syms):
            raise ValueError("webp: simple code symbol out of range")
        return _Huff.simple(syms)
    ncl = 4 + bits.read(4)
    cl_lengths = [0] * 19
    for i in range(ncl):
        cl_lengths[_CLC_ORDER[i]] = bits.read(3)
    clh = _Huff(cl_lengths)
    if bits.read1():                      # explicit symbol budget
        nb = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(nb)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8                              # kDefaultCodeLength
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = clh.decode(bits)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        else:
            if s == 16:
                rep, fill = 3 + bits.read(2), prev
            elif s == 17:
                rep, fill = 3 + bits.read(3), 0
            else:
                rep, fill = 11 + bits.read(7), 0
            if i + rep > alphabet:
                raise ValueError("webp: code length repeat overflows "
                                 "alphabet")
            for _ in range(rep):
                lengths[i] = fill
                i += 1
    return _Huff(lengths)


def _prefix_value(bits: _Bits, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec 'prefix coding')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + bits.read(extra) + 1


def _read_group(bits: _Bits, cache_bits: int) -> tuple:
    green = _read_prefix_code(
        bits, _GREEN_BASE + ((1 << cache_bits) if cache_bits else 0))
    red = _read_prefix_code(bits, 256)
    blue = _read_prefix_code(bits, 256)
    alpha = _read_prefix_code(bits, 256)
    dist = _read_prefix_code(bits, 40)
    return green, red, blue, alpha, dist


def _subimage_dims(size: int, size_bits: int) -> int:
    return (size + (1 << size_bits) - 1) >> size_bits


def _decode_image_stream(bits: _Bits, xsize: int, ysize: int,
                         level0: bool) -> np.ndarray:
    """-> (ysize', xsize') uint32 ARGB, transforms applied; xsize' may
    differ from xsize only never (the color-indexing inverse restores
    the original width before returning)."""
    transforms = []
    if level0:
        seen = set()
        while bits.read1():
            t = bits.read(2)
            if t in seen:
                raise ValueError("webp: duplicate transform")
            seen.add(t)
            if t == 2:                      # subtract green
                transforms.append(("subgreen",))
            elif t in (0, 1):               # predictor / color
                sb = 2 + bits.read(3)
                bw = _subimage_dims(xsize, sb)
                bh = _subimage_dims(ysize, sb)
                sub = _decode_image_stream(bits, bw, bh, False)
                transforms.append(("pred" if t == 0 else "color",
                                   sb, sub))
            else:                           # color indexing
                n = 1 + bits.read(8)
                praw = _decode_image_stream(bits, n, 1, False)[0]
                # palette entries are delta-coded per channel
                pal = np.zeros(n, np.uint32)
                prev = 0
                for i in range(n):
                    cur = 0
                    for sh in (0, 8, 16, 24):
                        c = (((int(praw[i]) >> sh) & 0xFF)
                             + ((prev >> sh) & 0xFF)) & 0xFF
                        cur |= c << sh
                    pal[i] = cur
                    prev = cur
                if n <= 2:
                    wb = 3
                elif n <= 4:
                    wb = 2
                elif n <= 16:
                    wb = 1
                else:
                    wb = 0
                transforms.append(("palette", n, pal, wb, xsize))
                if wb:
                    xsize = _subimage_dims(xsize, wb)
    cache_bits = 0
    if bits.read1():
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("webp: bad color cache size")
    meta = None
    hb = 0
    num_groups = 1
    if level0 and bits.read1():
        hb = 2 + bits.read(3)
        hw = _subimage_dims(xsize, hb)
        hh = _subimage_dims(ysize, hb)
        himg = _decode_image_stream(bits, hw, hh, False)
        meta = ((himg >> 8) & 0xFFFF).astype(np.int64)
        num_groups = int(meta.max()) + 1
    groups = [_read_group(bits, cache_bits) for _ in range(num_groups)]

    npix = xsize * ysize
    out = np.zeros(npix, np.uint32)
    cache = ([0] * (1 << cache_bits)) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    g_green, g_red, g_blue, g_alpha, g_dist = groups[0]
    while pos < npix:
        if meta is not None:
            y, x = divmod(pos, xsize)
            (g_green, g_red, g_blue, g_alpha,
             g_dist) = groups[int(meta[y >> hb, x >> hb])]
        s = g_green.decode(bits)
        if s < 256:
            r = g_red.decode(bits)
            b = g_blue.decode(bits)
            a = g_alpha.decode(bits)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                      >> cache_shift] = px
            pos += 1
        elif s < _GREEN_BASE:
            length = _prefix_value(bits, s - 256)
            dcode = g_dist.decode(bits)
            d = _prefix_value(bits, dcode)
            if d > 120:
                dist = d - 120
            else:
                xoff, yoff = _DIST_TABLE[d - 1]
                dist = yoff * xsize + xoff
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npix:
                raise ValueError("webp: backward reference out of "
                                 "range")
            if cache is None:
                # chunked overlapping copy (dist may be < length)
                left = length
                dst = pos
                while left > 0:
                    n = dist if dist < left else left
                    out[dst:dst + n] = out[dst - dist:dst - dist + n]
                    dst += n
                    left -= n
            else:
                for i in range(length):
                    px = int(out[pos + i - dist])
                    out[pos + i] = px
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                          >> cache_shift] = px
            pos += length
        else:
            if cache is None:
                raise ValueError("webp: cache symbol without color "
                                 "cache")
            out[pos] = cache[s - _GREEN_BASE]
            pos += 1
    img = out.reshape(ysize, xsize)
    for tr in reversed(transforms):
        img = _apply_inverse(tr, img)
    return img


def _channels(px: int):
    return ((px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF,
            px & 0xFF)


def _select(l: int, t: int, tl: int) -> int:
    lc, tc, tlc = _channels(l), _channels(t), _channels(tl)
    p_l = sum(abs(tc[i] - tlc[i]) for i in range(4))
    p_t = sum(abs(lc[i] - tlc[i]) for i in range(4))
    return l if p_l < p_t else t


def _clamp_full(l: int, t: int, tl: int) -> int:
    lc, tc, tlc = _channels(l), _channels(t), _channels(tl)
    px = 0
    for i, sh in enumerate((24, 16, 8, 0)):
        v = lc[i] + tc[i] - tlc[i]
        v = 0 if v < 0 else (255 if v > 255 else v)
        px |= v << sh
    return px


def _clamp_half(l: int, t: int, tl: int) -> int:
    lc, tc, tlc = _channels(l), _channels(t), _channels(tl)
    px = 0
    for i, sh in enumerate((24, 16, 8, 0)):
        a = (lc[i] + tc[i]) >> 1
        d = a - tlc[i]
        # C integer division: truncation toward zero (spec pseudocode)
        q = d // 2 if d >= 0 else -((-d) // 2)
        v = a + q
        v = 0 if v < 0 else (255 if v > 255 else v)
        px |= v << sh
    return px


def _avg_px(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
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
        return _avg_px(_avg_px(l, tr), t)
    if mode == 6:
        return _avg_px(l, tl)
    if mode == 7:
        return _avg_px(l, t)
    if mode == 8:
        return _avg_px(tl, t)
    if mode == 9:
        return _avg_px(t, tr)
    if mode == 10:
        return _avg_px(_avg_px(l, tl), _avg_px(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_full(l, t, tl)
    if mode == 13:
        return _clamp_half(l, t, tl)
    raise ValueError("webp: bad predictor mode")


def _add_px(residual: int, pred: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        out |= ((((residual >> sh) & 0xFF) + ((pred >> sh) & 0xFF))
                & 0xFF) << sh
    return out


def _apply_inverse(tr: tuple, img: np.ndarray) -> np.ndarray:
    h, w = img.shape
    kind = tr[0]
    if kind == "subgreen":
        g = (img >> 8) & 0xFF
        r = (((img >> 16) & 0xFF) + g) & 0xFF
        b = ((img & 0xFF) + g) & 0xFF
        return ((img & np.uint32(0xFF00FF00)) | (r << 16)
                | b).astype(np.uint32)
    if kind == "pred":
        _kind, sb, sub = tr
        modes = ((sub >> 8) & 0xFF).astype(np.int64)
        flat = img.reshape(-1).astype(np.int64)
        for y in range(h):
            base = y * w
            for x in range(w):
                idx = base + x
                if idx == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(flat[idx - 1])          # L
                elif x == 0:
                    pred = int(flat[idx - w])          # T
                else:
                    mode = int(modes[y >> sb, x >> sb])
                    l = int(flat[idx - 1])
                    t = int(flat[idx - w])
                    tl = int(flat[idx - w - 1])
                    # flat-index TR: at x == w-1 this lands on the
                    # CURRENT row's first (already decoded) pixel —
                    # the reference decoder's contiguous-buffer
                    # behavior, adopted as normative
                    tr_px = int(flat[idx - w + 1])
                    pred = _predict(mode, l, t, tl, tr_px)
                flat[idx] = _add_px(int(flat[idx]), pred)
        return flat.astype(np.uint32).reshape(h, w)
    if kind == "color":
        _kind, sb, sub = tr
        g2r = (sub & 0xFF).astype(np.int64)           # blue channel
        g2b = ((sub >> 8) & 0xFF).astype(np.int64)    # green channel
        r2b = ((sub >> 16) & 0xFF).astype(np.int64)   # red channel
        by = np.arange(h) >> sb
        bx = np.arange(w) >> sb
        t_g2r = g2r[by][:, bx]
        t_g2b = g2b[by][:, bx]
        t_r2b = r2b[by][:, bx]
        g = ((img >> 8) & 0xFF).astype(np.int64)
        r = ((img >> 16) & 0xFF).astype(np.int64)
        b = (img & 0xFF).astype(np.int64)
        gs = np.where(g >= 128, g - 256, g)
        ts = np.where(t_g2r >= 128, t_g2r - 256, t_g2r)
        r = (r + ((ts * gs) >> 5)) & 0xFF
        ts = np.where(t_g2b >= 128, t_g2b - 256, t_g2b)
        b = (b + ((ts * gs) >> 5)) & 0xFF
        rs = np.where(r >= 128, r - 256, r)
        ts = np.where(t_r2b >= 128, t_r2b - 256, t_r2b)
        b = (b + ((ts * rs) >> 5)) & 0xFF
        return ((img & np.uint32(0xFF00FF00))
                | (r.astype(np.uint32) << 16)
                | b.astype(np.uint32)).astype(np.uint32)
    if kind == "palette":
        _kind, n, pal, wb, orig_w = tr
        if wb:
            per = 1 << wb                  # packed pixels per unit
            bwidth = 8 >> wb               # bits per packed pixel
            mask = (1 << bwidth) - 1
            g = ((img >> 8) & 0xFF).astype(np.int64)
            xs = np.arange(orig_w)
            unit = g[:, xs >> wb]
            shift = (xs & (per - 1)) * bwidth
            idx = (unit >> shift) & mask
        else:
            idx = ((img >> 8) & 0xFF).astype(np.int64)[:, :orig_w]
        if int(idx.max()) >= n:
            raise ValueError("webp: palette index out of range")
        return pal[idx]
    raise ValueError("webp: unknown transform")


def parse_webp(data: bytes) -> np.ndarray:
    """WebP container -> (h, w, 3) uint8 RGB (lossless VP8L payloads;
    alpha is decoded but dropped for the RGB feature path, matching
    the other codecs here). Lossy/animated WebP raises ValueError to
    the per-row err channel."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad RIFF/WEBP signature")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) != size:
            raise ValueError("webp: truncated chunk")
        if fourcc == b"VP8L":
            return _decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise ValueError("webp: lossy VP8 payload not supported "
                             "(dependency-free decoder covers "
                             "lossless only)")
        if fourcc == b"ANIM":
            raise ValueError("webp: animated WebP not supported")
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no VP8L chunk found")


def _decode_vp8l(d: bytes) -> np.ndarray:
    bits = _Bits(d)
    if bits.read(8) != 0x2F:
        raise ValueError("webp: bad VP8L signature byte")
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    bits.read1()                          # alpha-is-used hint
    if bits.read(3) != 0:
        raise ValueError("webp: unsupported VP8L version")
    if w * h > WEBP_MAX_PIXELS:
        raise ValueError(
            f"webp: {w}x{h} exceeds the decoder pixel cap "
            f"({WEBP_MAX_PIXELS})")
    argb = _decode_image_stream(bits, w, h, True)
    out = np.empty((h, w, 3), np.uint8)
    out[:, :, 0] = (argb >> 16) & 0xFF
    out[:, :, 1] = (argb >> 8) & 0xFF
    out[:, :, 2] = argb & 0xFF
    return out


# ----------------------------- test encoder ----------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v: int, n: int):
        """Plain LSB-first field."""
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def put_code(self, code: int, n: int):
        """Huffman code: bits emitted MSB-first into the LSB-first
        stream (DEFLATE convention)."""
        for i in range(n - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytes(self.buf)
        if self.n:
            out += bytes([self.acc & 0xFF])
        return out


def _package_merge(freqs: dict, limit: int) -> dict:
    """Length-limited canonical Huffman lengths (package-merge)."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    items = sorted((freqs[s], (s,)) for s in syms)
    prev: list = []
    for _level in range(limit):
        pairs = [(prev[i][0] + prev[i + 1][0],
                  prev[i][1] + prev[i + 1][1])
                 for i in range(0, len(prev) - 1, 2)]
        prev = sorted(items + pairs)
    lengths: dict = {}
    for _f, group in prev[:2 * len(syms) - 2]:
        for s in group:
            lengths[s] = lengths.get(s, 0) + 1
    if max(lengths.values()) > limit:
        raise AssertionError("package-merge exceeded limit")
    return lengths


def _canonical_codes(lengths: dict) -> dict:
    order = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
    codes = {}
    code = 0
    prev_len = order[0][1]
    for s, ln in order:
        code <<= (ln - prev_len)
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _Code:
    """One emitted prefix code: lengths over the alphabet + writers."""

    def __init__(self, freqs: dict, alphabet: int):
        if not freqs:
            freqs = {0: 1}
        if len(freqs) == 1:
            s = next(iter(freqs))
            if s <= 255:
                self.simple = [s]
                self.codes = {s: (0, 0)}
                return
            # single symbol >= 256: simple codes can't express it —
            # add a dummy to form a complete 1-bit normal code
            freqs = {s: freqs[s], 0: 1}
        if len(freqs) == 2 and all(s <= 255 for s in freqs):
            syms = sorted(freqs)
            self.simple = syms          # written in this order: bit 0
            self.codes = {syms[0]: (0, 1), syms[1]: (1, 1)}
            return
        self.simple = None
        lengths = _package_merge(freqs, 15)
        self.lengths = [lengths.get(s, 0) for s in range(alphabet)]
        self.codes = _canonical_codes(lengths)

    def write(self, bw: _BitWriter):
        if self.simple is not None:
            bw.put(1, 1)                        # simple
            bw.put(len(self.simple) - 1, 1)
            s0 = self.simple[0]
            if s0 > 1:
                bw.put(1, 1)
                bw.put(s0, 8)
            else:
                bw.put(0, 1)
                bw.put(s0, 1)
            if len(self.simple) == 2:
                bw.put(self.simple[1], 8)
            return
        bw.put(0, 1)                            # normal
        # RLE the code lengths into code-length-code symbols; symbol
        # 16 repeats the previous NON-ZERO length, so it is only ever
        # emitted immediately after a literal of the same value
        toks = []                               # (symbol, extra, nbits)
        i = 0
        L = self.lengths
        n = len(L)
        while i < n:
            v = L[i]
            run = 1
            while i + run < n and L[i + run] == v:
                run += 1
            i += run
            if v == 0:
                while run >= 11:
                    k = min(run, 138)
                    toks.append((18, k - 11, 7))
                    run -= k
                while run >= 3:
                    k = min(run, 10)
                    toks.append((17, k - 3, 3))
                    run -= k
                toks.extend((0, 0, 0) for _ in range(run))
            else:
                toks.append((v, 0, 0))
                run -= 1
                while run >= 3:
                    k = min(run, 6)
                    toks.append((16, k - 3, 2))
                    run -= k
                toks.extend((v, 0, 0) for _ in range(run))
        clf: dict = {}
        for s, _e, _n in toks:
            clf[s] = clf.get(s, 0) + 1
        if len(clf) == 1:
            # a 0-bit single-symbol code would desynchronize the
            # writer; pad with a dummy to form a complete 1-bit code
            only = next(iter(clf))
            clf[0 if only else 1] = 0
            cl_lengths = {s: 1 for s in clf}
        else:
            cl_lengths = _package_merge(clf, 7)
        cl_codes = _canonical_codes(cl_lengths)
        # fixed 19-slot order, trimmed to the last used slot
        slots = [cl_lengths.get(_CLC_ORDER[i], 0) for i in range(19)]
        last = max(i for i in range(19) if slots[i])
        ncl = max(4, last + 1)
        bw.put(ncl - 4, 4)
        for i in range(ncl):
            bw.put(slots[i], 3)
        bw.put(0, 1)                            # no max_symbol trick
        for s, extra, nbits in toks:
            c, ln = cl_codes[s]
            bw.put_code(c, ln)
            if nbits:
                bw.put(extra, nbits)

    def emit(self, bw: _BitWriter, s: int):
        c, ln = self.codes[s]
        if ln:
            bw.put_code(c, ln)


def _length_to_prefix(v: int):
    """Inverse of _prefix_value: -> (code, extra_bits, extra)."""
    if v <= 4:
        return v - 1, 0, 0
    v -= 1
    nbits = v.bit_length() - 1
    hi = (v >> (nbits - 1)) & 1
    code = 2 * nbits + hi - 2 + 2
    # reconstruct: offset = (2+hi) << (nbits-1); extra = v - offset
    offset = (2 + hi) << (nbits - 1)
    return code, nbits - 1, v - offset


def encode_webp_lossless(img: np.ndarray, subtract_green: bool = False,
                         cache_bits: int = 0,
                         row_backrefs: bool = False,
                         predictor_mode: int | None = None,
                         color_deltas: tuple | None = None,
                         palette: bool = False,
                         two_groups: bool = False) -> bytes:
    """Independent from-spec VP8L encoder for roundtrip tests: literal
    pixels with optional transforms (subtract-green, a fixed-mode
    predictor, a fixed-delta cross-color transform, palette aka
    color-indexing with bundling), an optional color cache, optional
    whole-row backward references (repeated rows emit one LZ77 copy
    with distance = xsize, exercising the 2D plane-code table), and an
    optional two-group meta-Huffman split (left/right halves)."""
    h, w = img.shape[:2]
    a = np.full((h, w), 255, np.int64)
    r = img[:, :, 0].astype(np.int64)
    g = img[:, :, 1].astype(np.int64)
    b = img[:, :, 2].astype(np.int64)

    bw = _BitWriter()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)
    bw.put(0, 3)

    pal_list = None
    wb = 0
    if palette:
        cols = sorted({(int(rr), int(gg), int(bb)) for rr, gg, bb in
                       zip(r.ravel(), g.ravel(), b.ravel())})
        if len(cols) > 256:
            raise ValueError("test encoder: too many palette colors")
        pal_list = cols
        lut = {c: i for i, c in enumerate(cols)}
        idx = np.array([[lut[(int(r[y, x]), int(g[y, x]),
                              int(b[y, x]))] for x in range(w)]
                        for y in range(h)], np.int64)
        n = len(cols)
        if n <= 2:
            wb = 3
        elif n <= 4:
            wb = 2
        elif n <= 16:
            wb = 1
        bw.put(1, 1)
        bw.put(3, 2)
        bw.put(n - 1, 8)
        # palette sub-image: delta-coded entries as literals
        entries = []
        prev = (0, 0, 0, 0)
        for c in cols:
            cur = (255, c[0], c[1], c[2])
            entries.append(tuple((cur[i] - prev[i]) & 0xFF
                                 for i in range(4)))
            prev = cur
        _emit_literal_stream(bw, entries, 1)
        if wb:
            per = 1 << wb
            bwidth = 8 >> wb
            pw = (w + per - 1) >> wb
            packed = np.zeros((h, pw), np.int64)
            for x in range(w):
                packed[:, x >> wb] |= idx[:, x] << ((x & (per - 1))
                                                    * bwidth)
            a = np.full((h, pw), 255, np.int64)
            r = np.zeros((h, pw), np.int64)
            g = packed
            b = np.zeros((h, pw), np.int64)
            w = pw
        else:
            a = np.full((h, w), 255, np.int64)
            r = np.zeros((h, w), np.int64)
            g = idx
            b = np.zeros((h, w), np.int64)
    if color_deltas is not None:
        g2r, g2b, r2b = color_deltas

        def sx(v):
            return v - 256 if v >= 128 else v
        # forward: subtract the deltas the decoder will add back,
        # in the decoder's own order (red first, then blue)
        gs = np.where(g >= 128, g - 256, g)
        rs0 = np.where(r >= 128, r - 256, r)   # ORIGINAL red, signed
        b = (b - ((sx(g2b) * gs) >> 5) - ((sx(r2b) * rs0) >> 5)) & 0xFF
        r = (r - ((sx(g2r) * gs) >> 5)) & 0xFF
        bw.put(1, 1)
        bw.put(1, 2)
        sb = 3                              # block bits
        bw.put(sb - 2, 3)
        cw = _subimage_dims(w, sb)
        ch = _subimage_dims(h, sb)
        cell = (255, r2b, g2b, g2r)        # a, r, g, b channels
        _emit_literal_stream(bw, [cell] * (cw * ch), cw)
    if predictor_mode is not None:
        sb = 2
        bw.put(1, 1)
        bw.put(0, 2)
        bw.put(sb - 2, 3)
        pw_ = _subimage_dims(w, sb)
        ph_ = _subimage_dims(h, sb)
        _emit_literal_stream(
            bw, [(255, 0, predictor_mode, 0)] * (pw_ * ph_), pw_)
        # forward-predict: residual = px - pred, raster order, using
        # ORIGINAL pixels as context
        flat = ((a << 24) | (r << 16) | (g << 8) | b).ravel()
        res = flat.copy()
        for yx in range(h * w):
            y, x = divmod(yx, w)
            if yx == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(flat[yx - 1])
            elif x == 0:
                pred = int(flat[yx - w])
            else:
                pred = _predict(predictor_mode, int(flat[yx - 1]),
                                int(flat[yx - w]),
                                int(flat[yx - w - 1]),
                                int(flat[yx - w + 1]))
            v = 0
            for sh in (0, 8, 16, 24):
                v |= (((int(flat[yx]) >> sh) - (pred >> sh)) & 0xFF) \
                    << sh
            res[yx] = v
        a = (res >> 24).reshape(h, w) & 0xFF
        r = (res >> 16).reshape(h, w) & 0xFF
        g = (res >> 8).reshape(h, w) & 0xFF
        b = res.reshape(h, w) & 0xFF
    if subtract_green:
        bw.put(1, 1)
        bw.put(2, 2)
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    bw.put(0, 1)                            # end of transforms

    _emit_main_stream(bw, a, r, g, b, cache_bits, row_backrefs,
                      two_groups)
    payload = bw.bytes()
    riff = (b"VP8L" + struct.pack("<I", len(payload)) + payload
            + (b"\x00" if len(payload) & 1 else b""))
    return (b"RIFF" + struct.pack("<I", 4 + len(riff)) + b"WEBP"
            + riff)


def _emit_literal_stream(bw: _BitWriter, pixels, xsize: int):
    """Encode a sub-image (transform data / palette): no cache, no
    meta, all-literal."""
    bw.put(0, 1)                            # no color cache
    gf: dict = {}
    rf: dict = {}
    bf: dict = {}
    af: dict = {}
    for pa, pr, pg, pb in pixels:
        gf[pg] = gf.get(pg, 0) + 1
        rf[pr] = rf.get(pr, 0) + 1
        bf[pb] = bf.get(pb, 0) + 1
        af[pa] = af.get(pa, 0) + 1
    cg = _Code(gf, _GREEN_BASE)
    cr = _Code(rf, 256)
    cb = _Code(bf, 256)
    ca = _Code(af, 256)
    cd = _Code({0: 1}, 40)
    for c in (cg, cr, cb, ca, cd):
        c.write(bw)
    for pa, pr, pg, pb in pixels:
        cg.emit(bw, pg)
        cr.emit(bw, pr)
        cb.emit(bw, pb)
        ca.emit(bw, pa)


def _emit_main_stream(bw: _BitWriter, a, r, g, b, cache_bits: int,
                      row_backrefs: bool, two_groups: bool):
    h, w = g.shape
    flat = [(int(a[y, x]), int(r[y, x]), int(g[y, x]), int(b[y, x]))
            for y in range(h) for x in range(w)]
    argb = [(pa << 24) | (pr << 16) | (pg << 8) | pb
            for pa, pr, pg, pb in flat]
    # tokenize: (kind, payload)
    toks = []
    cache = [None] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    while pos < h * w:
        y = pos // w
        if (row_backrefs and y > 0 and pos % w == 0 and w <= 4096
                and argb[pos:pos + w] == argb[pos - w:pos]):
            toks.append(("copy", w, w))     # dist = xsize = plane {0,1}
            if cache is not None:
                for i in range(w):
                    px = argb[pos + i]
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                          >> shift] = px
            pos += w
            continue
        px = argb[pos]
        if cache is not None:
            slot = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift
            if cache[slot] == px:
                toks.append(("cache", slot, None))
                pos += 1
                continue
            cache[slot] = px
        toks.append(("lit", flat[pos], None))
        pos += 1

    bw.put(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.put(cache_bits, 4)

    def group_of(p):
        return 1 if (two_groups and (p % w) >= w // 2) else 0

    ngroups = 2 if two_groups else 1
    if two_groups:
        bw.put(1, 1)                        # meta-huffman present
        hb = 2                              # 4x4 meta blocks
        hw = _subimage_dims(w, hb)
        hh = _subimage_dims(h, hb)
        meta = [(0, 0, (1 if ((x << hb) >= w // 2) else 0), 0)
                for _y in range(hh) for x in range(hw)]
        bw.put(hb - 2, 3)
        _emit_literal_stream(bw, meta, hw)

        def group_of(p):                    # noqa: F811 — match meta
            return 1 if (((p % w) >> hb) << hb) >= w // 2 else 0
    else:
        bw.put(0, 1)

    # frequencies per group
    alpha_g = _GREEN_BASE + ((1 << cache_bits) if cache_bits else 0)
    gfs = [dict() for _ in range(ngroups)]
    rfs = [dict() for _ in range(ngroups)]
    bfs = [dict() for _ in range(ngroups)]
    afs = [dict() for _ in range(ngroups)]
    dfs = [dict() for _ in range(ngroups)]
    p = 0
    for kind, x1, x2 in toks:
        gi = group_of(p)
        if kind == "lit":
            pa, pr, pg, pb = x1
            gfs[gi][pg] = gfs[gi].get(pg, 0) + 1
            rfs[gi][pr] = rfs[gi].get(pr, 0) + 1
            bfs[gi][pb] = bfs[gi].get(pb, 0) + 1
            afs[gi][pa] = afs[gi].get(pa, 0) + 1
            p += 1
        elif kind == "cache":
            s = _GREEN_BASE + x1
            gfs[gi][s] = gfs[gi].get(s, 0) + 1
            p += 1
        else:                               # copy
            lc, _eb, _ex = _length_to_prefix(x1)
            gfs[gi][256 + lc] = gfs[gi].get(256 + lc, 0) + 1
            dc, _eb2, _ex2 = _length_to_prefix(1)   # plane code 1
            dfs[gi][dc] = dfs[gi].get(dc, 0) + 1
            p += x2
    codes = []
    for gi in range(ngroups):
        cg = _Code(gfs[gi], alpha_g)
        cr = _Code(rfs[gi], 256)
        cb = _Code(bfs[gi], 256)
        ca = _Code(afs[gi], 256)
        cd = _Code(dfs[gi] or {0: 1}, 40)
        for c in (cg, cr, cb, ca, cd):
            c.write(bw)
        codes.append((cg, cr, cb, ca, cd))
    p = 0
    for kind, x1, x2 in toks:
        cg, cr, cb, ca, cd = codes[group_of(p)]
        if kind == "lit":
            pa, pr, pg, pb = x1
            cg.emit(bw, pg)
            cr.emit(bw, pr)
            cb.emit(bw, pb)
            ca.emit(bw, pa)
            p += 1
        elif kind == "cache":
            cg.emit(bw, _GREEN_BASE + x1)
            p += 1
        else:
            lc, eb, ex = _length_to_prefix(x1)
            cg.emit(bw, 256 + lc)
            if eb:
                bw.put(ex, eb)
            dc, eb2, ex2 = _length_to_prefix(1)
            cd.emit(bw, dc)
            if eb2:
                bw.put(ex2, eb2)
            p += x2
