"""Dependency-free media codecs for the multimodal stages.

This container ships no PIL/libvips/ffmpeg, but two real formats are
decodable with numpy alone, so ``decode_mode='real'`` is genuinely real
for them:

* **netpbm P6 (PPM)** raw RGB images — full header parsing (comments,
  arbitrary whitespace, maxval 255), and the netpbm *multi-image
  stream* convention (P6 images concatenated back-to-back) as the
  frame container for ``sample_frames``.
* **RIFF/WAVE 16-bit PCM** audio — chunk walk (word-aligned), fmt/data
  extraction, multi-channel downmix to mono float64 in [-1, 1).

* **PNG** (since r7) — zlib is in the stdlib, so the dominant lossless
  web format decodes dependency-free, at FULL baseline coverage:
  chunk walk, IDAT inflate, per-scanline unfilter (all five filter
  types; Sub/Up vectorized, Average/Paeth per-byte — their
  recurrences are inherently sequential), every legal color-type ×
  bit-depth combination (1/2/4-bit gray and palette unpack MSB-first,
  16-bit reduces to the high byte), and both interlace methods
  (Adam7's seven sub-images decode independently and scatter onto
  the pass grid) to an (h, w, 3) array (alpha dropped, palette
  expanded). A minimal truecolor encoder (filter-0 rows) exists so
  tests and oracles can build closed-form payloads without PIL.

* **JPEG — baseline AND progressive** (late r7, `datapipe/jpeg.py`)
  — full from-spec decoder: Huffman entropy decode with restart
  intervals, progressive multi-scan coefficient accumulation
  (spectral selection + successive approximation, EOB-run correction
  bits), dequant, matrix IDCT, 4:4:4/4:2:2/4:2:0, grayscale and
  YCbCr. Arithmetic-coded/hierarchical/12-bit streams reject to the
  err channel.

* **GIF** (r8, `datapipe/gif.py`) — LZW, palettes, transparency,
  disposal compositing, interlace, animated multi-frame.

* **BMP / ICO** (r8) — the favicon formats: uncompressed DIBs at
  1/4/8-bit palette and 24/32-bit truecolor, bottom-up/top-down rows,
  and the ICO container (largest entry wins; PNG-compressed entries
  route through the PNG decoder, classic entries are doubled-height
  DIBs).

* **WebP lossless (VP8L)** (r9, `datapipe/webp.py`) — the RIFF
  container, all four transforms (predictor/cross-color/
  subtract-green/color-indexing with bundling), meta-Huffman groups,
  color cache, LZ77 with the 2D distance plane codes. Lossy `VP8 `
  and animated files reject to the err channel.

Remaining compressed formats (video/MP4, lossy WebP, AVIF) still
require external codecs and surface as NotImplementedError (or a
parse ValueError) through the stages' err channel.

Everything here is pure computation over bytes — safe inside Arrow
kernels, no I/O, deterministic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PPM_TYPES = frozenset({"image/ppm", "image/x-portable-pixmap"})
WAV_TYPES = frozenset({"audio/wav", "audio/x-wav", "audio/wave"})
PNG_TYPES = frozenset({"image/png"})
JPEG_TYPES = frozenset({"image/jpeg", "image/jpg"})
GIF_TYPES = frozenset({"image/gif"})
BMP_TYPES = frozenset({"image/bmp", "image/x-ms-bmp"})
WEBP_TYPES = frozenset({"image/webp"})
ICO_TYPES = frozenset({"image/x-icon", "image/vnd.microsoft.icon"})
TIFF_TYPES = frozenset({"image/tiff", "image/tif"})

_WS = b" \t\r\n\x0b\x0c"


def _read_token(data: bytes, pos: int) -> tuple[bytes, int]:
    """Next header token, skipping whitespace and '#' comments (netpbm
    allows comments anywhere in the header)."""
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x23:                      # '#'
            nl = data.find(b"\n", pos)
            pos = n if nl == -1 else nl + 1
        else:
            break
    start = pos
    while pos < n and data[pos] not in _WS and data[pos] != 0x23:
        pos += 1
    if start == pos:
        raise ValueError("ppm: truncated header")
    return data[start:pos], pos


def parse_ppm(data: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """One P6 image at ``offset`` -> ((h, w, 3) uint8 array, end pos)."""
    magic, pos = _read_token(data, offset)
    if magic != b"P6":
        raise ValueError("ppm: not a P6 image")
    wtok, pos = _read_token(data, pos)
    htok, pos = _read_token(data, pos)
    mtok, pos = _read_token(data, pos)
    try:
        w, h, maxval = int(wtok), int(htok), int(mtok)
    except ValueError:
        raise ValueError("ppm: non-numeric header field") from None
    if w <= 0 or h <= 0:
        raise ValueError("ppm: non-positive dimensions")
    if maxval != 255:
        raise ValueError("ppm: only maxval 255 supported")
    pos += 1                                 # exactly one ws after maxval
    need = w * h * 3
    raw = data[pos:pos + need]
    if len(raw) < need:
        raise ValueError("ppm: truncated pixel data")
    img = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    return img, pos + need


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> canonical P6 bytes."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + \
        np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def iter_ppm_frames(data: bytes) -> list[np.ndarray]:
    """All images of a netpbm multi-image stream (P6 images back to
    back — the netpbm spec's plural-image file convention)."""
    frames: list[np.ndarray] = []
    pos = 0
    while pos < len(data) and data[pos:].strip(_WS):
        img, pos = parse_ppm(data, pos)
        frames.append(img)
    if not frames:
        raise ValueError("ppm stream: no frames")
    return frames


def parse_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE 16-bit PCM -> (mono float64 samples in [-1, 1), rate).
    Multi-channel input is mean-downmixed."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE file")
    pos, fmt, samples = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt = int.from_bytes(body[0:2], "little")
            n_ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16:
                raise ValueError("wav: only 16-bit PCM supported")
            if n_ch < 1 or rate < 1:
                raise ValueError("wav: bad fmt chunk")
            fmt = (n_ch, rate)
        elif cid == b"data":
            samples = np.frombuffer(body[:len(body) - len(body) % 2],
                                    dtype="<i2")
        pos += 8 + size + (size & 1)         # chunks are word-aligned
    if fmt is None or samples is None:
        raise ValueError("wav: missing fmt or data chunk")
    n_ch, rate = fmt
    x = samples.astype(np.float64) / 32768.0
    if n_ch > 1:
        x = x[:len(x) // n_ch * n_ch].reshape(-1, n_ch).mean(axis=1)
    return x, rate


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, offset: int, h: int, stride: int,
                  bpp: int) -> tuple[np.ndarray, int]:
    """Reverse PNG scanline filtering for one (sub-)image of ``h``
    scanlines of ``stride`` bytes at ``offset`` -> ((h, stride) uint8,
    end offset). ``bpp`` is the filter distance in BYTES (1 for
    sub-byte depths per the spec). Filter types 0/2 (None/Up) are
    whole-row numpy ops and Sub is a wrapping cumulative sum per byte
    lane; Average and Paeth predict from the in-progress
    reconstruction, so they run per byte."""
    if len(raw) - offset < h * (stride + 1):
        raise ValueError("png: truncated pixel data")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = offset
    for y in range(h):
        ftype = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1)
        pos += stride + 1
        if ftype == 0:
            rec = row.copy()
        elif ftype == 1:                     # Sub: wrap-cumsum per lane
            rec = np.cumsum(row.reshape(-1, bpp), axis=0,
                            dtype=np.uint8).reshape(stride)
        elif ftype == 2:                     # Up
            rec = ((row + prev) & 0xFF).astype(np.uint8)
        elif ftype in (3, 4):                # Average / Paeth
            r = row.tolist()
            p = prev.tolist()
            rl: list[int] = [0] * stride
            for x in range(stride):
                a = rl[x - bpp] if x >= bpp else 0
                b = p[x]
                if ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = p[x - bpp] if x >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else \
                        b if pb <= pc else c
                rl[x] = (r[x] + pred) & 0xFF
            rec = np.asarray(rl, dtype=np.uint8)
        else:
            raise ValueError(f"png: unknown filter type {ftype}")
        out[y] = rec
        prev = rec.astype(np.int32)
    return out, pos


def _png_rows_to_samples(rows: np.ndarray, w: int, ch: int,
                         depth: int) -> np.ndarray:
    """Unpacked (h, w, ch) uint8 samples from unfiltered scanline
    bytes: sub-byte depths unpack MSB-first (values left unscaled —
    the caller scales gray, palette keeps raw indexes); depth 16
    keeps the high byte (the standard 8-bit reduction)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, :w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, :w * ch * 2].reshape(h, w, ch, 2)[..., 0]
    bits = np.unpackbits(rows, axis=1)
    vals = bits[:, :(bits.shape[1] // depth) * depth]
    vals = vals.reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    packed = (vals * weights).sum(axis=2).astype(np.uint8)
    return packed[:, :w].reshape(h, w, 1)


# Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

# decoder allocation cap for untrusted web payloads: 64M pixels
# (~192 MB RGB) — beyond it the row errs instead of the task dying
PNG_MAX_PIXELS = 1 << 26

_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


def parse_png(data: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB. Full baseline coverage: color
    types 0/2/3/4/6 at every legal bit depth (1/2/4-bit gray and
    palette unpack MSB-first; 16-bit reduces to the high byte), both
    interlace methods (Adam7 decodes its seven sub-images and
    scatters them onto the pass grid). Alpha dropped, palette
    expanded, grayscale replicated."""
    if data[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        size, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("png: truncated IHDR")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif ctype == b"PLTE":
            plte = np.frombuffer(body[:len(body) - len(body) % 3],
                                 dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size                     # len + type + crc
    if ihdr is None or not idat:
        raise ValueError("png: missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _PNG_CHANNELS:
        raise ValueError(f"png: unknown color type {color}")
    if depth not in _PNG_DEPTHS[color]:
        raise ValueError(
            f"png: illegal depth {depth} for color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("png: nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"png: unknown interlace method {interlace}")
    if w <= 0 or h <= 0:
        raise ValueError("png: non-positive dimensions")
    if w * h > PNG_MAX_PIXELS:
        # untrusted web bytes: a 100-byte payload may declare
        # 100k×100k and the output allocation alone would be 30 GB —
        # cap BEFORE allocating anything (MemoryError would escape the
        # stages' per-row err channel and kill the whole task)
        raise ValueError(
            f"png: {w}x{h} exceeds the decoder pixel cap "
            f"({PNG_MAX_PIXELS})")
    ch = _PNG_CHANNELS[color]
    bpp = max(1, ch * depth // 8)

    def stride_of(width: int) -> int:
        return (width * ch * depth + 7) // 8

    passes = (_ADAM7 if interlace == 1 else [(0, 0, 1, 1)])
    # exact filtered-stream size follows from the header, so cap the
    # inflate at it (+1 to detect trailing excess) — a crafted IDAT
    # can otherwise expand thousandfold (decompression bomb), and raw
    # zlib errors on corrupt streams must surface as the same
    # ValueError family every other malformed payload uses
    expected = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw and ph:
            expected += ph * (stride_of(pw) + 1)
    try:
        raw = zlib.decompressobj().decompress(b"".join(idat),
                                              expected + 1)
    except zlib.error as e:
        raise ValueError(f"png: corrupt IDAT stream ({e})") from None
    if len(raw) > expected:
        raise ValueError("png: IDAT inflates past the declared size")

    px = np.zeros((h, w, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw == 0 or ph == 0:
            continue                         # empty pass: zero bytes
        rows, off = _png_unfilter(raw, off, ph, stride_of(pw), bpp)
        px[y0::dy, x0::dx] = _png_rows_to_samples(rows, pw, ch, depth)

    if depth < 8 and color == 0:
        # scale sub-byte gray to full range (255/85/17 are exact)
        px = (px.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
            .astype(np.uint8)
    if color == 2:
        return px
    if color == 6:
        return np.ascontiguousarray(px[..., :3])
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[..., :1], 3, axis=2)
    if plte is None:
        raise ValueError("png: palette image without PLTE")
    idx = px[..., 0]
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError("png: palette index out of range")
    return plte[idx]


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> minimal truecolor PNG (filter-0 scanlines).
    For building deterministic test/oracle payloads without PIL — any
    conformant decoder reads it."""
    h, w = img.shape[:2]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


FEAT_DIM = 32




# --------------------------- BMP / ICO (favicons) ---------------------------

BMP_MAX_PIXELS = 1 << 26


def _parse_dib(data: bytes, off: int, is_ico: bool = False) -> np.ndarray:
    """Decode a DIB (BITMAPINFOHEADER or newer) at ``off`` to
    (h, w, 3) uint8 RGB. Covers the uncompressed baseline a crawler
    meets in practice: 1/4/8-bit palette, 24/32-bit truecolor,
    bottom-up and top-down rows, 4-byte row padding, BI_RGB plus
    BI_BITFIELDS accepted with the standard channel order (nonstandard
    masks decode with standard order rather than erroring — wrong hues
    beat a dead task for feature extraction). For ICO entries the
    stored height is doubled (XOR image + AND mask; the mask is
    ignored — features need RGB). Pixel offsets are computed from the
    header sizes, never trusted from the file header. ValueError-only
    error contract, pixel cap before allocation (PNG discipline)."""
    if off + 40 > len(data):
        raise ValueError("bmp: truncated DIB header")
    (hsz, w, h, _planes, bpp, comp, _imgsz, _xppm, _yppm,
     nclr, _nimp) = struct.unpack("<IiihhIIiiII", data[off:off + 40])
    if hsz < 40:
        raise ValueError("bmp: unsupported DIB header size")
    if is_ico:
        if h % 2:
            raise ValueError("ico: odd doubled height")
        h //= 2
    topdown = h < 0
    h = abs(h)
    if w <= 0 or h <= 0:
        raise ValueError("bmp: non-positive dimensions")
    if w * h > BMP_MAX_PIXELS:
        raise ValueError(f"bmp: {w}x{h} exceeds the decoder pixel cap "
                         f"({BMP_MAX_PIXELS})")
    if comp not in (0, 3):              # BI_RGB / BI_BITFIELDS
        raise ValueError(f"bmp: unsupported compression {comp}")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError(f"bmp: unsupported bit depth {bpp}")
    pal_off = off + hsz
    pal = None
    if bpp <= 8:
        n = nclr or (1 << bpp)
        if n > 1 << bpp:
            raise ValueError("bmp: palette larger than depth allows")
        if pal_off + 4 * n > len(data):
            raise ValueError("bmp: truncated palette")
        raw = np.frombuffer(data[pal_off:pal_off + 4 * n],
                            np.uint8).reshape(n, 4)
        pal = raw[:, [2, 1, 0]].copy()          # BGRX -> RGB
        pal_off += 4 * n
    else:
        if comp == 3 and hsz == 40:
            pal_off += 12               # legacy out-of-header masks
        # truecolor BMPs may still carry an OPTIONAL color table as a
        # palette-optimization hint (biClrUsed > 0) — pixel data
        # starts after it; ignoring it read rows from the wrong
        # offset and silently decoded garbage with ok=true
        # (review r8, reproduced)
        pal_off += 4 * nclr
    px_off = pal_off
    stride = ((w * bpp + 31) // 32) * 4
    need = stride * h
    if px_off + need > len(data):
        raise ValueError("bmp: truncated pixel data")
    rows = np.frombuffer(data[px_off:px_off + need],
                         np.uint8).reshape(h, stride)
    if not topdown:
        rows = rows[::-1]
    if bpp == 24:
        return np.ascontiguousarray(
            rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1])
    if bpp == 32:
        return np.ascontiguousarray(
            rows[:, :w * 4].reshape(h, w, 4)[:, :, [2, 1, 0]])
    # unpackbits is an 8x-the-pixel-area allocation — only spend it
    # when the depth actually packs multiple pixels per byte, and keep
    # the index in its natural uint8 (palette is <=256 entries; int64
    # indices were an 8 B/px dead weight next to the cap).
    if bpp == 8:
        idx = rows[:, :w]
    else:
        bits = np.unpackbits(rows, axis=1)
        if bpp == 1:
            idx = bits[:, :w]
        else:                                   # bpp == 4
            idx = (bits.reshape(h, -1, 4)
                   * np.array([8, 4, 2, 1], np.uint8)
                   ).sum(axis=2, dtype=np.uint8)[:, :w]
    if int(idx.max()) >= len(pal):
        raise ValueError("bmp: pixel index outside palette")
    return pal[idx]


def parse_bmp(data: bytes) -> np.ndarray:
    if len(data) < 14 or data[:2] != b"BM":
        raise ValueError("bmp: bad signature")
    return _parse_dib(data, 14)


def parse_ico(data: bytes) -> np.ndarray:
    """Decode the LARGEST image of an ICO container (the favicon
    format a crawler actually meets): PNG-compressed entries route
    through :func:`parse_png`; classic entries are doubled-height
    DIBs (see ``_parse_dib``)."""
    if len(data) < 6 or data[:4] != b"\x00\x00\x01\x00":
        raise ValueError("ico: bad signature")
    n = struct.unpack("<H", data[4:6])[0]
    if n == 0:
        raise ValueError("ico: no images")
    if 6 + 16 * n > len(data):
        raise ValueError("ico: truncated directory")
    best = None
    for i in range(n):
        e = data[6 + 16 * i: 6 + 16 * (i + 1)]
        bw, bh = e[0] or 256, e[1] or 256
        size, eoff = struct.unpack("<II", e[8:16])
        if best is None or bw * bh > best[0]:
            best = (bw * bh, eoff, size)
    _, eoff, size = best
    if eoff + size > len(data) or size < 8:
        raise ValueError("ico: entry outside file")
    body = data[eoff:eoff + size]
    if body[:8] == b"\x89PNG\r\n\x1a\n":
        return parse_png(body)
    return _parse_dib(data, eoff, is_ico=True)


def encode_bmp(img: np.ndarray, topdown: bool = False) -> bytes:
    """24-bit BMP test encoder (independent spec assembly)."""
    h, w = img.shape[:2]
    stride = ((w * 24 + 31) // 32) * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w * 3] = img[:, :, ::-1].reshape(h, w * 3)
    body = rows if topdown else rows[::-1]
    dib = struct.pack("<IiihhIIiiII", 40, w, -h if topdown else h, 1,
                      24, 0, stride * h, 2835, 2835, 0, 0)
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + stride * h, 0, 0, off)
    return hdr + dib + bytes(body.tobytes())


def encode_bmp_pal8(idx: np.ndarray, pal: np.ndarray) -> bytes:
    """8-bit palette BMP test encoder."""
    h, w = idx.shape
    stride = ((w * 8 + 31) // 32) * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w] = idx
    palbytes = np.zeros((len(pal), 4), np.uint8)
    palbytes[:, :3] = np.asarray(pal, np.uint8)[:, ::-1]
    dib = struct.pack("<IiihhIIiiII", 40, w, h, 1, 8, 0, stride * h,
                      2835, 2835, len(pal), 0)
    off = 14 + 40 + 4 * len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + stride * h, 0, 0, off)
    return hdr + dib + palbytes.tobytes() + bytes(rows[::-1].tobytes())


def encode_ico_bmp(img: np.ndarray) -> bytes:
    """Classic single-entry ICO test encoder: 32-bit DIB with doubled
    height and an empty AND mask."""
    h, w = img.shape[:2]
    rows = np.zeros((h, w, 4), np.uint8)
    rows[:, :, :3] = img[:, :, ::-1]
    rows[:, :, 3] = 255
    xor = rows[::-1].tobytes()
    mask = bytes((((w + 31) // 32) * 4) * h)
    dib = struct.pack("<IiihhIIiiII", 40, w, 2 * h, 1, 32, 0,
                      len(xor) + len(mask), 0, 0, 0, 0)
    body = dib + xor + mask
    entry = bytes([w % 256, h % 256, 0, 0]) + struct.pack(
        "<HHII", 1, 32, len(body), 22)
    return b"\x00\x00\x01\x00\x01\x00" + entry + body


def image_features(img: np.ndarray) -> np.ndarray:
    """32 deterministic features from real pixels: 8-bin normalized
    histogram per channel (24) + per-channel mean/std (6) + log-area +
    aspect ratio. ``img`` is an (h, w, >=3) uint8 array, as every
    decoder here returns; other dtypes raise TypeError (the ``>> 5``
    histogram and the /255 scaling are only right for uint8)."""
    if not isinstance(img, np.ndarray) or img.dtype != np.uint8:
        raise TypeError(
            f"image_features expects a uint8 array, got "
            f"{getattr(img, 'dtype', type(img).__name__)}")
    out = np.zeros(FEAT_DIM, dtype=np.float64)
    n = max(img.shape[0] * img.shape[1], 1)
    for c in range(3):
        # contiguous per-channel copy: numpy's axis-0 variance over an
        # interleaved (N, 3) view runs ~40x slower than the same
        # reduction over a contiguous channel (measured 0.65s vs
        # 0.015s per megapixel, r8) — at one var per image per row
        # that dominated the distributed decode stage.
        # r10: the copy stays uint8 and the 8-bin histogram is a
        # bincount of v >> 5 — bit-identical to the previous float64
        # np.histogram(range=(0, 256)) formulation: bin edges are
        # multiples of 32 so floor(v/32) == v >> 5 for every uint8
        # value, and mean/std accumulate in float64 either way (uint8
        # values are exact in float64, so the sums are the same
        # numbers in the same pairwise order). ~2.5x per image,
        # 0.10 -> 0.04 s on a megapixel frame.
        ch = np.ascontiguousarray(img[..., c])
        hist = np.bincount(ch.reshape(-1) >> 5, minlength=8)
        out[c * 8:(c + 1) * 8] = hist / n
        out[24 + c] = ch.mean() / 255.0
        out[27 + c] = ch.std() / 255.0
    h, w = img.shape[:2]
    out[30] = np.log1p(h * w) / 20.0
    out[31] = w / h
    return out.astype(np.float32)


def audio_features(x: np.ndarray, rate: int) -> np.ndarray:
    """32 deterministic features from real samples: 16 segment RMS
    energies + 8-bin |amplitude| histogram + rms/peak/mean/std +
    zero-crossing rate + duration + normalized rate + presence flag."""
    out = np.zeros(FEAT_DIM, dtype=np.float64)
    n = len(x)
    if n:
        for i, s in enumerate(np.array_split(x, 16)):
            out[i] = np.sqrt((s * s).mean()) if len(s) else 0.0
        hist, _ = np.histogram(np.abs(x), bins=8, range=(0.0, 1.0))
        out[16:24] = hist / n
        out[24] = np.sqrt((x * x).mean())
        out[25] = np.abs(x).max()
        out[26] = x.mean()
        out[27] = x.std()
        out[28] = np.count_nonzero(
            np.signbit(x[1:]) != np.signbit(x[:-1])) / max(n - 1, 1)
        out[29] = n / rate
        out[30] = rate / 48000.0
        out[31] = 1.0
    return out.astype(np.float32)


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of (h, w, 3) to (height, width, 3) —
    pure index arithmetic, bit-deterministic."""
    if width <= 0 or height <= 0:
        raise ValueError("resize: non-positive target size")
    sh, sw = img.shape[:2]
    rows = (np.arange(height, dtype=np.int64) * sh) // height
    cols = (np.arange(width, dtype=np.int64) * sw) // width
    return img[rows][:, cols]


def real_decode_features(payload: bytes, media_type: str) -> np.ndarray:
    """Dispatch real decode + feature extraction by media type."""
    if media_type in PPM_TYPES:
        img, _ = parse_ppm(payload)
        return image_features(img)
    if media_type in PNG_TYPES:
        return image_features(parse_png(payload))
    if media_type in JPEG_TYPES:
        from jsonextract_spark.datapipe.jpeg import parse_jpeg
        return image_features(parse_jpeg(payload))
    if media_type in GIF_TYPES:
        from jsonextract_spark.datapipe.gif import parse_gif
        # features come from the FIRST rendered frame (what a viewer
        # shows for a still; the poster frame for an animation)
        return image_features(parse_gif(payload)[0])
    if media_type in BMP_TYPES:
        return image_features(parse_bmp(payload))
    if media_type in WEBP_TYPES:
        from jsonextract_spark.datapipe.webp import parse_webp
        return image_features(parse_webp(payload))
    if media_type in ICO_TYPES:
        return image_features(parse_ico(payload))
    if media_type in TIFF_TYPES:
        from jsonextract_spark.datapipe.tiff import parse_tiff
        return image_features(parse_tiff(payload))
    if media_type in WAV_TYPES:
        return audio_features(*parse_wav(payload))
    raise NotImplementedError(
        f"no dependency-free codec for {media_type} (video and other "
        "compressed formats need ffmpeg, not bundled in this "
        "environment)")
