"""Real (dependency-free) multimodal codecs: netpbm P6 + PCM WAV.

These pin decode_mode='real' on actual pixels/samples — handcrafted
payloads with hand-computed expected values, plus the Spark surfaces
end-to-end and the per-row error channel for unsupported/malformed
inputs."""

import struct

import numpy as np
import pytest

from jsonextract_spark.datapipe import codecs
from jsonextract_spark.datapipe import jpeg as jpeg_mod

pytestmark = pytest.mark.spark


def ppm(w, h, pixels, comment=False):
    """P6 bytes from a list of (r, g, b) rows*cols pixels."""
    head = b"P6\n"
    if comment:
        head += b"# a netpbm comment\n"
    head += b"%d %d\n255\n" % (w, h)
    return head + bytes(v for px in pixels for v in px)


def wav(samples, rate=8000, n_ch=1):
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate,
                      rate * n_ch * 2, n_ch * 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt +
            b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


RED, BLUE, GREEN, BLACK = ((255, 0, 0), (0, 0, 255), (0, 255, 0),
                           (0, 0, 0))


def test_ppm_parse_roundtrip_and_comments():
    img, end = codecs.parse_ppm(ppm(2, 1, [RED, BLUE], comment=True))
    assert img.shape == (1, 2, 3)
    assert tuple(img[0, 0]) == RED and tuple(img[0, 1]) == BLUE
    back, _ = codecs.parse_ppm(codecs.encode_ppm(img))
    assert np.array_equal(back, img)
    for bad in (b"P5\n1 1\n255\nxxx", b"P6\n0 1\n255\n",
                b"P6\n2 1\n255\n\xff\x00", b"P6\n1 1\n65535\n..",
                b""):
        with pytest.raises(ValueError):
            codecs.parse_ppm(bad)


def test_image_features_hand_computed():
    # one red + one blue pixel: R channel hist = [0.5,0,...,0.5],
    # means (127.5, 0, 127.5)/255, stds (127.5, 0, 127.5)/255
    feat = codecs.image_features(
        codecs.parse_ppm(ppm(2, 1, [RED, BLUE]))[0])
    assert feat.shape == (32,)
    assert feat[0] == pytest.approx(0.5) and feat[7] == pytest.approx(0.5)
    assert feat[8] == pytest.approx(1.0)          # G all in bin 0
    assert feat[24] == pytest.approx(0.5) and feat[25] == 0.0
    assert feat[27] == pytest.approx(0.5) and feat[28] == 0.0
    assert feat[31] == pytest.approx(2.0)         # w/h aspect


def test_image_features_bincount_matches_float_histogram():
    # r10: the 8-bin channel histogram is a bincount of v >> 5 and the
    # mean/std reductions run over the uint8 copy. Pin BIT-equality
    # against the pre-r10 formulation (float64 copy + np.histogram
    # over range=(0, 256)) — the oracle hashes of every *_real query
    # depend on these exact float32 values.
    def old_features(img):
        out = np.zeros(codecs.FEAT_DIM, dtype=np.float64)
        n = max(img.shape[0] * img.shape[1], 1)
        for c in range(3):
            ch = np.ascontiguousarray(img[..., c], dtype=np.float64)
            hist, _ = np.histogram(ch, bins=8, range=(0, 256))
            out[c * 8:(c + 1) * 8] = hist / n
            out[24 + c] = ch.mean() / 255.0
            out[27 + c] = ch.std() / 255.0
        h, w = img.shape[:2]
        out[30] = np.log1p(h * w) / 20.0
        out[31] = w / h
        return out.astype(np.float32)

    rng = np.random.default_rng(7)
    cases = [rng.integers(0, 256, (int(rng.integers(1, 96)),
                                   int(rng.integers(1, 96)), 3),
                          dtype=np.int64).astype(np.uint8)
             for _ in range(40)]
    cases.append(np.zeros((3, 5, 3), np.uint8))          # all bin 0
    cases.append(np.full((4, 4, 3), 255, np.uint8))      # top edge
    cases.append(np.arange(256, dtype=np.uint8)
                 .repeat(3).reshape(16, 16, 3))          # every value
    for img in cases:
        a, b = codecs.image_features(img), old_features(img)
        assert a.tobytes() == b.tobytes()


@pytest.mark.parametrize("dtype", [np.float64, np.uint16])
def test_image_features_rejects_non_uint8(dtype):
    img = np.zeros((2, 2, 3), dtype=dtype)
    with pytest.raises(TypeError, match="uint8"):
        codecs.image_features(img)


def test_wav_parse_and_features():
    x, rate = codecs.parse_wav(wav([0, 16384, -16384, 0], rate=8000))
    assert rate == 8000
    assert x == pytest.approx([0.0, 0.5, -0.5, 0.0])
    feat = codecs.audio_features(x, rate)
    assert feat[25] == pytest.approx(0.5)         # peak
    assert feat[29] == pytest.approx(4 / 8000)    # duration
    assert feat[31] == 1.0
    # stereo downmix: L=1000, R=3000 -> mono 2000
    x2, _ = codecs.parse_wav(wav([1000, 3000], n_ch=2))
    assert x2 == pytest.approx([2000 / 32768.0])
    for bad in (b"RIFFxxxxWAVE", b"junk", wav([1])[:20]):
        with pytest.raises(ValueError):
            codecs.parse_wav(bad)


def test_resize_nearest_exact():
    img = codecs.parse_ppm(ppm(2, 2, [RED, BLUE, GREEN, BLACK]))[0]
    up = codecs.resize_nearest(img, 4, 4)
    # NN doubling: each source pixel becomes a 2x2 block
    assert tuple(up[0, 0]) == RED and tuple(up[0, 3]) == BLUE
    assert tuple(up[3, 0]) == GREEN and tuple(up[3, 3]) == BLACK
    assert tuple(up[1, 1]) == RED
    down = codecs.resize_nearest(up, 2, 2)
    assert np.array_equal(down, img)


def test_real_decode_features_spark(spark):
    solid = np.full((2, 2, 3), 128, dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image/ppm", bytearray(ppm(2, 1, [RED, BLUE])), 2, 1, 0),
         (2, "audio/wav", bytearray(wav([0, 16384, -16384, 0])), 0, 0, 0),
         (3, "image/png", bytearray(b"\x89PNG..."), 0, 0, 0),
         (4, "image/ppm", bytearray(b"P6 garbage"), 0, 0, 0),
         (5, "image/png", bytearray(codecs.encode_png(solid)), 2, 2, 0),
         (6, "image/jpeg", bytearray(jpeg_mod.encode_jpeg(
             np.full((8, 8), 99, np.uint8),
             qtable=np.full((8, 8), 8, np.int32), gray=True)), 8, 8, 0),
         (7, "video/mp4", bytearray(b"\x00\x00ftyp"), 0, 0, 0)],
        "doc_id long, media_type string, payload binary, width int,"
        " height int, n_frames int")
    from jsonextract_spark.datapipe.multimodal import decode_features

    rows = {r["doc_id"]: r for r in
            decode_features(media, decode_mode="real").collect()}
    assert rows[1]["ok"] and rows[1]["feat"][24] == pytest.approx(0.5)
    assert rows[2]["ok"] and rows[2]["feat"][25] == pytest.approx(0.5)
    # r7: PNG and baseline JPEG decode for real — a malformed payload
    # is a PARSE error (per-row, job alive), valid ones yield pixel
    # features, and the missing-codec branch moved to video
    assert not rows[3]["ok"] and "png" in rows[3]["err"]
    assert not rows[4]["ok"]                      # malformed, job alive
    assert rows[5]["ok"] and \
        rows[5]["feat"][24] == pytest.approx(128 / 255)
    assert rows[6]["ok"] and \
        rows[6]["feat"][24] == pytest.approx(99 / 255)  # exact: flat q8
    assert not rows[7]["ok"] and "codec" in rows[7]["err"]


def test_real_resize_spark(spark):
    media = spark.createDataFrame(
        [(1, "image/ppm", bytearray(ppm(1, 1, [RED])), 1, 1, 0),
         (2, "audio/wav", bytearray(wav([0])), 0, 0, 0)],
        "doc_id long, media_type string, payload binary, width int,"
        " height int, n_frames int")
    from jsonextract_spark.datapipe.multimodal import resize_media

    rows = {r["doc_id"]: r for r in
            resize_media(media, 3, 2, decode_mode="real").collect()}
    img, _ = codecs.parse_ppm(bytes(rows[1]["payload"]))
    assert img.shape == (2, 3, 3)
    assert all(tuple(px) == RED for row in img for px in row)
    assert not rows[2]["ok"]


def test_real_frame_sampling_spark(spark):
    stream = ppm(1, 1, [RED]) + ppm(1, 1, [GREEN]) + ppm(1, 1, [BLUE])
    media = spark.createDataFrame(
        [(1, "image/ppm", bytearray(stream), 1, 1, 999),  # metadata lies
         (2, "video/mp4", bytearray(b"\x00\x00ftyp"), 0, 0, 5)],
        "doc_id long, media_type string, payload binary, width int,"
        " height int, n_frames int")
    from jsonextract_spark.datapipe.multimodal import sample_frames

    rows = [r for r in sample_frames(media, k=3, decode_mode="real")
            .collect()]
    ok = {(r["sample_no"]): r for r in rows if r["doc_id"] == 1}
    # frame_idx from the PARSED count (3), not the lying metadata
    assert [ok[j]["frame_idx"] for j in range(3)] == [0, 1, 2]
    colors = [tuple(codecs.parse_ppm(bytes(ok[j]["frame"]))[0][0, 0])
              for j in range(3)]
    assert colors == [RED, GREEN, BLUE]
    bad = [r for r in rows if r["doc_id"] == 2]
    assert len(bad) == 1 and not bad[0]["ok"] and bad[0]["frame_idx"] == -1


# -- PNG (r7: stdlib-zlib decoder) -------------------------------------------

def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def _make_png(w, h, color, rows_with_filters, plte=None):
    """Assemble a PNG straight from the spec (independent of
    codecs.encode_png): rows_with_filters = [(filter_type, bytes)]."""
    import zlib
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(r) for f, r in rows_with_filters)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", bytes(plte))
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) \
        + _png_chunk(b"IEND", b"")


def _ref_unfilter(rows, w, ch):
    """Independent unfilter implementation, transcribed from the PNG
    spec's filter definitions — the oracle codecs._png_unfilter is
    pinned against."""
    stride = w * ch
    prev = [0] * stride
    out = []
    for f, r in rows:
        rec = [0] * stride
        for x in range(stride):
            a = rec[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else \
                    b if pb <= pc else c
            rec[x] = (r[x] + pred) & 0xFF
        out.append(rec)
        prev = rec
    return out


def test_png_roundtrip_encoder_decoder():
    rng = np.random.RandomState(42)
    for shape in [(1, 1, 3), (7, 5, 3), (64, 48, 3), (33, 1, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(
            codecs.parse_png(codecs.encode_png(img)), img)


def test_png_all_filters_vs_independent_spec_impl():
    rng = np.random.RandomState(7)
    w, h, ch = 6, 5, 3
    rows = [(f, list(rng.randint(0, 256, size=w * ch)))
            for f in (0, 1, 2, 3, 4)]
    got = codecs.parse_png(_make_png(w, h, 2, rows))
    ref = np.array(_ref_unfilter(rows, w, ch),
                   dtype=np.uint8).reshape(h, w, ch)
    assert np.array_equal(got, ref)


def test_png_color_types_and_palette():
    rng = np.random.RandomState(3)
    assert codecs.parse_png(_make_png(
        4, 1, 0, [(1, list(rng.randint(0, 256, size=4)))]
    )).shape == (1, 4, 3)                      # gray
    assert codecs.parse_png(_make_png(
        4, 1, 4, [(2, list(rng.randint(0, 256, size=8)))]
    )).shape == (1, 4, 3)                      # gray+alpha
    assert codecs.parse_png(_make_png(
        4, 1, 6, [(4, list(rng.randint(0, 256, size=16)))]
    )).shape == (1, 4, 3)                      # RGBA (alpha dropped)
    plte = [255, 0, 0, 0, 255, 0, 0, 0, 255]
    img = codecs.parse_png(_make_png(4, 1, 3, [(0, [0, 1, 2, 1])],
                                     plte))
    assert img.tolist() == [[[255, 0, 0], [0, 255, 0],
                             [0, 0, 255], [0, 255, 0]]]


def test_png_rejections_route_to_err_channel():
    import zlib
    with pytest.raises(ValueError, match="signature"):
        codecs.parse_png(b"not a png")
    with pytest.raises(ValueError, match="interlace"):
        # method 2 does not exist (Adam7 = 1 is SUPPORTED since late r7)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2)
        codecs.parse_png(
            b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="illegal depth"):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)  # 4-bit RGB
        codecs.parse_png(
            b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 8))
            + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        codecs.parse_png(_make_png(4, 1, 3, [(0, [0, 1, 2, 9])],
                                   [255, 0, 0, 0, 255, 0, 0, 0, 255]))
    with pytest.raises(ValueError, match="truncated"):
        codecs.parse_png(_make_png(4, 2, 2, [(0, [1] * 12)]))
    # video still routes to NotImplementedError (err channel); a
    # malformed JPEG is a parse ValueError since the late-r7 codec
    with pytest.raises(NotImplementedError):
        codecs.real_decode_features(b"\x00\x00ftyp", "video/mp4")
    with pytest.raises(ValueError, match="jpeg"):
        codecs.real_decode_features(b"\xff\xd8\xff", "image/jpeg")
    # but PNG now decodes for real
    img = np.full((2, 4, 3), 77, dtype=np.uint8)
    feats = codecs.real_decode_features(codecs.encode_png(img),
                                        "image/png")
    assert abs(float(feats[24]) - 77 / 255) < 1e-6


def _png_pack_row(vals, depth):
    """Samples -> scanline bytes per spec: MSB-first packing below 8
    bits, big-endian above (independent of the decoder's unpacker)."""
    if depth == 8:
        return bytes(int(v) for v in vals.reshape(-1))
    if depth == 16:
        out = bytearray()
        for v in vals.reshape(-1):
            out += struct.pack(">H", int(v))
        return bytes(out)
    bits = "".join(format(int(v), f"0{depth}b") for v in vals.reshape(-1))
    bits += "0" * ((8 - len(bits) % 8) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))


def _png_filter_rows(rows, stride, bpp, ftypes):
    """Apply per-row filters f = ftypes[y % len] (spec transcription)."""
    out, prev = b"", [0] * stride
    for y in range(rows.shape[0]):
        rec = [int(v) for v in rows[y]]
        f = ftypes[y % len(ftypes)]
        raw = bytearray()
        for x in range(stride):
            a = rec[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else \
                    b if pb <= pc else c
            raw.append((rec[x] - pred) & 0xFF)
        out += bytes([f]) + bytes(raw)
        prev = rec
    return out


_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _make_full_png(samples, depth, color, ch, interlace, plte=None):
    """Assemble any legal PNG from a sample grid — pass splitting,
    packing and filtering all transcribed from the spec, sharing no
    code with codecs.parse_png."""
    import zlib
    h, w = samples.shape[:2]
    raw = b""
    for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)]):
        sub = samples[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        stride = (sub.shape[1] * ch * depth + 7) // 8
        bpp = max(1, ch * depth // 8)
        rows = np.zeros((sub.shape[0], stride), np.uint8)
        for y in range(sub.shape[0]):
            rows[y] = np.frombuffer(_png_pack_row(sub[y], depth),
                                    np.uint8)
        raw += _png_filter_rows(rows, stride, bpp, (0, 1, 2, 3, 4))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        png += _png_chunk(b"PLTE", bytes(plte))
    return png + _png_chunk(b"IDAT", zlib.compress(raw)) \
        + _png_chunk(b"IEND", b"")


def test_png_full_baseline_coverage():
    """Late-r7 extension: every legal color-type × depth combination
    plus Adam7 interlace, each against the independent spec-side
    constructor above — odd/tiny sizes exercise empty passes and
    non-byte-aligned sub-byte rows."""
    rng = np.random.RandomState(5)
    # interlaced RGB8 at awkward sizes (incl. 1x1: six empty passes)
    for (w, h) in [(13, 11), (1, 1), (7, 3), (8, 8), (9, 2), (2, 9)]:
        img = rng.randint(0, 256, (h, w, 3), np.uint8)
        assert np.array_equal(
            codecs.parse_png(_make_full_png(img, 8, 2, 3, 1)), img), \
            (w, h)
    # sub-byte gray, both interlace modes, 13-wide = padded rows
    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        for il in (0, 1):
            g = rng.randint(0, mx + 1, (9, 13, 1), np.uint8)
            expect = np.repeat(
                (g.astype(np.uint16) * (255 // mx)).astype(np.uint8),
                3, axis=2)
            assert np.array_equal(
                codecs.parse_png(_make_full_png(g, depth, 0, 1, il)),
                expect), (depth, il)
    # 4-bit palette, interlaced
    plte = list(rng.randint(0, 256, 16 * 3))
    p = rng.randint(0, 16, (6, 10, 1), np.uint8)
    expect = np.array(plte, np.uint8).reshape(-1, 3)[p[..., 0]]
    assert np.array_equal(
        codecs.parse_png(_make_full_png(p, 4, 3, 1, 1, plte=plte)),
        expect)
    # 16-bit RGB (high-byte reduction) + 16-bit gray+alpha
    img16 = rng.randint(0, 65536, (5, 7, 3)).astype(np.uint32)
    assert np.array_equal(
        codecs.parse_png(_make_full_png(img16, 16, 2, 3, 1)),
        (img16 >> 8).astype(np.uint8))
    ga16 = rng.randint(0, 65536, (4, 6, 2)).astype(np.uint32)
    assert np.array_equal(
        codecs.parse_png(_make_full_png(ga16, 16, 4, 2, 0)),
        np.repeat((ga16[..., :1] >> 8).astype(np.uint8), 3, axis=2))


def test_png_hostile_payloads_err_not_crash():
    """Code-review r7: untrusted web bytes must surface as the err
    channel's ValueError family, never zlib.error/struct.error/
    MemoryError (which would escape the stages' catch list and kill
    the whole Spark task): corrupt IDAT, truncated IHDR, declared
    dimensions beyond the pixel cap, and a decompression bomb whose
    IDAT inflates past the header's exact stream size."""
    import zlib
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError, match="corrupt IDAT"):
        codecs.parse_png(sig + _png_chunk(b"IHDR", ihdr)
                         + _png_chunk(b"IDAT", b"\x00not zlib at all")
                         + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truncated IHDR"):
        codecs.parse_png(sig + _png_chunk(b"IHDR", ihdr[:9])
                         + _png_chunk(b"IDAT", b"x")
                         + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="pixel cap"):
        big = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
        codecs.parse_png(sig + _png_chunk(b"IHDR", big)
                         + _png_chunk(b"IDAT", zlib.compress(b"\x00"))
                         + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="inflates past"):
        # header says 2x2 RGB (14 raw bytes) but the stream holds 1 MB
        codecs.parse_png(sig + _png_chunk(b"IHDR", ihdr)
                         + _png_chunk(b"IDAT",
                                      zlib.compress(b"\x00" * 2**20))
                         + _png_chunk(b"IEND", b""))
    # a truncated-but-valid zlib stream still errs as truncated pixels
    with pytest.raises(ValueError, match="truncated pixel"):
        codecs.parse_png(sig + _png_chunk(b"IHDR", ihdr)
                         + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 5))
                         + _png_chunk(b"IEND", b""))


# -- baseline JPEG (late r7: from-spec decoder) ------------------------------

def test_jpeg_idct_matches_definition():
    """The decoder's matrix IDCT against the T.81 inverse-DCT
    definition sum, on random coefficient blocks — the two transforms
    are implemented independently (matrix product vs O(N^4) loops), so
    agreement pins both."""
    from jsonextract_spark.datapipe.jpeg import _idct2

    rng = np.random.RandomState(9)
    for _ in range(5):
        coef = rng.uniform(-500, 500, (8, 8))
        ref = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
                        cv = (1 / np.sqrt(2)) if v == 0 else 1.0
                        s += cu * cv * coef[u, v] * \
                            np.cos((2 * x + 1) * u * np.pi / 16) * \
                            np.cos((2 * y + 1) * v * np.pi / 16)
                ref[x, y] = s / 4
        assert np.allclose(_idct2(coef), ref, atol=1e-9)


def test_jpeg_flat_gray_exact():
    """Flat gray blocks with an all-8 quant table quantize LOSSLESSLY
    (DC of a flat block of value v-128 is exactly 8(v-128)), so decode
    must return the input value EXACTLY — a closed form no shared
    encoder/decoder bug can fake, since the expectation comes from
    arithmetic, not from either codec."""
    q8 = np.full((8, 8), 8, np.int32)
    for v in (0, 1, 37, 128, 200, 255):
        img = np.full((16, 8), v, np.uint8)
        dec = jpeg_mod.parse_jpeg(
            jpeg_mod.encode_jpeg(img, qtable=q8, gray=True))
        assert dec.shape == (16, 8, 3)
        assert int(dec.min()) == int(dec.max()) == v


def test_jpeg_roundtrip_and_subsampling():
    """Fine-quant roundtrips: gray within ±1 (DCT float rounding),
    4:4:4 color within ±3 (YCbCr rounding), flat color through
    4:2:0/4:2:2 within ±2 (chroma of a flat image is flat, so
    subsampling loses nothing), restart intervals byte-equivalent."""
    rng = np.random.RandomState(11)
    q1 = np.full((8, 8), 1, np.int32)
    g = rng.randint(0, 256, (24, 17), np.uint8)
    dec = jpeg_mod.parse_jpeg(
        jpeg_mod.encode_jpeg(g, qtable=q1, gray=True))
    assert np.abs(dec[..., 0].astype(int) - g.astype(int)).max() <= 1

    img = rng.randint(0, 256, (16, 16, 3), np.uint8)
    dec = jpeg_mod.parse_jpeg(jpeg_mod.encode_jpeg(img, qtable=q1))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3

    for sampling in ((2, 2), (2, 1), (1, 2)):
        for rgbv in ((200, 100, 50), (0, 0, 0), (13, 200, 77)):
            flat = np.full((20, 13, 3), rgbv, np.uint8)
            dec = jpeg_mod.parse_jpeg(jpeg_mod.encode_jpeg(
                flat, qtable=q1, sampling=sampling))
            assert np.abs(dec.astype(int) - flat.astype(int)).max() \
                <= 2, (sampling, rgbv)

    g = rng.randint(0, 256, (24, 32), np.uint8)
    with_rst = jpeg_mod.parse_jpeg(jpeg_mod.encode_jpeg(
        g, qtable=q1, gray=True, restart_interval=2))
    without = jpeg_mod.parse_jpeg(
        jpeg_mod.encode_jpeg(g, qtable=q1, gray=True))
    assert np.array_equal(with_rst, without)


def test_jpeg_rejections_err_not_crash():
    """Hostile/unsupported payloads stay in the ValueError family:
    progressive SOF2, bad SOI, truncated streams, giant declared
    dimensions."""
    # SOF2 (progressive) DECODES since late r7; the unsupported SOF
    # family is arithmetic coding (SOF9+)
    with pytest.raises(ValueError, match="SOF marker 0xC9"):
        jpeg_mod.parse_jpeg(b"\xff\xd8\xff\xc9"
                            + struct.pack(">H", 8) + b"\x00" * 6)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_mod.parse_jpeg(b"not a jpeg")
    with pytest.raises(ValueError):
        jpeg_mod.parse_jpeg(b"\xff\xd8\xff\xdb" + struct.pack(">H", 8)
                            + b"\x00" * 6)          # truncated, no SOS
    good = jpeg_mod.encode_jpeg(np.full((8, 8), 7, np.uint8),
                                gray=True)
    with pytest.raises(ValueError):
        jpeg_mod.parse_jpeg(good[:len(good) // 2])  # truncated entropy
    with pytest.raises(ValueError, match="pixel cap"):
        big = good.replace(
            struct.pack(">BHHB", 8, 8, 8, 1),
            struct.pack(">BHHB", 8, 60000, 60000, 1))
        jpeg_mod.parse_jpeg(big)


def test_jpeg_hostile_payloads_err_not_crash():
    """Code-review late-r7: hostile/degenerate streams must stay in
    the ValueError family (never IndexError/OverflowError, which
    escape the stages' catch list and kill the Spark task): empty or
    zero-component SOS, out-of-range spectral selection, hostile DC
    size categories from a crafted DHT, and legal 0xFF fill-byte
    padding must DECODE (T.81 B.1.1.2), not error."""
    import numpy as np

    q8 = np.full((8, 8), 8, np.int32)
    good = jpeg_mod.encode_jpeg(np.full((8, 8), 55, np.uint8),
                                qtable=q8, gray=True)

    # empty SOS body / ns=0
    sof_end = good.index(b"\xff\xda")
    with pytest.raises(ValueError, match="SOS"):
        jpeg_mod.parse_jpeg(good[:sof_end] + b"\xff\xda"
                            + struct.pack(">H", 2) + good[sof_end + 14:])
    with pytest.raises(ValueError, match="SOS"):
        jpeg_mod.parse_jpeg(
            good[:sof_end] + b"\xff\xda" + struct.pack(">H", 6)
            + bytes([0, 0, 63, 0]) + good[sof_end + 14:])

    # progressive AC scan with Se > 63
    prog = jpeg_mod.encode_jpeg_progressive_gray(
        np.full((8, 8), 55, np.uint8), qtable=q8)
    bad = prog.replace(bytes([1, 1, 0x00, 1, 63, 0x00]),
                       bytes([1, 1, 0x00, 1, 200, 0x00]))
    assert bad != prog
    with pytest.raises(ValueError, match="spectral"):
        jpeg_mod.parse_jpeg(bad)

    # hostile DHT: DC table whose single (1-bit, code 0) value claims
    # size category 100 — receive(100) would build a ~2^100 int and
    # the int64 store would OverflowError without the guard
    zz = bytes(int(q8[r, c]) for r, c in
               jpeg_mod._ZZ)
    dht_bad = bytes([0x00]) + bytes([1] + [0] * 15) + bytes([100])
    dht_ac = (bytes([0x10]) + bytes(jpeg_mod._AC_LUM_BITS[1:])
              + bytes(jpeg_mod._AC_LUM_VALS))
    hostile = (b"\xff\xd8"
               + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz
               + b"\xff\xc0" + struct.pack(">H", 11)
               + struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
               + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_bad))
               + dht_bad
               + b"\xff\xc4" + struct.pack(">H", 2 + len(dht_ac))
               + dht_ac
               + b"\xff\xda" + struct.pack(">H", 8)
               + bytes([1, 1, 0x00, 0, 63, 0])
               + b"\x00" * 16 + b"\xff\xd9")
    with pytest.raises(ValueError, match="DC size"):
        jpeg_mod.parse_jpeg(hostile)

    # legal 0xFF fill bytes before a marker must decode fine
    dqt_at = good.index(b"\xff\xdb")
    padded = good[:dqt_at] + b"\xff\xff\xff" + good[dqt_at:]
    assert np.array_equal(jpeg_mod.parse_jpeg(padded),
                          jpeg_mod.parse_jpeg(good))


def test_jpeg_allocation_byte_budget():
    """ADVICE r8: the pixel cap bounds pixels but not BYTES — int64
    coefficient stores cost 8 B/px/component, so a ~100-byte stream
    declaring 8192x8192x3 (within the 2^26 pixel cap at 64M px? no —
    but 4096x4096x3 is) would still allocate GBs. The SOF byte-budget
    check must reject it as ValueError BEFORE any array exists."""
    import numpy as np

    # 4096 x 4096 x 3 @ 4:2:0 = 16.7M px (< 2^26 pixel cap) but
    # coef bytes = (1 + .25 + .25) * 16.7M * 8 * 3x overhead ≈ 600 MB
    zz = bytes(64)
    sof = (struct.pack(">BHHB", 8, 4096, 4096, 3)
           + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    hostile = (b"\xff\xd8"
               + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz
               + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
               + b"\xff\xd9")
    with pytest.raises(ValueError, match="byte budget"):
        jpeg_mod.parse_jpeg(hostile)

    # small real images still decode
    q8 = np.full((8, 8), 8, np.int32)
    img = np.full((16, 16), 99, np.uint8)
    out = jpeg_mod.parse_jpeg(jpeg_mod.encode_jpeg(img, qtable=q8,
                                                   gray=True))
    assert np.array_equal(out[:, :, 0], img)


def test_jpeg_fast_baseline_parity():
    """r8: the inlined baseline entropy fast path must decode
    bit-identically to the general method-based scan loop on streams
    exercising restarts, subsampling, and both Annex-K table pairs."""
    import numpy as np

    rng = np.random.RandomState(20260817)
    imgs = [
        (rng.randint(0, 256, (24, 40, 3)).astype(np.uint8), {}),
        (rng.randint(0, 256, (16, 16)).astype(np.uint8),
         {"gray": True}),
        (rng.randint(0, 256, (32, 32, 3)).astype(np.uint8),
         {"restart_interval": 2}),
    ]
    for img, kw in imgs:
        data = jpeg_mod.encode_jpeg(img, **kw)
        fast = jpeg_mod.parse_jpeg(data)
        jpeg_mod._FAST_BASELINE = False
        try:
            general = jpeg_mod.parse_jpeg(data)
        finally:
            jpeg_mod._FAST_BASELINE = True
        assert np.array_equal(fast, general)


def test_jpeg_truncation_sweep_stays_valueerror():
    """Review r8 (reproduced): 36/153 truncation points of a valid
    stream raised IndexError from the rewritten bit reader when the
    entropy data ended exactly on a byte boundary (w32 had len(seg)
    entries, the window at index len(seg) was out of bounds). Every
    cut, with and without an appended EOI, must stay ValueError."""
    import numpy as np

    q8 = np.full((8, 8), 8, np.int32)
    rng = np.random.RandomState(0)
    good = jpeg_mod.encode_jpeg(
        rng.randint(0, 256, (16, 16)).astype(np.uint8),
        qtable=q8, gray=True)
    for cut in range(len(good)):
        for tail in (b"", b"\xff\xd9"):
            try:
                jpeg_mod.parse_jpeg(good[:cut] + tail)
            except ValueError:
                pass
    # empty entropy segment: SOS header followed directly by EOI
    sos = good.index(b"\xff\xda")
    with pytest.raises(ValueError):
        jpeg_mod.parse_jpeg(good[:sos + 14] + b"\xff\xd9")
