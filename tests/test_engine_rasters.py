"""Unit tests: pixel-font render/OCR round trip (E5/E6 stand-in) and the six
image containers (four real codecs, two documented stubs)."""

import numpy as np
import pytest

from activestorage_ocr_spark.engine import rasters
from activestorage_ocr_spark.engine.mime import sniff_mime


FULL_CHARSET_LINES = [
    "ABCDEFGHIJKLM",
    "NOPQRSTUVWXYZ",
    "0123456789",
    "A.B,C-D!E?F:G'H",
]


class TestFontRoundTrip:
    @pytest.mark.parametrize("scale", [1, 2, 3])
    def test_full_charset_roundtrip(self, scale):
        text = "\n".join(FULL_CHARSET_LINES)
        img = rasters.render_text(text, scale=scale)
        decoded, warnings = rasters.ocr_decode_image(img)
        assert warnings == []
        assert decoded == text

    def test_word_separators_exact(self):
        # E6 byte-identity separators: words " ", lines "\n" (ocrs.rs:103-113)
        img = rasters.render_text("HELLO WORLD\nOCR 12345", scale=2)
        decoded, _ = rasters.ocr_decode_image(img)
        assert decoded == "HELLO WORLD\nOCR 12345"

    def test_reference_fixture_tokens(self):
        # the reference integration tests assert these tokens
        # (rust/tests/integration_test.rs:145-241)
        img = rasters.render_text("HELLO WORLD OCR 12345", scale=2)
        decoded, _ = rasters.ocr_decode_image(img)
        for tok in ("HELLO", "WORLD", "OCR", "12345"):
            assert tok in decoded

    def test_blank_image_empty(self):
        blank = np.full((40, 60), 255, dtype=np.uint8)
        decoded, warnings = rasters.ocr_decode_image(blank)
        assert decoded == ""
        assert warnings == []

    def test_normalize_renderable(self):
        assert rasters.normalize_renderable("Hello_world") == "HELLO?WORLD"


class TestCodecs:
    @pytest.mark.parametrize(
        "mime", ["image/png", "image/bmp", "image/tiff", "image/gif", "image/jpeg", "image/webp"]
    )
    def test_roundtrip_and_sniff(self, mime):
        img = rasters.render_text("CODEC TEST 99", scale=2)
        blob = rasters.encode_image(img, mime)
        assert sniff_mime(blob) == mime
        back = rasters.decode_image(blob, mime)
        assert back.shape == img.shape
        # BMP/GIF pass through a palette/RGB trip; gray values survive exactly
        np.testing.assert_array_equal(back, img)
        decoded, _ = rasters.ocr_decode_image(back)
        assert decoded == "CODEC TEST 99"

    def test_corrupt_png_raises(self):
        with pytest.raises(ValueError):
            rasters.decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20)

    def test_real_jpeg_rejected_with_clear_stub_error(self):
        # a "real" JPEG (no ASOS APP15 payload) must fail loudly, not silently
        fake = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00\xff\xd9"
        with pytest.raises(ValueError, match="stub"):
            rasters.decode_jpeg_stub(fake)

    def test_gray_luma_coefficients(self):
        # ITU-R 601 (grayscale.rs:6-8)
        rgb = np.zeros((1, 1, 3), dtype=np.uint8)
        rgb[0, 0] = (255, 0, 0)
        assert rasters.rgb_to_gray(rgb)[0, 0] == round(255 * 0.299)
        rgb[0, 0] = (0, 255, 0)
        assert rasters.rgb_to_gray(rgb)[0, 0] == round(255 * 0.587)


# ---------------------------------------------------------------------------
# round 3: full PNG decode (color types 0/2/3/4/6, depths 1-16, Adam7)
# ---------------------------------------------------------------------------


def _png_chunks(ihdr_body, extra_chunks, idat_raw):
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_body)
    for tag, body in extra_chunks:
        out += chunk(tag, body)
    return out + chunk(b"IDAT", zlib.compress(idat_raw, 6)) + chunk(b"IEND", b"")


def _make_png(samples, color_type, depth=8, palette=None, trns=None, interlace=0):
    """Test-side PNG encoder: filter-0 scanlines, optional Adam7 layout.
    ``samples``: (h, w, nch) uint8 (depth<=8 values must fit the depth)."""
    import struct

    h, w, nch = samples.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)

    def pack_rows(sub):
        sh, sw, _ = sub.shape
        raw = b""
        for r in range(sh):
            if depth == 8:
                row = sub[r].tobytes()
            elif depth == 16:
                row = b"".join(bytes([v, v]) for v in sub[r].reshape(-1))
            else:
                bits = []
                for v in sub[r].reshape(-1):
                    bits += [int(b) for b in format(int(v), f"0{depth}b")]
                while len(bits) % 8:
                    bits.append(0)
                row = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
            raw += b"\x00" + row
        return raw

    if interlace == 0:
        idat = pack_rows(samples)
    else:
        from activestorage_ocr_spark.engine.rasters import _ADAM7

        idat = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                idat += pack_rows(sub)
    extra = []
    if palette is not None:
        extra.append((b"PLTE", palette.tobytes()))
    if trns is not None:
        extra.append((b"tRNS", trns))
    return _png_chunks(ihdr, extra, idat)


class TestPngFullFormat:
    def test_rgb8(self):
        rng = np.random.RandomState(1)
        img = rng.randint(0, 256, (9, 7, 3)).astype(np.uint8)
        out = rasters.decode_png(_make_png(img, color_type=2))
        assert np.array_equal(out, img)

    def test_rgba_composites_over_white(self):
        img = np.zeros((4, 4, 4), dtype=np.uint8)
        img[:, :, :3] = 10
        img[:, :, 3] = 255
        img[0, :, 3] = 0  # fully transparent row -> white
        out = rasters.decode_png(_make_png(img, color_type=6))
        assert (out[0] == 255).all() and (out[1:, :, 0] == 10).all()

    def test_gray_alpha(self):
        img = np.zeros((3, 5, 2), dtype=np.uint8)
        img[:, :, 0] = 40
        img[:, :, 1] = 255
        img[2, :, 1] = 0
        out = rasters.decode_png(_make_png(img, color_type=4))
        assert out.shape == (3, 5)
        assert (out[:2] == 40).all() and (out[2] == 255).all()

    def test_palette_with_trns(self):
        pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8)
        idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)[:, :, None]
        png = _make_png(idx, color_type=3, depth=4, palette=pal, trns=bytes([255, 255, 0, 255]))
        out = rasters.decode_png(png)
        assert tuple(out[0, 0]) == (255, 0, 0)
        assert tuple(out[1, 0]) == (255, 255, 255)  # entry 2 transparent -> white
        assert tuple(out[1, 1]) == (9, 9, 9)

    def test_gray_1bit_and_16bit(self):
        one = np.array([[0, 1, 1, 0, 1, 0, 0, 1, 1]], dtype=np.uint8)[:, :, None]
        out = rasters.decode_png(_make_png(one, color_type=0, depth=1))
        assert np.array_equal(out[0], one[:, :, 0][0] * 255)
        g16 = np.arange(12, dtype=np.uint8).reshape(3, 4, 1) * 20
        out16 = rasters.decode_png(_make_png(g16, color_type=0, depth=16))
        assert np.array_equal(out16, g16[:, :, 0])  # MSB == our byte

    def test_adam7_rgb(self):
        rng = np.random.RandomState(3)
        img = rng.randint(0, 256, (13, 11, 3)).astype(np.uint8)
        out = rasters.decode_png(_make_png(img, color_type=2, interlace=1))
        assert np.array_equal(out, img)

    def test_adam7_gray(self):
        rng = np.random.RandomState(4)
        img = rng.randint(0, 256, (10, 17, 1)).astype(np.uint8)
        out = rasters.decode_png(_make_png(img, color_type=0, interlace=1))
        assert np.array_equal(out, img[:, :, 0])

    def test_color_png_ocrs_end_to_end(self):
        # dark text on white, as RGB: the OCR path grayscales and reads it
        from activestorage_ocr_spark.engine.extract import extract_document

        gray = rasters.render_text("RGB PNG 7", scale=2)
        rgb = np.stack([gray, gray, gray], axis=2)
        r = extract_document(_make_png(rgb, color_type=2))
        assert r["status"] == "ok"
        assert "RGB PNG 7" in r["extracted_text"]

    def test_decode_bomb_guarded(self):
        import struct

        ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)
        png = _png_chunks(ihdr, [], b"")
        with pytest.raises(ValueError, match="64MP"):
            rasters.decode_png(png)

    def test_all_filters_rgb(self):
        # forward-filter RGB rows with every filter type (byte lag = 3)
        import struct
        import zlib

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, (5, 6, 3)).astype(np.uint8)
        h, w, _ = img.shape
        rowbytes = w * 3
        raw = b""
        prev = np.zeros(rowbytes, dtype=np.int32)
        for r in range(h):
            cur = img[r].reshape(-1).astype(np.int32)
            ftype = r % 5
            enc = np.zeros(rowbytes, dtype=np.int32)
            for x in range(rowbytes):
                a = int(cur[x - 3]) if x >= 3 else 0
                b_ = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b_
                elif ftype == 3:
                    pred = (a + b_) // 2
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                enc[x] = (cur[x] - pred) & 0xFF
            raw += bytes([ftype]) + bytes(enc.astype(np.uint8))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        out = rasters.decode_png(_png_chunks(ihdr, [], raw))
        assert np.array_equal(out, img)


# ---------------------------------------------------------------------------
# round 3: baseline-TIFF variants (endianness, RGB, strips, LZW, PackBits)
# ---------------------------------------------------------------------------


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Minimal valid TIFF LZW stream: CLEAR, then root codes only, with the
    EarlyChange width bump mirrored from the decoder's table growth."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = 0
    nbits = 0

    def put(code, width):
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    width = 9
    table_len = 258
    first = True
    put(CLEAR, width)
    for b in data:
        put(b, width)
        if first:  # the decoder appends nothing for the first post-CLEAR code
            first = False
        else:
            table_len += 1
            if table_len == (1 << width) - 1 and width < 12:
                width += 1
            if table_len >= 4093:  # stay in range: reset
                put(CLEAR, width)
                width = 9
                table_len = 258
                first = True
    put(EOI, width)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 100):
        lit = data[i : i + 100]
        out += bytes([len(lit) - 1]) + lit
    return out


def _make_tiff(img, *, big_endian=False, comp=1, photometric=None,
               predictor=1, strips=1):
    import struct

    e = ">" if big_endian else "<"
    spp = 1 if img.ndim == 2 else img.shape[2]
    h, w = img.shape[:2]
    px = img if img.ndim == 3 else img[:, :, None]
    if predictor == 2:
        d = px.astype(np.int32)
        diffed = d.copy()
        diffed[:, 1:] = d[:, 1:] - d[:, :-1]
        px = (diffed & 0xFF).astype(np.uint8)
    rows_per = (h + strips - 1) // strips
    strip_bytes = []
    for s in range(strips):
        part = px[s * rows_per : (s + 1) * rows_per].tobytes()
        if comp == 5:
            part = _tiff_lzw_encode(part)
        elif comp == 32773:
            part = _packbits_encode(part)
        strip_bytes.append(part)
    offs = []
    pos = 8
    for sb in strip_bytes:
        offs.append(pos)
        pos += len(sb)
    ifd_off = pos
    if photometric is None:
        photometric = 2 if spp == 3 else 1

    def entry(tag, typ, cnt, val):
        # SHORT count-1 values sit in the FIRST two bytes of the value
        # field; everything else (LONGs, offsets) packs as one LONG
        if typ == 3 and cnt == 1:
            return struct.pack(e + "HHIHH", tag, typ, cnt, val, 0)
        return struct.pack(e + "HHII", tag, typ, cnt, val)

    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (259, 3, 1, comp),
        (262, 3, 1, photometric), (277, 3, 1, spp),
        (278, 3, 1, rows_per), (317, 3, 1, predictor),
    ]
    blobs = b""
    blob_base = ifd_off + 2 + 12 * (len(entries) + 3) + 4
    # BitsPerSample
    if spp == 1:
        entries.append((258, 3, 1, 8))
    else:
        entries.append((258, 3, 3, blob_base + len(blobs)))
        blobs += struct.pack(e + "HHH", 8, 8, 8)
    # strip offsets/counts
    if strips == 1:
        entries.append((273, 4, 1, offs[0]))
        entries.append((279, 4, 1, len(strip_bytes[0])))
    else:
        entries.append((273, 4, strips, blob_base + len(blobs)))
        blobs += struct.pack(e + "I" * strips, *offs)
        entries.append((279, 4, strips, blob_base + len(blobs)))
        blobs += struct.pack(e + "I" * strips, *[len(sb) for sb in strip_bytes])
    entries.sort()
    ifd = struct.pack(e + "H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += entry(tag, typ, cnt, val)
    ifd += struct.pack(e + "I", 0) + blobs
    hdr = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(e + "I", ifd_off)
    return hdr + b"".join(strip_bytes) + ifd


class TestTiffVariants:
    def _img(self, seed=2, shape=(11, 13)):
        return np.random.RandomState(seed).randint(0, 256, shape).astype(np.uint8)

    def test_big_endian_gray(self):
        img = self._img()
        assert np.array_equal(rasters.decode_tiff(_make_tiff(img, big_endian=True)), img)

    def test_rgb(self):
        img = np.random.RandomState(5).randint(0, 256, (7, 9, 3)).astype(np.uint8)
        out = rasters.decode_tiff(_make_tiff(img))
        assert np.array_equal(out, rasters.rgb_to_gray(img))

    def test_white_is_zero(self):
        img = self._img(3)
        out = rasters.decode_tiff(_make_tiff(img, photometric=0))
        assert np.array_equal(out, 255 - img)

    def test_packbits(self):
        img = self._img(4)
        assert np.array_equal(rasters.decode_tiff(_make_tiff(img, comp=32773)), img)

    def test_lzw(self):
        img = self._img(6, (23, 31))
        assert np.array_equal(rasters.decode_tiff(_make_tiff(img, comp=5)), img)

    def test_lzw_with_predictor(self):
        img = self._img(7, (9, 40))
        got = rasters.decode_tiff(_make_tiff(img, comp=5, predictor=2))
        assert np.array_equal(got, img)

    def test_multi_strip_big_endian_lzw(self):
        img = self._img(8, (20, 15))
        got = rasters.decode_tiff(_make_tiff(img, big_endian=True, comp=5, strips=4))
        assert np.array_equal(got, img)

    def test_unsupported_compression_still_raises(self):
        img = self._img(9)
        with pytest.raises(ValueError, match="compression"):
            rasters.decode_tiff(_make_tiff(img, comp=7))


class TestGifInterlace:
    def test_interlaced_gif_roundtrip(self):
        img = np.random.RandomState(11).randint(0, 256, (13, 9)).astype(np.uint8)
        data = bytearray(rasters.encode_gif(_reorder_interlaced(img)))
        # image descriptor flags byte: header(6)+LSD(7)+GCT(768)+\x2c+8
        flag_pos = 6 + 7 + 768 + 9
        assert data[flag_pos] == 0
        data[flag_pos] = 0x40  # mark interlaced
        out = rasters.decode_gif(bytes(data))
        assert np.array_equal(out, img)


def _reorder_interlaced(img):
    rows = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, img.shape[0], step))
    return img[np.array(rows)]


class TestBmp32:
    def test_bgra_opaque(self):
        import struct

        img = np.random.RandomState(13).randint(0, 256, (5, 4, 3)).astype(np.uint8)
        rows = b""
        for r in range(4, -1, -1):  # bottom-up
            for x in range(4):
                b, g, rr = img[r, x, 2], img[r, x, 1], img[r, x, 0]
                rows += bytes([b, g, rr, 255])
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 4, 5, 1, 32, 0, len(rows), 0, 0, 0, 0)
        out = rasters.decode_bmp(hdr + info + rows)
        assert np.array_equal(out, rasters.rgb_to_gray(img))

    def test_zero_alpha_bi_rgb_treated_opaque(self):
        import struct

        rows = b"".join(bytes([10, 20, 30, 0]) for _ in range(4))
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 4, 1, 1, 32, 0, len(rows), 0, 0, 0, 0)
        out = rasters.decode_bmp(hdr + info + rows)
        expect = rasters.rgb_to_gray(np.array([[[30, 20, 10]] * 4], dtype=np.uint8))
        assert np.array_equal(out, expect)

    def test_genuine_alpha_whole_image_decision(self):
        # one fully-transparent row + one opaque row: the transparent row
        # must composite to white, NOT flip to opaque via a per-row fallback
        import struct

        row_transparent = b"".join(bytes([0, 0, 0, 0]) for _ in range(4))
        row_opaque = b"".join(bytes([10, 20, 30, 255]) for _ in range(4))
        rows = row_opaque + row_transparent  # bottom-up: opaque is LAST row
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 32, 0, len(rows), 0, 0, 0, 0)
        out = rasters.decode_bmp(hdr + info + rows)
        expect = rasters.rgb_to_gray(
            np.array(
                [[[255, 255, 255]] * 4, [[30, 20, 10]] * 4], dtype=np.uint8
            )
        )
        assert np.array_equal(out, expect)

    def test_bitfields_nonstandard_masks(self):
        # BI_BITFIELDS with RGBA byte order (R in the low byte) — the masks
        # must be parsed, not assumed BGRA
        import struct

        img = np.random.RandomState(17).randint(0, 256, (3, 4, 3)).astype(np.uint8)
        rows = b""
        for r in range(2, -1, -1):
            for x in range(4):
                px = img[r, x, 0] | (int(img[r, x, 1]) << 8) | (int(img[r, x, 2]) << 16) | (255 << 24)
                rows += struct.pack("<I", px)
        offset = 54 + 16
        hdr = struct.pack("<2sIHHI", b"BM", offset + len(rows), 0, 0, offset)
        info = struct.pack("<IiiHHIIiiII", 40, 4, 3, 1, 32, 3, len(rows), 0, 0, 0, 0)
        masks = struct.pack("<IIII", 0x000000FF, 0x0000FF00, 0x00FF0000, 0xFF000000)
        out = rasters.decode_bmp(hdr + info + masks + rows)
        assert np.array_equal(out, rasters.rgb_to_gray(img))

    def test_bitfields_565_rejected(self):
        import struct

        rows = b"\x00" * 16
        offset = 54 + 16
        hdr = struct.pack("<2sIHHI", b"BM", offset + len(rows), 0, 0, offset)
        info = struct.pack("<IiiHHIIiiII", 40, 4, 1, 1, 32, 3, len(rows), 0, 0, 0, 0)
        masks = struct.pack("<IIII", 0xF800, 0x07E0, 0x001F, 0)
        with pytest.raises(ValueError, match="bitfields"):
            rasters.decode_bmp(hdr + info + masks + rows)


class TestDimensionBombGuards:
    # adversarial-fuzz posture: forged giant dimensions fail FAST with the
    # named 64MP guard, never attempt the allocation
    def test_bmp_bomb(self):
        import struct

        bmp = (
            b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
            + struct.pack("<IiiHH", 40, 0x7FFFFFF, 0x7FFFFFF, 1, 24)
            + struct.pack("<I", 0) + b"\x00" * 20
        )
        with pytest.raises(ValueError, match="64MP"):
            rasters.decode_bmp(bmp)

    def test_gif_bomb(self):
        import struct

        gif = (
            b"GIF89a" + struct.pack("<HH", 0xFFFF, 0xFFFF) + b"\x87\x00\x00"
            + b"\x00" * 768
        )
        with pytest.raises(ValueError, match="64MP"):
            rasters.decode_gif(gif)

    def test_jpeg_bomb(self):
        import struct

        sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 0xFFFF, 0xFFFF, 1) + b"\x01\x11\x00"
        with pytest.raises(ValueError, match="64MP"):
            rasters.decode_jpeg(b"\xff\xd8" + sof + b"\xff\xd9")

    def test_vp8l_bomb(self):
        import struct

        from activestorage_ocr_spark.engine import webpx

        val = (16382) | (16382 << 14)
        payload = b"\x2f" + struct.pack("<I", val) + b"\x00" * 8
        with pytest.raises(ValueError, match="64MP"):
            webpx.decode_vp8l(payload)

    def test_vp8x_anmf_canvas_bomb(self):
        # animated-WebP canvas bomb: a ~60000x60000 VP8X canvas would make
        # ANMF compositing allocate ~10 GB — must fail at the VP8X header
        import struct

        from activestorage_ocr_spark.engine import webpx

        vp8x = (
            bytes([0x02, 0, 0, 0])  # animation flag set, reserved
            + (60000 - 1).to_bytes(3, "little")
            + (60000 - 1).to_bytes(3, "little")
        )
        chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
        webp = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
        with pytest.raises(ValueError, match="64MP"):
            webpx.decode_webp(webp)
