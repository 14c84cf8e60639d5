"""Bounded decoding: every decompression in the package goes through
``budget.inflate`` or ``rasters.lzw_decode`` with an output cap.

* Bomb tests run each payload in a child process under ``RLIMIT_AS`` (the
  child's address space after imports plus :data:`MARGIN`), so a decoder
  that allocates what the bomb inflates to dies there with MemoryError
  instead of taking the test runner with it.
* The LZW decoder is checked against the two decoders it replaced, kept
  here as references, and against malformed streams.
* A structural test keeps one decode path from becoming several again.
"""

from __future__ import annotations

import ast
import functools
import gzip
import io
import json
import os
import pathlib
import struct
import subprocess
import sys
import textwrap
import time
import zlib

import numpy as np
import pytest

from activestorage_ocr_spark.engine import budget, pdfx, rasters
from activestorage_ocr_spark.engine.extract import extract_document
from activestorage_ocr_spark.sources import warc

REPO = pathlib.Path(__file__).resolve().parents[1]

#: what each bomb inflates to, and the address space a child may add after
#: its imports: room for one document's byte budget twice over (an inflate's
#: output buffer plus its bytes copy) and the decoders' working memory
BOMB_BYTES = 1 << 30
MARGIN = 3 * budget.DOC_DECODE_BYTES


# ---------------------------------------------------------------------------
# bomb builders
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _raw_deflate_zeros() -> bytes:
    c = zlib.compressobj(9, zlib.DEFLATED, -zlib.MAX_WBITS)
    chunk = bytes(1 << 20)
    parts = [c.compress(chunk) for _ in range(BOMB_BYTES >> 20)]
    return b"".join(parts) + c.flush()


def _zlib_bomb() -> bytes:
    """A valid zlib stream of BOMB_BYTES zeros (about 1 MB)."""
    adler, chunk = 1, bytes(1 << 20)
    for _ in range(BOMB_BYTES >> 20):
        adler = zlib.adler32(chunk, adler)
    return b"\x78\xda" + _raw_deflate_zeros() + struct.pack(">I", adler)


def _gzip_bomb() -> bytes:
    """A valid gzip member of BOMB_BYTES zeros."""
    crc, chunk = 0, bytes(1 << 20)
    for _ in range(BOMB_BYTES >> 20):
        crc = zlib.crc32(chunk, crc)
    header = b"\x1f\x8b\x08\x00" + bytes(4) + b"\x02\xff"
    return header + _raw_deflate_zeros() + struct.pack("<II", crc, BOMB_BYTES & 0xFFFFFFFF)


def _pack_lzw(codes, root_bits: int, *, msb: bool, early: int) -> bytes:
    """Pack LZW codes at the widths a decoder reads them: the width follows
    the decoder's table size (one entry per code after the first following
    a CLEAR, at most 4096 entries)."""
    clear = 1 << root_bits
    width, size, first = root_bits + 1, clear + 2, True
    buf = nbits = 0
    out = bytearray()
    for code in codes:
        if msb:
            buf = (buf << width) | code
            nbits += width
            while nbits >= 8:
                nbits -= 8
                out.append((buf >> nbits) & 0xFF)
                buf &= (1 << nbits) - 1
        else:
            buf |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(buf & 0xFF)
                buf >>= 8
                nbits -= 8
        if code == clear:
            width, size, first = root_bits + 1, clear + 2, True
            continue
        if code == clear + 1:
            break
        if not first:
            size = min(size + 1, 4096)
        first = False
        if size + early == 1 << width and width < 12:
            width += 1
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF if msb else buf & 0xFF)
    return bytes(out)


def _lzw_bomb_codes() -> list[int]:
    """CLEAR, a zero, then KwKwK codes growing the table to 4096 entries of
    ever longer zero runs, then the longest entry repeated until the stream
    expands to at least BOMB_BYTES (about 3.8 KB per 12-bit code)."""
    codes = [256, 0] + list(range(258, 4096))
    built = sum(c - 256 for c in range(258, 4096)) + 1
    codes += [4095] * ((BOMB_BYTES - built) // (4095 - 256) + 1)
    return codes + [257]


def _gif(lzw: bytes, w: int = 8, h: int = 8) -> bytes:
    """A GIF87a with the 256-gray palette of ``rasters.encode_gif`` and one
    ``w`` x ``h`` frame holding ``lzw`` (minimum code size 8)."""
    out = bytearray(b"GIF87a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0))
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + b"\x08"
    for i in range(0, len(lzw), 255):
        out += bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
    return bytes(out + b"\x00\x3b")


def _tiff(strip: bytes, compression: int, w: int = 8, h: int = 8) -> bytes:
    """A little-endian 8-bit gray TIFF with one strip."""
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, compression),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, h),
        (279, 4, 1, len(strip)),
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    return struct.pack("<2sHI", b"II", 42, 8 + len(strip)) + strip + ifd + bytes(4)


def _png(idat: bytes, w: int = 8, h: int = 8) -> bytes:
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _pdf_content(stream: bytes, filters: bytes) -> bytes:
    return pdfx._assemble([
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", None),
        (4, b"<< /Length " + str(len(stream)).encode() + b" /Filter " + filters + b" >>", stream),
    ])


def _record(url: str, headers: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + headers + b"\r\n" + body
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"WARC-Date: 2023-05-01T00:00:00Z\r\nWARC-Record-ID: <urn:uuid:1>\r\n"
        + f"Content-Length: {len(http)}\r\n\r\n".encode()
        + http + b"\r\n\r\n"
    )


# ---------------------------------------------------------------------------
# bombs, each in an address-space-limited child
# ---------------------------------------------------------------------------

_CHILD = textwrap.dedent("""
    import io, json, resource, sys
    sys.path.insert(0, {repo!r})
    from activestorage_ocr_spark.engine.extract import extract_document
    from activestorage_ocr_spark.sources.warc import parse_warc_stream

    payload = open({path!r}, "rb").read()
    with open("/proc/self/status") as f:
        vm = next(int(l.split()[1]) * 1024 for l in f if l.startswith("VmSize:"))
    resource.setrlimit(resource.RLIMIT_AS, (vm + {margin}, vm + {margin}))
    if {warc}:
        rows = [
            {{"url": r["url"], "n": len(r["html"]), "raw": r["html"] == {raw_body_slice}}}
            for r in parse_warc_stream(io.BufferedReader(io.BytesIO(payload)), "bomb.warc")
        ]
        print(json.dumps(rows))
    else:
        r = extract_document(payload)
        r.pop("processing_time_ms")
        print(json.dumps(r))
""")


def _run_limited(tmp_path, payload: bytes, *, warc_body: tuple[int, int] | None = None):
    path = tmp_path / "bomb.bin"
    path.write_bytes(payload)
    raw_body_slice = f"payload[{warc_body[0]}:{warc_body[1]}]" if warc_body else "None"
    script = _CHILD.format(
        repo=str(REPO), path=str(path), margin=MARGIN, warc=warc_body is not None,
        raw_body_slice=raw_body_slice,
    )
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _row(payload: bytes) -> dict:
    r = extract_document(payload)
    r.pop("processing_time_ms")
    return json.loads(json.dumps(r))


class TestBombs:
    def test_png_idat_bomb_decodes_its_declared_size(self, tmp_path):
        # the 8x8 header declares 72 bytes of scanlines; the stream holds 1 GiB
        got = _run_limited(tmp_path, _png(_zlib_bomb()))
        assert got == _row(_png(zlib.compress(bytes(72))))

    def test_tiff_lzw_strip_bomb_decodes_its_declared_size(self, tmp_path):
        lzw = _pack_lzw(_lzw_bomb_codes(), 8, msb=True, early=1)
        got = _run_limited(tmp_path, _tiff(lzw, 5))
        assert got == _row(_tiff(bytes(64), 1))

    def test_gif_frame_bomb_decodes_its_declared_size(self, tmp_path):
        lzw = _pack_lzw(_lzw_bomb_codes(), 8, msb=False, early=0)
        got = _run_limited(tmp_path, _gif(lzw))
        assert got == _row(rasters.encode_gif(np.zeros((8, 8), np.uint8)))

    def test_pdf_flate_content_stream_bomb(self, tmp_path):
        got = _run_limited(tmp_path, _pdf_content(_zlib_bomb(), b"/FlateDecode"))
        assert got["status"] == got["error_code"] == "IMAGE_TOO_LARGE"
        assert "byte budget" in got["warnings"][0]

    def test_pdf_flate_chain_bomb(self, tmp_path):
        # a ~1 MB first stage that inflates again to 1 GiB
        outer = zlib.compress(_zlib_bomb(), 9)
        got = _run_limited(tmp_path, _pdf_content(outer, b"[/FlateDecode /FlateDecode]"))
        assert got["status"] == got["error_code"] == "IMAGE_TOO_LARGE"

    def test_warc_gzip_body_bomb_keeps_raw_bytes(self, tmp_path):
        bomb = _record("http://bomb.example/", b"Content-Encoding: gzip\r\n", _gzip_bomb())
        start = bomb.index(b"\r\n\r\n", bomb.index(b"HTTP/1.1")) + 4
        nxt = _record("http://next.example/", b"", b"<html><p>next page</p></html>")
        rows = _run_limited(tmp_path, bomb + nxt, warc_body=(start, start + len(_gzip_bomb())))
        assert rows[0] == {"url": "http://bomb.example/", "n": len(_gzip_bomb()), "raw": True}
        assert rows[1]["url"] == "http://next.example/"
        assert rows[1]["n"] == len(b"<html><p>next page</p></html>")


# ---------------------------------------------------------------------------
# inflate and the byte budget
# ---------------------------------------------------------------------------


class TestInflate:
    def test_caps_output_and_matches_zlib_below_the_cap(self):
        data = bytes(range(256)) * 40
        z = zlib.compress(data)
        assert budget.inflate(z, len(data)) == zlib.decompress(z)
        assert budget.inflate(z, 100) == data[:100]
        assert budget.inflate(z + b"trailing", 10**6) == data

    def test_truncated_and_corrupt_streams_raise_like_zlib(self):
        z = zlib.compress(bytes(range(256)) * 40)
        for bad in (z[: len(z) // 2], b"\x78\x9c\xff\xff"):
            with pytest.raises(zlib.error) as want:
                zlib.decompress(bad)
            with pytest.raises(zlib.error) as got:
                budget.inflate(bad, 10**6)
            assert str(got.value) == str(want.value)

    def test_gzip_members_decode_back_to_back(self):
        body = gzip.compress(b"first ") + b"\x00\x00" + gzip.compress(b"second")
        assert budget.inflate(body, 100, 31) == gzip.decompress(body)
        assert budget.inflate(body, 8, 31) == b"first se"

    def test_budget_meters_every_stream_of_a_document(self, monkeypatch):
        monkeypatch.setattr(budget, "DOC_DECODE_BYTES", 1000)
        half = 500
        rooms = []

        def decode(n):
            rooms.append(n)
            return bytes(half)

        with budget.deadline(None):
            budget.metered(decode)
            budget.metered(decode)
            with pytest.raises(budget.DecodeLimit):
                budget.metered(lambda n: b"x")
        assert rooms == [2 * half + 1, half + 1]
        # disarmed: each call gets a whole budget again
        budget.metered(decode)
        budget.metered(decode)
        assert rooms[2:] == [2 * half + 1] * 2

    def test_pdf_run_length_is_metered(self, monkeypatch):
        # 128 is PDF RunLength's end of data, a no-op in TIFF PackBits
        enc = b"\x81Z" * 2 + b"\x80" + b"\x81Z"
        assert pdfx._apply_filter("/RunLengthDecode", enc) == b"Z" * 256
        assert rasters.packbits_decode(enc, 1000) == b"Z" * 384
        monkeypatch.setattr(budget, "DOC_DECODE_BYTES", 1000)
        with budget.deadline(None):
            budget.metered(lambda n: bytes(900))
            with pytest.raises(budget.DecodeLimit):
                pdfx._apply_filter("/RunLengthDecode", enc)

    def test_warc_multi_member_gzip_body(self):
        body = gzip.compress(b"<html><p>one ") + gzip.compress(b"two</p></html>")
        fh = io.BufferedReader(io.BytesIO(_record("http://x/", b"Content-Encoding: gzip\r\n", body)))
        (row,) = warc.parse_warc_stream(fh, "t")
        assert row["html"] == b"<html><p>one two</p></html>"


# ---------------------------------------------------------------------------
# one LZW decoder
# ---------------------------------------------------------------------------


def _ref_tiff_lzw(data: bytes) -> bytes:
    """The TIFF/PDF decoder ``lzw_decode`` replaced (reference)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    width, buf, nbits, prev = 9, 0, 0, None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width, prev = 9, None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def _ref_gif_lzw(data: bytes, min_code_size: int) -> bytes:
    """The general GIF loop ``lzw_decode`` replaced (reference)."""
    clear = 1 << min_code_size
    out = bytearray()
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size, buf, nbits, prev = min_code_size + 1, 0, 0, None
    for byte in data:
        buf |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = buf & ((1 << code_size) - 1)
            buf >>= code_size
            nbits -= code_size
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size, prev = min_code_size + 1, None
                continue
            if code == clear + 1:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return bytes(out)


def _lzw_encode(data: bytes, root_bits: int, *, early: int, clear_at: int | None) -> list[int]:
    """Textbook LZW codes for ``data``: CLEAR first, a CLEAR whenever the
    table reaches ``clear_at`` entries (None: a full table just stops
    growing, GIF's deferred clear), EOI last."""
    clear = 1 << root_bits

    def fresh():
        return {bytes([i]): i for i in range(clear)}, clear + 2

    table, nxt = fresh()
    codes, w = [clear], b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        codes.append(table[w])
        if nxt < 4096:
            table[wc] = nxt
            nxt += 1
        if clear_at is not None and nxt >= clear_at:
            codes.append(clear)
            table, nxt = fresh()
        w = bytes([b])
    if w:
        codes.append(table[w])
    return codes + [clear + 1]


def _sample_inputs():
    rng = np.random.RandomState(3)
    runs = bytes(np.repeat(rng.randint(0, 4, 3000), rng.randint(1, 40, 3000)).astype(np.uint8))
    return [b"", b"a", b"abababababab", runs, rng.randint(0, 256, 6000).astype(np.uint8).tobytes()]


class TestLzwDecoder:
    def test_tiff_and_pdf_variant_matches_the_replaced_decoder(self):
        for data in _sample_inputs():
            stream = _pack_lzw(_lzw_encode(data, 8, early=1, clear_at=4094), 8, msb=True, early=1)
            got = rasters.lzw_decode(stream, 8, msb=True, early=1, max_out=1 << 30)
            assert got == _ref_tiff_lzw(stream) == data

    @pytest.mark.parametrize("root_bits", [2, 5, 8])
    def test_gif_variant_matches_the_replaced_decoder(self, root_bits):
        for data in _sample_inputs():
            data = bytes(b % (1 << root_bits) for b in data)
            for clear_at in (4096, None):
                codes = _lzw_encode(data, root_bits, early=0, clear_at=clear_at)
                stream = _pack_lzw(codes, root_bits, msb=False, early=0)
                got = rasters.lzw_decode(stream, root_bits, msb=False, early=0, max_out=1 << 30)
                assert got == _ref_gif_lzw(stream, root_bits) == data

    def test_max_out_stops_the_decoder(self):
        stream = _pack_lzw(_lzw_bomb_codes()[:5000] + [257], 8, msb=False, early=0)
        assert rasters.lzw_decode(stream, 8, msb=False, early=0, max_out=10) == bytes(10)


# malformed streams: [CLEAR, first code past the table] and [CLEAR, a root,
# a code two past the table size]
_BAD_LZW = {"first code past the table": [256, 300, 257], "code past the table size": [256, 7, 259, 257]}


@pytest.mark.parametrize("case", sorted(_BAD_LZW))
class TestMalformedLzw:
    def test_gif_frame_is_a_processing_error(self, case):
        r = extract_document(_gif(_pack_lzw(_BAD_LZW[case], 8, msb=False, early=0)))
        assert r["status"] == r["error_code"] == "PROCESSING_ERROR"
        assert r["warnings"][0].startswith("ValueError: LZW code")

    def test_tiff_strip_is_a_processing_error(self, case):
        r = extract_document(_tiff(_pack_lzw(_BAD_LZW[case], 8, msb=True, early=1), 5))
        assert r["status"] == r["error_code"] == "PROCESSING_ERROR"
        assert r["warnings"][0].startswith("ValueError: LZW code")

    def test_pdf_lzw_stream_is_skipped_like_any_malformed_stream(self, case):
        # a PDF skips a stream it cannot decode; the document still yields
        # the text of its other streams
        bad = _pack_lzw(_BAD_LZW[case], 8, msb=True, early=1)
        with pytest.raises(pdfx.PdfError, match="bad LZWDecode stream: LZW code"):
            pdfx._apply_filter("/LZWDecode", bad)
        good = zlib.compress(b"BT /F1 10 Tf (Text beside a broken LZW stream) Tj ET")
        pdf = pdfx._assemble([
            (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>", None),
            (4, b"<< /Length %d /Filter /LZWDecode >>" % len(bad), bad),
            (5, b"<< /Length %d /Filter /FlateDecode >>" % len(good), good),
        ])
        r = extract_document(pdf)
        assert r["status"] == "ok"
        assert r["extracted_text"] == "Text beside a broken LZW stream"


# ---------------------------------------------------------------------------
# PNG IDAT assembly is linear
# ---------------------------------------------------------------------------


def test_png_of_one_byte_idat_chunks_decodes_well_inside_the_budget():
    # 2.3 MB of IDAT: about 30 s when every chunk re-copies the stream so far
    gray = np.random.RandomState(5).randint(0, 256, (1500, 1500)).astype(np.uint8)
    png = rasters.encode_png(gray)
    ihdr_end = 8 + 25
    (n,) = struct.unpack(">I", png[ihdr_end : ihdr_end + 4])
    idat = png[ihdr_end + 8 : ihdr_end + 8 + n]
    chunks = b"".join(
        struct.pack(">I", 1) + b"IDAT" + idat[i : i + 1] + bytes(4) for i in range(len(idat))
    )
    split = png[:ihdr_end] + chunks + png[ihdr_end + 12 + n :]
    assert len(idat) > 2_000_000
    t0 = time.perf_counter()
    out = rasters.decode_png(split)
    assert time.perf_counter() - t0 < 10.0  # the document budget is 30 s
    assert np.array_equal(out, gray)


# ---------------------------------------------------------------------------
# structure: one decode path
# ---------------------------------------------------------------------------


def test_decompression_and_pixel_cap_live_only_in_budget():
    pkg = REPO / "activestorage_ocr_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "engine" / "budget.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        modules = {}  # local name -> zlib/gzip
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name in ("zlib", "gzip"):
                        modules[a.asname or a.name] = a.name
        for node in ast.walk(tree):
            where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("decompress", "decompressobj")
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
            ):
                offenders.append(f"{where} {modules[node.value.id]}.{node.attr}")
            if isinstance(node, ast.ImportFrom) and node.module in ("zlib", "gzip"):
                if {a.name for a in node.names} & {"decompress", "decompressobj"}:
                    offenders.append(f"{where} from {node.module} import decompress")
            if isinstance(node, ast.Constant) and node.value == 64_000_000:
                offenders.append(f"{where} 64_000_000 literal")
    assert offenders == []
