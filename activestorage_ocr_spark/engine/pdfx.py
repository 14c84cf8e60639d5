"""Minimal PDF builder + parser.

Core scope mirrors the reference's equally-partial PDF support (SURVEY.md
§7.3): flate-compressed content streams with ``BT/ET``, ``Tj``/``TJ``/
``Td``/``TD``/``T*`` text operators, and 8-bit DeviceGray / DeviceRGB /
ICCBased / DeviceCMYK image XObjects; unsupported constructs raise and the
caller quarantines the row. Round 4 extends the crawl-reality surface far
beyond the reference: CCITT (`ccittx`), JBIG2 (`jbig2x`), and JPEG 2000
(`jp2x`) image filters; PDF 1.5 compressed object streams
(`_expand_object_streams`); and standard-security-handler decryption
(`pdfcrypt`: RC4-40/128, AES-128, AES-256/R6) for owner-locked files.

Reference semantics reproduced exactly (SURVEY.md §2.4):

* E1  text layer first: if ``trim(text)`` is non-empty AND longer than 10
  chars, return it with confidence 0.95 and skip OCR entirely
  (`rust/src/engines/ocrs.rs:126-145`).
* E2  otherwise scan **all** document objects; every stream with
  ``/Subtype /Image`` is decoded; per-image failures are recorded as warnings
  and skipped (`ocrs.rs:431-464`).
* E3  raster decode by color space: DeviceGray (len >= w*h) -> gray;
  DeviceRGB / ICCBased (len >= 3*w*h) -> RGB; DeviceCMYK (len >= 4*w*h) -> RGB
  via r = (1-c)*(1-k)*255 etc.; BitsPerComponent defaults to 8; anything else
  errors (`ocrs.rs:467-582`).
* E4  ColorSpace resolution order: direct name, indirect reference, or array
  head (e.g. ``[/ICCBased ref]``); default DeviceRGB (`ocrs.rs:585-624`).
* E7  per-image OCR results in document order, empties dropped, joined with
  ``"\\n\\n"`` (`ocrs.rs:161-178`).
* E10 no text layer and no images -> text "", confidence 0.0, warning
  ``"No text or images found in PDF"`` (`ocrs.rs:154-160`).
* E11 the fallback path appends the warning
  ``"PDF appears to be scanned/image-based, extracting images for OCR"``
  (`ocrs.rs:148-150`).
* E9  the alternate engine aggregates confidence as the mean of per-image
  confidences over images that produced non-empty text, 0.0 if none
  (`rust/src/engines/leptess.rs:156-183`); the default engine scores the
  joined text with the C1 heuristic.

Our text-layer assembly convention (the reference delegates to the
``pdf_extract`` crate; we define and document ours): ``Tj``/``TJ`` strings
append to the current line; ``Td``/``TD``/``T*``/``'`` after shown text start
a new line; lines joined "\\n" within a page stream; page streams joined
"\\n\\n"; result trimmed (C6).
"""

from __future__ import annotations

import re
import zlib

import numpy as np

from . import budget
from .confidence import PDF_TEXT_LAYER_CONFIDENCE, calculate_confidence
from .rasters import ocr_decode_image, rgb_to_gray

SCANNED_PDF_WARNING = "PDF appears to be scanned/image-based, extracting images for OCR"
EMPTY_PDF_WARNING = "No text or images found in PDF"
TEXT_LAYER_MIN_CHARS = 10


class PdfError(ValueError):
    """Unparseable / unsupported PDF — caller quarantines as PROCESSING_ERROR."""


# ---------------------------------------------------------------------------
# builder (corpus generation + tests)
# ---------------------------------------------------------------------------


def _esc(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)").encode("latin-1", "replace")
    )


def build_text_pdf(
    pages: list[list[str]],
    objstm: bool = False,
    encrypt: str | None = None,
    user_password: bytes = b"",
) -> bytes:
    """A PDF with one flate content stream per page of ``Tj`` text lines.
    ``objstm`` packs the dict-only objects into a PDF 1.5 compressed
    object stream (the modern-producer layout); ``encrypt`` applies the
    standard security handler ("rc4-40" | "rc4" | "aes") with an empty
    user password unless ``user_password`` is set."""
    objs: list[bytes] = []
    page_refs = []
    content_refs = []
    next_id = 3 + 2 * len(pages)  # 1=catalog 2=pages, then page/content pairs
    font_id = next_id
    for pi, lines in enumerate(pages):
        page_id = 3 + 2 * pi
        content_id = page_id + 1
        page_refs.append(page_id)
        content_refs.append(content_id)
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for li, line in enumerate(lines):
            if li > 0:
                ops.append(b"0 -14 TD")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        stream = zlib.compress(b"\n".join(ops), 6)
        objs.append(
            (
                page_id,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 "
                + str(font_id).encode()
                + b" 0 R >> >> /Contents "
                + str(content_id).encode()
                + b" 0 R >>",
                None,
            )
        )
        objs.append(
            (
                content_id,
                b"<< /Length " + str(len(stream)).encode() + b" /Filter /FlateDecode >>",
                stream,
            )
        )
    objs.append((font_id, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>", None))
    kids = b" ".join(str(r).encode() + b" 0 R" for r in page_refs)
    header = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count " + str(len(pages)).encode() + b" >>", None),
    ]
    assembled = header + objs
    if objstm:
        return _assemble_objstm(assembled, encrypt=encrypt, user_password=user_password)
    return _assemble(assembled, encrypt=encrypt, user_password=user_password)


def build_cid_text_pdf(pages: list[list[str]]) -> bytes:
    """A PDF whose text layer uses the MODERN producer layout: a Type0
    (CID) font with /Encoding /Identity-H, 2-byte character codes in hex
    show strings, and a /ToUnicode CMap mapping codes back to Unicode —
    the shape LibreOffice/Word/Chrome print output takes. Codes are
    assigned per distinct character in document order (code 1 up), so the
    extracted text equals the input ONLY when the CMap path works."""
    chars: dict[str, int] = {}
    for lines in pages:
        for line in lines:
            for ch in line:
                if ch not in chars:
                    chars[ch] = len(chars) + 1
    # ToUnicode CMap stream (32000-1 §9.10.3 layout, bfchar blocks <=100)
    items = sorted(chars.items(), key=lambda kv: kv[1])
    blocks = []
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        body = b"\n".join(
            b"<%04X> <%s>" % (code, ch.encode("utf-16-be").hex().upper().encode())
            for ch, code in chunk
        )
        blocks.append(
            str(len(chunk)).encode() + b" beginbfchar\n" + body + b"\nendbfchar"
        )
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"12 dict begin\nbegincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + b"\n".join(blocks)
        + b"\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    )
    cmap_z = zlib.compress(cmap, 6)
    objs: list[tuple[int, bytes, bytes | None]] = []
    page_refs = []
    next_id = 3 + 2 * len(pages)
    font_id, cmap_id = next_id, next_id + 1
    for pi, lines in enumerate(pages):
        page_id = 3 + 2 * pi
        content_id = page_id + 1
        page_refs.append(page_id)
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for li, line in enumerate(lines):
            if li > 0:
                ops.append(b"0 -14 TD")
            codes = b"".join(b"%04X" % chars[ch] for ch in line)
            ops.append(b"<" + codes + b"> Tj")
        ops.append(b"ET")
        stream = zlib.compress(b"\n".join(ops), 6)
        objs.append((
            page_id,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 " + str(font_id).encode()
            + b" 0 R >> >> /Contents " + str(content_id).encode() + b" 0 R >>",
            None,
        ))
        objs.append((
            content_id,
            b"<< /Length " + str(len(stream)).encode() + b" /Filter /FlateDecode >>",
            stream,
        ))
    objs.append((
        font_id,
        b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Synth"
        b" /Encoding /Identity-H /ToUnicode " + str(cmap_id).encode() + b" 0 R >>",
        None,
    ))
    objs.append((
        cmap_id,
        b"<< /Length " + str(len(cmap_z)).encode() + b" /Filter /FlateDecode >>",
        cmap_z,
    ))
    kids = b" ".join(str(r).encode() + b" 0 R" for r in page_refs)
    header = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count "
            + str(len(pages)).encode() + b" >>", None),
    ]
    return _assemble(header + objs)


def build_image_pdf(
    images: list[tuple[np.ndarray, str]],
    icc_indirect: bool = False,
    corrupt_data: bool = False,
    objstm: bool = False,
    encrypt: str | None = None,
    user_password: bytes = b"",
) -> bytes:
    """Image-only PDF (no text operators — same structure as the reference's
    two fixture PDFs, SURVEY.md §5.1).

    ``images``: (array, colorspace) with colorspace in
    {"DeviceGray", "DeviceRGB", "DeviceCMYK", "ICCBased", "BogusSpace"},
    or (jpeg_bytes, "DCT", width, height) for a /DCTDecode (JPEG) image
    stream. Arrays: gray (h,w) for DeviceGray; rgb (h,w,3) for
    DeviceRGB/ICCBased; cmyk (h,w,4) for DeviceCMYK. ``corrupt_data``
    truncates sample data to force the per-image decode-failure path (E2).
    """
    objs: list[tuple[int, bytes, bytes | None]] = []
    next_id = 3
    img_entries = []
    extra = []
    for entry in images:
        if len(entry) == 4:  # pre-encoded DCTDecode stream
            jpeg, cs, w, h = entry
            img_id = next_id
            next_id += 1
            d = (
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Length "
                + str(len(jpeg)).encode() + b" /Filter /DCTDecode >>"
            )
            objs.append((img_id, d, jpeg))
            img_entries.append(img_id)
            continue
        arr, cs = entry
        img_id = next_id
        next_id += 1
        h, w = arr.shape[:2]
        if cs in ("JBIG2", "JBIG2G", "JBIG2S", "JBIG2R", "JBIG2H",
                  "JBIG2RA", "JBIG2HF", "JBIG2HF9", "JBIG2HF10", "JBIG2HM"):
            # JBIG2 bitonal image; "JBIG2G" splits the page info segment
            # into a /JBIG2Globals stream (the shared-segment organization
            # real PDF producers use); "JBIG2S" uses symbol mode (connected
            # components -> symbol dictionary + text region, the jbig2enc
            # default); "JBIG2R" uses refinement mode (rough generic pass +
            # lossless refinement region, the jbig2enc lossless shape);
            # "JBIG2H" halftone-dithers the GRAY array through a pattern
            # dictionary (cell=2 keeps glyph shapes OCR-readable);
            # "JBIG2RA" uses SDREFAGG symbols refining a base dictionary;
            # "JBIG2HF" uses Huffman coding throughout (SDHUFF symbol
            # dictionary + SBHUFF text region + a custom type-53 DT table);
            # "JBIG2HF9"/"JBIG2HF10" select standard DS tables B.9/B.10
            # (SBHUFFDS=1/2) instead of the default B.8;
            # "JBIG2HM" is the halftone with MMR-coded bitplanes
            from .jbig2x import (
                _SEG_PAGE_INFO,
                encode_jbig2_embedded,
                encode_jbig2_halftone_mode,
                encode_jbig2_huffman_page,
                encode_jbig2_refinement_mode,
                encode_jbig2_symbol_mode,
                encode_jbig2_symbol_refagg_mode,
            )

            black = arr if arr.dtype == bool else arr < 128
            if cs == "JBIG2S":
                stream = encode_jbig2_symbol_mode(black)
            elif cs in ("JBIG2HF", "JBIG2HF9", "JBIG2HF10"):
                ds_sel = {"JBIG2HF": 0, "JBIG2HF9": 1, "JBIG2HF10": 2}[cs]
                stream = encode_jbig2_huffman_page(black, ds_sel=ds_sel)
            elif cs == "JBIG2HM":
                gray_in = arr if arr.dtype != bool else np.where(arr, 0, 255)
                stream = encode_jbig2_halftone_mode(
                    gray_in.astype(np.uint8), cell=2, mmr=True
                )
            elif cs == "JBIG2RA":
                stream = encode_jbig2_symbol_refagg_mode(black)
            elif cs == "JBIG2R":
                stream = encode_jbig2_refinement_mode(black)
            elif cs == "JBIG2H":
                gray_in = arr if arr.dtype != bool else np.where(arr, 0, 255)
                stream = encode_jbig2_halftone_mode(
                    gray_in.astype(np.uint8), cell=2
                )
            else:
                stream = encode_jbig2_embedded(black)
            if corrupt_data:
                stream = stream[: max(1, len(stream) // 4)]
            parms = b""
            if cs == "JBIG2G":
                # first segment is page info (header 11 bytes + 19 payload)
                assert stream[4] & 0x3F == _SEG_PAGE_INFO
                gdata, stream = stream[:30], stream[30:]
                gid = next_id
                next_id += 1
                extra.append(
                    (gid, b"<< /Length " + str(len(gdata)).encode() + b" >>", gdata)
                )
                parms = (
                    b" /DecodeParms << /JBIG2Globals " + str(gid).encode() + b" 0 R >>"
                )
            d = (
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 1 /Length "
                + str(len(stream)).encode()
                + b" /Filter /JBIG2Decode" + parms + b" >>"
            )
            objs.append((img_id, d, stream))
            img_entries.append(img_id)
            continue
        if cs in ("G4", "G4A", "G3", "G32D", "G32DA"):
            # CCITT bitonal image (the scanned-PDF mainline): gray arrays
            # threshold at 128, bool arrays are taken as-is. "G4A" = G4 with
            # /EncodedByteAlign; "G3" = one-dimensional MH (K=0); "G32D" =
            # mixed 1-D/2-D (K=4), "G32DA" with /EncodedByteAlign
            from .ccittx import encode_g3_1d, encode_g3_2d, encode_g4

            black = arr if arr.dtype == bool else arr < 128
            aligned = cs in ("G4A", "G32DA")
            if cs == "G3":
                stream = encode_g3_1d(black)
            elif cs in ("G32D", "G32DA"):
                stream = encode_g3_2d(black, k=4, byte_align=aligned)
            else:
                stream = encode_g4(black, byte_align=aligned)
            if corrupt_data:
                stream = stream[: max(1, len(stream) // 4)]
            k = {"G3": b"0", "G32D": b"4", "G32DA": b"4"}.get(cs, b"-1")
            align = b" /EncodedByteAlign true" if aligned else b""
            d = (
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 1 /Length "
                + str(len(stream)).encode()
                + b" /Filter /CCITTFaxDecode /DecodeParms << /K " + k + b" /Columns "
                + str(w).encode() + b" /Rows " + str(h).encode() + align + b" >> >>"
            )
            objs.append((img_id, d, stream))
            img_entries.append(img_id)
            continue
        if cs == "DCTA":
            # arithmetic-coded JPEG (T.81 Annex F, SOF9): the last labeled
            # raster gap — gray array encoded via the jpegx fixture mirror
            from .jpegx import encode_jpeg_arith

            stream = encode_jpeg_arith(arr.astype(np.uint8), qval=1)
            if corrupt_data:
                stream = stream[: max(1, len(stream) // 4)]
            d = (
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Length "
                + str(len(stream)).encode()
                + b" /Filter /DCTDecode >>"
            )
            objs.append((img_id, d, stream))
            img_entries.append(img_id)
            continue
        if cs in ("JPX", "JPXJ", "JPXL"):
            # JPEG 2000 image: "JPX" = raw lossless 5/3 codestream, "JPXJ" =
            # the same inside a JP2 box container, "JPXL" = lossy 9/7.
            # Gray (h,w) or RGB (h,w,3) arrays.
            from .jp2x import encode_jp2

            stream = encode_jp2(
                arr.astype(np.uint8),
                reversible=cs != "JPXL",
                wrap=cs == "JPXJ",
            )
            if corrupt_data:
                stream = stream[: max(1, len(stream) // 4)]
            ncomp = 3 if arr.ndim == 3 else 1
            jcs = b"/DeviceRGB" if ncomp == 3 else b"/DeviceGray"
            d = (
                b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
                + b" /Height " + str(h).encode()
                + b" /ColorSpace " + jcs + b" /BitsPerComponent 8 /Length "
                + str(len(stream)).encode()
                + b" /Filter /JPXDecode >>"
            )
            objs.append((img_id, d, stream))
            img_entries.append(img_id)
            continue
        raw = arr.tobytes()
        if corrupt_data:
            raw = raw[: max(1, len(raw) // 4)]
        stream = zlib.compress(raw, 6)
        if cs == "ICCBased":
            if icc_indirect:
                icc_id = next_id
                next_id += 1
                icc_profile = zlib.compress(b"\x00" * 16, 6)
                extra.append(
                    (
                        icc_id,
                        b"<< /N 3 /Length " + str(len(icc_profile)).encode() + b" /Filter /FlateDecode >>",
                        icc_profile,
                    )
                )
                cs_token = b"[/ICCBased " + str(icc_id).encode() + b" 0 R]"
            else:
                cs_token = b"[/ICCBased]"
        else:
            cs_token = b"/" + cs.encode()
        d = (
            b"<< /Type /XObject /Subtype /Image /Width " + str(w).encode()
            + b" /Height " + str(h).encode()
            + b" /ColorSpace " + cs_token
            + b" /BitsPerComponent 8 /Length " + str(len(stream)).encode()
            + b" /Filter /FlateDecode >>"
        )
        objs.append((img_id, d, stream))
        img_entries.append(img_id)
    page_id = next_id
    content_id = next_id + 1
    xobj = b" ".join(
        b"/Im" + str(i).encode() + b" " + str(ref).encode() + b" 0 R" for i, ref in enumerate(img_entries)
    )
    draw = b"\n".join(
        b"q 468 0 0 648 72 72 cm /Im" + str(i).encode() + b" Do Q" for i in range(len(img_entries))
    )
    content = zlib.compress(draw, 6)
    objs.append(
        (
            page_id,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /XObject << "
            + xobj
            + b" >> >> /Contents "
            + str(content_id).encode()
            + b" 0 R >>",
            None,
        )
    )
    objs.append(
        (content_id, b"<< /Length " + str(len(content)).encode() + b" /Filter /FlateDecode >>", content)
    )
    header = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [" + str(page_id).encode() + b" 0 R] /Count 1 >>", None),
    ]
    assembled = header + objs + extra
    if objstm:
        return _assemble_objstm(assembled, encrypt=encrypt, user_password=user_password)
    return _assemble(assembled, encrypt=encrypt, user_password=user_password)


def build_empty_pdf() -> bytes:
    """A structurally valid PDF with no text operators and no images (E10)."""
    empty = zlib.compress(b"q Q", 6)
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>", None),
        (4, b"<< /Length " + str(len(empty)).encode() + b" /Filter /FlateDecode >>", empty),
    ]
    return _assemble(objs)


def _assemble_objstm(
    objs: list[tuple[int, bytes, bytes | None]],
    encrypt: str | None = None,
    user_password: bytes = b"",
) -> bytes:
    """PDF 1.5-style assembly: every dict-only object packs into ONE
    compressed ``/Type /ObjStm`` stream (the modern-producer layout —
    pdfTeX, word processors, most optimizers); stream-bearing objects stay
    top-level (streams cannot live inside an ObjStm). A ``/Type /XRef``
    stream object is emitted for structural realism; its binary content is
    a placeholder because the parser is deliberately xref-free."""
    plain = [(oid, d) for oid, d, stream in objs if stream is None]
    streams = [(oid, d, st) for oid, d, st in objs if st is not None]
    maxid = max(o for o, _, _ in objs)
    objstm_id = maxid + 1
    xref_id = maxid + 2
    bodies = []
    offsets = []
    at = 0
    for oid, d in sorted(plain):
        offsets.append(f"{oid} {at}".encode())
        bodies.append(d)
        at += len(d) + 1
    head = b" ".join(offsets) + b"\n"
    payload = head + b"\n".join(bodies) + b"\n"
    packed = zlib.compress(payload, 6)
    objstm_dict = (
        b"<< /Type /ObjStm /N " + str(len(plain)).encode()
        + b" /First " + str(len(head)).encode()
        + b" /Length " + str(len(packed)).encode()
        + b" /Filter /FlateDecode >>"
    )
    xref_payload = zlib.compress(bytes(3 * (maxid + 3)), 6)
    xref_dict = (
        b"<< /Type /XRef /Size " + str(maxid + 3).encode()
        + b" /W [1 1 1] /Root 1 0 R /Length " + str(len(xref_payload)).encode()
        + b" /Filter /FlateDecode >>"
    )
    return _assemble(
        streams
        + [(objstm_id, objstm_dict, packed), (xref_id, xref_dict, xref_payload)],
        encrypt=encrypt,
        user_password=user_password,
    )


_ENCRYPT_PROFILES = {
    # name -> (V, R, key bytes, aes, encrypt_metadata)
    "rc4-40": (1, 2, 5, False, True),
    "rc4": (2, 3, 16, False, True),
    "aes": (4, 4, 16, True, True),
    "aes-nometa": (4, 4, 16, True, False),
    "aes256": (5, 6, 32, True, True),
}


def _assemble(
    objs: list[tuple[int, bytes, bytes | None]],
    encrypt: str | None = None,
    user_password: bytes = b"",
) -> bytes:
    extra_trailer = b""
    if encrypt is not None:
        from . import pdfcrypt as pc

        v, r, nb, aes, enc_meta = _ENCRYPT_PROFILES[encrypt]
        hashlib = __import__("hashlib")
        id0 = hashlib.md5(b"".join(d for _, d, _ in sorted(objs))).digest()
        if v == 5:
            key = hashlib.sha256(b"filekey" + id0).digest()
            if user_password:
                # user-locked R6 fixture: real U from the password
                vs = hashlib.md5(id0 + b"vs").digest()[:8]
                ks = hashlib.md5(id0 + b"ks").digest()[:8]
                u_val = pc.hash_2b(user_password, vs) + vs + ks
                ue_val = pc._aes_cbc_nopad(
                    pc.hash_2b(user_password, ks), bytes(16), key, decrypt=False
                )
                o_val = pc.hash_2b(user_password, vs, u_val[:48]) + vs + ks
                oe_val = ue_val
            else:
                vals = pc.r6_make(key, r=6, seed=id0)
                u_val, ue_val = vals["U"], vals["UE"]
                o_val, oe_val = vals["O"], vals["OE"]
            p_val = -44
        else:
            o_val = pc.compute_o(b"", user_password, r, nb)
            p_val = -44
            key = pc.derive_key(
                o_val, p_val, id0, r, nb,
                password=user_password, encrypt_metadata=enc_meta,
            )
            u_val = pc.compute_u(key, id0, r)
            ue_val = oe_val = None
        enc_objs = []
        for oid, d, stream in objs:
            if stream is not None and b"/Type /XRef" not in d:
                # XRef streams are never encrypted (32000-1 §7.5.8.2)
                stream = pc.encrypt_bytes(stream, key, oid, 0, aes)
                d = re.sub(
                    rb"/Length \d+", b"/Length %d" % len(stream), d, count=1
                )
            enc_objs.append((oid, d, stream))
        maxid = max(o for o, _, _ in objs)
        cf = b""
        if v == 4:
            cf = (
                b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
            )
        elif v == 5:
            cf = (
                b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
                + b" /UE <" + ue_val.hex().encode() + b">"
                + b" /OE <" + oe_val.hex().encode() + b">"
            )
        enc_dict = (
            b"<< /Filter /Standard /V " + str(v).encode()
            + b" /R " + str(r).encode()
            + b" /Length " + str(nb * 8).encode()
            + b" /P " + str(p_val).encode()
            + (b"" if enc_meta else b" /EncryptMetadata false")
            + b" /O <" + o_val.hex().encode() + b">"
            + b" /U <" + u_val.hex().encode() + b">" + cf + b" >>"
        )
        objs = enc_objs + [(maxid + 1, enc_dict, None)]
        extra_trailer = (
            b" /Encrypt " + str(maxid + 1).encode() + b" 0 R /ID [<"
            + id0.hex().encode() + b"> <" + id0.hex().encode() + b">]"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for oid, d, stream in sorted(objs):
        offsets[oid] = len(out)
        out += str(oid).encode() + b" 0 obj\n" + d + b"\n"
        if stream is not None:
            out += b"stream\n" + stream + b"\nendstream\n"
        out += b"endobj\n"
    xref_at = len(out)
    maxid = max(offsets) if offsets else 0
    out += b"xref\n0 " + str(maxid + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for i in range(1, maxid + 1):
        off = offsets.get(i, 0)
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(maxid + 1).encode() + b" /Root 1 0 R"
        + extra_trailer + b" >>\nstartxref\n"
        + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_NAME_RE = re.compile(rb"/([A-Za-z0-9.#_+\-]*)")
_NUM_RE = re.compile(rb"[+-]?\d+(?:\.\d*)?|[+-]?\.\d+")
_WS = b" \t\r\n\f\x00"


class _Ref:
    __slots__ = ("oid",)

    def __init__(self, oid: int):
        self.oid = oid

    def __repr__(self):  # pragma: no cover
        return f"Ref({self.oid})"


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c in (b" ", b"\t", b"\r", b"\n", b"\f", b"\x00"):
            pos += 1
        elif c == b"%":
            nl = data.find(b"\n", pos)
            pos = n if nl == -1 else nl + 1
        else:
            break
    return pos


def _parse_value(data: bytes, pos: int):
    """Parse one PDF object value at pos -> (value, new_pos)."""
    pos = _skip_ws(data, pos)
    if data[pos : pos + 2] == b"<<":
        return _parse_dict(data, pos)
    c = data[pos : pos + 1]
    if c == b"/":
        m = _NAME_RE.match(data, pos)
        return "/" + m.group(1).decode("latin-1"), m.end()
    if c == b"[":
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(data, pos)
            if data[pos : pos + 1] == b"]":
                return arr, pos + 1
            v, pos = _parse_value(data, pos)
            arr.append(v)
    if c == b"(":
        s, pos = _parse_string(data, pos)
        return s, pos
    if c == b"<":  # hex string
        end = data.find(b">", pos)
        if end == -1:
            raise PdfError("unterminated hex string")
        return bytes.fromhex(data[pos + 1 : end].replace(b" ", b"").decode("ascii")), end + 1
    if data[pos : pos + 4] == b"true":
        return True, pos + 4
    if data[pos : pos + 5] == b"false":
        return False, pos + 5
    if data[pos : pos + 4] == b"null":
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        # lookahead for "gen R" -> indirect reference
        tail = _skip_ws(data, m.end())
        m2 = _NUM_RE.match(data, tail)
        if m2 and b"." not in m.group(0):
            tail2 = _skip_ws(data, m2.end())
            if data[tail2 : tail2 + 1] == b"R" and not data[tail2 + 1 : tail2 + 2].isalnum():
                return _Ref(int(m.group(0))), tail2 + 1
        txt = m.group(0)
        return (float(txt) if b"." in txt else int(txt)), m.end()
    raise PdfError(f"unparseable PDF value at offset {pos}")


def _parse_string(data: bytes, pos: int) -> tuple[bytes, int]:
    assert data[pos : pos + 1] == b"("
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            nxt = data[pos + 1 : pos + 2]
            mapping = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
                       b"(": b"(", b")": b")", b"\\": b"\\"}
            if nxt in mapping:
                out += mapping[nxt]
                pos += 2
            elif nxt.isdigit():
                oct_digits = data[pos + 1 : pos + 4]
                k = 0
                while k < 3 and k < len(oct_digits) and chr(oct_digits[k]) in "01234567":
                    k += 1
                out.append(int(oct_digits[:k], 8) & 0xFF)
                pos += 1 + k
            else:
                pos += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise PdfError("unterminated PDF string")


def _parse_dict(data: bytes, pos: int):
    assert data[pos : pos + 2] == b"<<"
    pos += 2
    d = {}
    while True:
        pos = _skip_ws(data, pos)
        if data[pos : pos + 2] == b">>":
            return d, pos + 2
        if data[pos : pos + 1] != b"/":
            raise PdfError("malformed PDF dictionary")
        m = _NAME_RE.match(data, pos)
        key = "/" + m.group(1).decode("latin-1")
        v, pos = _parse_value(data, m.end())
        d[key] = v


class PdfObject:
    __slots__ = ("oid", "dict", "stream", "value")

    def __init__(self, oid: int, d: dict, stream: bytes | None, value=None):
        self.oid = oid
        self.dict = d
        self.stream = stream
        self.value = value  # non-dict body (array, number, ...) if any


def parse_objects(data: bytes) -> dict[int, PdfObject]:
    """Scan all ``N G obj`` bodies (xref-free — robust to our builder output
    and mildly damaged files). Raises PdfError if none found or the header is
    missing."""
    if data[:5] != b"%PDF-":
        raise PdfError("missing %PDF- header")
    objects: dict[int, PdfObject] = {}
    scan_pos = 0
    while True:
        # sequential scan that skips past each object's body (especially
        # stream payloads): compressed stream bytes can contain spurious
        # "N G obj" patterns that would otherwise register bogus objects
        m = _OBJ_RE.search(data, scan_pos)
        if m is None:
            break
        scan_pos = m.end()
        oid = int(m.group(1))
        pos = _skip_ws(data, m.end())
        if data[pos : pos + 2] != b"<<":
            # non-dict object (array / number / name) — color spaces and
            # stream lengths are often indirect array/number objects
            try:
                v, vend = _parse_value(data, pos)
            except (PdfError, AssertionError, IndexError, ValueError):
                continue
            objects[oid] = PdfObject(oid, {}, None, value=v)
            scan_pos = max(scan_pos, vend)
            continue
        try:
            d, pos = _parse_dict(data, pos)
        except (PdfError, AssertionError, IndexError, ValueError):
            continue
        pos2 = _skip_ws(data, pos)
        stream = None
        if data[pos2 : pos2 + 6] == b"stream":
            sp = pos2 + 6
            if data[sp : sp + 2] == b"\r\n":
                sp += 2
            elif data[sp : sp + 1] == b"\n":
                sp += 1
            length = d.get("/Length")
            if isinstance(length, _Ref):
                length = None  # resolved after full scan if needed
            if isinstance(length, int):
                stream = data[sp : sp + length]
                stream_end = sp + length
            else:
                endpos = data.find(b"endstream", sp)
                if endpos == -1:
                    raise PdfError("unterminated stream")
                stream = data[sp:endpos].rstrip(b"\r\n")
                stream_end = endpos
            scan_pos = max(scan_pos, stream_end)
        else:
            scan_pos = max(scan_pos, pos)
        objects[oid] = PdfObject(oid, d, stream)
    if not objects:
        raise PdfError("no objects found (truncated or invalid PDF)")
    _decrypt_document(data, objects)
    _expand_object_streams(objects)
    return objects


def _find_trailer_dict(data: bytes, objects: dict[int, "PdfObject"]) -> dict:
    """Merge every classic trailer dict plus any /Type /XRef stream dict
    (32000-1 §7.5.8 puts /Encrypt and /ID there in 1.5+ files)."""
    merged: dict = {}
    pos = 0
    while True:
        at = data.find(b"trailer", pos)
        if at == -1:
            break
        try:
            d, _ = _parse_dict(data, _skip_ws(data, at + 7))
            merged.update(d)
        except (PdfError, AssertionError, IndexError, ValueError):
            pass
        pos = at + 7
    for obj in objects.values():
        if obj.dict.get("/Type") == "/XRef":
            merged.update({k: v for k, v in obj.dict.items() if k in ("/Encrypt", "/ID")})
    return merged


def _decrypt_document(data: bytes, objects: dict[int, "PdfObject"]) -> None:
    """Standard-security-handler decryption (32000-1 §7.6) for documents
    that open with the EMPTY user password (owner-locked files). Streams
    decrypt in place before filters run; /Type /XRef streams and the
    /Encrypt dictionary itself are never encrypted. User-password-protected
    or unsupported-handler documents raise a NAMED PdfError (quarantine)."""
    trailer = _find_trailer_dict(data, objects)
    enc = trailer.get("/Encrypt")
    if enc is None:
        return
    if isinstance(enc, _Ref):
        enc_oid = enc.oid
        enc_obj = objects.get(enc_oid)
        enc_dict = enc_obj.dict if enc_obj is not None else None
    else:
        enc_oid = None
        enc_dict = enc if isinstance(enc, dict) else None
    if not enc_dict:
        raise PdfError("encrypted PDF with unreadable /Encrypt dictionary")
    if enc_dict.get("/Filter") != "/Standard":
        raise PdfError(
            f"unsupported PDF security handler: {enc_dict.get('/Filter')!r}"
        )
    v = enc_dict.get("/V", 0)
    r = enc_dict.get("/R", 2)
    aes = False
    if v in (4, 5):
        cf = enc_dict.get("/CF", {})
        stdcf = cf.get("/StdCF", {}) if isinstance(cf, dict) else {}
        cfm = stdcf.get("/CFM") if isinstance(stdcf, dict) else None
        if cfm == ("/AESV3" if v == 5 else "/AESV2"):
            aes = True
        elif v == 4 and cfm == "/V2":
            aes = False
        else:
            raise PdfError(f"unsupported PDF crypt filter: {cfm!r}")
    elif v not in (1, 2):
        raise PdfError(f"unsupported PDF encryption version V={v}")
    if r not in (2, 3, 4, 5, 6):
        raise PdfError(f"unsupported PDF encryption revision R={r}")
    o_val, u_val, p_val = (
        enc_dict.get("/O"), enc_dict.get("/U"), enc_dict.get("/P"),
    )
    from . import pdfcrypt as pc

    if v == 5:
        ue_val, oe_val = enc_dict.get("/UE"), enc_dict.get("/OE")
        if not (
            isinstance(o_val, bytes) and isinstance(u_val, bytes)
            and isinstance(ue_val, bytes) and isinstance(oe_val, bytes)
        ):
            raise PdfError("encrypted PDF missing /O, /U, /OE, or /UE")
        key = pc.r6_authenticate_empty(u_val, ue_val, o_val, oe_val, r=r)
        if key is None:
            raise PdfError("password-protected PDF (user password required)")
    else:
        nbytes = 5 if v == 1 else int(enc_dict.get("/Length", 40)) // 8
        ids = trailer.get("/ID")
        id0 = ids[0] if isinstance(ids, list) and ids else None
        if not (
            isinstance(o_val, bytes) and isinstance(u_val, bytes)
            and isinstance(p_val, int) and isinstance(id0, bytes)
        ):
            raise PdfError("encrypted PDF missing /O, /U, /P, or /ID")
        enc_meta = enc_dict.get("/EncryptMetadata", True)
        key = pc.authenticate_empty_user(
            o_val, u_val, p_val, id0, r, nbytes,
            encrypt_metadata=bool(enc_meta),
        )
        if key is None:
            raise PdfError("password-protected PDF (user password required)")
    for obj in objects.values():
        if obj.stream is None or obj.oid == enc_oid:
            continue
        if obj.dict.get("/Type") == "/XRef":
            continue  # never encrypted (§7.5.8.2)
        try:
            obj.stream = pc.decrypt_bytes(obj.stream, key, obj.oid, 0, aes)
        except ValueError as e:
            raise PdfError(f"PDF stream decryption failed: {e}") from e


def _expand_object_streams(objects: dict[int, "PdfObject"]) -> None:
    """PDF 1.5 compressed object streams (32000-1 §7.5.7): a ``/Type
    /ObjStm`` stream packs dict/value objects as ``[N pairs of (objnum,
    offset)] + bodies``. Modern producers put page trees, font dicts, and
    image dictionaries here — without expansion the scan above sees only
    the stream shells. Malformed ObjStms are skipped per-stream (the E2
    skip-and-warn convention); contained objects never override directly
    scanned ids."""
    for shell in list(objects.values()):
        if shell.dict.get("/Type") != "/ObjStm" or shell.stream is None:
            continue
        try:
            n = shell.dict.get("/N")
            first = shell.dict.get("/First")
            if not isinstance(n, int) or not isinstance(first, int):
                continue
            if not (0 < n <= 10_000 and 0 <= first <= 10_000_000):
                continue
            data = _decode_stream(shell)
            head = data[:first].split()
            if len(head) < 2 * n:
                continue
            pairs = [
                (int(head[2 * i]), int(head[2 * i + 1])) for i in range(n)
            ]
            for oid, off in pairs:
                if oid in objects:
                    continue  # direct objects win (xref-free convention)
                pos = _skip_ws(data, first + off)
                if data[pos : pos + 2] == b"<<":
                    d, _ = _parse_dict(data, pos)
                    objects[oid] = PdfObject(oid, d, None)
                else:
                    v, _ = _parse_value(data, pos)
                    objects[oid] = PdfObject(oid, {}, None, value=v)
        except (PdfError, AssertionError, IndexError, ValueError):
            continue  # one bad ObjStm never takes down the document


def _filter_list(d: dict) -> list:
    filt = d.get("/Filter")
    if filt is None:
        return []
    return list(filt) if isinstance(filt, list) else [filt]


def _apply_filter(name: str, data: bytes) -> bytes:
    """One stream filter. Flate, LZW and RunLength declare no output size,
    so their output is metered against the document's byte budget."""
    if name == "/FlateDecode":
        try:
            return budget.metered(lambda n: budget.inflate(data, n))
        except zlib.error as e:
            raise PdfError(f"bad FlateDecode stream: {e}") from e
    if name == "/ASCIIHexDecode":
        body = data.split(b">")[0]
        hexs = b"".join(body.split())
        if len(hexs) % 2:
            hexs += b"0"
        try:
            return bytes.fromhex(hexs.decode("ascii"))
        except (ValueError, UnicodeDecodeError) as e:
            raise PdfError(f"bad ASCIIHexDecode stream: {e}") from e
    if name == "/ASCII85Decode":
        import base64

        body = b"".join(data.split())
        if body.startswith(b"<~"):
            body = body[2:]
        if body.endswith(b"~>"):
            body = body[:-2]
        try:
            return base64.a85decode(body)
        except ValueError as e:
            raise PdfError(f"bad ASCII85Decode stream: {e}") from e
    if name in ("/RunLengthDecode", "/LZWDecode"):
        from .rasters import lzw_decode, packbits_decode

        def decode(max_out: int) -> bytes:
            if name == "/RunLengthDecode":  # PackBits with 128 as EOD (§7.4.5)
                return packbits_decode(data, max_out, eod=True)
            # the default EarlyChange=1 is exactly the TIFF LZW variant
            return lzw_decode(data, 8, msb=True, early=1, max_out=max_out)

        try:
            return budget.metered(decode)
        except ValueError as e:
            raise PdfError(f"bad {name[1:]} stream: {e}") from e
    raise PdfError(f"unsupported stream filter: {name}")


def _apply_predictor(data: bytes, parms: dict, height: int | None = None) -> bytes:
    """/Predictor post-processing for Flate/LZW streams (32000-1 §7.4.4.4):
    PNG predictors (>= 10, reusing the rasters PNG unfilter) and TIFF
    horizontal differencing (2). Scanner output commonly Flate-compresses
    image samples under predictor 12 — skipping it yields silent garbage
    pixels, not an error.  ``height`` is the owning image's declared
    /Height when known: data that is not a whole number of predictor rows,
    or fewer rows than declared, is malformed and raises (→ per-image
    skip) instead of silently truncating the final row."""
    pred = parms.get("/Predictor", 1)
    if not isinstance(pred, int) or pred <= 1:
        return data
    colors = parms.get("/Colors", 1)
    bpc = parms.get("/BitsPerComponent", 8)
    cols = parms.get("/Columns", 1)
    if not all(isinstance(v, int) and v > 0 for v in (colors, bpc, cols)):
        raise PdfError("bad predictor parameters")
    bpp_bits = colors * bpc
    rowbytes = (cols * bpp_bits + 7) // 8
    if rowbytes <= 0 or rowbytes > 1 << 24:
        raise PdfError("bad predictor row width")
    if pred >= 10:
        from .rasters import _png_unfilter

        if len(data) % (rowbytes + 1):
            raise PdfError("PNG-predictor data is not a whole number of rows")
        h = len(data) // (rowbytes + 1)
        if h <= 0:
            raise PdfError("predictor data shorter than one row")
        if isinstance(height, int) and 0 < height != h:
            if h < height:
                raise PdfError("PNG-predictor data shorter than declared /Height")
            h = height  # trailing padding rows beyond the declared image
        try:
            rows, _ = _png_unfilter(data[: h * (rowbytes + 1)], 0, cols, h, bpp_bits)
        except ValueError as e:
            raise PdfError(f"bad PNG-predictor data: {e}") from e
        return rows.tobytes()
    if pred == 2:
        if bpc != 8:
            raise PdfError("TIFF predictor supported for 8-bit samples only")
        if len(data) % rowbytes:
            raise PdfError("TIFF-predictor data is not a whole number of rows")
        h = len(data) // rowbytes
        if h <= 0:
            raise PdfError("predictor data shorter than one row")
        if isinstance(height, int) and 0 < height and h < height:
            raise PdfError("TIFF-predictor data shorter than declared /Height")
        arr = (
            np.frombuffer(data, dtype=np.uint8)
            .reshape(h, cols, colors)
            .copy()
        )
        arr = np.cumsum(arr, axis=1, dtype=np.uint8)  # wraps mod 256
        return arr.tobytes()
    raise PdfError(f"unsupported predictor {pred}")


def _decode_stream(obj: PdfObject) -> bytes:
    data = obj.stream or b""
    filts = _filter_list(obj.dict)
    parms = obj.dict.get("/DecodeParms", obj.dict.get("/DP"))
    plist = parms if isinstance(parms, list) else [parms]
    plist = plist + [None] * (len(filts) - len(plist))
    decl_h = obj.dict.get("/Height")
    height = decl_h if isinstance(decl_h, int) and obj.dict.get("/Subtype") == "/Image" else None
    for name, pp in zip(filts, plist):
        data = _apply_filter(name, data)
        if isinstance(pp, dict) and name in ("/FlateDecode", "/LZWDecode"):
            data = _apply_predictor(data, pp, height=height)
    return data


_TEXT_OP_RE = re.compile(
    rb"\(|<|/|\bTJ\b|\bTj\b|\bTd\b|\bTD\b|\bT\*|\bBT\b|\bET\b|\bBI\b|'|\"|\[|\]"
)
_INLINE_IMAGE_END_RE = re.compile(rb"\bEI(?=[\s/\[<(]|$)")


def _show_text_plain(s: bytes) -> str:
    """Decode one show-string operand: UTF-16BE when it carries the BOM
    (hex-string text from Unicode-aware producers), latin-1 otherwise (the
    documented single-byte convention). A real CID font would need its
    /ToUnicode CMap — out of scope like the reference's pdf_extract
    delegation — but the BOM form is unambiguous and costs nothing."""
    if s[:2] == b"\xfe\xff":
        try:
            return s[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return s[2:].decode("latin-1")
    return s.decode("latin-1")


# ---------------------------------------------------------------------------
# /ToUnicode CMaps (ISO 32000-1 §9.10.3) — how every modern producer maps
# its subset-font character codes back to Unicode. Without this, CID/Type0
# PDFs (LibreOffice/Word/Chrome print output) extract as mojibake.
# ---------------------------------------------------------------------------

_CMAP_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")
_CMAP_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_CMAP_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CMAP_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_CMAP_RANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])"
)


class _FontInfo:
    __slots__ = ("code_bytes", "cmap", "latin1_fallback")

    def __init__(
        self,
        code_bytes: int,
        cmap: dict[int, str] | None,
        latin1_fallback: bool = False,
    ):
        self.code_bytes = code_bytes
        self.cmap = cmap
        # Differences encodings override SOME byte codes; the rest keep the
        # base (latin-1-ish) meaning. ToUnicode CMaps are authoritative.
        self.latin1_fallback = latin1_fallback


#: common AGL glyph names that are not algorithmically derivable — the
#: punctuation/ligature set TeX-family producers actually emit. Everything
#: accented resolves through Unicode NFC composition below, and uniXXXX /
#: uXXXXXX names decode directly, so this literal list stays tiny.
_AGL_COMMON = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "underscore": "_", "braceleft": "{", "bar": "|",
    "braceright": "}", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø", "Oslash": "Ø",
    "eth": "ð", "thorn": "þ", "Lslash": "Ł",
    "lslash": "ł", "dotlessi": "ı", "degree": "°",
    "sterling": "£", "euro": "€", "yen": "¥",
    "cent": "¢", "section": "§", "paragraph": "¶",
    "copyright": "©", "registered": "®", "trademark": "™",
    "exclamdown": "¡", "questiondown": "¿",
    "guillemotleft": "«", "guillemotright": "»",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
}

_ACCENT_COMBINING = {
    "grave": "̀", "acute": "́", "circumflex": "̂",
    "tilde": "̃", "macron": "̄", "breve": "̆",
    "dotaccent": "̇", "dieresis": "̈", "ring": "̊",
    "hungarumlaut": "̋", "caron": "̌", "cedilla": "̧",
    "ogonek": "̨",
}


def glyph_name_to_unicode(name: str) -> str | None:
    """AGL-style glyph name -> text: uniXXXX[XXXX...] / uXXXX..XXXXXX
    decode algorithmically; base-letter + accent-suffix names compose via
    Unicode NFC (eacute -> e + U+0301 -> é); single-character names are
    themselves; a small literal table covers common punctuation names."""
    import unicodedata

    if name in _AGL_COMMON:
        return _AGL_COMMON[name]
    if len(name) == 1:
        return name
    if name.startswith("uni") and len(name) >= 7 and (len(name) - 3) % 4 == 0:
        try:
            return "".join(
                chr(int(name[i : i + 4], 16)) for i in range(3, len(name), 4)
            )
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
            return chr(cp) if cp <= 0x10FFFF else None
        except ValueError:
            return None
    for acc, comb in _ACCENT_COMBINING.items():
        if name.endswith(acc) and 1 <= len(name) - len(acc) <= 2:
            base = name[: -len(acc)]
            if base.isalpha():
                composed = unicodedata.normalize("NFC", base + comb)
                if len(composed) == 1:
                    return composed
    return None


def _utf16_hex(hx: bytes) -> str:
    return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "replace")


def parse_tounicode_cmap(data: bytes, default_code_bytes: int = 2) -> _FontInfo:
    """bfchar / bfrange sections -> {code: unicode string}. The code width
    comes from the codespacerange token length (Identity-H fonts use 2)."""
    m = _CMAP_CODESPACE_RE.search(data)
    code_bytes = (len(m.group(1)) // 2) if m else default_code_bytes
    cmap: dict[int, str] = {}
    for sec in _CMAP_BFCHAR_RE.finditer(data):
        for pm in _CMAP_PAIR_RE.finditer(sec.group(1)):
            cmap[int(pm.group(1), 16)] = _utf16_hex(pm.group(2))
    for sec in _CMAP_BFRANGE_RE.finditer(data):
        for em in _CMAP_RANGE_RE.finditer(sec.group(1)):
            lo, hi = int(em.group(1), 16), int(em.group(2), 16)
            if hi < lo or hi - lo > 65535:
                continue  # forged range: skip, never allocate
            if em.group(3) is not None:
                base = int(em.group(3), 16)
                width = len(em.group(3))
                for k in range(hi - lo + 1):
                    cmap[lo + k] = _utf16_hex(
                        format(base + k, f"0{width}x").encode("ascii")
                    )
            else:
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", em.group(4))
                for k, d in enumerate(dsts[: hi - lo + 1]):
                    cmap[lo + k] = _utf16_hex(d)
    return _FontInfo(max(1, min(code_bytes, 4)), cmap or None)


def _collect_stream_fonts(objects: dict[int, "PdfObject"]) -> dict[int, dict[str, _FontInfo]]:
    """Per-content-stream font tables: for every /Type /Page, resolve its
    /Resources /Font dict and each font's /ToUnicode CMap; returns
    {content stream oid: {resource name: _FontInfo}}. Fonts without a
    usable CMap map to code_bytes only (decode falls back to latin-1)."""
    cache: dict[int, _FontInfo | None] = {}

    def resolve_dict(v):
        if isinstance(v, _Ref):
            tgt = objects.get(v.oid)
            return tgt.dict if tgt is not None else None
        return v if isinstance(v, dict) else None

    def font_info(fref) -> _FontInfo | None:
        oid = fref.oid if isinstance(fref, _Ref) else None
        if oid is not None and oid in cache:
            return cache[oid]
        fd = resolve_dict(fref)
        info: _FontInfo | None = None
        if isinstance(fd, dict):
            default_w = 2 if fd.get("/Subtype") == "/Type0" else 1
            tu = fd.get("/ToUnicode")
            if isinstance(tu, _Ref):
                tobj = objects.get(tu.oid)
                if tobj is not None and tobj.stream is not None:
                    try:
                        info = parse_tounicode_cmap(
                            _decode_stream(tobj), default_code_bytes=default_w
                        )
                    except (PdfError, ValueError):
                        info = None
            if info is None:
                # simple font with a named base encoding and/or an
                # /Encoding /Differences array (the TeX-family layout):
                # glyph names override byte codes, WinAnsi (cp1252) fixes
                # the 0x80-0x9F block (curly quotes, dashes, euro) that
                # latin-1 reads as C1 controls, and everything else keeps
                # the base latin-1-ish meaning
                enc_raw = fd.get("/Encoding")
                enc = resolve_dict(enc_raw)
                cmap: dict[int, str] = {}
                base = enc_raw if isinstance(enc_raw, str) else None
                diffs = None
                if isinstance(enc, dict):
                    b = enc.get("/BaseEncoding")
                    base = b if isinstance(b, str) else base
                    diffs = enc.get("/Differences")
                if base == "/WinAnsiEncoding":
                    # derived from Python's cp1252 codec, not transcribed
                    for code in range(0x80, 0xA0):
                        try:
                            cmap[code] = bytes([code]).decode("cp1252")
                        except UnicodeDecodeError:
                            pass
                elif base == "/MacRomanEncoding":
                    # the whole upper half differs from latin-1; derived
                    # from Python's mac_roman codec
                    for code in range(0x80, 0x100):
                        cmap[code] = bytes([code]).decode("mac_roman")
                if isinstance(diffs, list) and diffs:
                    code = 0
                    for item in diffs[:2048]:
                        if isinstance(item, (int, float)):
                            code = int(item)
                        elif isinstance(item, str) and 0 <= code <= 255:
                            u = glyph_name_to_unicode(item.lstrip("/"))
                            if u is not None:
                                cmap[code] = u
                            code += 1
                if cmap:
                    info = _FontInfo(1, cmap, latin1_fallback=True)
            if info is None:
                info = _FontInfo(default_w, None)
        if oid is not None:
            cache[oid] = info
        return info

    out: dict[int, dict[str, _FontInfo]] = {}
    for obj in objects.values():
        if obj.dict.get("/Type") != "/Page":
            continue
        res = resolve_dict(obj.dict.get("/Resources"))
        fonts = resolve_dict(res.get("/Font")) if isinstance(res, dict) else None
        if not isinstance(fonts, dict):
            continue
        fmap = {}
        for name, fref in fonts.items():
            fi = font_info(fref)
            if fi is not None:
                fmap[name.lstrip("/")] = fi
        contents = obj.dict.get("/Contents")
        refs = contents if isinstance(contents, list) else [contents]
        for c in refs:
            if isinstance(c, _Ref):
                out[c.oid] = fmap
    return out


_TF_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s+[0-9.+-]+\s+Tf")
#: numeric adjustment between TJ-array strings; <= -180 (1/1000 em, i.e.
#: more than ~a sixth of an em of negative advance) reads as a word space
#: — the way TeX-family and optimizing producers encode spaces without a
#: space glyph. Threshold documented; pdfminer/pdf.js use the same idea.
_TJ_KERN_RE = re.compile(rb"[-+]?[0-9]+(?:\.[0-9]*)?")


def _tj_gap_is_space(content: bytes, start: int, end: int) -> bool:
    """True when the numeric adjustments between two TJ-array strings sum
    to <= -180/1000 em.  Producers may split one logical gap into several
    tokens ((A) -100 -100 (B)), so the CUMULATIVE advance decides — a
    single-token inspection misses split adjustments."""
    total = 0.0
    for km in _TJ_KERN_RE.finditer(content, start, end):
        total += float(km.group(0))
    return total <= -180.0


def extract_stream_text(content: bytes, fonts: dict[str, _FontInfo] | None = None) -> str:
    """Tokenize one content stream's text operators into lines. ``fonts``
    maps resource names (from the owning page's /Resources /Font) to their
    CMap info; the active font (tracked via Tf) decodes show strings."""
    lines: list[str] = []
    cur: list[str] = []
    # string operands awaiting their operator; True entries mark a
    # kerning-derived word space inside a TJ array
    pending: list[bytes | bool] = []
    pos = 0
    n = len(content)
    line_has_text = False
    in_array = False
    cur_font: _FontInfo | None = None

    def _flush_pending() -> None:
        for item in pending:
            cur.append(" " if item is True else _show_text(item))
        pending.clear()

    def _show_text(s: bytes) -> str:
        if cur_font is not None and cur_font.cmap is not None:
            w = cur_font.code_bytes
            out = []
            for i in range(0, len(s) - w + 1, w):
                code = int.from_bytes(s[i : i + w], "big")
                hit = cur_font.cmap.get(code)
                if hit is None:
                    hit = (
                        chr(code) if cur_font.latin1_fallback and code <= 255
                        else "�"
                    )
                out.append(hit)
            return "".join(out)
        return _show_text_plain(s)

    while pos < n:
        m = _TEXT_OP_RE.search(content, pos)
        if not m:
            break
        tok = m.group(0)
        if fonts and tok == b"/":
            tf = _TF_RE.match(content, m.start())
            if tf:
                cur_font = fonts.get(tf.group(1).decode("latin-1"))
                pos = tf.end()
            else:
                pos = m.end()
            continue
        if tok == b"(":
            if in_array and pending and pending[-1] is not True:
                if _tj_gap_is_space(content, pos, m.start()):
                    pending.append(True)
            s, pos = _parse_string(content, m.start())
            pending.append(s)
            continue
        if tok == b"<":
            # hex string operand (<48656C6C6F> Tj) — common real-producer
            # form. "<<" opens a dictionary (inline-image / marked-content
            # property list), never a string: skip past it.
            if content[m.start() : m.start() + 2] == b"<<":
                pos = m.start() + 2
                continue
            if in_array and pending and pending[-1] is not True:
                if _tj_gap_is_space(content, pos, m.start()):
                    pending.append(True)
            end = content.find(b">", m.start())
            if end == -1:
                break
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", content[m.start() + 1 : end])
            if len(hx) % 2:
                hx += b"0"  # odd nibble count: pad per 32000-1 §7.3.4.3
            try:
                pending.append(bytes.fromhex(hx.decode("ascii")))
            except ValueError:
                pass
            pos = end + 1
            continue
        pos = m.end()
        if tok == b"BI":
            # inline image: its binary payload can contain bytes that look
            # like '(' or '<' string openers — skip to the EI terminator so
            # image bytes never leak into the text layer
            e = _INLINE_IMAGE_END_RE.search(content, pos)
            if not e:
                break
            pos = e.end()
            continue
        if tok in (b"Tj", b"TJ"):
            _flush_pending()
            line_has_text = True
        elif tok in (b"Td", b"TD", b"T*") or tok in (b"'", b'"'):
            if line_has_text:
                lines.append("".join(cur))
                cur = []
                line_has_text = False
            if tok in (b"'", b'"') and pending:
                # ' and " both move to the next line and show their string
                _flush_pending()
                line_has_text = True
            pending.clear()
        elif tok == b"[":
            in_array = True
        elif tok == b"]":
            in_array = False
        elif tok in (b"BT", b"ET"):
            continue
    if line_has_text:
        lines.append("".join(cur))
    return "\n".join(lines)


def _deref(value, objects: dict[int, PdfObject], depth: int = 0):
    """Follow indirect references to the referenced object's body (array /
    number / name), or its dict-level /ColorSpace when it's a dict object."""
    while isinstance(value, _Ref) and depth < 8:
        target = objects.get(value.oid)
        if target is None:
            return None
        if target.value is not None:
            value = target.value
        elif target.dict:
            inner = target.dict.get("/ColorSpace", target.dict.get("/CS"))
            if inner is None:
                return target  # a stream object (e.g. Indexed lookup table)
            value = inner
        else:
            return target
        depth += 1
    return value


def resolve_colorspace(cs, objects: dict[int, PdfObject]) -> str:
    """E4 (`ocrs.rs:585-624`): direct name, indirect ref, or array head;
    default DeviceRGB."""
    cs = _deref(cs, objects)
    if isinstance(cs, list) and cs:
        head = _deref(cs[0], objects)
        if isinstance(head, str):
            return head
        return "/DeviceRGB"
    if isinstance(cs, str):
        return cs
    return "/DeviceRGB"


def _indexed_palette(cs: list, objects: dict[int, PdfObject]) -> tuple[str, np.ndarray]:
    """Resolve an /Indexed color space array: [/Indexed base hival lookup].
    Returns (base_space_name, palette array of shape (hival+1, n_components))."""
    if len(cs) < 4:
        raise PdfError("malformed /Indexed color space")
    base = resolve_colorspace(cs[1], objects)
    hival = _deref(cs[2], objects)
    lookup = _deref(cs[3], objects)
    if isinstance(lookup, PdfObject):
        lookup = _decode_stream(lookup)
    if not isinstance(lookup, (bytes, bytearray)) or not isinstance(hival, int):
        raise PdfError("unsupported /Indexed lookup table")
    ncomp = {"/DeviceGray": 1, "/DeviceRGB": 3, "/ICCBased": 3, "/DeviceCMYK": 4}.get(base)
    if ncomp is None:
        raise PdfError(f"unsupported /Indexed base space: {base}")
    need = (hival + 1) * ncomp
    if len(lookup) < need:
        raise PdfError("Indexed lookup table too short")
    return base, np.frombuffer(bytes(lookup[:need]), dtype=np.uint8).reshape(hival + 1, ncomp)


def decode_image_xobject(obj: PdfObject, objects: dict[int, PdfObject]) -> np.ndarray:
    """E3 (`ocrs.rs:467-582`): decode an image XObject to grayscale uint8."""
    d = obj.dict
    w = d.get("/Width")
    h = d.get("/Height")
    if not isinstance(w, int) or not isinstance(h, int) or w <= 0 or h <= 0:
        raise PdfError("image missing dimensions")
    filts = _filter_list(d)
    if filts and filts[-1] == "/CCITTFaxDecode":
        # CCITT Group 4 — the dominant real-world scanned-PDF encoding.
        # Earlier filters in the chain (e.g. ASCII85) unwrap first; the G4
        # payload decodes straight to pixels, so BitsPerComponent 1 never
        # materializes as packed bytes here.
        data = obj.stream or b""
        for name in filts[:-1]:
            data = _apply_filter(name, data)
        parms = d.get("/DecodeParms", d.get("/DP"))
        if isinstance(parms, list):
            parms = parms[-1] if parms else None
        parms = parms if isinstance(parms, dict) else {}
        k = parms.get("/K", 0)
        if not isinstance(k, int):
            raise PdfError(f"bad CCITT /K value: {k!r}")
        byte_align = bool(parms.get("/EncodedByteAlign", False))
        columns = parms.get("/Columns", 1728)
        rows = parms.get("/Rows", h)
        if not isinstance(columns, int) or columns < w:
            raise PdfError(f"CCITT /Columns {columns!r} narrower than /Width {w}")
        from .ccittx import G4Error, decode_g3_1d, decode_g3_2d, decode_g4

        try:
            if k < 0:
                black = decode_g4(data, columns=columns, rows=rows, byte_align=byte_align)
            elif k == 0:
                black = decode_g3_1d(data, columns=columns, rows=rows, byte_align=byte_align)
            else:
                black = decode_g3_2d(data, columns=columns, rows=rows, byte_align=byte_align)
        except G4Error as e:
            raise PdfError(f"bad CCITTFaxDecode stream: {e}") from e
        if black.shape[0] < h:
            raise PdfError("CCITT data shorter than /Height")
        black = black[:h, :w]
        # /BlackIs1 (default false): black pixels become 0 bits -> DeviceGray
        # sample 0 = black. An explicit /Decode [1 0] inverts the samples.
        bit = black.astype(np.uint8) if parms.get("/BlackIs1") else (~black).astype(np.uint8)
        dec = d.get("/Decode")
        if isinstance(dec, list) and len(dec) >= 2 and dec[0] == 1:
            bit = 1 - bit
        return (bit * 255).astype(np.uint8)
    if filts and filts[-1] == "/JBIG2Decode":
        # JBIG2 generic-region subset (engine/jbig2x.py) — the other
        # scanned-PDF mainline next to CCITT. Earlier filters unwrap first;
        # /JBIG2Globals carries out-of-band segments (page info, etc).
        data = obj.stream or b""
        for name in filts[:-1]:
            data = _apply_filter(name, data)
        parms = d.get("/DecodeParms", d.get("/DP"))
        if isinstance(parms, list):
            parms = parms[-1] if parms else None
        parms = parms if isinstance(parms, dict) else {}
        globals_data = b""
        gref = parms.get("/JBIG2Globals")
        if gref is not None:
            gobj = objects.get(gref.oid) if isinstance(gref, _Ref) else None
            if gobj is None or gobj.stream is None:
                raise PdfError("JBIG2Globals is not a stream")
            globals_data = _decode_stream(gobj)
        from .jbig2x import Jbig2Error, decode_jbig2_embedded

        try:
            black = decode_jbig2_embedded(data, globals_data)
        except Jbig2Error as e:
            raise PdfError(f"bad JBIG2Decode stream: {e}") from e
        if black.shape[0] < h or black.shape[1] < w:
            raise PdfError("JBIG2 page smaller than image dimensions")
        black = black[:h, :w]
        # JBIG2 1 bits are black; DeviceGray sample 0 = black (viewer
        # convention, matching the CCITT branch); /Decode [1 0] inverts
        bit = (~black).astype(np.uint8)
        dec = d.get("/Decode")
        if isinstance(dec, list) and len(dec) >= 2 and dec[0] == 1:
            bit = 1 - bit
        return (bit * 255).astype(np.uint8)
    if filts and filts[-1] == "/JPXDecode":
        # JPEG 2000 (engine/jp2x.py). Per PDF 32000-1 §7.4.9 the JPX stream
        # carries its own dimensions, depth, and color model; the declared
        # /ColorSpace and /BitsPerComponent are advisory, matching the
        # DCTDecode branch. Accepts raw codestreams and JP2 containers.
        data = obj.stream or b""
        for name in filts[:-1]:
            data = _apply_filter(name, data)
        from .jp2x import Jp2Error, decode_jp2

        try:
            img = decode_jp2(data)
        except Jp2Error as e:
            raise PdfError(f"bad JPXDecode stream: {e}") from e
        if img.shape[0] < h or img.shape[1] < w:
            raise PdfError("JPX image smaller than declared dimensions")
        img = img[:h, :w]
        if img.ndim == 3:
            return rgb_to_gray(img)
        return img
    bpc = d.get("/BitsPerComponent", 8)
    if bpc not in (1, 2, 4, 8):
        raise PdfError(f"unsupported BitsPerComponent: {bpc}")
    if bpc != 8 and not (filts and filts[-1] == "/DCTDecode"):
        # sub-byte grayscale samples (bitonal/limited-depth scans that
        # didn't use CCITT): rows are bit-packed and byte-padded
        cs_sub = resolve_colorspace(d.get("/ColorSpace"), objects)
        if cs_sub != "/DeviceGray":
            raise PdfError(
                f"unsupported BitsPerComponent {bpc} for color space {cs_sub}"
            )
        raw = _decode_stream(obj)
        rowbytes = (w * bpc + 7) // 8
        if len(raw) < rowbytes * h:
            raise PdfError("sub-byte DeviceGray data too short")
        rows = np.frombuffer(raw[: rowbytes * h], dtype=np.uint8).reshape(h, rowbytes)
        bits = np.unpackbits(rows, axis=1)[:, : w * bpc]
        vals = np.zeros((h, w), dtype=np.uint8)
        for b in range(bpc):
            vals = (vals << 1) | bits[:, b::bpc]
        scale = 255 // ((1 << bpc) - 1)
        img = (vals * scale).astype(np.uint8)
        dec = d.get("/Decode")
        if isinstance(dec, list) and len(dec) >= 2 and dec[0] == 1:
            img = 255 - img
        return img
    if filts and filts[-1] == "/DCTDecode":
        # scanned-PDF mainline: the image stream IS a JPEG (round 3 — decode
        # via engine.jpegx; the JPEG carries its own color model, so the
        # declared /ColorSpace is advisory here, matching viewer behavior)
        data = obj.stream or b""
        for name in filts[:-1]:
            data = _apply_filter(name, data)
        from .jpegx import decode_jpeg as _dct

        try:
            img = _dct(data)
        except ValueError as e:
            raise PdfError(f"bad DCTDecode stream: {e}") from e
        if img.ndim == 3:
            return rgb_to_gray(img)
        return img
    raw = _decode_stream(obj)
    raw_cs = _deref(d.get("/ColorSpace"), objects)
    if isinstance(raw_cs, list) and raw_cs and _deref(raw_cs[0], objects) == "/Indexed":
        base, palette = _indexed_palette(raw_cs, objects)
        if len(raw) < w * h:
            raise PdfError("Indexed data too short")
        idx = np.frombuffer(raw[: w * h], dtype=np.uint8).reshape(h, w)
        px = palette[np.minimum(idx, len(palette) - 1)]
        if palette.shape[1] == 1:
            return px[..., 0].copy()
        if palette.shape[1] == 3:
            return rgb_to_gray(px)
        raise PdfError("unsupported Indexed base components")
    cs = resolve_colorspace(d.get("/ColorSpace"), objects)
    if cs == "/DeviceGray":
        if len(raw) < w * h:
            raise PdfError("DeviceGray data too short")
        return np.frombuffer(raw[: w * h], dtype=np.uint8).reshape(h, w).copy()
    if cs in ("/DeviceRGB", "/ICCBased"):
        if len(raw) < w * h * 3:
            raise PdfError("DeviceRGB data too short")
        rgb = np.frombuffer(raw[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)
        return rgb_to_gray(rgb)
    if cs == "/DeviceCMYK":
        if len(raw) < w * h * 4:
            raise PdfError("DeviceCMYK data too short")
        cmyk = np.frombuffer(raw[: w * h * 4], dtype=np.uint8).reshape(h, w, 4).astype(np.float64) / 255.0
        c, m_, y, k = cmyk[..., 0], cmyk[..., 1], cmyk[..., 2], cmyk[..., 3]
        r = (1 - c) * (1 - k) * 255.0
        g = (1 - m_) * (1 - k) * 255.0
        b = (1 - y) * (1 - k) * 255.0
        rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
        return rgb_to_gray(rgb)
    raise PdfError(f"unsupported color space: {cs}")


def extract_pdf(
    payload: bytes,
    engine: str = "pixelocr",
    preset: str = "minimal",
    languages: tuple[str, ...] = ("eng",),
) -> dict:
    """Full PDF extraction (E1 -> E2-E7 -> E10). Returns a result dict:
    {text, confidence, warnings, path} with path in
    {"text_layer", "ocr_fallback", "empty"}. ``languages`` selects the OCR
    recognition charset on the fallback path (E8 language dimension).
    """
    from .preprocess import run_pipeline  # local import to avoid cycle

    objects = parse_objects(payload)
    warnings: list[str] = []

    # E1: text layer first — with each page's /Resources /Font CMaps so
    # CID/Type0 producers (the modern default) decode to real Unicode
    stream_fonts = _collect_stream_fonts(objects)
    page_texts: list[str] = []
    for oid in sorted(objects):
        obj = objects[oid]
        if obj.stream is None or obj.dict.get("/Subtype") == "/Image":
            continue
        try:
            content = _decode_stream(obj)
        except PdfError:
            continue
        if b"BT" not in content:
            continue
        try:
            t = extract_stream_text(content, fonts=stream_fonts.get(oid))
        except PdfError:
            continue  # one malformed stream skips, like the E2 image rule
        if t:
            page_texts.append(t)
    text = "\n\n".join(page_texts).strip()
    if text and len(text) > TEXT_LAYER_MIN_CHARS:
        return {
            "text": text,
            "confidence": PDF_TEXT_LAYER_CONFIDENCE,
            "warnings": warnings,
            "path": "text_layer",
        }

    # E2: image XObject scan in document order
    image_objs = [objects[oid] for oid in sorted(objects) if objects[oid].dict.get("/Subtype") == "/Image"]
    if not image_objs:
        return {
            "text": "",
            "confidence": 0.0,
            "warnings": warnings + [EMPTY_PDF_WARNING],
            "path": "empty",
        }

    warnings.append(SCANNED_PDF_WARNING)
    texts: list[str] = []
    confs: list[float] = []
    decoded_any = False
    for obj in image_objs:
        budget.check()  # per-image guard on the OCR-fallback scan (E2-E7)
        try:
            gray = decode_image_xobject(obj, objects)
        except PdfError as e:
            warnings.append(f"image {obj.oid} skipped: {e}")
            continue
        decoded_any = True
        gray, _timings = run_pipeline(gray, preset)
        t, w = ocr_decode_image(gray, languages)
        warnings.extend(w)
        if t:
            texts.append(t)
            confs.append(calculate_confidence(t))
    if not decoded_any:
        # Reference parity (`ocrs.rs:448-460` extract_images_from_pdf drops
        # failed decodes silently; `ocrs.rs:154-160` then REPLACES warnings
        # with only the empty-PDF string): not an error, an empty result.
        return {
            "text": "",
            "confidence": 0.0,
            "warnings": [EMPTY_PDF_WARNING],
            "path": "empty",
        }
    joined = "\n\n".join(texts)
    if engine == "pixelocr-alt":
        conf = sum(confs) / len(confs) if confs else 0.0  # E9
    else:
        conf = calculate_confidence(joined)
    return {
        "text": joined,
        "confidence": conf,
        "warnings": warnings,
        "path": "ocr_fallback",
    }
