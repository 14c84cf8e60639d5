"""Deterministic text-layer PDF corpus + golden-parquet oracle for the
round-5 producer-fidelity stack — CID/ToUnicode, /Differences, WinAnsi /
MacRoman bases, hex strings, TJ kerning, LZW streams, encrypted/ObjStm
layouts — wired through the DISTRIBUTED pipeline as a first-class oracled
driver query rather than pytest-only coverage.

Pattern mirrors `gen_scanned.py`: every golden row is the SINGLE-NODE
execution of the identical kernel (`engine.extract.extract_document`) over
the exact same payload; DuckDB reads the goldens and the driver compares
the Spark run against them.
"""

from __future__ import annotations

import os
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

#: producer layouts in rotation; names describe the dominant feature
TEXTLAYER_KINDS = (
    "literal",      # classic (…) Tj, latin-1
    "cid",          # Type0 + Identity-H + /ToUnicode CMap, full Unicode
    "hex",          # <…> Tj hex show strings
    "kerned",       # TJ arrays with kerning-derived word spaces
    "winansi",      # /WinAnsiEncoding smart quotes / dashes
    "macroman",     # /MacRomanEncoding upper half
    "differences",  # /Encoding /Differences glyph names (TeX layout)
    "lzw",          # /LZWDecode content stream
    "cid_objstm",   # CID layout packed into PDF 1.5 object streams? (text
                    #   builder has no objstm; falls back to encrypted)
    "encrypted",    # AES-128 owner-locked literal text
)


def _tex_pdf(text_bytes: bytes, diffs: bytes) -> bytes:
    from ..engine import pdfx

    content = zlib.compress(b"BT /F1 10 Tf 72 720 Td (" + text_bytes + b") Tj ET", 6)
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >>"
            b" >> /Contents 4 0 R >>", None),
        (4, b"<< /Length " + str(len(content)).encode()
            + b" /Filter /FlateDecode >>", content),
        (5, b"<< /Type /Font /Subtype /Type1 /BaseFont /CMR10 /Encoding "
            + diffs + b" >>", None),
    ]
    return pdfx._assemble(objs)


def make_textlayer_payload(i: int) -> bytes:
    """One text-layer PDF payload — a pure function of ``i`` rotating over
    the real-producer layouts round 5 implemented."""
    from ..engine import pdfx

    kind = TEXTLAYER_KINDS[i % len(TEXTLAYER_KINDS)]
    base = f"Document {i} body text with code {(i * 13) % 89} present"
    if kind == "literal":
        return pdfx.build_text_pdf([[base, f"second line {i}"]])
    if kind == "cid":
        uni = f"Unicode {i}: café — 日本語 Ж done"
        return pdfx.build_cid_text_pdf([[uni, base]])
    if kind == "hex":
        content = zlib.compress(
            b"BT /F1 10 Tf 72 720 Td <" + base.encode().hex().encode() + b"> Tj ET", 6
        )
        objs = [
            (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", None),
            (4, b"<< /Length " + str(len(content)).encode()
                + b" /Filter /FlateDecode >>", content),
        ]
        return pdfx._assemble(objs)
    if kind == "kerned":
        words = base.split()
        arr = b" -280 ".join(b"(" + wd.encode() + b")" for wd in words)
        content = zlib.compress(b"BT /F1 10 Tf 72 720 Td [" + arr + b"] TJ ET", 6)
        objs = [
            (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", None),
            (4, b"<< /Length " + str(len(content)).encode()
                + b" /Filter /FlateDecode >>", content),
        ]
        return pdfx._assemble(objs)
    if kind == "winansi":
        return _tex_pdf(
            b"\x93Quoted " + str(i).encode() + b"\x94 \x96 dash \x80 euro",
            b"/WinAnsiEncoding",
        )
    if kind == "macroman":
        return _tex_pdf(
            b"Caf\x8e " + str(i).encode() + b" \xd0 dash \xa5 bullet",
            b"/MacRomanEncoding",
        )
    if kind == "differences":
        return _tex_pdf(
            b"Caf\x80 " + str(i).encode() + b" r\x80sum\x80 \x81 TeX",
            b"<< /Type /Encoding /Differences [ 128 /eacute /emdash ] >>",
        )
    if kind == "lzw":
        from .gen_textlayer import _lzw_encode

        content = _lzw_encode(b"BT /F1 10 Tf (" + base.encode() + b") Tj ET")
        objs = [
            (1, b"<< /Type /Catalog /Pages 2 0 R >>", None),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", None),
            (4, b"<< /Length " + str(len(content)).encode()
                + b" /Filter /LZWDecode >>", content),
        ]
        return pdfx._assemble(objs)
    if kind == "cid_objstm":
        uni = f"Objstm {i} — ünïcode päge"
        return pdfx.build_cid_text_pdf([[uni]])
    # encrypted
    return pdfx.build_text_pdf([[base]], encrypt="aes")


def _lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF-variant LZW encoder (EarlyChange=1) for fixtures —
    clear-code-per-symbol keeps it trivially correct (and verifiably so:
    the pipeline decodes it with the real table-building decoder)."""
    out = []
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int = 9):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)  # CLEAR
    for byte in data:
        emit(byte)
        emit(256)  # CLEAR after every symbol: table never grows
    emit(257)  # EOI
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def textlayer_counts(n_docs: int) -> int:
    return max(len(TEXTLAYER_KINDS), n_docs // 50)


def synthetic_textlayer_rows(n: int) -> list[tuple[str, bytes]]:
    return [
        (f"https://text{i}.example/doc/{i}", make_textlayer_payload(i))
        for i in range(n)
    ]


TEXTLAYER_GOLDEN_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("kind", pa.string()),
        pa.field("status", pa.string()),
        pa.field("extracted_text", pa.string()),
        pa.field("n_warnings", pa.int32()),
    ]
)


def ensure_textlayer_goldens(n_docs: int, base: str = "/tmp/asos_spark_corpus") -> str:
    """Write (once, cached) the golden parquet for ``n_docs`` corpus scale;
    pure single-node execution of the extraction kernel."""
    from ..engine.extract import extract_document

    n = textlayer_counts(n_docs)
    d = os.path.join(base, f"textlayer_goldens_n{n}_v1")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    rows = []
    for i, (url, payload) in enumerate(synthetic_textlayer_rows(n)):
        r = extract_document(payload)
        rows.append(
            {
                "url": url,
                "kind": TEXTLAYER_KINDS[i % len(TEXTLAYER_KINDS)],
                "status": r["status"],
                "extracted_text": r["extracted_text"],
                "n_warnings": len(r["warnings"]),
            }
        )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=TEXTLAYER_GOLDEN_ARROW),
        os.path.join(d, "goldens.parquet"),
        compression="zstd",
    )
    with open(done, "w") as f:
        f.write("ok")
    return d


def textlayer_oracles(n_docs: int = 2_000) -> dict[str, str]:
    d = ensure_textlayer_goldens(n_docs)
    return {
        "extract_textlayer": f"""
            SELECT url, kind, status, extracted_text, n_warnings
            FROM read_parquet('{d}/goldens.parquet')
        """,
    }
