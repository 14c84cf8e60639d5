"""WARC (ISO 28500) ingestion source — the raw-crawl format upstream of the
pages table (SURVEY.md §2.1; the north rule's "Common-Crawl-style web pages"
arrive as .warc.gz before they are ever an Iceberg table).

Spark-first shape — the public cc-pyspark pattern: the INPUT relation is a
list of WARC paths, fanned out file-per-task; each task STREAMS its file's
records (readline/Content-Length walk, constant memory) and yields Arrow
batches. No whole-file materialization (a Common-Crawl WARC is ~1 GB — a
``binaryFile`` scan would hold it per row): one `map_rows` over a path
column.

Format notes (all from the public spec / Common Crawl layout):

* a WARC file is a sequence of records: ``WARC/1.0`` version line, header
  lines, blank line, ``Content-Length`` octets of block, CRLF CRLF;
* ``.warc.gz`` is one gzip *member per record* (so readers can seek);
  Python's :mod:`gzip` reads concatenated members transparently;
* ``response`` records wrap an HTTP response — status line, HTTP headers,
  blank line, body — the body is the page payload (``html`` column);
* other record types (warcinfo, request, metadata) are skipped.

Robustness mirrors the engine's O7 posture: a malformed record never raises
— the reader resyncs by scanning forward to the next ``WARC/1.0`` version
line and counts the skip in the ``warc_errors`` accumulator-free way (an
``x-warc/parse-error`` row carries the file position), and oversized blocks
(decode-bomb guard) are skipped in O(1) memory.

100 TB posture: parallelism is file-granular (Common Crawl ships ~64k WARCs
per monthly crawl — far more files than executor cores, so file-level
fan-out saturates the cluster without record-level splits); a straggler
giant file is bounded by the max-payload guard, and the output feeds
``to_pages`` -> ``extract_pages`` whose giants-mode skew handling takes over
at the document level.
"""

from __future__ import annotations

import datetime as dt
import gzip
import zlib
import io
import os
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import budget
from .session import map_rows

__all__ = ["read_warc", "to_pages", "write_warc", "parse_warc_stream", "WARC_ARROW"]

WARC_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("content_type", pa.string()),
        pa.field("http_status", pa.int32()),
        pa.field("content_language", pa.string()),
        pa.field("record_id", pa.string()),
        pa.field("warc_file", pa.string()),
    ]
)

#: decode-bomb guard: a single record block larger than this is skipped
DEFAULT_MAX_PAYLOAD = 64 * 1024 * 1024

#: `read_warc` tasks per core, at most one per file
TASKS_PER_CORE = 2

_CRLF = b"\r\n"
#: zlib window bits to try, per Content-Encoding
_WBITS = {"gzip": (31,), "x-gzip": (31,), "deflate": (zlib.MAX_WBITS, -zlib.MAX_WBITS)}
_VERSION_PREFIXES = (b"WARC/1.0", b"WARC/1.1")


def _parse_warc_date(s: str) -> dt.datetime | None:
    try:
        return dt.datetime.strptime(s.strip(), "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=dt.timezone.utc
        )
    except ValueError:
        return None


def _dechunk(body: bytes) -> bytes:
    """Undo Transfer-Encoding: chunked (RFC 9112 §7.1). Malformed chunk
    framing returns the body unchanged (resync posture — never raise)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol == -1:
            return bytes(body)
        size_tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return bytes(body)
        if size == 0:
            break  # trailers ignored
        start = eol + 2
        if start + size > n:
            return bytes(body)
        out += body[start : start + size]
        pos = start + size
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
    return bytes(out)


def _decode_content(body: bytes, encoding: str | None, max_out: int) -> bytes:
    """Undo Content-Encoding gzip/x-gzip/deflate (the encodings a crawl's
    raw HTTP captures actually carry). Unknown encodings (br without a
    brotli module, compress), decode failures and bodies that decode past
    ``max_out`` bytes (decode-bomb guard) keep the raw bytes — downstream
    MIME sniffing quarantines honestly."""
    enc = (encoding or "").lower().strip()
    # deflate is zlib-wrapped per the RFC, raw from many servers: try both
    for wbits in _WBITS.get(enc, ()):
        try:
            out = budget.inflate(body, max_out + 1, wbits)  # +1 shows an overrun
        except zlib.error:
            continue
        return body if len(out) > max_out else out
    return body


def _split_http_response(block: bytes, max_out: int):
    """(status, content_type, content_language, body) from an HTTP response
    block; (None, None, None, block) when it isn't one. Chunked transfer
    framing is removed and gzip/deflate content encodings are undone (up to
    ``max_out`` decoded bytes), so ``html`` always holds the entity bytes
    the browser would parse."""
    head_end = block.find(b"\r\n\r\n")
    if head_end == -1 or not block.startswith(b"HTTP/"):
        return None, None, None, block
    head = block[:head_end].decode("latin-1", "replace").split("\r\n")
    try:
        status = int(head[0].split(None, 2)[1])
    except (IndexError, ValueError):
        return None, None, None, block
    ctype = lang = cenc = tenc = None
    for line in head[1:]:
        k, _, v = line.partition(":")
        lk = k.strip().lower()
        if lk == "content-type" and ctype is None:
            ctype = v.strip() or None
        elif lk == "content-language" and lang is None:
            lang = v.strip() or None
        elif lk == "content-encoding" and cenc is None:
            cenc = v.strip() or None
        elif lk == "transfer-encoding" and tenc is None:
            tenc = v.strip() or None
    body = block[head_end + 4 :]
    if tenc and "chunked" in tenc.lower():
        body = _dechunk(body)
    body = _decode_content(body, cenc, max_out)
    return status, ctype, lang, body


def parse_warc_stream(
    fh, warc_file: str, max_payload_bytes: int = DEFAULT_MAX_PAYLOAD
) -> Iterator[dict]:
    """Stream-parse one (already decompressed) WARC byte stream into row
    dicts matching :data:`WARC_ARROW`. Single-node core shared by the Spark
    kernel and the golden-parquet builder."""
    while True:
        line = fh.readline()
        if not line:
            return
        if not line.rstrip(_CRLF):
            continue  # inter-record padding
        if not line.startswith(_VERSION_PREFIXES):
            # resync: scan forward to the next version line (O7 posture)
            pos = getattr(fh, "tell", lambda: -1)()
            yield {
                "url": None, "warc_ts": None, "html": b"",
                "content_type": "x-warc/parse-error", "http_status": None,
                "content_language": None,
                "record_id": f"<parse-error at ~{pos}>", "warc_file": warc_file,
            }
            while line and not line.startswith(_VERSION_PREFIXES):
                line = fh.readline()
            if not line:
                return
        headers: dict[str, str] = {}
        while True:
            line = fh.readline()
            if not line.rstrip(_CRLF):
                break
            k, _, v = line.decode("latin-1", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            continue  # headerless/corrupt record: resync loop handles next line
        if length > max_payload_bytes:
            # oversized block: skip in O(1) memory, keep the stream aligned
            remaining = length
            while remaining > 0:
                chunk = fh.read(min(remaining, 1 << 20))
                if not chunk:
                    return
                remaining -= len(chunk)
            continue
        block = fh.read(length)
        if len(block) < length:
            return  # truncated final record
        if headers.get("warc-type") != "response":
            continue
        status, ctype, lang, body = _split_http_response(block, max_payload_bytes)
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_ts": _parse_warc_date(headers.get("warc-date", "")),
            "html": body,
            "content_type": ctype,
            "http_status": status,
            "content_language": lang,
            "record_id": headers.get("warc-record-id"),
            "warc_file": warc_file,
        }


def _open_warc(path: str):
    fh = open(path, "rb")
    magic = fh.read(2)
    fh.seek(0)
    if magic == b"\x1f\x8b":
        return io.BufferedReader(gzip.GzipFile(fileobj=fh))
    return io.BufferedReader(fh)


def read_warc(spark: SparkSession, paths: list[str]) -> DataFrame:
    """WARC files -> DataFrame of response records (see WARC_ARROW).

    File-granular parallelism: the path list becomes a one-column relation,
    round-robin repartitioned so each task streams whole files; records are
    yielded in bounded Arrow batches (`map_rows`) so a 1 GB WARC never
    materializes in worker memory.
    """
    if not paths:
        raise ValueError("read_warc needs at least one path")
    n_parts = min(len(paths), spark.sparkContext.defaultParallelism * TASKS_PER_CORE)
    files = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")
    return map_rows(files.repartition(n_parts), _warc_rows, WARC_ARROW)


def _warc_rows(path: str) -> Iterator[dict]:
    """The `map_rows` row function of `read_warc`: one file's records,
    streamed."""
    fh = _open_warc(path)
    try:
        yield from parse_warc_stream(fh, os.path.basename(path))
    finally:
        fh.close()


def to_pages(df: DataFrame) -> DataFrame:
    """Project WARC response records onto the pages-table shape
    (url, warc_ts, html, text, lang) expected by ``extract_pages``:
    2xx records with a payload; lang from Content-Language when present."""
    lang = F.lower(F.split(F.col("content_language"), r"[-,;]").getItem(0))
    return (
        df.filter(
            F.col("url").isNotNull()
            & F.col("http_status").between(200, 299)
            & (F.length("html") > 0)
        )
        .select(
            "url",
            "warc_ts",
            "html",
            F.lit(None).cast("string").alias("text"),
            F.coalesce(lang, F.lit("und")).alias("lang"),
        )
    )


def write_warc(
    path: str, records: list[dict], per_record_gzip: bool | None = None
) -> str:
    """Fixture writer: serialize records (dicts with url/date/html and
    optional content_type/status/language keys) as a spec-shaped WARC file.
    ``per_record_gzip`` defaults from the ``.gz`` suffix (the Common Crawl
    member-per-record layout)."""
    if per_record_gzip is None:
        per_record_gzip = path.endswith(".gz")
    out = bytearray()
    for i, rec in enumerate(records):
        body = rec["html"]
        status = rec.get("status", 200)
        ctype = rec.get("content_type", "text/html")
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n".encode("latin-1")
            + (
                f"Content-Language: {rec['language']}\r\n".encode("latin-1")
                if rec.get("language")
                else b""
            )
            + f"Content-Length: {len(body)}\r\n\r\n".encode("latin-1")
            + body
        )
        record = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {rec['url']}\r\n".encode("latin-1")
            + f"WARC-Date: {rec['date']}\r\n".encode("latin-1")
            + f"WARC-Record-ID: <urn:uuid:{i:08d}>\r\n".encode("latin-1")
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode("latin-1")
            + b"\r\n"
            + http
            + b"\r\n\r\n"
        )
        if per_record_gzip:
            out += gzip.compress(bytes(record), 6)
        else:
            out += record
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        f.write(bytes(out))
    return path
