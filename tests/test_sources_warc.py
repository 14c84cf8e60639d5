"""WARC ingestion source (`sources/warc.py`, ISO 28500) — single-node parser
core, the Spark mapInArrow reader, and the pages-table projection."""

import gzip

import pytest

from activestorage_ocr_spark.sources import warc

RECS = [
    {"url": "http://a.example/1", "date": "2023-05-01T00:00:00Z",
     "html": b"<html><body><p>Hello world page one with enough real words here.</p></body></html>",
     "language": "en-US"},
    {"url": "http://a.example/2", "date": "2023-05-01T00:01:00Z",
     "html": b"%PDF-junk", "content_type": "application/pdf", "status": 404},
    {"url": "http://a.example/3", "date": "2023-05-01T00:02:00Z",
     "html": b"x" * 1000},
]


def _rows(path):
    fh = warc._open_warc(path)
    try:
        return list(warc.parse_warc_stream(fh, "t"))
    finally:
        fh.close()


class TestParserCore:
    @pytest.mark.parametrize("name", ["t.warc", "t.warc.gz"])
    def test_roundtrip(self, tmp_path, name):
        p = warc.write_warc(str(tmp_path / name), RECS)
        rows = _rows(p)
        assert [r["url"] for r in rows] == [r["url"] for r in RECS]
        assert rows[0]["content_language"] == "en-US"
        assert rows[1] == {**rows[1], "http_status": 404,
                           "content_type": "application/pdf"}
        assert rows[2]["html"] == b"x" * 1000
        assert str(rows[0]["warc_ts"]) == "2023-05-01 00:00:00+00:00"

    def test_non_response_records_skipped(self, tmp_path):
        req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
               b"WARC-Target-URI: http://a.example/1\r\n"
               b"Content-Length: 4\r\n\r\nGETx\r\n\r\n")
        p = warc.write_warc(str(tmp_path / "t.warc"), [RECS[0]])
        with open(p, "rb") as f:
            data = f.read()
        with open(p, "wb") as f:
            f.write(req + data)
        rows = _rows(p)
        assert [r["url"] for r in rows] == ["http://a.example/1"]

    def test_corrupt_record_resyncs(self, tmp_path):
        p = warc.write_warc(str(tmp_path / "t.warc"), RECS)
        data = bytearray(open(p, "rb").read())
        idx = data.find(b"WARC/1.0", 1)
        data[idx : idx + 8] = b"XXXX/9.9"
        open(p, "wb").write(bytes(data))
        rows = _rows(p)
        urls = [r["url"] for r in rows]
        assert urls[0] == "http://a.example/1"
        assert None in urls  # the parse-error accounting row
        assert "http://a.example/3" in urls  # parsing resumed
        err = next(r for r in rows if r["url"] is None)
        assert err["content_type"] == "x-warc/parse-error"

    def test_oversized_block_skipped_stream_stays_aligned(self, tmp_path):
        p = warc.write_warc(str(tmp_path / "t.warc"), RECS)
        fh = warc._open_warc(p)
        try:
            rows = list(warc.parse_warc_stream(fh, "t", max_payload_bytes=500))
        finally:
            fh.close()
        # record 3 (1000-byte body > 500 cap) skipped, earlier ones intact
        assert [r["url"] for r in rows] == ["http://a.example/1",
                                            "http://a.example/2"]

    def test_truncated_final_record_dropped(self, tmp_path):
        p = warc.write_warc(str(tmp_path / "t.warc"), RECS)
        data = open(p, "rb").read()
        open(p, "wb").write(data[: len(data) - 600])
        rows = _rows(p)
        assert [r["url"] for r in rows] == ["http://a.example/1",
                                            "http://a.example/2"]

    def test_gz_is_member_per_record(self, tmp_path):
        p = warc.write_warc(str(tmp_path / "t.warc.gz"), RECS)
        data = open(p, "rb").read()
        assert data.count(b"\x1f\x8b\x08") >= len(RECS)  # one member each
        assert len(list(warc.parse_warc_stream(
            warc._open_warc(p), "t"))) == len(RECS)


class TestSparkReader:
    def test_read_warc_and_to_pages(self, spark, tmp_path):
        paths = [
            warc.write_warc(str(tmp_path / f"p{i}.warc.gz"), RECS)
            for i in range(3)
        ]
        df = warc.read_warc(spark, paths)
        rows = df.collect()
        assert len(rows) == 3 * len(RECS)
        by_file = {r.warc_file for r in rows}
        assert by_file == {f"p{i}.warc.gz" for i in range(3)}
        assert all(r.record_id.startswith("<urn:uuid:") for r in rows)
        pages = warc.to_pages(df).collect()
        # the 404 record is filtered; lang folds Content-Language
        assert len(pages) == 2 * 3
        langs = {p.url: p.lang for p in pages}
        assert langs["http://a.example/1"] == "en"
        assert langs["http://a.example/3"] == "und"

    def test_feeds_extraction_end_to_end(self, spark, tmp_path):
        from activestorage_ocr_spark.operators.extraction import extract_pages

        p = warc.write_warc(str(tmp_path / "e2e.warc.gz"), [RECS[0]])
        pages = warc.to_pages(warc.read_warc(spark, [p]))
        out = extract_pages(pages).collect()
        assert len(out) == 1
        assert out[0].status == "ok"
        assert "Hello world page one" in out[0].extracted_text

    def test_file_granular_partitioning(self, spark, tmp_path):
        paths = [
            warc.write_warc(str(tmp_path / f"q{i}.warc"), [RECS[0]])
            for i in range(5)
        ]
        df = warc.read_warc(spark, paths)
        # map-only plan: no shuffle beyond the path-list repartition, no
        # per-row Python UDF (ArrowEvalPython) — one MapInArrow node
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan or "mapInArrow" in plan.lower()
        assert df.count() == 5

    def test_empty_path_list_raises(self, spark):
        with pytest.raises(ValueError):
            warc.read_warc(spark, [])

    def test_durable_job_from_warc(self, spark, tmp_path):
        # the full raw-crawl path: .warc.gz glob -> ingest -> extract ->
        # durable partitioned write with manifest (jobs/run_extraction.py
        # --input-format warc drives exactly this composition)
        from activestorage_ocr_spark.operators.lineage import run_extraction_job

        paths = [
            warc.write_warc(str(tmp_path / f"c{i}.warc.gz"), RECS)
            for i in range(2)
        ]
        pages = warc.to_pages(warc.read_warc(spark, paths))
        out = str(tmp_path / "out")
        summary = run_extraction_job(spark, pages, out, run_id="w1", n_parts=4)
        # parts_done counts NON-EMPTY committed part_keys; 4 docs url-hashed
        # into 4 parts may collide, so bound it rather than pin it
        assert 1 <= summary["parts_done"] <= 4
        assert summary["n_rows"] == 4  # 2 files x (RECS minus the 404)
        got = spark.read.parquet(f"{out}/data").count()
        assert got == 4


class TestHttpPayloadDecoding:
    # raw crawl captures carry the wire form: chunked framing and
    # gzip/deflate content encodings must be undone before extraction
    def _record(self, headers: bytes, body: bytes) -> bytes:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + headers + b"\r\n" + body
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://enc.example/x\r\n"
            b"WARC-Date: 2023-05-01T00:00:00Z\r\n"
            b"WARC-Record-ID: <urn:uuid:1>\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http + b"\r\n\r\n"
        )
        return rec

    HTML = b"<html><body><p>Wire-encoded page body with enough words.</p></body></html>"

    def _parse(self, rec: bytes):
        import io

        rows = list(warc.parse_warc_stream(io.BufferedReader(io.BytesIO(rec)), "t"))
        assert len(rows) == 1
        return rows[0]

    def test_chunked(self):
        body = b""
        for part in (self.HTML[:25], self.HTML[25:]):
            body += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
        body += b"0\r\n\r\n"
        row = self._parse(self._record(b"Transfer-Encoding: chunked\r\n", body))
        assert row["html"] == self.HTML

    def test_gzip_content_encoding(self):
        row = self._parse(
            self._record(b"Content-Encoding: gzip\r\n", gzip.compress(self.HTML))
        )
        assert row["html"] == self.HTML

    def test_chunked_plus_gzip(self):
        gz = gzip.compress(self.HTML)
        body = format(len(gz), "x").encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
        row = self._parse(self._record(
            b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n", body
        ))
        assert row["html"] == self.HTML

    def test_raw_deflate(self):
        import zlib

        row = self._parse(self._record(
            b"Content-Encoding: deflate\r\n", zlib.compress(self.HTML)[2:-4]
        ))
        assert row["html"] == self.HTML

    def test_malformed_chunks_keep_raw(self):
        row = self._parse(self._record(
            b"Transfer-Encoding: chunked\r\n", b"ZZZ not chunks"
        ))
        assert row["html"] == b"ZZZ not chunks"

    def test_unknown_encoding_keeps_raw(self):
        row = self._parse(self._record(b"Content-Encoding: br\r\n", b"\x00\x01\x02"))
        assert row["html"] == b"\x00\x01\x02"
