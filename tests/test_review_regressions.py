"""Regression tests for code-review findings (round 1 review pass)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from activestorage_ocr_spark.engine.extract import extract_document
from activestorage_ocr_spark.engine.mime import sniff_mime
from activestorage_ocr_spark.operators import textstats as ts
from activestorage_ocr_spark.operators.extraction import extract_pages


class TestNullPayloadRow:
    def test_null_html_not_dropped_in_giants_mode(self, spark):
        """length(NULL) is NULL: a NULL-payload row must not vanish from both
        skew branches — it must surface as INVALID_REQUEST."""
        rows = [
            ("ok", dt.datetime(2025, 1, 1), b"<html><body><p>long enough paragraph of words here ok</p></body></html>", None, "en"),
            ("nil", dt.datetime(2025, 1, 1), None, None, "en"),
        ]
        df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary, text string, lang string")
        for mode in ("giants", "off"):
            out = {r.url: r.status for r in extract_pages(df, skew_handling=mode).collect()}
            assert out == {"ok": "ok", "nil": "INVALID_REQUEST"}, mode


class TestSurrogateEntities:
    def test_surrogate_ncr_not_emitted(self):
        body = b"<html><body><p>bad &#xD800; entity in an otherwise long paragraph here.</p></body></html>"
        r = extract_document(body)
        assert r["status"] == "ok"
        # the raw entity text is preserved un-decoded; no lone surrogate
        assert "\ud800" not in r["extracted_text"]
        assert "&#xD800;" in r["extracted_text"]
        r["extracted_text"].encode("utf-8")  # must be encodable (Arrow-safe)

    def test_surrogate_survives_spark_task(self, spark):
        body = b"<html><body><p>bad &#xDFFF; entity in an otherwise long paragraph here.</p></body></html>"
        df = spark.createDataFrame(
            [("u", dt.datetime(2025, 1, 1), body, None, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        assert extract_pages(df).count() == 1  # previously killed the task


class TestOccurrenceCount:
    def test_adjacent_tokens_counted(self, spark):
        df = spark.createDataFrame([("the the the", 1)], "text string, id int")
        n = df.select(ts.occurrence_count(F.col("text"), "the").alias("n")).first().n
        assert n == 3

    def test_single_and_edges(self, spark):
        df = spark.createDataFrame([("the cat sat on the mat the", 1)], "text string, id int")
        n = df.select(ts.occurrence_count(F.col("text"), "the").alias("n")).first().n
        assert n == 3


class TestMimeSniffStrictness:
    def test_js_bundle_with_tag_literal_not_html(self):
        js = b"var tpl = '<p>not content</p>'; function render() { return tpl; }"
        assert sniff_mime(js) == "application/octet-stream"

    def test_json_with_markup_not_html(self):
        assert sniff_mime(b'{"body": "<div>x</div>"}') == "application/octet-stream"

    def test_fragments_and_full_docs_still_html(self):
        assert sniff_mime(b"<div>hello</div>") == "text/html"
        assert sniff_mime(b"  <p>hi</p>") == "text/html"
        # strong marker anywhere still wins (e.g. server banners before doctype)
        assert sniff_mime(b"junk prefix <html><body>x</body>") == "text/html"


class TestOverwriteModeRestored:
    def test_session_conf_not_leaked(self, spark, corpus_dir_200, tmp_path):
        from activestorage_ocr_spark.operators.lineage import run_extraction_job

        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key, None)
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet").limit(20)
        run_extraction_job(spark, pages, str(tmp_path / "o"), run_id="x", n_parts=2, max_bytes=262_144)
        assert spark.conf.get(key, None) == before
