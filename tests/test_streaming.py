"""Streaming ingestion tests: file source -> extraction kernel -> parquet
sink, exactly-once across restarts; watermarked hourly rollup."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from activestorage_ocr_spark.streaming import ingest


@pytest.fixture()
def landing(spark, corpus_dir_200, tmp_path):
    """Landing dir seeded with the corpus split into two file drops."""
    pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
    d = str(tmp_path / "landing")
    pages.filter(F.xxhash64("url") % 2 == 0).coalesce(1).write.parquet(d)
    return d, pages


class TestStreamingExtraction:
    def test_available_now_processes_all_files(self, spark, landing, tmp_path, corpus_dir_200):
        d, pages = landing
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        q = ingest.start_extraction_stream(spark, d, out, ck, max_bytes=262_144)
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        n_in = spark.read.parquet(d).count()
        assert got.count() == n_in
        # same kernel => byte-identity against goldens holds on the stream too
        golden = spark.read.parquet(f"{corpus_dir_200}/goldens.parquet")
        j = got.join(golden.select("url", F.col("extracted_text").alias("want")), "url")
        assert j.filter(~F.col("extracted_text").eqNullSafe(F.col("want"))).count() == 0

    def test_restart_is_exactly_once(self, spark, landing, tmp_path):
        d, pages = landing
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        q = ingest.start_extraction_stream(spark, d, out, ck, max_bytes=262_144)
        q.awaitTermination(120)
        n_first = spark.read.parquet(out).count()

        # drop the second half of the corpus into the landing dir, restart
        second = pages.filter(F.xxhash64("url") % 2 != 0)
        second.coalesce(1).write.mode("append").parquet(d)
        q2 = ingest.start_extraction_stream(spark, d, out, ck, max_bytes=262_144)
        q2.awaitTermination(120)

        got = spark.read.parquet(out)
        assert got.count() == 200  # first drop NOT reprocessed
        assert got.select("url").distinct().count() == 200
        assert n_first < 200

    def test_streaming_dedup_drops_recrawls(self, spark, landing, tmp_path):
        d, pages = landing
        # drop the SAME files again: every url arrives twice
        first = spark.read.parquet(d)
        first.coalesce(1).write.mode("append").parquet(d)
        out = str(tmp_path / "dedup_out")
        ck = str(tmp_path / "dedup_ck")
        stream = ingest.read_pages_stream(spark, d)
        deduped = ingest.dedup_pages_stream(stream).select("url", "warc_ts")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        n_unique = first.select("url").distinct().count()
        assert got.count() == n_unique
        assert got.select("url").distinct().count() == n_unique

    def test_unset_knobs_resolve_from_env_as_in_batch(self, spark, tmp_path, monkeypatch):
        from activestorage_ocr_spark.engine.config import ENV_PRESET

        d = str(tmp_path / "landing")
        html = b"<html><body><p>" + b"streamed words " * 20 + b"</p></body></html>"
        spark.createDataFrame(
            [(f"https://env.example/{i}", None, html, None, "en") for i in range(3)],
            ingest.PAGES_DDL,
        ).coalesce(1).write.parquet(d)
        monkeypatch.setenv(ENV_PRESET, "aggressive")
        out = str(tmp_path / "out")
        q = ingest.start_extraction_stream(spark, d, out, str(tmp_path / "ck"))
        q.awaitTermination(120)
        got = spark.read.parquet(out).select("preset", "status").collect()
        assert [(r.preset, r.status) for r in got] == [("aggressive", "ok")] * 3

    def test_hourly_metrics_watermarked(self, spark, landing, tmp_path):
        d, _ = landing
        out = str(tmp_path / "metrics")
        ck = str(tmp_path / "ck_m")
        q = ingest.start_hourly_metrics_stream(spark, d, out, ck, max_bytes=262_144)
        q.awaitTermination(120)
        m = spark.read.parquet(out)
        # warc_ts spacing is 37 s -> 200 docs span ~2 h; append mode emits
        # only windows the watermark has passed (the final window is held
        # back, so totals are <= input count but > 0)
        assert m.count() > 0
        total = m.agg(F.sum("n_docs")).first()[0]
        assert 0 < total <= 200
        row = m.first()
        assert row.window_end > row.window_start

    def test_hourly_metrics_equal_batch_rollup(self, spark, landing, tmp_path):
        # Verdict r2 #7: tie the streaming surface to the oracled batch
        # semantics — the availableNow stream's finalized windows must equal
        # the batch groupBy over the same input, restricted to windows the
        # final watermark passed (append mode holds later windows back).
        from activestorage_ocr_spark.operators.extraction import extract_pages

        d, _ = landing
        out = str(tmp_path / "metrics_parity")
        ck = str(tmp_path / "ck_parity")
        q = ingest.start_hourly_metrics_stream(spark, d, out, ck, max_bytes=262_144)
        q.awaitTermination(120)
        streamed = spark.read.parquet(out)

        pages = spark.read.parquet(d)
        batch = (
            extract_pages(pages, max_bytes=262_144)
            .groupBy(F.window("warc_ts", "1 hour").alias("w"), "mime", "status")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_bytes").alias("bytes_in"),
                F.sum("chars_out").alias("chars_out"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "mime", "status", "n_docs", "bytes_in", "chars_out",
            )
        )
        # final watermark = max event time - late_threshold (1 hour)
        cutoff = pages.agg(
            (F.max("warc_ts") - F.expr("INTERVAL 1 HOUR")).alias("c")
        ).first().c
        expected = sorted(
            map(tuple, batch.filter(F.col("window_end") <= cutoff).collect())
        )
        got = sorted(map(tuple, streamed.collect()))
        assert len(expected) > 0
        assert got == expected


class TestSiteCrawlSessions:
    def test_stateful_sessionizer_gap_and_timeout(self, spark, tmp_path):
        """applyInPandasWithState custom operator: intra-batch gap closes a
        session immediately; event-time timeout flushes idle hosts once the
        watermark passes last_seen + gap."""
        import datetime as dt

        t0 = dt.datetime(2025, 3, 1, 12, 0, 0)

        def row(host, minutes, nb):
            return (
                f"https://{host}/p{minutes}",
                t0 + dt.timedelta(minutes=minutes),
                b"x" * nb,
                "eng",
            )

        schema = "url string, warc_ts timestamp, html binary, lang string"
        d = str(tmp_path / "landing")
        # drop 1: host a has two sessions split by a 2h gap (closes the
        # first in-batch); host b has one open session
        drop1 = [row("a.example", 0, 10), row("a.example", 5, 20),
                 row("a.example", 120, 30), row("b.example", 0, 40)]
        spark.createDataFrame(drop1, schema).coalesce(1).write.parquet(d)
        # drop 2: a far-future page advances the watermark past b's timeout
        spark.createDataFrame([row("c.example", 360, 50)], schema).coalesce(
            1
        ).write.mode("append").parquet(d)

        src = ingest.read_pages_stream(spark, d, max_files_per_trigger=1)
        sessions = ingest.site_crawl_sessions(src, gap="30 minutes")
        out = str(tmp_path / "sessions")
        ck = str(tmp_path / "ck")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.read.parquet(out).collect()
        by = {}
        for r in rows:
            by.setdefault(r.host, []).append(r)
        # host a: first session (2 pages, 30 bytes) closed by the in-batch gap
        a = sorted(by["a.example"], key=lambda r: r.session_start)
        assert a[0].n_pages == 2 and a[0].total_bytes == 30
        # host b: flushed by event-time timeout once the watermark advanced
        assert by["b.example"][0].n_pages == 1
        assert by["b.example"][0].total_bytes == 40
        # host c arrived last: still open in state, not emitted
        assert "c.example" not in by


class TestStreamingCuration:
    def test_curation_stream_matches_batch_gates_and_dedup(
        self, spark, landing, tmp_path
    ):
        # full landing->curated flow; gate decisions must equal the batch
        # curation stage's, and exactly one row survives per fingerprint
        from activestorage_ocr_spark.operators import curation
        from activestorage_ocr_spark.operators.extraction import (
            OK_STATUSES, extract_pages,
        )

        d, pages = landing
        out = str(tmp_path / "curated")
        ck = str(tmp_path / "ck")
        q = ingest.start_curation_stream(spark, d, out, ck, max_bytes=262_144)
        q.awaitTermination(180)
        got = spark.read.parquet(out)
        # one survivor per fingerprint
        assert got.groupBy("fp").count().filter("count > 1").count() == 0
        # batch reference: same gates over the batch-extracted corpus
        batch = extract_pages(
            spark.read.parquet(d), max_bytes=262_144
        ).filter(F.col("status").isin(*OK_STATUSES))
        flags = curation.curation_flags(
            batch, id_col="url", text_col="extracted_text"
        )
        batch_pass = flags.filter(
            F.col("reject_reason").isNull()
            | (F.col("reject_reason") == curation.REJECT_DUP)
        )
        # gate-pass fingerprint sets agree (dedup keeps one member of each)
        want_fps = {r.fp for r in batch_pass.select("fp").distinct().collect()}
        got_fps = {r.fp for r in got.select("fp").collect()}
        assert got_fps == want_fps
        # and the streaming gate rejections mirror the batch reasons
        n_gate_rejected = flags.filter(
            F.col("reject_reason").isin(
                curation.REJECT_SHORT, curation.REJECT_QUALITY
            )
        ).count()
        assert batch.count() - n_gate_rejected >= got.count()
