"""End-to-end byte-identity test: Spark pipeline output == single-node oracle
goldens, per url, bytewise (the north-rule invariant; BASELINE.json:6)."""

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pytest

from activestorage_ocr_spark.operators.extraction import (
    extract_pages,
    split_quarantine,
)


@pytest.fixture(scope="module")
def extracted(spark, corpus_dir_200):
    pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
    out = extract_pages(pages, max_bytes=262_144, repartition=8).cache()
    yield out
    out.unpersist()


class TestByteIdentity:
    def test_every_url_exactly_once(self, extracted, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        assert extracted.count() == pages.count() == 200
        assert extracted.select("url").distinct().count() == 200

    def test_byte_identical_text_per_url(self, extracted, spark, corpus_dir_200):
        golden = spark.read.parquet(f"{corpus_dir_200}/goldens.parquet")
        joined = (
            extracted.alias("e")
            .join(F.broadcast(golden.alias("g")), "url", "inner")
            .select(
                "url",
                F.col("e.extracted_text").alias("got"),
                F.col("g.extracted_text").alias("want"),
            )
        )
        assert joined.count() == 200
        mismatches = joined.filter(
            ~(F.col("got").eqNullSafe(F.col("want")))
        ).collect()
        assert mismatches == [], f"text mismatch for urls: {[r.url for r in mismatches][:5]}"

    def test_full_row_identity_excluding_timings(self, extracted, spark, corpus_dir_200):
        golden = spark.read.parquet(f"{corpus_dir_200}/goldens.parquet")
        cols = ["mime", "extracted_text", "confidence", "engine", "status", "error_code", "warnings", "spans"]
        e = extracted.select("url", *cols)
        g = golden.select("url", *cols)
        # exceptAll both ways == empty -> exact multiset identity
        assert e.exceptAll(g).count() == 0
        assert g.exceptAll(e).count() == 0

    def test_quarantine_split_accounts_for_all_rows(self, extracted):
        ok, quarantined = split_quarantine(extracted)
        assert ok.count() + quarantined.count() == 200
        bad = {r.status for r in quarantined.select("status").distinct().collect()}
        assert bad <= {"PROCESSING_ERROR", "IMAGE_TOO_LARGE", "UNSUPPORTED_FORMAT", "INVALID_REQUEST"}
        assert quarantined.filter(F.col("error_code").isNull()).count() == 0

    def test_statuses_cover_error_corpus(self, extracted):
        statuses = {r.status for r in extracted.select("status").distinct().collect()}
        assert {"ok", "empty", "PROCESSING_ERROR", "IMAGE_TOO_LARGE", "UNSUPPORTED_FORMAT", "INVALID_REQUEST"} <= statuses

    def test_all_mimes_routed(self, extracted):
        mimes = {r.mime for r in extracted.select("mime").distinct().collect()}
        assert {"text/html", "application/pdf", "image/png", "image/jpeg", "image/gif",
                "image/bmp", "image/webp", "image/tiff"} <= mimes

    def test_lineage_columns_present(self, extracted):
        row = extracted.filter(F.col("status") == "ok").select("partition_id", "n_bytes", "chars_out").first()
        assert row.partition_id >= 0
        assert row.n_bytes > 0
        assert row.chars_out > 0

    def test_determinism_two_runs(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        a = extract_pages(pages, max_bytes=262_144, repartition=4)
        b = extract_pages(pages, max_bytes=262_144, repartition=8)  # different layout
        cols = ["url", "extracted_text", "confidence", "status"]
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0


class TestPresetColumn:
    def test_per_row_preset_override(self, spark, corpus_dir_200):
        """P5: an input `preset` column overrides the job default per row
        (the reference's per-request ?preprocess= parameter)."""
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        imgs = pages.filter(F.length("html") > 0).limit(50)
        with_preset = imgs.withColumn(
            "preset", F.when(F.xxhash64("url") % 2 == 0, F.lit("none")).otherwise(F.lit("minimal"))
        )
        out = extract_pages(with_preset, max_bytes=262_144)
        got = {r.url: r.preset for r in out.select("url", "preset").collect()}
        want = {r.url: r.preset for r in with_preset.select("url", "preset").collect()}
        # routes that run the preprocessing pipeline echo the row's preset
        assert got == {u: want[u] for u in got}

    def test_invalid_per_row_preset_quarantined(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet").limit(5)
        bad = pages.withColumn("preset", F.lit("turbo"))
        out = extract_pages(bad, max_bytes=262_144)
        assert {r.status for r in out.select("status").collect()} == {"INVALID_REQUEST"}


class TestPlanShape:
    def test_scan_prunes_to_needed_columns(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
        # the parquet scan must not read the unused `text` column
        assert "ReadSchema" in plan
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"url", "warc_ts", "html", "lang"}

    def test_exactly_one_shuffle(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        # a standalone call keeps the url key
        assert plan.count("Exchange hashpartitioning(url") == 1, plan

    def test_no_shuffle_when_skew_handling_off(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        plan = extract_pages(pages, skew_handling="off")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_only_giants_and_off_modes(self, spark, corpus_dir_200):
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        for mode in ("full", True, False):
            with pytest.raises(ValueError, match="skew_handling"):
                extract_pages(pages, skew_handling=mode)

    def test_giants_mode_scans_input_once(self, spark, corpus_dir_200):
        # VERDICT r1 "what's wrong #3": the old fork-by-filter giants mode
        # read the pages relation twice. The pass-through chain must show
        # exactly ONE scan and ONE exchange.
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Exchange") == 1, plan

    def test_giants_mode_matches_off_mode_byte_identical(self, spark, corpus_dir_200):
        # force deferral with a tiny giant threshold: every giant must be
        # finished by pass 2 with output identical to the map-only plan
        pages = spark.read.parquet(f"{corpus_dir_200}/pages.parquet")
        cols = ["url", "extracted_text", "status", "error_code", "confidence",
                "mime", "warnings", "spans"]
        off = extract_pages(pages, max_bytes=262_144, skew_handling="off")
        gi = extract_pages(pages, max_bytes=262_144, skew_handling="giants",
                           giant_bytes=2048)
        a = [tuple(r) for r in off.select(*cols).orderBy("url").collect()]
        b = [tuple(r) for r in gi.select(*cols).orderBy("url").collect()]
        assert a == b
        assert not any(r.status == "deferred" for r in gi.select("status").collect())


class TestSkewRouting:
    def test_giants_clumped_in_one_input_partition_get_spread(self, spark):
        """The point of giants mode: a pathological layout that lands every
        giant payload in ONE scan partition must still process giants across
        MANY tasks after the redistribution exchange (partition_id records
        where the extraction actually ran)."""
        big = (b"<html><body><main><p>"
               + b"A giant page body word " * 400
               + b"</p></main></body></html>")
        small = b"<html><body><main><p>Small page body of honest words.</p></main></body></html>"
        rows = [(f"https://g{i}.example/x", None, big, "eng") for i in range(64)]
        rows += [(f"https://s{i}.example/x", None, small, "eng") for i in range(64)]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, lang string"
        ).coalesce(1)  # adversarial: everything in one input partition

        gi = extract_pages(df, max_bytes=262_144, skew_handling="giants",
                           giant_bytes=len(small) + 1, repartition=16)
        got = gi.select("url", "partition_id", "status").collect()
        assert all(r.status == "ok" for r in got)
        giant_pids = {r.partition_id for r in got if r.url.startswith("https://g")}
        small_pids = {r.partition_id for r in got if r.url.startswith("https://s")}
        # giants were deferred through the exchange and ran on many tasks
        assert len(giant_pids) > 4
        # in off mode the same layout runs everything on the one scan task
        off = extract_pages(df, max_bytes=262_144, skew_handling="off")
        off_pids = {r.partition_id for r in off.select("partition_id").collect()}
        assert len(off_pids) == 1
        assert len(small_pids) >= 1

    def test_giants_mode_in_non_utc_session_matches_off_mode(self, spark):
        """Pass 2 gets ``warc_ts`` back from the shuffle in the session time
        zone. With every row in one pass-2 batch, the forwarded finished rows
        and the extracted giants must share that type, or the Arrow stream
        back to Spark fails on a schema mismatch."""
        big = (b"<html><body><main><p>"
               + b"A giant page body word " * 100
               + b"</p></main></body></html>")
        small = b"<html><body><main><p>Small page body of honest words.</p></main></body></html>"
        ts = dt.datetime(2025, 3, 9, 1, 30)
        rows = [(f"https://g{i}.example/x", ts, big, "eng") for i in range(3)]
        rows += [(f"https://s{i}.example/x", ts, small, "eng") for i in range(6)]
        cols = ["url", "warc_ts", "lang", "mime", "extracted_text", "confidence",
                "engine", "status", "error_code", "warnings", "spans", "n_bytes",
                "chars_out", "preset"]
        zone = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            df = spark.createDataFrame(
                rows, "url string, warc_ts timestamp, html binary, lang string"
            ).coalesce(1)
            gi = extract_pages(df, max_bytes=262_144, skew_handling="giants",
                               giant_bytes=len(small) + 1, repartition=1)
            off = extract_pages(df, max_bytes=262_144, skew_handling="off")
            a = sorted(tuple(r) for r in off.select(*cols).collect())
            b = sorted(tuple(r) for r in gi.select(*cols).collect())
        finally:
            spark.conf.set("spark.sql.session.timeZone", zone)
        assert a == b
        assert {r[cols.index("status")] for r in b} == {"ok"}


class TestKernelPasses:
    def test_pass2_extracts_deferred_rows_and_forwards_the_rest(self, monkeypatch):
        """Pass 1 then pass 2 of giants routing, in-process on one Arrow
        batch: pass 2 forwards the finished rows unchanged and runs the
        extractor exactly once per deferred row."""
        from activestorage_ocr_spark.engine import extract as engine_extract
        from activestorage_ocr_spark.operators import extraction

        monkeypatch.setattr(extraction, "install_zip_cache_guard", lambda: None)
        calls = []
        real = engine_extract.extract_document

        def counting(payload, **kw):
            calls.append(payload)
            return real(payload, **kw)

        monkeypatch.setattr(engine_extract, "extract_document", counting)
        big = (b"<html><body><main><p>"
               + b"A giant page body word " * 100
               + b"</p></main></body></html>")
        small = b"<html><body><main><p>Small page body of honest words.</p></main></body></html>"
        payloads = [small, big, None, small, big, small]
        n = len(payloads)
        batch = pa.RecordBatch.from_pydict({
            "url": [f"https://p{i}.example/x" for i in range(n)],
            "warc_ts": pa.array([dt.datetime(2025, 3, 9, 1, 30)] * n, pa.timestamp("us", tz="UTC")),
            "html": pa.array(payloads, pa.binary()),
            "lang": ["en"] * n,
        })

        def run(kernel, b):
            return list(kernel(iter([b])))

        (p1,) = run(extraction.make_extract_kernel(
            "pixelocr", "minimal", 262_144, defer_over=len(small)), batch)
        assert p1.schema == extraction.DEFERRED_ARROW
        assert calls == [small, None, small, small]
        deferred = pc.is_valid(p1.column("deferred_html"))
        assert p1.filter(deferred).column("status").to_pylist() == ["deferred"] * 2

        # the shuffle hands pass 2 warc_ts in the session time zone
        zone = pa.timestamp("us", tz="America/New_York")
        shuffled = p1.set_column(1, pa.field("warc_ts", zone), p1.column("warc_ts").cast(zone))
        calls.clear()
        forwarded, finished = run(
            extraction.make_extract_kernel("pixelocr", "minimal", 262_144), shuffled)
        assert calls == [big, big]
        names = extraction.EXTRACTED_ARROW.names
        assert forwarded.equals(shuffled.filter(pc.invert(deferred)).select(names))
        assert finished.schema == forwarded.schema
        (off,) = run(extraction.make_extract_kernel("pixelocr", "minimal", 262_144), batch)
        want = off.filter(deferred)
        for col in ("url", "extracted_text", "status", "n_bytes", "chars_out", "spans"):
            assert finished.column(col).equals(want.column(col)), col


class TestEnsureWorkersCanImport:
    """The package zip is built from ``jobs/package.py`` when the repo is on
    disk; only a missing ``jobs`` package is skipped, never a real error."""

    class _Spark:
        def __init__(self):
            self.added = []
            self.sparkContext = self

        def addPyFile(self, path):  # noqa: N802 — SparkContext's name
            self.added.append(path)

    def test_missing_jobs_package_is_skipped(self, monkeypatch):
        import sys

        from activestorage_ocr_spark.sources import session

        monkeypatch.setitem(sys.modules, "jobs.package", None)  # as if not on disk
        spark = self._Spark()
        session.ensure_workers_can_import(spark)
        assert spark.added == []

    def test_build_failure_surfaces(self, monkeypatch):
        import jobs.package

        from activestorage_ocr_spark.sources import session

        def broken_build():
            raise OSError("disk full")

        monkeypatch.setattr(jobs.package, "build", broken_build)
        with pytest.raises(OSError, match="disk full"):
            session.ensure_workers_can_import(self._Spark())

    def test_memo_is_per_context_not_per_id(self, monkeypatch):
        # CPython hands a freed object's id to the next object of its size:
        # a memo keyed on id() would vouch for a context it never saw
        import types

        import jobs.package

        from activestorage_ocr_spark.sources import session

        monkeypatch.setattr(jobs.package, "build", lambda: "pkg.zip")

        class Context:  # no reference cycle: freed as soon as it is dropped
            def __init__(self):
                self.added = []

            def addPyFile(self, path):  # noqa: N802 — SparkContext's name
                self.added.append(path)

        for _ in range(5):
            sc = Context()
            spark = types.SimpleNamespace(sparkContext=sc)
            session.ensure_workers_can_import(spark)
            session.ensure_workers_can_import(spark)  # once per context
            assert sc.added == ["pkg.zip"]
            del spark, sc
