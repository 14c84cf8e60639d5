"""Durable curation job (`operators/curation.py`): gates + global dedup +
resumable per-partition commits, exactly-once under crash/resume splits."""

import pyspark.sql.functions as F
import pytest

from activestorage_ocr_spark.operators import curation

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


class TestFlags:
    def test_reject_reasons_and_keepers(self, spark, docs):
        # inject an exact duplicate pair and a garbage-short doc
        extra = spark.createDataFrame(
            [
                (9_000_001, "dup text body with several plain words here", "en"),
                (9_000_002, "dup text body with several plain words here", "en"),
                (9_000_003, "x", "en"),
            ],
            "doc_id long, text string, lang string",
        )
        flagged = curation.curation_flags(
            docs.select("doc_id", "text", "lang").unionByName(extra)
        )
        rows = {r.doc_id: r for r in flagged.collect()}
        assert rows[9_000_001].reject_reason is None
        assert rows[9_000_002].reject_reason == curation.REJECT_DUP
        assert rows[9_000_003].reject_reason == curation.REJECT_SHORT
        # single scan, one window shuffle, no joins
        plan = flagged._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Join" not in final
        assert final.count("Window") == 1

    def test_lang_gate(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog again and again", "en")],
            "doc_id long, text string, lang string",
        )
        flagged = curation.curation_flags(df, keep_langs=("deu",))
        assert flagged.collect()[0].reject_reason == curation.REJECT_LANG


class TestDurableJob:
    def test_end_to_end_accounting(self, spark, docs, tmp_path):
        out = str(tmp_path / "cur")
        s = curation.run_curation_job(spark, docs, out, run_id="c1", n_parts=8)
        assert s["parts_done"] >= 1 and s["parts_skipped"] == 0
        assert s["n_rows"] == docs.count()
        curated = curation.read_curated(spark, out)
        rejected = curation.read_rejected(spark, out)
        assert curated.count() == s["n_curated"]
        assert curated.count() + rejected.count() == s["n_rows"]
        assert curated.filter(F.col("reject_reason").isNotNull()).count() == 0
        # resume over a complete output is a no-op
        s2 = curation.run_curation_job(spark, docs, out, run_id="c2", n_parts=8)
        assert s2["parts_done"] == 0 and s2["n_rows"] == 0

    def test_crash_resume_exactly_once(self, spark, docs, tmp_path):
        out = str(tmp_path / "cur")
        # first run commits only half the parts (simulated crash)
        s1 = curation.run_curation_job(
            spark, docs, out, run_id="c1", n_parts=8, only_parts=[0, 1, 2, 3]
        )
        s2 = curation.run_curation_job(spark, docs, out, run_id="c2", n_parts=8)
        assert s1["n_rows"] + s2["n_rows"] == docs.count()
        got = spark.read.parquet(f"{out}/data")
        assert got.count() == docs.count()
        assert got.select("doc_id").distinct().count() == docs.count()

    def test_dedup_decision_stable_across_resume_split(self, spark, tmp_path):
        # a duplicate pair whose members hash into DIFFERENT part_keys must
        # resolve to the same keeper whether committed in one run or two
        body = "identical body text with plenty of ordinary words to pass gates"
        pairs = [(i, body + str(i % 3), "en") for i in range(30)]
        df = spark.createDataFrame(pairs, "doc_id long, text string, lang string")
        outs = []
        for split in (None, [0, 1]):
            out = str(tmp_path / f"cur_{'one' if split is None else 'two'}")
            if split is None:
                curation.run_curation_job(spark, df, out, run_id="a", n_parts=4)
            else:
                curation.run_curation_job(
                    spark, df, out, run_id="a", n_parts=4, only_parts=split
                )
                curation.run_curation_job(spark, df, out, run_id="b", n_parts=4)
            kept = {
                r.doc_id
                for r in curation.read_curated(spark, out).collect()
            }
            outs.append(kept)
        assert outs[0] == outs[1]
        # exactly one keeper per distinct body
        assert len(outs[0]) == 3


class TestFullPipeline:
    def test_warc_to_extraction_to_curation(self, spark, tmp_path):
        # the complete raw-crawl path: .warc.gz -> pages -> durable
        # extraction -> durable curation, both stages resumable
        from activestorage_ocr_spark.operators.lineage import (
            read_output, run_extraction_job,
        )
        from activestorage_ocr_spark.sources import warc

        body = (
            b"<html><body><p>A full paragraph of ordinary readable prose "
            b"with enough words to clear every curation gate easily.</p>"
            b"</body></html>"
        )
        recs = [
            {"url": f"http://p.example/{i}", "date": "2023-05-01T00:00:00Z",
             "html": body if i % 3 else body.replace(b"full", b"second")}
            for i in range(12)
        ]
        paths = [warc.write_warc(str(tmp_path / "c.warc.gz"), recs)]
        pages = warc.to_pages(warc.read_warc(spark, paths))
        ex_out = str(tmp_path / "extracted")
        s1 = run_extraction_job(spark, pages, ex_out, run_id="e1", n_parts=4)
        assert s1["n_rows"] == 12
        extracted = read_output(spark, ex_out)
        cur_out = str(tmp_path / "curated")
        s2 = curation.run_curation_job(
            spark, extracted, cur_out, run_id="c1", n_parts=4,
            id_col="url", text_col="extracted_text",
        )
        assert s2["n_rows"] == 12
        curated = curation.read_curated(spark, cur_out)
        rejected = curation.read_rejected(spark, cur_out)
        # two distinct texts -> two keepers; the other 10 are duplicates
        assert curated.count() == 2
        assert rejected.count() == 10
        reasons = {r.reject_reason for r in rejected.collect()}
        assert reasons == {curation.REJECT_DUP}


class TestReadRejected:
    def _write(self, spark, out, outcomes):
        rows = [(i, f"text {i}", o, i % 2) for i, o in enumerate(outcomes)]
        df = spark.createDataFrame(rows, "doc_id long, text string, outcome string, part_key int")
        df.write.partitionBy("outcome", "part_key").parquet(f"{out}/data")

    def test_missing_or_empty_rejected_dir_reads_as_empty(self, spark, tmp_path):
        out = str(tmp_path / "cur")
        self._write(spark, out, ["curated", "curated"])
        assert curation.read_rejected(spark, out).count() == 0
        (tmp_path / "cur" / "data" / "outcome=rejected").mkdir()
        rejected = curation.read_rejected(spark, out)
        assert rejected.count() == 0
        assert rejected.columns == curation.read_curated(spark, out).columns

    def test_unreadable_rejected_part_surfaces(self, spark, tmp_path):
        out = str(tmp_path / "cur")
        self._write(spark, out, ["curated"])
        bad = tmp_path / "cur" / "data" / "outcome=rejected" / "part_key=0"
        bad.mkdir(parents=True)
        (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(Exception, match="(?i)parquet"):
            curation.read_rejected(spark, out).collect()
