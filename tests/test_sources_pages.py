"""Reader/writer facade tests (S1/S4): parquet fallback path + pushdown."""

import datetime as dt

import pyspark.sql.functions as F

from activestorage_ocr_spark.sources import pages as src


class TestPagesFacade:
    def test_read_pages_parquet_fallback(self, spark, corpus_dir_200):
        df = src.read_pages(spark, f"{corpus_dir_200}/pages.parquet")
        assert df.count() == 200
        assert set(src.PAGES_COLUMNS) <= set(df.columns)

    def test_read_pages_skips_iceberg_when_absent(self, spark, corpus_dir_200, monkeypatch):
        # no Iceberg jars: a parquet path reads as parquet without a failed
        # format("iceberg") attempt, and an identifier through spark.table
        from pyspark.sql.readwriter import DataFrameReader

        assert not src.iceberg_available(spark)
        formats = []
        real = DataFrameReader.format

        def counting(self, source):
            formats.append(source)
            return real(self, source)

        monkeypatch.setattr(DataFrameReader, "format", counting)
        path = f"{corpus_dir_200}/pages.parquet"
        got = src.read_pages(spark, path)
        want = spark.read.parquet(path)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        want.createOrReplaceTempView("pages_by_ident")
        try:
            assert src.read_pages(spark, "pages_by_ident").count() == 200
        finally:
            spark.catalog.dropTempView("pages_by_ident")
        assert "iceberg" not in formats

    def test_pruned_reader_pushes_filters(self, spark, corpus_dir_200):
        df = src.read_pages_pruned(
            spark,
            f"{corpus_dir_200}/pages.parquet",
            since=dt.datetime(2025, 1, 1),
            langs=["eng"],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(warc_ts), IsNotNull(lang)" in plan
        assert df.count() > 0
        assert df.filter(F.col("lang") != "eng").count() == 0

    def test_write_extracted_parquet(self, spark, corpus_dir_200, tmp_path):
        df = src.read_pages(spark, f"{corpus_dir_200}/pages.parquet").select("url", "lang")
        target = str(tmp_path / "sink")
        src.write_extracted(df, target)
        assert spark.read.parquet(target).count() == 200


class TestBucketedLayout:
    def test_bucketed_join_has_zero_exchanges(self, spark, tmp_path):
        # co-located join: both sides bucketed by url with the same bucket
        # count -> the equi-join needs NO shuffle at all (PLANS.md row)
        import pyspark.sql.functions as F

        from activestorage_ocr_spark.sources import bucketing as bk

        a = spark.range(2000).select(
            F.concat(F.lit("https://s"), F.col("id")).alias("url"),
            (F.col("id") * 2).alias("x"),
        )
        b = spark.range(2000).select(
            F.concat(F.lit("https://s"), F.col("id")).alias("url"),
            (F.col("id") * 3).alias("y"),
        )
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bk.write_bucketed(a, "bkt_a", n_buckets=8)
            bk.write_bucketed(b, "bkt_b", n_buckets=8)
            j = bk.read_table(spark, "bkt_a").join(bk.read_table(spark, "bkt_b"), "url")
            assert j.count() == 2000
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # and the unbucketed control DOES shuffle
            ju = a.join(b, "url")
            ju.count()
            plan_u = ju._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan_u
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")
