"""Pages-table reader/writer facade (SURVEY.md §2.1 S1/S4).

At production scale the input is a salted, url-hash-bucketed **Iceberg** table
(north rule); this sandbox ships no Iceberg jars, so the facade checks once
per SparkContext whether the ``iceberg`` source resolves
(`iceberg_available`) and otherwise reads and writes parquet with identical
semantics (SURVEY.md §7.1 M4: "parquet + manifest fallback — same commit
semantics"). Readers push column pruning and partition predicates down
either way.
"""

from __future__ import annotations

import weakref

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def _looks_like_table_ident(source: str) -> bool:
    import os

    if "/" in source or "\\" in source or source.startswith("file:"):
        return False
    # a bare relative file/dir name is a path, not a catalog identifier
    if source.endswith((".parquet", ".orc")) or os.path.exists(source):
        return False
    return True


_ICEBERG: weakref.WeakKeyDictionary[SparkContext, bool] = weakref.WeakKeyDictionary()


def iceberg_available(spark: SparkSession) -> bool:
    """Whether the ``iceberg`` data source resolves in this SparkContext;
    looked up once per context. Only a missing source counts as "no"; any
    other lookup failure (a broken Iceberg install) raises."""
    sc = spark.sparkContext
    if sc not in _ICEBERG:
        try:
            sc._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "iceberg", spark._jsparkSession.sessionState().conf()
            )
            _ICEBERG[sc] = True
        except Py4JJavaError as e:
            err = e.java_exception
            if not (
                is_instance_of(sc._gateway, err, "org.apache.spark.SparkThrowable")
                and err.getCondition() == "DATA_SOURCE_NOT_FOUND"
            ):
                raise
            _ICEBERG[sc] = False
    return _ICEBERG[sc]


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read a pages table from an Iceberg table identifier or a parquet path.
    Without Iceberg, an identifier resolves through the session catalog and
    a path reads as parquet, with no Iceberg attempt."""
    if iceberg_available(spark):
        try:
            return spark.read.format("iceberg").load(source)
        except Exception:
            # not an Iceberg table: a catalog table of another format, or a
            # plain parquet dir
            pass
    if _looks_like_table_ident(source):
        return spark.table(source)
    return spark.read.parquet(source)


#: scan tasks per core that `read_pages_tuned` asks for
TASKS_PER_CORE = 3


def read_pages_tuned(spark: SparkSession, source: str) -> DataFrame:
    """Scan tuned for the CPU-bound extraction stage.

    Parquet-optimal split sizing (128 MB) assumes scan-bound work; the
    extraction kernel spends ~ms of CPU per KB of payload, so a 128 MB task
    is minutes of single-core decode — stragglers and idle cores at any
    cluster size whose core count exceeds input_bytes/128MB. Here we raise
    ``spark.sql.files.minPartitionNum`` to ~``TASKS_PER_CORE`` tasks per
    core so the map stage fills the cluster regardless of how few files the
    upstream writer produced.

    Session-conf scope note: split planning reads the conf at ACTION time
    (the scan is lazy), so the setting cannot be save/restored around this
    call. minPartitionNum is chosen precisely because leaking it is benign:
    it is proportional (split counts scale with each input's size, floored
    at row-group granularity), unlike an absolute maxPartitionBytes floor
    which would shred every later scan in the session into fixed tiny
    splits."""
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.minPartitionNum", str(cores * TASKS_PER_CORE))
    return read_pages(spark, source)


def read_pages_pruned(
    spark: SparkSession,
    source: str,
    *,
    since=None,
    until=None,
    langs: list[str] | None = None,
) -> DataFrame:
    """Scan with pushable predicates: `warc_ts` range and `lang` membership
    push into the parquet/Iceberg scan (P3's size predicate cannot — payload
    length is not a column statistic — so the size gate stays in the kernel
    per the reference's order of checks)."""
    df = read_pages(spark, source)
    if since is not None:
        df = df.filter(F.col("warc_ts") >= F.lit(since))
    if until is not None:
        df = df.filter(F.col("warc_ts") < F.lit(until))
    if langs:
        df = df.filter(F.col("lang").isin(langs))
    return df


def write_extracted(df: DataFrame, target: str, mode: str = "append") -> None:
    """Write the typed extraction output. Iceberg `writeTo(...).append()` when
    Iceberg is available and the target is a table identifier (its errors
    surface); a parquet path otherwise."""
    if _looks_like_table_ident(target) and iceberg_available(df.sparkSession):
        df.writeTo(target).append()
        return
    df.write.mode(mode).parquet(target)
