"""SparkSession construction with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB target (SURVEY.md §4.2), applied identically in
tests/bench so measured plans match shipped plans:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing);
* Arrow execution on, ``maxRecordsPerBatch`` bounded (1024) because page rows
  can be MB-sized; the kernel additionally re-slices batches to a byte budget
  (KERNEL_SLICE_BYTES), so the record cap is a first-line bound, not the only
  memory guard;
* session timezone pinned UTC (DuckDB oracle comparison; pyspark guide
  pitfall);
* shuffle partitions sized to cores for local runs — on a real cluster this
  is set to ~2-3x total cores via spark-submit conf.

The worker side of the environment lives here too: the package zip shipped
to Python workers (`ensure_workers_can_import`), the zip import-cache guard
every worker-side function installs first (`install_zip_cache_guard`,
`zip_guarded`), and `map_rows`, the one Arrow kernel behind every row-wise
operator. The extraction kernel (`operators/extraction.py`) is the only
other ``mapInArrow`` in the package.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

#: repo root (the package's parent) — exported to Python workers below
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: ``spark.sql.execution.arrow.maxRecordsPerBatch``: page rows can be MB-sized
ARROW_MAX_RECORDS = 1024

#: most rows in one Arrow batch that `map_rows` yields
ROWS_PER_BATCH = 512

#: SparkContexts whose Python workers can import the package. Weak, so a
#: stopped context's entry goes with it and never vouches for a new one.
_IMPORTABLE: weakref.WeakSet[SparkContext] = weakref.WeakSet()

#: the interpreter's own ``zipimporter.invalidate_caches``
_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) taken just before its last read
_ZIP_STAMPS: dict[str, tuple[int, int]] = {}


def _zip_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since its last read.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``pyspark/worker_util.py:setup_spark_files``), and on Python 3.11
    every zipimporter then re-parses its whole archive in pure Python. A
    PySpark 4.1 worker holds 17 importers over 4 archives (pyspark.zip, the
    spark-core jar, py4j and the package zip): 170-430 ms per task on a
    4-core host. Assumption: an archive that is rewritten in place changes
    its size or mtime. A failed stat falls through to the stock method,
    which drops the archive's file table."""
    stamp = _zip_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        # share the table another importer of this archive already read
        self._files = files
        return
    _STOCK_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _ZIP_STAMPS[self.archive] = stamp
    else:
        _ZIP_STAMPS.pop(self.archive, None)


def install_zip_cache_guard() -> None:
    """Stat-guard zip import-cache invalidation in this process. Idempotent
    and cheap, so every kernel calls it on entry; from a worker's second
    task on, no task re-reads an unchanged archive."""
    if zipimport.zipimporter.invalidate_caches is not _guarded_invalidate_caches:
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches


def zip_guarded(fn: Callable) -> Callable:
    """``fn`` installing the zip guard before it runs: the wrapper for a
    function Spark calls in a Python worker (a kernel, a group-state
    function)."""

    def run(*args):
        install_zip_cache_guard()
        return fn(*args)

    return run


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package zip to Python workers via ``addPyFile``, once per
    SparkContext. Kernels are unpickled *by import* in the workers, so the
    package must be importable there even when the SparkSession was built
    elsewhere, from an arbitrary cwd. On clusters this is the
    ``--py-files`` zip; locally we build and add it on demand."""
    sc = spark.sparkContext
    if sc in _IMPORTABLE:
        return
    if _PKG_ROOT not in sys.path:
        sys.path.insert(0, _PKG_ROOT)
    try:
        from jobs.package import build  # noqa: PLC0415
    except ModuleNotFoundError as e:
        # no jobs/ on disk (an installed package): the workers import the
        # package the way this process did (PYTHONPATH, `build_session`)
        if e.name not in ("jobs", "jobs.package"):
            raise
    else:
        sc.addPyFile(build())
    _IMPORTABLE.add(sc)


def _rows_kernel(rows: Callable[..., Iterable[dict]], schema: pa.Schema):
    """The `map_rows` kernel: ``rows(*values)`` per input row, its output
    dicts re-batched by ``ROWS_PER_BATCH``."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out: list[dict[str, Any]] = []
        for batch in batches:
            for values in zip(*(col.to_pylist() for col in batch.columns)):
                for row in rows(*values):
                    out.append(row)
                    if len(out) == ROWS_PER_BATCH:
                        yield pa.RecordBatch.from_pylist(out, schema=schema)
                        out = []
        if out:
            yield pa.RecordBatch.from_pylist(out, schema=schema)

    return zip_guarded(kernel)


def map_rows(df: DataFrame, rows: Callable[..., Iterable[dict]], schema: pa.Schema) -> DataFrame:
    """Run a row function over ``df`` in Python workers: ``rows(*values)``
    is called once per input row, with the values in ``df``'s column order,
    and returns the output rows as dicts keyed by ``schema``'s field names —
    none, one or many. Rows stream: a worker holds one input Arrow batch
    and at most ``ROWS_PER_BATCH`` output rows. The Spark schema is
    ``schema``'s, so each output is typed once, in Arrow."""
    ensure_workers_can_import(df.sparkSession)
    return df.mapInArrow(_rows_kernel(rows, schema), from_arrow_schema(schema))


def build_session(
    master: str = "local[*]",
    app_name: str = "activestorage-ocr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers unpickle the Arrow kernels by importing this package, so
    # it must be on the *worker* PYTHONPATH even when the driver runs from
    # another cwd. Local-mode workers inherit the driver environment (set
    # before the JVM starts); on a real cluster `--py-files
    # dist/activestorage_ocr_spark.zip` (jobs/package.py) does this instead.
    pypath = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_ROOT}{os.pathsep}{pypath}" if pypath else _PKG_ROOT

    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> leave for AQE to coalesce
        shuffle_partitions = 0
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # binary page rows are MB-scale and zstd compresses them ~7x: default
        # 128 MB *compressed* splits give far too few scan tasks for the
        # CPU-heavy extraction stage; 4 MB keeps all cores fed
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
