"""Stat-guarded zip import-cache invalidation (sources/session.py).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
and the stock ``zipimporter.invalidate_caches`` re-reads its whole archive
each time. The guard re-reads only archives whose (mtime, size) changed.
None of these tests start Spark: the kernels tolerate ``TaskContext.get()
is None`` and run in-process on an empty batch iterator."""

import importlib.util
import os
import zipfile
import zipimport

import pyarrow as pa
import pytest

from activestorage_ocr_spark.sources import session


@pytest.fixture
def reads():
    """Stock zipimporter, a private directory cache and a log of every
    ``_read_directory`` call; afterwards the class must be as it was."""
    before = zipimport.zipimporter.__dict__["invalidate_caches"]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(zipimport.zipimporter, "invalidate_caches", session._STOCK_INVALIDATE)
        mp.setattr(zipimport, "_zip_directory_cache", {})
        mp.setattr(session, "_ZIP_STAMPS", {})
        log = []
        real = zipimport._read_directory

        def counting(archive):
            log.append(archive)
            return real(archive)

        mp.setattr(zipimport, "_read_directory", counting)
        yield log
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is before


def _write_zip(path, value, pad=0):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", f"VALUE = {value}\n" + "#" * pad + "\n")


def _load(importer):
    spec = importer.find_spec("zmod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guard_rereads_only_changed_archives(tmp_path, reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, 1)
    imp = zipimport.zipimporter(str(archive))
    other = zipimport.zipimporter(str(archive))
    assert _load(imp).VALUE == 1

    session.install_zip_cache_guard()
    session.install_zip_cache_guard()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is session._guarded_invalidate_caches

    # the first guarded call reads once to record the archive's stamp ...
    reads.clear()
    imp.invalidate_caches()
    assert reads == [str(archive)]
    # ... after which an unchanged archive is never re-read, by any importer
    reads.clear()
    for _ in range(5):
        imp.invalidate_caches()
        other.invalidate_caches()
    assert reads == []
    assert _load(other).VALUE == 1

    # rewritten in place: new size and mtime -> re-read, new module imports
    st = os.stat(archive)
    _write_zip(archive, 2, pad=64)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert reads == [str(archive)]
    assert _load(imp).VALUE == 2
    reads.clear()
    other.invalidate_caches()
    assert reads == []
    assert _load(other).VALUE == 2

    # deleted: the stock fallback drops the file table without raising
    os.remove(archive)
    imp.invalidate_caches()
    assert str(archive) not in zipimport._zip_directory_cache
    assert str(archive) not in session._ZIP_STAMPS
    assert imp.find_spec("zmod") is None


class _FreshState:
    """GroupState of a key with no state and no timeout."""

    hasTimedOut = False
    exists = False


class _CapturingFrame:
    """Just enough of a DataFrame, and of its session, for an operator to
    build its `map_rows` plan; keeps the kernel handed to ``mapInArrow``."""

    def __init__(self):
        self.sparkSession = self
        self.sparkContext = self
        self.defaultParallelism = 1
        self.kernel = None

    def select(self, *cols):
        return self

    def repartition(self, n):
        return self

    def createDataFrame(self, data, schema):
        return self

    def mapInArrow(self, kernel, schema):
        self.kernel = kernel
        return self


def _operator_kernel(build):
    """The worker kernel an operator's plan runs, built without Spark."""
    frame = _CapturingFrame()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(session, "ensure_workers_can_import", lambda spark: None)
        build(frame)
    return frame.kernel


def _kernel_runs():
    from activestorage_ocr_spark.operators import extraction, multimodal
    from activestorage_ocr_spark.sources import warc
    from activestorage_ocr_spark.streaming import ingest

    def operator_run(build):
        return lambda: _operator_kernel(build)(iter([]))

    return {
        "extract": lambda: extraction.make_extract_kernel("pixelocr", "minimal", 1 << 20)(iter([])),
        "map_rows": lambda: session._rows_kernel(lambda *values: (), pa.schema([]))(iter([])),
        "warc": operator_run(lambda spark: warc.read_warc(spark, ["x.warc"])),
        "image_meta": operator_run(multimodal.image_metadata),
        "audio_meta": operator_run(multimodal.audio_metadata),
        "video_meta": operator_run(multimodal.video_metadata),
        "video_frames": operator_run(multimodal.video_frame_sample),
        "site_sessions": lambda: ingest._make_session_fn(60_000)(("h",), iter([]), _FreshState()),
    }


@pytest.mark.parametrize("name", sorted(_kernel_runs()))
def test_every_kernel_installs_the_guard(name, reads):
    assert zipimport.zipimporter.invalidate_caches is session._STOCK_INVALIDATE
    assert list(_kernel_runs()[name]()) == []
    assert zipimport.zipimporter.invalidate_caches is session._guarded_invalidate_caches


def test_map_rows_kernel_streams_bounded_batches(reads):
    # row i fans out to i output rows (row 0 to none); output batches hold
    # at most ROWS_PER_BATCH rows, filled across input batches
    schema = pa.schema([("i", pa.int64()), ("j", pa.int64())])

    def rows(i):
        return ({"i": i, "j": j} for j in range(i))

    batches = [pa.record_batch([pa.array([0, 300])], names=["i"]),
               pa.record_batch([pa.array([400])], names=["i"])]
    out = list(session._rows_kernel(rows, schema)(iter(batches)))
    assert [b.num_rows for b in out] == [session.ROWS_PER_BATCH, 700 - session.ROWS_PER_BATCH]
    assert all(b.schema == schema for b in out)
    assert pa.Table.from_batches(out).to_pylist() == [
        {"i": i, "j": j} for i in (300, 400) for j in range(i)
    ]


#: the only modules that may hand Python code to Spark's Arrow boundary or
#: touch the worker's import machinery; every other operator is a row
#: function run by `session.map_rows`
_BOUNDARY_MODULES = ("operators/extraction.py", "sources/session.py")


def test_only_two_modules_own_the_python_boundary():
    import ast
    import pathlib

    import activestorage_ocr_spark

    pkg = pathlib.Path(activestorage_ocr_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in _BOUNDARY_MODULES:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            if name in ("mapInArrow", "install_zip_cache_guard"):
                offenders.append(f"{rel}:{node.lineno} {name}")
    assert offenders == []


def test_first_run_reads_no_manifest(tmp_path):
    from activestorage_ocr_spark.operators.lineage import completed_part_set

    # no manifest yet: answered without a session, so without a Spark job
    assert completed_part_set(None, str(tmp_path)) == set()
