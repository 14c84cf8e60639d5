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


def _kernel_runs():
    from activestorage_ocr_spark.operators import extraction, multimodal
    from activestorage_ocr_spark.sources import warc
    from activestorage_ocr_spark.streaming import ingest

    return {
        "extract": lambda: extraction.make_extract_kernel("pixelocr", "minimal", 1 << 20)(iter([])),
        "finish": lambda: extraction.make_finish_kernel("pixelocr", 1 << 20)(iter([])),
        "warc": lambda: warc._make_warc_kernel(1 << 20, 16)(iter([])),
        "image_meta": lambda: multimodal._meta_kernel(iter([])),
        "audio_meta": lambda: multimodal._audio_kernel(iter([])),
        "video_meta": lambda: multimodal._video_meta_kernel(iter([])),
        "video_frames": lambda: multimodal._make_frame_kernel(1000)(iter([])),
        "site_sessions": lambda: ingest._make_session_fn(60_000)(("h",), iter([]), _FreshState()),
    }


@pytest.mark.parametrize("name", sorted(_kernel_runs()))
def test_every_kernel_installs_the_guard(name, reads):
    assert zipimport.zipimporter.invalidate_caches is session._STOCK_INVALIDATE
    assert list(_kernel_runs()[name]()) == []
    assert zipimport.zipimporter.invalidate_caches is session._guarded_invalidate_caches


def test_first_run_reads_no_manifest(tmp_path):
    from activestorage_ocr_spark.operators.lineage import completed_part_set

    # no manifest yet: answered without a session, so without a Spark job
    assert completed_part_set(None, str(tmp_path)) == set()
