"""Engine spans, the single-process baseline, the raw-multiprocessing
ceiling, and process memory readings, all from outside the package.

Spans wrap the engine's public functions in this process only, while the
single-process baseline runs; nothing inside the package is instrumented.
A span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: span name -> (module, function) of the engine entry points it wraps
ENGINE_SPANS = {
    "engine.sniff_s": ("activestorage_ocr_spark.engine.mime", "sniff_mime"),
    "engine.html_s": ("activestorage_ocr_spark.engine.htmlx", "extract_main_content"),
    "engine.pdf_parse_s": ("activestorage_ocr_spark.engine.pdfx", "parse_objects"),
    "engine.pdf_text_s": ("activestorage_ocr_spark.engine.pdfx", "extract_stream_text"),
    "engine.pdf_image_decode_s": ("activestorage_ocr_spark.engine.pdfx", "decode_image_xobject"),
    "engine.image_decode_s": ("activestorage_ocr_spark.engine.rasters", "decode_image"),
    "engine.preprocess_s": ("activestorage_ocr_spark.engine.preprocess", "run_pipeline"),
    "engine.ocr_s": ("activestorage_ocr_spark.engine.rasters", "ocr_decode_image"),
    "engine.confidence_s": ("activestorage_ocr_spark.engine.confidence", "calculate_confidence"),
}
#: self time of extract_document outside every wrapped function
ROOT_SPAN = "engine.other_s"


class SpanRecorder:
    """In-memory spans (name, start, end, parent, run id); self time is
    accumulated as spans close."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[tuple] = []
        self.self_s: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []  # [index, name, start, child seconds]

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1][0] if self._stack else -1
        frame = [len(self.spans), name, time.perf_counter(), 0.0]
        self.spans.append(None)
        self._stack.append(frame)
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            dur = end - frame[2]
            self.self_s[name] += dur - frame[3]
            if self._stack:
                self._stack[-1][3] += dur
            self.spans[frame[0]] = (name, frame[2], end, parent, self.run_id)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, run_id in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "run_id": run_id}) + "\n")


@contextmanager
def engine_spans(recorder: SpanRecorder):
    """Replace each ENGINE_SPANS function, in every package module that
    holds it (``from x import f`` copies included), with a span wrapper."""
    patched = []
    for name, (mod_name, fn_name) in ENGINE_SPANS.items():
        fn = getattr(sys.modules[mod_name], fn_name)
        wrapper = recorder.wrap(name, fn)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("activestorage_ocr_spark") and \
                    getattr(mod, fn_name, None) is fn:
                patched.append((mod, fn_name, fn))
                setattr(mod, fn_name, wrapper)
    try:
        yield
    finally:
        for mod, fn_name, fn in patched:
            setattr(mod, fn_name, fn)


def single_process(docs: list[tuple], recorder: SpanRecorder | None = None) -> float:
    """Seconds for ``extract_document`` over ``docs`` ((payload, kwargs)
    pairs) in this process; with a recorder, under engine spans."""
    from activestorage_ocr_spark.engine import extract

    if recorder is None:
        t0 = time.perf_counter()
        for payload, kw in docs:
            extract.extract_document(payload, **kw)
        return time.perf_counter() - t0
    with engine_spans(recorder):
        # extract_document is looked up after patching, as callers do
        doc = extract.extract_document
        t0 = time.perf_counter()
        for payload, kw in docs:
            with recorder.span(ROOT_SPAN):
                doc(payload, **kw)
        return time.perf_counter() - t0


# -- raw multiprocessing ceiling (no framework) --------------------------------

_CEILING_DOCS: list[tuple] = []


def _ceiling_init(docs: list[tuple]) -> None:
    _CEILING_DOCS[:] = docs


def _ceiling_work(span: tuple[int, int]) -> float:
    from activestorage_ocr_spark.engine.extract import extract_document

    t0 = time.perf_counter()
    for payload, kw in _CEILING_DOCS[span[0]:span[1]]:
        extract_document(payload, **kw)
    return time.perf_counter() - t0


def ceiling_docs_per_s(docs: list[tuple], procs: int, chunk: int = 200) -> float:
    """The same kernel over the same docs through ``procs`` spawned worker
    processes: the framework-free throughput this host can reach."""
    import multiprocessing

    jobs = [(lo, min(lo + chunk, len(docs))) for lo in range(0, len(docs), chunk)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_ceiling_init, initargs=(docs,)) as pool:
        pool.map(_ceiling_work, jobs[:procs], chunksize=1)  # imports, lazy tables
        t0 = time.perf_counter()
        pool.map(_ceiling_work, jobs, chunksize=1)
        wall = time.perf_counter() - t0
    return len(docs) / wall


# -- process memory ------------------------------------------------------------


def children() -> dict[int, list[int]]:
    """Parent pid -> its child pids, for every process on the host."""
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(entry))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = children()
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(kind: str) -> float:
    """Largest VmHWM among this process's descendants of ``kind``:
    ``"python"`` for PySpark Python workers, ``"jvm"`` for the Spark JVM."""
    needle = "-m pyspark.daemon" if kind == "python" else "org.apache.spark.deploy.SparkSubmit"
    return max(
        (_vm_hwm_mb(p) for p in _descendants(os.getpid()) if needle in _cmdline(p)),
        default=0.0,
    )
