"""The extraction pipeline operator — the Spark mapping of the reference's
whole request path (SURVEY.md §3.1 "Spark equivalent"):

    scan (url, warc_ts, html, lang)
      -> size/byte-length skew binning + repartition        [one shuffle]
      -> mapInArrow(extract_kernel)                          [map-only]
      -> ok/quarantine split, lineage manifest, sinks

Physical-plan posture (SURVEY.md §4.2): exactly one shuffle (the skew
repartition, skippable for pre-bucketed inputs); the extraction itself is
map-only; Catalyst prunes the scan to the four needed columns because the
kernel is declared over an explicit projection.

Skew handling: a 50 MB page next to 2 KB pages makes task runtimes bimodal and
can blow Python-worker memory when many giants land in one Arrow batch. We
bucket rows by log2(byte length) and hash-repartition on (len_bin, salt) so
each task sees pages of one size class; inside the kernel, incoming Arrow
batches are re-sliced to a byte budget (zero-copy) before extraction.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.session import install_zip_cache_guard

SPANS_TYPE = "array<struct<start:bigint,end:bigint,kind:string>>"
STEPS_TYPE = "array<struct<name:string,time_ms:bigint>>"

#: Output schema of the extraction kernel. Timing fields are excluded from
#: byte-identity comparison (FIXTURES.md §2).
EXTRACTED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, mime string, "
    "extracted_text string, confidence double, engine string, status string, "
    f"error_code string, warnings array<string>, spans {SPANS_TYPE}, "
    "n_bytes bigint, chars_out bigint, processing_time_ms bigint, "
    f"preset string, step_timings {STEPS_TYPE}, partition_id int"
)

OK_STATUSES = ("ok", "empty")

#: Pass-1 output of single-scan skew routing: EXTRACTED_SCHEMA plus the raw
#: payload of rows deferred to pass 2 (null for finished rows).
DEFERRED_SCHEMA = EXTRACTED_SCHEMA + ", deferred_html binary"

#: kernel re-slices incoming Arrow batches so one slice never exceeds this
#: many payload bytes (giant-page memory guard; SURVEY.md §7.3).
KERNEL_SLICE_BYTES = 64 * 1024 * 1024

_PYFILES_SESSIONS: set[int] = set()

#: ISO-639-1 -> tesseract-style codes, so a crawl's 2-letter lang column
#: maps onto the engine's language packs.
_ISO_LANG = {
    "en": "eng", "de": "deu", "fr": "fra", "es": "spa", "it": "ita",
    "pt": "por", "nl": "nld", "ja": "jpn", "zh": "chi_sim", "ko": "kor",
    "ar": "ara", "ru": "rus",
}


def _lang_request(lang: str | None) -> str | None:
    """Map a crawl's lang ANNOTATION onto a language request. Unlike the
    explicit `languages=` API parameter (strictly validated, INVALID_REQUEST
    on junk), an unknown annotation ('und', mis-tagged rows) falls back to
    the job default — a metadata column must never quarantine a document."""
    if not lang:
        return None
    from ..engine.rasters import SUPPORTED_LANGUAGES

    mapped = _ISO_LANG.get(lang.lower(), lang)
    return mapped if mapped in SUPPORTED_LANGUAGES else None


def ensure_workers_can_import(spark) -> None:
    """Ship the package zip to Python workers via ``addPyFile`` (idempotent
    per session). Kernels are unpickled *by import* in the workers, so the
    package must be importable there even when the driver session was built
    by an external harness from an arbitrary cwd. On clusters this is the
    ``--py-files`` zip; locally we build and add it on demand."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SESSIONS:
        return
    try:
        import sys

        sys.path.insert(0, _repo_root()) if _repo_root() not in sys.path else None
        from jobs.package import build  # noqa: PLC0415

        spark.sparkContext.addPyFile(build())
    except Exception:
        # best effort — PYTHONPATH (sources/session.py) usually covers it
        pass
    _PYFILES_SESSIONS.add(key)


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _arrow_output_schema(with_deferred: bool = False) -> pa.Schema:
    fields = _arrow_output_fields()
    if with_deferred:
        fields = fields + [pa.field("deferred_html", pa.binary())]
    return pa.schema(fields)


def _arrow_output_fields() -> list[pa.Field]:
    return [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("lang", pa.string()),
            pa.field("mime", pa.string()),
            pa.field("extracted_text", pa.string()),
            pa.field("confidence", pa.float64()),
            pa.field("engine", pa.string()),
            pa.field("status", pa.string()),
            pa.field("error_code", pa.string()),
            pa.field("warnings", pa.list_(pa.string())),
            pa.field(
                "spans",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("start", pa.int64()),
                            pa.field("end", pa.int64()),
                            pa.field("kind", pa.string()),
                        ]
                    )
                ),
            ),
            pa.field("n_bytes", pa.int64()),
            pa.field("chars_out", pa.int64()),
            pa.field("processing_time_ms", pa.int64()),
            pa.field("preset", pa.string()),
            pa.field(
                "step_timings",
                pa.list_(
                    pa.struct([pa.field("name", pa.string()), pa.field("time_ms", pa.int64())])
                ),
            ),
            pa.field("partition_id", pa.int32()),
        ]


def make_extract_kernel(
    engine: str,
    preset: str,
    max_bytes: int,
    defer_over: int | None = None,
    default_language: str | None = None,
    forced_languages: str | None = None,
    timeout_ms: int | None = None,
):
    """Build the mapInArrow kernel. All per-document work happens in
    `engine.extract.extract_document` — the same function the golden oracle
    runs, so byte-identity is structural (SURVEY.md §7.3). The heavy imports
    happen once per Python worker at first batch (model-warm-once analog,
    `rust/src/engines/ocrs.rs:30-62`).

    With ``defer_over`` set, payloads larger than that many bytes are NOT
    extracted here: the row is emitted with ``status='deferred'`` and the raw
    payload in a ``deferred_html`` column, to be finished by
    `make_finish_kernel` after a redistribution exchange (single-scan skew
    routing — see `extract_pages`)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        install_zip_cache_guard()
        # per-worker init (amortized across batches)
        from pyspark import TaskContext

        from ..engine.extract import extract_document

        out_schema = _arrow_output_schema(with_deferred=defer_over is not None)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        for batch in batches:
            for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES):
                urls = sub.column("url").to_pylist()
                ts = sub.column("warc_ts")
                langs = sub.column("lang").to_pylist()
                payloads = sub.column("html").to_pylist()
                # P5 per-request preset override (`rust/src/server.rs:201-213`):
                # an optional `preset` input column overrides the job default
                if "preset" in sub.schema.names:
                    presets = [p or preset for p in sub.column("preset").to_pylist()]
                else:
                    presets = [preset] * len(urls)
                rows: dict[str, list[Any]] = {f.name: [] for f in out_schema}
                for u, lg, payload, row_preset in zip(urls, langs, payloads, presets):
                    if defer_over is not None and payload is not None and len(payload) > defer_over:
                        rows["url"].append(u)
                        rows["lang"].append(lg)
                        rows["mime"].append(None)
                        rows["extracted_text"].append(None)
                        rows["confidence"].append(None)
                        rows["engine"].append(engine)
                        rows["status"].append("deferred")
                        rows["error_code"].append(None)
                        rows["warnings"].append([])
                        rows["spans"].append([])
                        rows["n_bytes"].append(len(payload))
                        rows["chars_out"].append(0)
                        rows["processing_time_ms"].append(0)
                        rows["preset"].append(row_preset)
                        rows["step_timings"].append([])
                        rows["partition_id"].append(pid)
                        rows["deferred_html"].append(payload)
                        continue
                    r = extract_document(
                        payload, engine=engine, preset=row_preset,
                        max_bytes=max_bytes,
                        languages=forced_languages
                        or _lang_request(lg)
                        or default_language,
                        timeout_ms=timeout_ms,
                    )
                    rows["url"].append(u)
                    rows["lang"].append(lg)
                    rows["mime"].append(r["mime"])
                    rows["extracted_text"].append(r["extracted_text"])
                    rows["confidence"].append(r["confidence"])
                    rows["engine"].append(r["engine"])
                    rows["status"].append(r["status"])
                    rows["error_code"].append(r["error_code"])
                    rows["warnings"].append(r["warnings"])
                    rows["spans"].append(
                        [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]]
                    )
                    rows["n_bytes"].append(len(payload) if payload is not None else 0)
                    rows["chars_out"].append(len(r["extracted_text"]))
                    rows["processing_time_ms"].append(r["processing_time_ms"])
                    rows["preset"].append(r["preset"])
                    rows["step_timings"].append(
                        [{"name": n, "time_ms": t} for n, t in r["step_timings"]]
                    )
                    rows["partition_id"].append(pid)
                    if defer_over is not None:
                        rows["deferred_html"].append(None)
                arrays = []
                for f in out_schema:
                    if f.name == "warc_ts":
                        arrays.append(ts.cast(f.type))
                    else:
                        arrays.append(pa.array(rows[f.name], type=f.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return kernel


def make_finish_kernel(
    engine: str,
    max_bytes: int,
    default_language: str | None = None,
    forced_languages: str | None = None,
    timeout_ms: int | None = None,
):
    """Pass 2 of single-scan skew routing: finish rows deferred by
    `make_extract_kernel(defer_over=...)` after the redistribution exchange.

    Finished rows (``deferred_html`` null) pass through as zero-copy Arrow
    slices — no per-row Python touches them. Deferred rows run the same
    `extract_document` kernel on their raw payload. The per-row ``preset``
    resolved in pass 1 rides along in the ``preset`` output column."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        install_zip_cache_guard()
        import pyarrow.compute as pc
        from pyspark import TaskContext

        from ..engine.extract import extract_document

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        out_names = [f.name for f in _arrow_output_fields()]

        for batch in batches:
            for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES, payload_col="deferred_html"):
                mask = pc.is_valid(sub.column("deferred_html"))
                n_deferred = pc.sum(mask).as_py() or 0
                if n_deferred == 0:
                    yield sub.select(out_names)
                    continue
                finished = sub.filter(pc.invert(mask))
                if finished.num_rows:
                    yield finished.select(out_names)
                deferred = sub.filter(mask)
                # mirror the incoming Arrow types exactly (they round-tripped
                # through Spark's shuffle) so all yielded batches agree
                target = deferred.select(out_names).schema
                urls = deferred.column("url").to_pylist()
                ts = deferred.column("warc_ts")
                langs = deferred.column("lang").to_pylist()
                payloads = deferred.column("deferred_html").to_pylist()
                presets = deferred.column("preset").to_pylist()
                rows: dict[str, list[Any]] = {n: [] for n in out_names}
                for u, lg, payload, row_preset in zip(urls, langs, payloads, presets):
                    r = extract_document(
                        payload, engine=engine, preset=row_preset,
                        max_bytes=max_bytes,
                        languages=forced_languages
                        or _lang_request(lg)
                        or default_language,
                        timeout_ms=timeout_ms,
                    )
                    rows["url"].append(u)
                    rows["lang"].append(lg)
                    rows["mime"].append(r["mime"])
                    rows["extracted_text"].append(r["extracted_text"])
                    rows["confidence"].append(r["confidence"])
                    rows["engine"].append(r["engine"])
                    rows["status"].append(r["status"])
                    rows["error_code"].append(r["error_code"])
                    rows["warnings"].append(r["warnings"])
                    rows["spans"].append(
                        [{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]]
                    )
                    rows["n_bytes"].append(len(payload) if payload is not None else 0)
                    rows["chars_out"].append(len(r["extracted_text"]))
                    rows["processing_time_ms"].append(r["processing_time_ms"])
                    rows["preset"].append(r["preset"])
                    rows["step_timings"].append(
                        [{"name": n, "time_ms": t} for n, t in r["step_timings"]]
                    )
                    rows["partition_id"].append(pid)
                arrays = []
                for f in target:
                    if f.name == "warc_ts":
                        arrays.append(ts.cast(f.type))
                    else:
                        arrays.append(pa.array(rows[f.name], type=f.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=target)

    return kernel


def _slice_by_bytes(
    batch: pa.RecordBatch, budget: int, payload_col: str = "html"
) -> Iterator[pa.RecordBatch]:
    """Zero-copy re-slice of an Arrow batch so each slice's payload bytes stay
    under ``budget`` (giant-page guard). Null payloads cost zero budget."""
    if batch.num_rows == 0:
        return
    col = batch.column(batch.schema.get_field_index(payload_col))
    try:
        import pyarrow.compute as pc

        sizes = pc.binary_length(col).fill_null(0).to_numpy(zero_copy_only=False).astype("int64")
    except Exception:
        yield batch
        return
    start = 0
    acc = 0
    for i in range(batch.num_rows):
        acc += int(sizes[i])
        if acc > budget and i > start:
            yield batch.slice(start, i - start)
            start = i
            acc = int(sizes[i])
    if start < batch.num_rows:
        yield batch.slice(start, batch.num_rows - start)


def with_length_bins(df: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Byte-length-binned skew columns: ``len_bin`` = log2 bucket of payload
    size, ``salt`` = url-hash bucket (north rule: salted, url-hash-bucketed)."""
    return df.withColumn("len_bin", F.ceil(F.log2(F.length("html") + F.lit(2)))).withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    )


#: documents larger than this take the shuffled giant path (~p99 of a
#: Common-Crawl-style size distribution at our synthetic scale).
GIANT_BYTES = 64 * 1024


def extract_pages(
    df: DataFrame,
    *,
    engine: str | None = None,
    preset: str | None = None,
    max_bytes: int | None = None,
    default_language: str | None = None,
    languages: str | None = None,
    repartition: int | None = None,
    salt_buckets: int = 64,
    skew_handling: bool | str = "giants",
    giant_bytes: int = GIANT_BYTES,
    doc_timeout_ms: int | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a pages DataFrame.

    Input: (url, warc_ts, html, lang, ...). Output: EXTRACTED_SCHEMA. The
    explicit ``select`` keeps the scan pruned to 4 columns regardless of the
    input table's width.

    ``skew_handling``:

    * ``"giants"`` (default) — SINGLE-SCAN skew routing. Pass 1 maps the
      extraction kernel directly over scan partitions but *defers* rows above
      ``giant_bytes``: they pass through untouched with their raw payload in
      a side column. One hash exchange on ``url`` then spreads the deferred
      giants uniformly across the cluster (finished rows ride along as
      extracted text, not raw html), and pass 2 finishes the giants while
      zero-copy forwarding everything else. At 10^12-document scale this
      reads the table ONCE and shuffles extracted text (~10-20% of input)
      plus the ~1-2% giant tail — vs 2x full scans (the old fork-by-filter
      realization) or a 100% raw-payload shuffle (``"full"``). No task
      accumulates many giants; in-kernel Arrow batch re-slicing
      (KERNEL_SLICE_BYTES) guards worker memory in both passes.
    * ``"full"`` / ``True`` — byte-length-bin + salt repartition of every
      row (for inputs with pathological layout, e.g. sorted by size).
    * ``"off"`` / ``False`` — map directly over scan partitions.

    Exchange width: when ``repartition`` is not pinned, the hash exchange
    carries no explicit count — AQE sizes it to the data (coalescing tiny
    partitions, splitting skewed ones); per-document cost varies ~50x
    between payload kinds, so adaptive sizing beats any fixed multiple.

    If the input carries a ``preset`` column it overrides the job-level
    preset per row (P5, the reference's per-request ``?preprocess=`` query
    parameter).

    ``languages`` is the job-level FORCED request ('eng+deu', the
    reference's per-request multipart field applied to the whole batch,
    e.g. a language-targeted reprocessing run): when set, it is validated
    once on the driver and used for every row, overriding the per-row
    crawl ``lang`` annotation; when None, each row's annotation maps to a
    request and unknown annotations fall back to ``default_language``.
    """
    ensure_workers_can_import(df.sparkSession)
    # unset knobs resolve from env config ON THE DRIVER (configuration.rb /
    # main.rs clap-env analog, engine/config.py). Env is only read — and
    # only validated — when at least one knob was actually left unset:
    # explicit arguments must not be vetoed by a stale ASOS_OCR_* variable.
    if (
        engine is None or preset is None or max_bytes is None
        or default_language is None or doc_timeout_ms is None
    ):
        from ..engine.config import EngineConfig

        cfg = EngineConfig.from_env()
        engine = cfg.engine if engine is None else engine
        preset = cfg.preset if preset is None else preset
        max_bytes = cfg.max_bytes if max_bytes is None else max_bytes
        default_language = cfg.default_language if default_language is None else default_language
        # per-document wall budget (the reference's 30 s request timeout):
        # overruns quarantine with the stable TIMEOUT code instead of
        # straggling a task; 0 disables
        doc_timeout_ms = cfg.doc_timeout_ms if doc_timeout_ms is None else doc_timeout_ms
    if languages is not None:
        # fail fast on the driver — a bad forced request must not
        # quarantine an entire run row-by-row
        from ..engine.extract import _parse_languages

        _, err = _parse_languages(languages, engine)
        if err is not None:
            raise ValueError(err)
    cols = ["url", "warc_ts", "html", "lang"]
    if "preset" in df.columns:
        cols.append("preset")
    proj = df.select(*cols)
    kernel = make_extract_kernel(
        engine, preset, max_bytes,
        default_language=default_language, forced_languages=languages,
        timeout_ms=doc_timeout_ms,
    )
    mode = {True: "full", False: "off"}.get(skew_handling, skew_handling)

    def _repart(frame, *cols):
        # explicit width when the caller pinned one; otherwise hash-
        # repartition WITHOUT a count so AQE sizes the exchange to the data
        # (parallelism*4 fixed widths measured ~1s of pure scheduling
        # overhead on small inputs, and AQE splits skewed partitions at
        # scale anyway)
        if repartition:
            return frame.repartition(repartition, *cols)
        return frame.repartition(*cols)

    if mode == "off":
        return proj.mapInArrow(kernel, EXTRACTED_SCHEMA)
    if mode == "full":
        binned = (
            _repart(with_length_bins(proj, salt_buckets), "len_bin", "salt")
            .drop("len_bin", "salt")
        )
        return binned.mapInArrow(kernel, EXTRACTED_SCHEMA)
    if mode != "giants":
        raise ValueError(f"unknown skew_handling mode: {skew_handling!r}")

    # single scan: pass 1 extracts the small rows and defers giants (raw
    # payload in deferred_html); one url-hash exchange spreads the giant
    # tail; pass 2 finishes giants and zero-copy-forwards the rest. The
    # giant/normal decision is made per row inside the kernel, so NULL
    # payloads never hit three-valued filter logic.
    pass1_kernel = make_extract_kernel(
        engine, preset, max_bytes, defer_over=giant_bytes,
        default_language=default_language, forced_languages=languages,
        timeout_ms=doc_timeout_ms,
    )
    # r7 note (guide §4.1): two split alternatives were measured at sf1.0
    # and REJECTED — (a) filtering the exchange output into a JVM-only
    # finished branch + a Python giants branch runs pass 1 twice
    # (ReuseExchange does not fire across the deduplicated self-union:
    # 9.0s -> 18.2s), and (b) persisting pass 1 and shuffling only the
    # giants pays more to build/read the columnar cache of the wide output
    # than the forwarding it saves (9.0s -> 11.1s). The zero-copy
    # batch-level forward inside the finish kernel remains the cheapest
    # realization of "finished rows ride along".
    pass1 = proj.mapInArrow(pass1_kernel, DEFERRED_SCHEMA)
    redistributed = _repart(pass1, F.col("url"))
    return redistributed.mapInArrow(
        make_finish_kernel(
            engine, max_bytes,
            default_language=default_language, forced_languages=languages,
            timeout_ms=doc_timeout_ms,
        ),
        EXTRACTED_SCHEMA,
    )


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7/O7: ok+empty rows -> main stream; error rows -> quarantine side
    table (every input row is accounted for in exactly one of the two)."""
    ok = extracted.filter(F.col("status").isin(*OK_STATUSES))
    quarantined = extracted.filter(~F.col("status").isin(*OK_STATUSES))
    return ok, quarantined
