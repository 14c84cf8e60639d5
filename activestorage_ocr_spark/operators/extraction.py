"""The extraction pipeline operator — the Spark mapping of the reference's
whole request path (SURVEY.md §3.1 "Spark equivalent"):

    scan (url, warc_ts, html, lang)
      -> mapInArrow(extract_kernel, defer giants)            [pass 1]
      -> hash exchange on url (or a caller's key)            [one shuffle]
      -> mapInArrow(extract_kernel) finishes the giants      [pass 2]
      -> ok/quarantine split, lineage manifest, sinks

Physical-plan posture (SURVEY.md §4.2): one scan, exactly one shuffle (the
url-hash exchange; ``skew_handling="off"`` drops it and runs pass 1 alone);
Catalyst prunes the scan to the four needed columns because the kernel is
declared over an explicit projection. The durable job
(`lineage.run_extraction_job`) keys that same exchange on its ``part_key``
expression so it doubles as the write layout: its data path also has one
exchange, and pass 2 runs in the write's tasks, at most
``min(n_parts, spark.sql.shuffle.partitions)`` of them busy.

Skew handling: a 50 MB page next to 2 KB pages makes task runtimes bimodal and
can blow Python-worker memory when many giants land in one Arrow batch. Pass 1
extracts every page up to ``giant_bytes`` where the scan put it and defers the
larger ones with their raw payload in a side column; the exchange spreads that
giant tail over the cluster and pass 2 — the same kernel — extracts it while
forwarding the finished rows as Arrow slices. Inside the kernel, incoming
Arrow batches are re-sliced to a byte budget (zero-copy) before extraction.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..sources.session import ensure_workers_can_import, install_zip_cache_guard

#: Output schema of the extraction kernel; the Spark schemas below derive
#: from it. Timing fields are excluded from byte-identity comparison
#: (FIXTURES.md §2).
EXTRACTED_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("lang", pa.string()),
    ("mime", pa.string()),
    ("extracted_text", pa.string()),
    ("confidence", pa.float64()),
    ("engine", pa.string()),
    ("status", pa.string()),
    ("error_code", pa.string()),
    ("warnings", pa.list_(pa.string())),
    ("spans", pa.list_(pa.struct([("start", pa.int64()), ("end", pa.int64()), ("kind", pa.string())]))),
    ("n_bytes", pa.int64()),
    ("chars_out", pa.int64()),
    ("processing_time_ms", pa.int64()),
    ("preset", pa.string()),
    ("step_timings", pa.list_(pa.struct([("name", pa.string()), ("time_ms", pa.int64())]))),
    ("partition_id", pa.int32()),
])

#: Pass-1 output of giants routing: EXTRACTED_ARROW plus the raw payload of
#: rows deferred to pass 2 (null for finished rows).
DEFERRED_ARROW = EXTRACTED_ARROW.append(pa.field("deferred_html", pa.binary()))

EXTRACTED_SCHEMA = from_arrow_schema(EXTRACTED_ARROW)
DEFERRED_SCHEMA = from_arrow_schema(DEFERRED_ARROW)

OK_STATUSES = ("ok", "empty")

#: kernel re-slices incoming Arrow batches so one slice never exceeds this
#: many payload bytes (giant-page memory guard; SURVEY.md §7.3).
KERNEL_SLICE_BYTES = 64 * 1024 * 1024

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


#: What pass 1 emits for a row it defers to pass 2, besides url, lang,
#: engine, preset and the payload size.
_DEFERRED_RESULT = {
    "mime": None, "extracted_text": None, "confidence": None, "status": "deferred",
    "error_code": None, "warnings": [], "spans": [], "processing_time_ms": 0,
    "step_timings": [],
}


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
    payload in a ``deferred_html`` column (pass 1 of giants routing — see
    `extract_pages`).

    An input batch that carries a ``deferred_html`` column is pass 2: rows
    where it is null are forwarded as they came (a zero-copy slice when the
    whole batch is finished), the rest are extracted with the ``preset`` pass
    1 resolved. Pass-2 batches mirror the incoming Arrow types, which went
    through Spark's shuffle (e.g. ``warc_ts`` in the session time zone), so
    forwarded and extracted batches agree."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        install_zip_cache_guard()
        # per-worker init (amortized across batches)
        from pyspark import TaskContext

        from ..engine.extract import extract_document

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        def extract(sub: pa.RecordBatch, payload_col: str, schema: pa.Schema) -> pa.RecordBatch:
            defer = "deferred_html" in schema.names
            cols: dict[str, list[Any]] = {name: [] for name in schema.names}
            urls = sub.column("url").to_pylist()
            langs = sub.column("lang").to_pylist()
            payloads = sub.column(payload_col).to_pylist()
            # P5 per-request preset override (`rust/src/server.rs:201-213`):
            # an optional `preset` input column overrides the job default
            if "preset" in sub.schema.names:
                presets = [p or preset for p in sub.column("preset").to_pylist()]
            else:
                presets = [preset] * len(urls)
            for u, lg, payload, row_preset in zip(urls, langs, payloads, presets):
                if defer and payload is not None and len(payload) > defer_over:
                    r = {**_DEFERRED_RESULT, "engine": engine, "preset": row_preset}
                else:
                    r = extract_document(
                        payload, engine=engine, preset=row_preset,
                        max_bytes=max_bytes,
                        languages=forced_languages
                        or _lang_request(lg)
                        or default_language,
                        timeout_ms=timeout_ms,
                    )
                _append_row(cols, u, lg, payload, r, pid)
            ts = sub.column("warc_ts")
            arrays = [
                ts.cast(f.type) if f.name == "warc_ts" else pa.array(cols[f.name], type=f.type)
                for f in schema
            ]
            return pa.RecordBatch.from_arrays(arrays, schema=schema)

        pass1_schema = EXTRACTED_ARROW if defer_over is None else DEFERRED_ARROW
        for batch in batches:
            if "deferred_html" not in batch.schema.names:
                for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES, "html"):
                    yield extract(sub, "html", pass1_schema)
                continue
            for sub in _slice_by_bytes(batch, KERNEL_SLICE_BYTES, "deferred_html"):
                mask = pc.is_valid(sub.column("deferred_html"))
                finished = sub.select(EXTRACTED_ARROW.names)
                if not pc.any(mask).as_py():
                    yield finished
                    continue
                if not pc.all(mask).as_py():
                    yield finished.filter(pc.invert(mask))
                yield extract(sub.filter(mask), "deferred_html", finished.schema)

    return kernel


def _append_row(
    cols: dict[str, list[Any]], url: str, lang: str | None, payload: bytes | None,
    r: dict[str, Any], pid: int,
) -> None:
    """Append one `extract_document` result (or the deferral placeholder) to
    the kernel's output columns; ``warc_ts`` is taken from the input column."""
    cols["url"].append(url)
    cols["lang"].append(lang)
    for name in ("mime", "extracted_text", "confidence", "engine", "status",
                 "error_code", "warnings", "processing_time_ms", "preset"):
        cols[name].append(r[name])
    cols["spans"].append([{"start": s, "end": e, "kind": k} for s, e, k in r["spans"]])
    cols["n_bytes"].append(len(payload) if payload is not None else 0)
    cols["chars_out"].append(len(r["extracted_text"] or ""))
    cols["step_timings"].append([{"name": n, "time_ms": t} for n, t in r["step_timings"]])
    cols["partition_id"].append(pid)
    if "deferred_html" in cols:
        cols["deferred_html"].append(payload if r["status"] == "deferred" else None)


def _slice_by_bytes(
    batch: pa.RecordBatch, budget: int, payload_col: str
) -> Iterator[pa.RecordBatch]:
    """Zero-copy re-slice of an Arrow batch so each slice's payload bytes stay
    under ``budget`` (giant-page guard). Null payloads cost zero budget."""
    if batch.num_rows == 0:
        return
    sizes = pc.binary_length(batch.column(payload_col)).fill_null(0).to_numpy(zero_copy_only=False).astype("int64")
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
    skew_handling: str = "giants",
    giant_bytes: int = GIANT_BYTES,
    doc_timeout_ms: int | None = None,
    exchange_key: str | Column = "url",
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
      extracted text, not raw html), and pass 2 — the same kernel —
      finishes the giants while forwarding everything else. At 10^12-document scale this
      reads the table ONCE and shuffles extracted text (~10-20% of input)
      plus the ~1-2% giant tail — vs 2x full scans (the old fork-by-filter
      realization) or a 100% raw-payload shuffle. No task accumulates many
      giants; in-kernel Arrow batch re-slicing (KERNEL_SLICE_BYTES) guards
      worker memory in both passes.
    * ``"off"`` — map directly over scan partitions, no exchange.

    Any other value raises ``ValueError``.

    Exchange width: when ``repartition`` is not pinned, the hash exchange
    carries no explicit count — AQE sizes it to the data by coalescing tiny
    partitions; per-document cost varies ~50x between payload kinds, so
    adaptive sizing beats any fixed multiple. Coalescing merges whole hash
    partitions only, so rows with equal ``exchange_key`` stay in one pass-2
    task.

    ``exchange_key`` (default ``url``) is the hash key of that exchange. A
    caller whose output is clustered by a function of ``url`` passes that
    expression, and the one exchange serves both: `run_extraction_job`
    passes its ``part_key`` expression, so pass 2 runs in the tasks that
    write each part's files. Pass 2 then has at most as many busy tasks as
    the key has distinct values.

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
    if skew_handling not in ("giants", "off"):
        raise ValueError(f"unknown skew_handling mode: {skew_handling!r}")
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
    if skew_handling == "off":
        return proj.mapInArrow(kernel, EXTRACTED_SCHEMA)

    # single scan: pass 1 extracts the small rows and defers giants (raw
    # payload in deferred_html); one url-hash exchange spreads the giant
    # tail; pass 2 (the same kernel) finishes giants and forwards the rest.
    # The giant/normal decision is made per row inside the kernel, so NULL
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
    # than the forwarding it saves (9.0s -> 11.1s). The batch-level forward
    # inside the kernel remains the cheapest realization of "finished rows
    # ride along".
    pass1 = proj.mapInArrow(pass1_kernel, DEFERRED_SCHEMA)
    # explicit width when the caller pinned one; otherwise hash-repartition
    # WITHOUT a count so AQE sizes the exchange to the data (parallelism*4
    # fixed widths measured ~1s of pure scheduling overhead on small inputs)
    key = F.col(exchange_key) if isinstance(exchange_key, str) else exchange_key
    if repartition:
        redistributed = pass1.repartition(repartition, key)
    else:
        redistributed = pass1.repartition(key)
    return redistributed.mapInArrow(kernel, EXTRACTED_SCHEMA)


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7/O7: ok+empty rows -> main stream; error rows -> quarantine side
    table (every input row is accounted for in exactly one of the two)."""
    ok = extracted.filter(F.col("status").isin(*OK_STATUSES))
    quarantined = extracted.filter(~F.col("status").isin(*OK_STATUSES))
    return ok, quarantined
