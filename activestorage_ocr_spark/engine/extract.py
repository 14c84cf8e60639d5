"""Per-document extraction dispatch — the kernel the Spark pipeline maps over
Arrow batches, and the oracle the golden corpus is generated with (same code
path; SURVEY.md §7.3 "byte-identity is structural").

Routing (SURVEY.md §2.2 P1-P4, §3.1):

1. size gate first, before any decoding (`rust/src/server.rs:98,187-192`):
   payload larger than ``max_bytes`` -> IMAGE_TOO_LARGE, quarantined; so
   are streams that decode past the document's byte budget
   (``budget.DecodeLimit``);
2. empty payload -> INVALID_REQUEST (`rust/src/error.rs` InvalidRequest);
3. MIME sniff from magic bytes (P2) — declared types are never trusted;
4. PDF -> pdfx.extract_pdf (text layer -> OCR fallback, E1-E11);
   image/* -> container decode -> preprocessing preset -> OCR stand-in;
   text/html -> boilerplate strip (the graft branch);
   anything else -> UNSUPPORTED_FORMAT, quarantined (P1);
5. any exception -> PROCESSING_ERROR row, never a raised error: a Spark job
   must not die on one bad document (O7, `analyzer.rb:52-55`).

Error-code vocabulary mirrors the reference's stable codes
(`rust/src/error.rs:43-65`).

Engine registry (P4, `rust/src/engines/mod.rs:27-102`): ordered dict, first
entry is the default — "pixelocr" (ocrs-analog: joined-text C1 confidence) and
"pixelocr-alt" (leptess-analog: per-image mean confidence on the PDF fallback,
E9).
"""

from __future__ import annotations

import time
from typing import Any

from . import budget, htmlx, mime as mimex, pdfx, rasters
from .confidence import calculate_confidence
from .preprocess import parse_preset, run_pipeline

# O6: stable error codes (`rust/src/error.rs:43-65`)
E_PROCESSING = "PROCESSING_ERROR"
E_PREPROCESSING = "PREPROCESSING_ERROR"
E_UNSUPPORTED = "UNSUPPORTED_FORMAT"
E_TOO_LARGE = "IMAGE_TOO_LARGE"
E_MISSING = "MISSING_FILE"
E_INVALID = "INVALID_REQUEST"
E_INTERNAL = "INTERNAL"
#: per-document wall-budget overrun — the batch analog of the reference's
#: request timeout (`lib/activestorage/ocr/configuration.rb:58-59`)
E_TIMEOUT = "TIMEOUT"

#: default per-document budget: the reference's 30 s request timeout.
DEFAULT_DOC_TIMEOUT_MS = 30_000

STATUS_OK = "ok"
STATUS_EMPTY = "empty"

DEFAULT_MAX_BYTES = 52_428_800  # `rust/src/main.rs:28-30`

#: P4: ordered engine registry; first = default (`rust/src/engines/mod.rs:71-88`).
ENGINES = ("pixelocr", "pixelocr-alt")

DEFAULT_LANGUAGE = rasters.DEFAULT_LANGUAGE
SUPPORTED_LANGUAGES = rasters.SUPPORTED_LANGUAGES

#: Per-engine metadata (`rust/src/engine.rs:14-32` OcrEngine trait;
#: /info detail `rust/src/server.rs:298-318`). pixelocr mirrors the ocrs
#: engine (latin/English only — it ignores the languages request, like the
#: neural ocrs model); pixelocr-alt mirrors leptess (13 language packs).
ENGINE_INFO: dict[str, dict[str, Any]] = {
    "pixelocr": {
        "name": "pixelocr",
        "description": (
            "Deterministic pixel-font recognizer (ocrs analog) - "
            "fast, no language packs, joined-text confidence"
        ),
        "supported_formats": sorted(mimex.SUPPORTED_MIMES),
        "supported_languages": [rasters.DEFAULT_LANGUAGE],
    },
    "pixelocr-alt": {
        "name": "pixelocr-alt",
        "description": (
            "Deterministic pixel-font recognizer with language packs "
            "(leptess analog) - per-image mean confidence on PDF fallback"
        ),
        "supported_formats": sorted(mimex.SUPPORTED_MIMES),
        "supported_languages": list(rasters.SUPPORTED_LANGUAGES),
    },
}


def health() -> dict[str, str]:
    """The /health analog (`rust/src/server.rs:289-295`): a cheap liveness
    probe for orchestration — imports resolved, registry intact."""
    return {"status": "ok" if ENGINES and ENGINES[0] in ENGINE_INFO else "error",
            "version": "0.1.0"}


def pipeline_info() -> dict[str, Any]:
    """O4 analog of the reference /info endpoint (`rust/src/server.rs:298-318`):
    version, per-engine detail, default engine/language, size limit."""
    return {
        "version": "0.1.0",
        "engines": list(ENGINES),
        "available_engines": [ENGINE_INFO[e] for e in ENGINES],
        "supported_formats": sorted(mimex.SUPPORTED_MIMES),
        "supported_languages": list(rasters.SUPPORTED_LANGUAGES),
        "default_language": rasters.DEFAULT_LANGUAGE,
        "max_file_size": DEFAULT_MAX_BYTES,
        "default_engine": ENGINES[0],
        "presets": ["none", "minimal", "default", "aggressive"],
        # per-document wall budget (configuration.rb request_timeout analog)
        "doc_timeout_ms": DEFAULT_DOC_TIMEOUT_MS,
    }


def _parse_languages(languages: str | None, engine: str) -> tuple[tuple[str, ...], str | None]:
    """Parse the '+'-separated languages request (`rust/src/server.rs:157-181`
    multipart field; tesseract 'eng+deu' syntax). Returns (effective tuple,
    error string). pixelocr ignores the request like the reference's ocrs
    engine (English-only neural model)."""
    if languages is None or not languages.strip():
        return (DEFAULT_LANGUAGE,), None
    langs = tuple(lg.strip() for lg in languages.split("+") if lg.strip())
    bad = [lg for lg in langs if lg not in SUPPORTED_LANGUAGES]
    if bad:
        return (), (
            f"unsupported language(s): {', '.join(bad)}; "
            f"available: {', '.join(SUPPORTED_LANGUAGES)}"
        )
    if engine == "pixelocr":
        return (DEFAULT_LANGUAGE,), None
    return langs, None


def _result(
    *,
    mime: str,
    text: str = "",
    confidence: float = 0.0,
    engine: str = ENGINES[0],
    status: str = STATUS_OK,
    error_code: str | None = None,
    warnings: list[str] | None = None,
    spans: list[tuple[int, int, str]] | None = None,
    preset: str = "minimal",
    step_timings: list[tuple[str, int]] | None = None,
    t0: float = 0.0,
) -> dict[str, Any]:
    return {
        "mime": mime,
        "extracted_text": text,
        "confidence": confidence,
        "engine": engine,
        "status": status,
        "error_code": error_code,
        "warnings": warnings or [],
        "spans": spans or [],
        "preset": preset,
        "step_timings": step_timings or [],
        "processing_time_ms": int((time.perf_counter() - t0) * 1000),
    }


def extract_document(
    payload: bytes | None,
    *,
    engine: str = ENGINES[0],
    preset: str = "minimal",
    max_bytes: int = DEFAULT_MAX_BYTES,
    languages: str | None = None,
    timeout_ms: int | None = None,
) -> dict[str, Any]:
    """Extract one document. Pure function of (payload, engine, preset,
    max_bytes, languages, timeout_ms); never raises. ``languages`` is the
    reference's '+'-separated request field ('eng+deu'); None -> the default
    language. ``timeout_ms`` arms a per-document wall budget (the batch
    analog of the reference's 30 s request timeout,
    `configuration.rb:58-59`): overruns return a ``TIMEOUT`` quarantine row
    instead of straggling the task; None/0 disables."""
    t0 = time.perf_counter()
    try:
        with budget.deadline(timeout_ms):
            return _dispatch(
                payload, engine=engine, preset=preset, max_bytes=max_bytes,
                languages=languages, t0=t0,
            )
    except (budget.DocTimeout, budget.DecodeLimit) as e:
        code = E_TIMEOUT if isinstance(e, budget.DocTimeout) else E_TOO_LARGE
        return _result(
            mime=mimex.sniff_mime(payload[:1024]) if payload else mimex.MIME_OCTET,
            status=code, error_code=code,
            warnings=[str(e)], engine=engine, preset=preset, t0=t0,
        )
    except Exception as e:  # noqa: BLE001 — O7: quarantine, never raise
        return _result(
            mime=mimex.sniff_mime(payload[:1024]) if payload else mimex.MIME_OCTET,
            status=E_PROCESSING, error_code=E_PROCESSING,
            warnings=[f"{type(e).__name__}: {e}"], engine=engine, preset=preset, t0=t0,
        )


def _dispatch(
    payload: bytes | None,
    *,
    engine: str,
    preset: str,
    max_bytes: int,
    languages: str | None,
    t0: float,
) -> dict[str, Any]:
    try:
        if engine not in ENGINES:
            return _result(
                mime=mimex.MIME_OCTET, status=E_INVALID, error_code=E_INVALID,
                warnings=[f"unknown engine: {engine}; available: {', '.join(ENGINES)}"],
                engine=ENGINES[0], preset=preset, t0=t0,
            )
        try:
            parse_preset(preset)
        except ValueError as e:
            return _result(
                mime=mimex.MIME_OCTET, status=E_INVALID, error_code=E_INVALID,
                warnings=[str(e)], engine=engine, preset="minimal", t0=t0,
            )
        langs, lang_err = _parse_languages(languages, engine)
        if lang_err is not None:
            return _result(
                mime=mimex.MIME_OCTET, status=E_INVALID, error_code=E_INVALID,
                warnings=[lang_err], engine=engine, preset=preset, t0=t0,
            )
        if payload is None or len(payload) == 0:
            return _result(
                mime=mimex.MIME_OCTET, status=E_INVALID, error_code=E_INVALID,
                warnings=["empty payload"], engine=engine, preset=preset, t0=t0,
            )
        if len(payload) > max_bytes:
            return _result(
                mime=mimex.sniff_mime(payload[:1024]), status=E_TOO_LARGE,
                error_code=E_TOO_LARGE,
                warnings=[f"payload size {len(payload)} exceeds maximum {max_bytes}"],
                engine=engine, preset=preset, t0=t0,
            )
        mime = mimex.sniff_mime(payload)
        if mime == mimex.MIME_PDF:
            r = pdfx.extract_pdf(payload, engine=engine, preset=preset, languages=langs)
            text = r["text"]
            status = STATUS_OK if text else STATUS_EMPTY
            return _result(
                mime=mime, text=text, confidence=r["confidence"], engine=engine,
                status=status, warnings=r["warnings"], preset=preset, t0=t0,
            )
        if mime in mimex.IMAGE_MIMES:
            gray = rasters.decode_image(payload, mime)
            gray, timings = run_pipeline(gray, preset)
            text, warn = rasters.ocr_decode_image(gray, langs)
            conf = calculate_confidence(text)
            status = STATUS_OK if text else STATUS_EMPTY
            return _result(
                mime=mime, text=text, confidence=conf, engine=engine, status=status,
                warnings=warn, preset=preset, step_timings=timings, t0=t0,
            )
        if mime == mimex.MIME_HTML:
            text, spans = htmlx.extract_main_content(payload)
            conf = calculate_confidence(text)
            status = STATUS_OK if text else STATUS_EMPTY
            return _result(
                mime=mime, text=text, confidence=conf, engine=engine, status=status,
                spans=spans, preset=preset, t0=t0,
            )
        return _result(
            mime=mime, status=E_UNSUPPORTED, error_code=E_UNSUPPORTED,
            warnings=[f"unsupported format: {mime}"], engine=engine, preset=preset, t0=t0,
        )
    except (budget.DocTimeout, budget.DecodeLimit):
        raise  # handled by extract_document -> stable TIMEOUT / IMAGE_TOO_LARGE
    except Exception as e:  # noqa: BLE001 — O7: quarantine, never raise
        return _result(
            mime=mimex.sniff_mime(payload[:1024]) if payload else mimex.MIME_OCTET,
            status=E_PROCESSING, error_code=E_PROCESSING,
            warnings=[f"{type(e).__name__}: {e}"], engine=engine, preset=preset, t0=t0,
        )
