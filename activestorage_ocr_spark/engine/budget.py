"""Per-document budgets, wall clock and decoded bytes — the Spark analog of the reference's
request timeouts (`lib/activestorage/ocr/configuration.rb:58-59`:
``request_timeout = 30`` s, ``connect_timeout = 5`` s; SURVEY.md §1.1 maps
them to "per-stage guards").

In the reference, a pathological payload is bounded by the HTTP client's
request timeout. In a batch Spark job there is no request boundary: one
zlib bomb or a giant deskew search inside the ``mapInArrow`` kernel would
straggle a task for minutes while every other core idles. The analog is a
wall cap on each document INSIDE the kernel — overruns become a quarantine
row with the stable ``TIMEOUT`` code (O6 vocabulary), never a task
straggler and never a raised error (O7).

Mechanism: cooperative deadline checks. ``extract_document`` arms a
thread-local deadline; the engine's loop-shaped hot paths (preprocess step
boundaries, deskew angle search, OCR line bands, per-image PDF fallback)
call :func:`check`, which raises :class:`DocTimeout` once the deadline
passes. Cooperative checks cannot interrupt a single C-level call (one
inflate, one numpy kernel), so the overrun is bounded by the largest
uninterruptible unit — acceptable because byte caps bound those units, and
anything finer would need signals (unsafe off the main thread; Spark gives
no such guarantee for Python workers).

The byte caps: every decompression in the package passes its output cap to
:func:`inflate` or to ``rasters``' LZW and PackBits decoders. A format that
declares its output size passes that size (PNG, TIFF strips, GIF frames);
one that does not (PDF Flate, LZW and RunLength, in any filter chain) runs
through :func:`metered` against the document's :data:`DOC_DECODE_BYTES`,
armed with the deadline. Overrunning it raises :class:`DecodeLimit`, which
``extract_document`` reports as ``IMAGE_TOO_LARGE``.

``check()`` is an attribute fetch + compare when no deadline is armed, so
sprinkling it in loops costs nothing on the untimed path.
"""

from __future__ import annotations

import threading
import time
import zlib
from typing import Callable

__all__ = ["DocTimeout", "DecodeLimit", "deadline", "check", "active_timeout_ms",
           "inflate", "metered", "check_pixels"]

#: bytes one document may decode from streams that declare no output size;
#: about 1000x the largest fixture document (114 KB). One inflate's peak is
#: about twice its output (the output buffer, then its bytes copy).
DOC_DECODE_BYTES = 128 << 20

#: decode-bomb guard on declared dimensions, shared by the raster codecs: well
#: above any sane crawl image, far below where a decode loop over the pixels
#: becomes a denial of service (the same posture as the payload size gate)
MAX_PIXELS = 64_000_000


class DocTimeout(Exception):
    """Raised by :func:`check` when the armed per-document deadline passed."""


class DecodeLimit(Exception):
    """Raised by :func:`metered` past the document's decoded-bytes budget."""


_state = threading.local()


class deadline:  # noqa: N801 — context-manager used as a lowercase verb
    """Arm a per-document deadline and decoded-bytes budget for the enclosed
    block.

    ``timeout_ms`` of ``None`` or ``<= 0`` disables the deadline (checks
    become no-ops); the byte budget is always armed. Always clears on exit
    so a timed-out document never leaks its budgets into the next one.
    """

    def __init__(self, timeout_ms: int | None):
        self.timeout_ms = timeout_ms

    def __enter__(self) -> "deadline":
        if self.timeout_ms and self.timeout_ms > 0:
            _state.deadline = time.monotonic() + self.timeout_ms / 1000.0
            _state.timeout_ms = self.timeout_ms
        else:
            _state.deadline = None
            _state.timeout_ms = None
        _state.decode_left = DOC_DECODE_BYTES
        return self

    def __exit__(self, *exc) -> None:
        _state.deadline = None
        _state.timeout_ms = None
        _state.decode_left = None


def check() -> None:
    """Raise :class:`DocTimeout` if the armed deadline has passed (no-op when
    no deadline is armed)."""
    dl = getattr(_state, "deadline", None)
    if dl is not None and time.monotonic() > dl:
        raise DocTimeout(
            f"document exceeded its {_state.timeout_ms} ms processing budget"
        )


def active_timeout_ms() -> int | None:
    """The currently armed budget (for warnings/diagnostics), or None."""
    return getattr(_state, "timeout_ms", None)


def metered(decode: Callable[[int], bytes]) -> bytes:
    """Run ``decode(max_out)`` for a stream that declares no output size,
    with the room left in the armed document's budget (a whole budget when
    none is armed), and charge the output to it. Raises
    :class:`DecodeLimit` when the output does not fit."""
    left = getattr(_state, "decode_left", None)
    room = DOC_DECODE_BYTES if left is None else left
    out = decode(room + 1)  # one byte past the room shows an overrun
    if len(out) > room:
        raise DecodeLimit(f"decoded streams exceed the document's {DOC_DECODE_BYTES} byte budget")
    if left is not None:
        _state.decode_left = room - len(out)
    return out


def inflate(data: bytes, max_out: int, wbits: int = zlib.MAX_WBITS) -> bytes:
    """Inflate ``data`` (``wbits`` as in :func:`zlib.decompressobj`),
    producing at most ``max_out`` bytes: output past that is never
    allocated. A gzip input (``wbits`` >= 16) may hold several members,
    decoded back to back like :func:`gzip.decompress`. Raises
    :class:`zlib.error` on a corrupt stream, or one that ends early before
    ``max_out`` bytes."""
    out = b""
    while len(out) < max_out:
        d = zlib.decompressobj(wbits)
        out += d.decompress(data, max_out - len(out))
        if not d.eof and len(out) < max_out:
            # zlib.decompress's own message for a stream that ends early
            raise zlib.error("Error -5 while decompressing data: incomplete or truncated stream")
        data = d.unused_data.lstrip(b"\x00") if wbits >= 16 else b""
        if not data:
            break
    return out


def check_pixels(kind: str, w: int, h: int, error: type[Exception] = ValueError) -> None:
    """The decode-bomb guard on declared dimensions: raise ``error`` when a
    ``w`` x ``h`` raster would pass :data:`MAX_PIXELS`."""
    if w * h > MAX_PIXELS:
        raise error(f"{kind} {w}x{h} is too large: it exceeds the 64MP decode guard")
