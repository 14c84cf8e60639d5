"""CCITT Group 4 (ITU-T T.6, MMR) codec for the PDF ``/CCITTFaxDecode``
filter — the dominant encoding of real-world scanned PDFs.

Strictly BEYOND the reference (its raster path errors on anything but raw
Gray/RGB/CMYK sample streams, `rust/src/engines/ocrs.rs:467-582`); added
because crawl-reality scanned PDFs are overwhelmingly G4 (VERDICT r3 item 6,
COVERAGE.md "Remaining labeled gaps").

Implemented from the public specs only:

* ITU-T T.4 §2.2.2 — the Modified Huffman white/black run-length code
  tables (terminating 0-63, make-up 64-1728, extended make-up 1792-2560);
* ITU-T T.4 §2.2.4 — Group 3 two-dimensional framing (PDF /K > 0): each
  line is EOL + a one-bit tag selecting 1-D (MH) or 2-D coding, at most
  k-1 consecutive 2-D lines, RTC (six EOL+1) terminator;
* ITU-T T.6 §2.2.3-2.2.5 — the two-dimensional (MMR) coding modes: pass
  (0001), horizontal (001 + two MH runs), vertical V0/VR1-3/VL1-3, and the
  EOFB terminator (two EOLs).

Both directions are provided: :func:`encode_g4` so tests can synthesize
fixture PDFs without any external tool, and :func:`decode_g4` for the
extraction path. The encoder and decoder are independent walks of the same
published tables, so a round-trip failure localizes a transcription error.

Scale posture: runs inside the per-document Arrow kernel (map-only); the
line loop is pure Python but bounded by the 64 MP decode-bomb guard shared
with the other codecs, and the per-document wall budget (engine/budget.py)
checks each scanline.
"""

from __future__ import annotations

import numpy as np

from . import budget

__all__ = [
    "encode_g4", "decode_g4", "encode_g3_1d", "decode_g3_1d",
    "encode_g3_2d", "decode_g3_2d", "G4Error",
]


class G4Error(ValueError):
    """Malformed or unsupported G4 stream."""


# ---------------------------------------------------------------------------
# ITU-T T.4 Modified Huffman run-length tables: run -> (code value, bit count)
# ---------------------------------------------------------------------------

_WHITE_TERM = {
    0: ("00110101"), 1: ("000111"), 2: ("0111"), 3: ("1000"),
    4: ("1011"), 5: ("1100"), 6: ("1110"), 7: ("1111"),
    8: ("10011"), 9: ("10100"), 10: ("00111"), 11: ("01000"),
    12: ("001000"), 13: ("000011"), 14: ("110100"), 15: ("110101"),
    16: ("101010"), 17: ("101011"), 18: ("0100111"), 19: ("0001100"),
    20: ("0001000"), 21: ("0010111"), 22: ("0000011"), 23: ("0000100"),
    24: ("0101000"), 25: ("0101011"), 26: ("0010011"), 27: ("0100100"),
    28: ("0011000"), 29: ("00000010"), 30: ("00000011"), 31: ("00011010"),
    32: ("00011011"), 33: ("00010010"), 34: ("00010011"), 35: ("00010100"),
    36: ("00010101"), 37: ("00010110"), 38: ("00010111"), 39: ("00101000"),
    40: ("00101001"), 41: ("00101010"), 42: ("00101011"), 43: ("00101100"),
    44: ("00101101"), 45: ("00000100"), 46: ("00000101"), 47: ("00001010"),
    48: ("00001011"), 49: ("01010010"), 50: ("01010011"), 51: ("01010100"),
    52: ("01010101"), 53: ("00100100"), 54: ("00100101"), 55: ("01011000"),
    56: ("01011001"), 57: ("01011010"), 58: ("01011011"), 59: ("01001010"),
    60: ("01001011"), 61: ("00110010"), 62: ("00110011"), 63: ("00110100"),
}

_WHITE_MAKEUP = {
    64: ("11011"), 128: ("10010"), 192: ("010111"), 256: ("0110111"),
    320: ("00110110"), 384: ("00110111"), 448: ("01100100"),
    512: ("01100101"), 576: ("01101000"), 640: ("01100111"),
    704: ("011001100"), 768: ("011001101"), 832: ("011010010"),
    896: ("011010011"), 960: ("011010100"), 1024: ("011010101"),
    1088: ("011010110"), 1152: ("011010111"), 1216: ("011011000"),
    1280: ("011011001"), 1344: ("011011010"), 1408: ("011011011"),
    1472: ("010011000"), 1536: ("010011001"), 1600: ("010011010"),
    1664: ("011000"), 1728: ("010011011"),
}

_BLACK_TERM = {
    0: ("0000110111"), 1: ("010"), 2: ("11"), 3: ("10"),
    4: ("011"), 5: ("0011"), 6: ("0010"), 7: ("00011"),
    8: ("000101"), 9: ("000100"), 10: ("0000100"), 11: ("0000101"),
    12: ("0000111"), 13: ("00000100"), 14: ("00000111"), 15: ("000011000"),
    16: ("0000010111"), 17: ("0000011000"), 18: ("0000001000"),
    19: ("00001100111"), 20: ("00001101000"), 21: ("00001101100"),
    22: ("00000110111"), 23: ("00000101000"), 24: ("00000010111"),
    25: ("00000011000"), 26: ("000011001010"), 27: ("000011001011"),
    28: ("000011001100"), 29: ("000011001101"), 30: ("000001101000"),
    31: ("000001101001"), 32: ("000001101010"), 33: ("000001101011"),
    34: ("000011010010"), 35: ("000011010011"), 36: ("000011010100"),
    37: ("000011010101"), 38: ("000011010110"), 39: ("000011010111"),
    40: ("000001101100"), 41: ("000001101101"), 42: ("000011011010"),
    43: ("000011011011"), 44: ("000001010100"), 45: ("000001010101"),
    46: ("000001010110"), 47: ("000001010111"), 48: ("000001100100"),
    49: ("000001100101"), 50: ("000001010010"), 51: ("000001010011"),
    52: ("000000100100"), 53: ("000000110111"), 54: ("000000111000"),
    55: ("000000100111"), 56: ("000000101000"), 57: ("000001011000"),
    58: ("000001011001"), 59: ("000000101011"), 60: ("000000101100"),
    61: ("000001011010"), 62: ("000001100110"), 63: ("000001100111"),
}

_BLACK_MAKEUP = {
    64: ("0000001111"), 128: ("000011001000"), 192: ("000011001001"),
    256: ("000001011011"), 320: ("000000110011"), 384: ("000000110100"),
    448: ("000000110101"), 512: ("0000001101100"), 576: ("0000001101101"),
    640: ("0000001001010"), 704: ("0000001001011"), 768: ("0000001001100"),
    832: ("0000001001101"), 896: ("0000001110010"), 960: ("0000001110011"),
    1024: ("0000001110100"), 1088: ("0000001110101"), 1152: ("0000001110110"),
    1216: ("0000001110111"), 1280: ("0000001010010"), 1344: ("0000001010011"),
    1408: ("0000001010100"), 1472: ("0000001010101"), 1536: ("0000001011010"),
    1600: ("0000001011011"), 1664: ("0000001100100"), 1728: ("0000001100101"),
}

#: extended make-up codes (T.4 table 3), shared by both colors
_EXT_MAKEUP = {
    1792: ("00000001000"), 1856: ("00000001100"), 1920: ("00000001101"),
    1984: ("000000010010"), 2048: ("000000010011"), 2112: ("000000010100"),
    2176: ("000000010101"), 2240: ("000000010110"), 2304: ("000000010111"),
    2368: ("000000011100"), 2432: ("000000011101"), 2496: ("000000011110"),
    2560: ("000000011111"),
}

_EOL = "000000000001"

# decoder lookups: bitstring -> (run, is_terminating)
_WHITE_DECODE = {c: (r, True) for r, c in _WHITE_TERM.items()}
_WHITE_DECODE.update({c: (r, False) for r, c in _WHITE_MAKEUP.items()})
_WHITE_DECODE.update({c: (r, False) for r, c in _EXT_MAKEUP.items()})
_BLACK_DECODE = {c: (r, True) for r, c in _BLACK_TERM.items()}
_BLACK_DECODE.update({c: (r, False) for r, c in _BLACK_MAKEUP.items()})
_BLACK_DECODE.update({c: (r, False) for r, c in _EXT_MAKEUP.items()})
_MAX_CODE_LEN = 13


def _emit_run(bits: list[str], run: int, white: bool) -> None:
    """MH-encode one run length (make-ups then the mandatory terminator)."""
    makeup = _WHITE_MAKEUP if white else _BLACK_MAKEUP
    while run >= 2624:  # largest extended make-up covers to 2560+63
        bits.append(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 1792 and (run - (run % 64)) in _EXT_MAKEUP:
        bits.append(_EXT_MAKEUP[run - (run % 64)])
        run %= 64
    elif run >= 64:
        bits.append(makeup[run - (run % 64)])
        run %= 64
    bits.append((_WHITE_TERM if white else _BLACK_TERM)[run])


def _transitions(line: np.ndarray) -> list[int]:
    """Positions where the pixel color changes, with an imaginary white pixel
    before position 0 (T.6 changing elements). line is bool (True=black)."""
    if line.size == 0:
        return []
    prev = np.concatenate(([False], line[:-1]))
    return np.flatnonzero(line != prev).tolist()


def _encode_2d_line(bits: _BitList, cur: list[int], ref: list[int], w: int) -> None:
    """Emit one two-dimensional (MMR) coding line: ``cur``/``ref`` are the
    changing-element positions of the coding and reference lines (T.6
    §2.2.4 mode decisions: pass / vertical / horizontal)."""
    a0 = -1
    color_white = True
    while a0 < w:
        a1 = _next_change(cur, a0, color_white, w)
        b1 = _next_change(ref, a0, color_white, w)
        b2 = _following_change(ref, b1, w)
        if b2 < a1:
            bits.append("0001")  # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            d = a1 - b1
            bits.append({0: "1", 1: "011", 2: "000011", 3: "0000011",
                         -1: "010", -2: "000010", -3: "0000010"}[d])
            a0 = a1
            color_white = not color_white
        else:
            a2 = _following_change(cur, a1, w)
            bits.append("001")  # horizontal
            run1 = a1 - (a0 if a0 >= 0 else 0)
            run2 = a2 - a1
            _emit_run(bits, run1, color_white)
            _emit_run(bits, run2, not color_white)
            a0 = a2


def _encode_1d_line(bits: _BitList, line: np.ndarray, w: int) -> None:
    """Emit one one-dimensional (MH) coding line: alternating white/black
    runs starting with a (possibly zero-length) white run."""
    trans = _transitions(line) + [w]
    pos = 0
    white = True
    for t in trans:
        _emit_run(bits, t - pos, white)
        pos = t
        white = not white


def encode_g4(image: np.ndarray, byte_align: bool = False) -> bytes:
    """Encode a bool array (True = black) as a G4/MMR stream with EOFB,
    byte-padded — the exact body of a PDF ``/CCITTFaxDecode`` stream with
    ``/K -1 /Columns w /Rows h`` (and default BlackIs1=false: 0 bits black
    is the PDF sample convention, but the G4 layer itself codes runs, not
    bit polarity). ``byte_align`` pads each coding line to a byte boundary
    (PDF /EncodedByteAlign)."""
    img = np.asarray(image, dtype=bool)
    if img.ndim != 2:
        raise G4Error("encode_g4 expects a 2-D bool array")
    h, w = img.shape
    bits = _BitList()
    ref: list[int] = []  # imaginary all-white reference line
    for y in range(h):
        if byte_align:
            bits.pad_to_byte()
        cur = _transitions(img[y])
        _encode_2d_line(bits, cur, ref, w)
        ref = cur
    bits.append(_EOL)
    bits.append(_EOL)  # EOFB
    return bits.to_bytes()


def encode_g3_2d(image: np.ndarray, k: int = 4, byte_align: bool = False) -> bytes:
    """Encode a bool array (True = black) as a CCITT Group 3 two-dimensional
    stream — the PDF ``/CCITTFaxDecode`` body with ``/K k`` (k > 0). T.4
    §2.2.4: every coding line is preceded by EOL plus a one-bit tag (1 =
    the next line is 1-D MH coded, 0 = 2-D coded against the previous
    line); at most ``k - 1`` consecutive 2-D lines follow each 1-D line so
    a receiver can resynchronize after transmission damage. Ends with RTC
    (six EOL+1). ``byte_align`` pads so each EOL starts a fresh byte
    (PDF /EncodedByteAlign)."""
    img = np.asarray(image, dtype=bool)
    if img.ndim != 2:
        raise G4Error("encode_g3_2d expects a 2-D bool array")
    if k <= 0:
        raise G4Error("encode_g3_2d requires k > 0")
    h, w = img.shape
    bits = _BitList()
    ref: list[int] = []
    for y in range(h):
        if byte_align:
            bits.pad_to_byte()
        bits.append(_EOL)
        one_dim = y % k == 0
        bits.append("1" if one_dim else "0")
        cur = _transitions(img[y])
        if one_dim:
            _encode_1d_line(bits, img[y], w)
        else:
            _encode_2d_line(bits, cur, ref, w)
        ref = cur
    for _ in range(6):  # RTC
        if byte_align:
            bits.pad_to_byte()
        bits.append(_EOL)
        bits.append("1")
    return bits.to_bytes()


class _BitList(list):
    """A list of bit-string fragments with an O(1) running length, so
    per-line byte alignment doesn't re-scan the whole stream."""

    def __init__(self):
        super().__init__()
        self.nbits = 0

    def append(self, code: str) -> None:  # noqa: A003
        super().append(code)
        self.nbits += len(code)

    def pad_to_byte(self) -> None:
        self.append("0" * (-self.nbits % 8))

    def to_bytes(self) -> bytes:
        s = "".join(self)
        s += "0" * (-len(s) % 8)
        return int(s, 2).to_bytes(len(s) // 8, "big") if s else b""


def encode_g3_1d(image: np.ndarray, byte_align: bool = False) -> bytes:
    """Encode a bool array (True = black) as a CCITT Group 3 one-dimensional
    (pure Modified-Huffman) stream — the PDF ``/CCITTFaxDecode`` body with
    ``/K 0``. Each line is an alternating white/black MH run sequence
    starting with a (possibly zero-length) white run; no EOLs are emitted
    (the PDF default ``/EndOfLine false``)."""
    img = np.asarray(image, dtype=bool)
    if img.ndim != 2:
        raise G4Error("encode_g3_1d expects a 2-D bool array")
    h, w = img.shape
    bits = _BitList()
    for y in range(h):
        if byte_align:
            bits.pad_to_byte()
        _encode_1d_line(bits, img[y], w)
    return bits.to_bytes()


def decode_g3_1d(
    data: bytes, columns: int, rows: int | None = None, byte_align: bool = False
) -> np.ndarray:
    """Decode a G3 1-D (K=0, pure MH) stream to a bool array (True = black).
    Tolerates optional EOL codes between lines (T.4 emitters may include
    them even when the PDF says ``/EndOfLine false``)."""
    if columns <= 0:
        raise G4Error("columns must be positive")
    if rows is not None:
        budget.check_pixels("G3 image", columns, rows, G4Error)
    br = _BitReader(data)
    w = columns
    out: list[np.ndarray] = []
    max_rows = rows if rows is not None else 1 << 30
    while len(out) < max_rows:
        budget.check()
        if byte_align:
            br.align_to_byte()
        while br.window(12) == 1:  # optional EOL/fill before a line
            br.skip(12)
        if br.pos >= br.nbits:
            break
        if rows is None and br.nbits - br.pos < 13 and br.window(13) == 0:
            break  # trailing byte-pad zeros, not a line
        line = np.zeros(w, dtype=bool)
        pos = 0
        white = True
        while pos < w:
            run = _read_run(br, white)
            if run == 0 and not (pos == 0 and white):
                # only the leading white run may be zero-length (a line
                # starting black); anything else cannot advance -> corrupt
                raise G4Error("zero-length run mid-line")
            if pos + run > w:
                raise G4Error("G3 run overflows the line")
            if not white:
                line[pos : pos + run] = True
            pos += run
            white = not white
        out.append(line)
    if rows is not None and len(out) < rows:
        raise G4Error(f"G3 stream ended after {len(out)} of {rows} rows")
    if not out:
        return np.zeros((0, columns), dtype=bool)
    return np.stack(out)


def _next_change(trans: list[int], a0: int, color_white: bool, w: int) -> int:
    """First changing element strictly right of a0 whose new color is the
    opposite of the current (a0) color. Transitions alternate white->black
    (even index) / black->white (odd index) because every line starts with an
    imaginary white pixel — so parity of the index IS the target color."""
    want_to_black = color_white
    for i, t in enumerate(trans):
        if t > a0 and ((i % 2 == 0) == want_to_black):
            return t
    return w


def _following_change(trans: list[int], pos: int, w: int) -> int:
    for t in trans:
        if t > pos:
            return t
    return w


class _BitReader:
    """Integer-window bit reader: ``window(n)`` returns the next ``n`` bits
    as an int in O(1) (zero-padded past the stream end) — the string-per-bit
    peek this replaced dominated decode profiles at fax-page sizes."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data + b"\x00\x00\x00\x00"  # window() overscan pad
        self.pos = 0
        self.nbits = len(data) * 8

    def window(self, n: int) -> int:
        byte = self.pos >> 3
        chunk = int.from_bytes(self.data[byte : byte + 4], "big")
        return (chunk >> (32 - n - (self.pos & 7))) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n

    def align_to_byte(self) -> None:
        self.pos += -self.pos % 8


def _build_run_lut(table: dict) -> list:
    """Flat 2^13 lookup: any 13-bit window -> (run, terminating, code_len).
    Prefix-freeness of the T.4 tables (pinned in tests) makes the fill
    unambiguous."""
    lut: list = [None] * (1 << _MAX_CODE_LEN)
    for code, (run, term) in table.items():
        pad = _MAX_CODE_LEN - len(code)
        base = int(code, 2) << pad
        entry = (run, term, len(code))
        for i in range(1 << pad):
            lut[base + i] = entry
    return lut


_WHITE_LUT = _build_run_lut(_WHITE_DECODE)
_BLACK_LUT = _build_run_lut(_BLACK_DECODE)

_MODE_CODES = (
    ("1", "V0"), ("011", "VR1"), ("010", "VL1"), ("001", "H"),
    ("0001", "P"), ("000011", "VR2"), ("000010", "VL2"),
    ("0000011", "VR3"), ("0000010", "VL3"),
)

#: 7-bit window -> (mode, code_len); windows starting with 7 zeros stay None
#: (EOL or corrupt — resolved by the caller's 12-bit check)
_MODE_LUT: list = [None] * 128
for _code, _mode in _MODE_CODES:
    _pad = 7 - len(_code)
    _base = int(_code, 2) << _pad
    for _i in range(1 << _pad):
        _MODE_LUT[_base + _i] = (_mode, len(_code))


def _read_mode(br: _BitReader) -> str:
    hit = _MODE_LUT[br.window(7)]
    if hit is None:
        if br.window(12) == 1:  # EOL
            br.skip(12)
            return "EOL"
        raise G4Error(f"bad mode code at bit {br.pos}")
    br.skip(hit[1])
    return hit[0]


def _read_run(br: _BitReader, white: bool) -> int:
    """One complete MH run: zero or more make-ups, then a terminating code."""
    lut = _WHITE_LUT if white else _BLACK_LUT
    total = 0
    for _ in range(64):  # more make-ups than any sane run needs
        hit = lut[br.window(_MAX_CODE_LEN)]
        if hit is None:
            raise G4Error(f"bad {'white' if white else 'black'} run code at bit {br.pos}")
        run, terminating, ln = hit
        br.skip(ln)
        total += run
        if terminating:
            return total
    raise G4Error("runaway make-up sequence")


def decode_g4(
    data: bytes, columns: int, rows: int | None = None, byte_align: bool = False
) -> np.ndarray:
    """Decode a G4/MMR stream to a bool array (True = black) of width
    ``columns``. ``rows`` bounds the output (PDF /Rows or /Height); when
    None, decoding stops at EOFB or stream end. ``byte_align`` re-aligns the
    reader to a byte boundary before every coding line (/EncodedByteAlign)."""
    if columns <= 0:
        raise G4Error("columns must be positive")
    if rows is not None:
        budget.check_pixels("G4 image", columns, rows, G4Error)
    br = _BitReader(data)
    w = columns
    out: list[np.ndarray] = []
    ref: list[int] = []
    max_rows = rows if rows is not None else 1 << 30
    while len(out) < max_rows:
        budget.check()  # per-scanline guard (engine wall budget)
        if byte_align:
            br.align_to_byte()
        if br.pos >= br.nbits:
            break
        if br.window(12) == 1:
            break  # EOFB
        cur = _decode_2d_line(br, ref, w)
        out.append(_line_from_transitions(cur, w))
        ref = cur
    if rows is not None and len(out) < rows:
        raise G4Error(f"G4 stream ended after {len(out)} of {rows} rows")
    if not out:
        return np.zeros((0, columns), dtype=bool)
    return np.stack(out)


_VDELTA = {"V0": 0, "VR1": 1, "VR2": 2, "VR3": 3,
           "VL1": -1, "VL2": -2, "VL3": -3}


def _decode_2d_line(br: _BitReader, ref: list[int], w: int) -> list[int]:
    """Decode one two-dimensional coding line (T.6 mode loop) against the
    reference line's changing elements; returns this line's changing
    elements. Shared by G4 (every line 2-D) and G3 2-D (tag-bit 0 lines)."""
    cur: list[int] = []
    a0 = -1
    color_white = True
    nref = len(ref)
    ri = 0  # monotone pointer: smallest index with ref[ri] > a0
    while a0 < w:
        mode = _read_mode(br)
        if mode == "EOL":
            raise G4Error("unexpected EOL mid-line")
        # b1: first ref change right of a0 whose color is opposite the
        # current color. ref indices alternate (even -> to-black), and
        # a0 only moves right, so ri advances monotonically — O(changes)
        # per line instead of a from-scratch scan per mode code.
        while ri < nref and ref[ri] <= a0:
            ri += 1
        i = ri
        if i < nref and (i & 1) != (0 if color_white else 1):
            i += 1
        b1 = ref[i] if i < nref else w
        if mode == "P":
            a0 = ref[i + 1] if i + 1 < nref else w
        elif mode == "H":
            start = a0 if a0 >= 0 else 0
            run1 = _read_run(br, color_white)
            run2 = _read_run(br, not color_white)
            a1 = start + run1
            a2 = a1 + run2
            if a2 > w:
                raise G4Error("horizontal runs overflow the line")
            if a2 <= a0 and a0 >= 0:
                raise G4Error("non-advancing horizontal runs")
            if a1 < w:
                cur.append(a1)
            if a2 < w:
                cur.append(a2)
            a0 = a2
        else:  # vertical family
            a1 = b1 + _VDELTA[mode]
            if a1 < 0 or a1 > w:
                raise G4Error("vertical mode out of line bounds")
            if a1 <= a0 and a0 >= 0:
                # a corrupt stream can code a non-advancing a1 — without
                # this guard the line loop never terminates
                raise G4Error("non-monotonic changing element")
            if a1 < w:
                cur.append(a1)
            a0 = a1
            color_white = not color_white
    return cur


def _decode_1d_transitions(br: _BitReader, w: int) -> list[int]:
    """Decode one one-dimensional (MH) coding line to changing-element
    positions (the 2-D reference-line form): alternating white/black runs,
    leading white run may be zero-length (line starts black → change at 0)."""
    trans: list[int] = []
    pos = 0
    white = True
    while pos < w:
        run = _read_run(br, white)
        if run == 0 and not (pos == 0 and white):
            raise G4Error("zero-length run mid-line")
        if pos + run > w:
            raise G4Error("G3 run overflows the line")
        pos += run
        if pos < w:
            trans.append(pos)
        white = not white
    return trans


def _line_from_transitions(cur: list[int], w: int) -> np.ndarray:
    """Materialize a pixel line (True = black) from its changing elements."""
    line = np.zeros(w, dtype=bool)
    black = False
    prev_t = 0
    for t in cur:
        if black:
            line[prev_t:t] = True
        black = not black
        prev_t = t
    if black:
        line[prev_t:] = True
    return line


def decode_g3_2d(
    data: bytes, columns: int, rows: int | None = None, byte_align: bool = False
) -> np.ndarray:
    """Decode a CCITT Group 3 two-dimensional stream (PDF ``/K k`` with
    k > 0) to a bool array (True = black). T.4 §2.2.4 framing: each line
    is EOL + tag bit (1 = 1-D MH line, 0 = 2-D line coded against the
    previous line), with optional zero fill before each EOL;
    RTC (consecutive EOLs) or stream end terminates. The decoder obeys the
    per-line tag, so any k the encoder chose decodes identically."""
    if columns <= 0:
        raise G4Error("columns must be positive")
    if rows is not None:
        budget.check_pixels("G3-2D image", columns, rows, G4Error)
    br = _BitReader(data)
    w = columns
    out: list[np.ndarray] = []
    ref: list[int] = []
    max_rows = rows if rows is not None else 1 << 30
    while len(out) < max_rows:
        budget.check()
        if byte_align:
            br.align_to_byte()
        # zero fill is allowed before every EOL (T.4 §2.2.3) — consume it
        while br.pos < br.nbits and br.window(12) != 1:
            if br.window(1) != 0:
                raise G4Error(f"expected EOL fill at bit {br.pos}")
            br.skip(1)
        if br.pos >= br.nbits:
            break
        br.skip(12)  # EOL
        tag = br.window(1)
        br.skip(1)
        # RTC / trailing-EOL detection: no MH or 2-D mode code has more than
        # 7 leading zeros, so >= 11 leading zeros here can only be (optional
        # zero fill +) another EOL — consecutive EOLs end the image
        nxt = br.window(24)
        if br.pos >= br.nbits or nxt == 0 or (24 - nxt.bit_length()) >= 11:
            break
        cur = (
            _decode_1d_transitions(br, w) if tag == 1 else _decode_2d_line(br, ref, w)
        )
        out.append(_line_from_transitions(cur, w))
        ref = cur
    if rows is not None and len(out) < rows:
        raise G4Error(f"G3-2D stream ended after {len(out)} of {rows} rows")
    if not out:
        return np.zeros((0, columns), dtype=bool)
    return np.stack(out)
