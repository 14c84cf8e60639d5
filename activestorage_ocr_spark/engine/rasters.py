"""Deterministic raster rendering, image codecs, and the OCR stand-in.

The reference's ``ocrs`` engine is a neural text detector/recognizer
(`rust/src/engines/ocrs.rs:81-101`: prepare_input -> detect_words ->
find_text_lines -> recognize_text). Neural models cannot ship in this sandbox
(SURVEY.md §2.4 E5), so the OCR stage here is a **deterministic stand-in**: a
5x7 pixel-font renderer plus a 4-phase decoder with the same structure
(prepare -> detect lines -> detect words/glyphs -> recognize), sharing one code
path between golden generation and the Spark kernel.

Text assembly preserves the reference's byte-identity separators
(`ocrs.rs:103-113`): words joined with " ", lines joined with "\\n".

Image containers (SURVEY.md §1.3: png/jpeg/gif/bmp/webp/tiff):

* PNG  — real codec (8-bit grayscale, filter 0, zlib).
* BMP  — real codec (24-bit BGR, bottom-up).
* TIFF — real codec (8-bit gray, uncompressed, single strip, little-endian).
* GIF  — real codec (GIF87a, 256-gray palette; encoder emits root codes with
  periodic CLEAR — valid LZW — and the decoder is a full LZW decoder).
* JPEG — real DCT decoder (`engine.jpegx`: Huffman + dequant + vectorized
  IDCT; gray + YCbCr up to 2x2 sampling, restart intervals), covering BOTH
  baseline (SOF0/1) and progressive (SOF2: spectral selection + successive
  approximation). The round-1 APP15 stub container is still accepted for
  corpus payloads (`decode_jpeg` dispatches stub-first).
* WEBP — real VP8L (lossless) decoder (`engine.webpx`: prefix codes, meta
  groups, LZ77, color cache, all four inverse transforms) and, round 3,
  a real VP8 (lossy) RFC 6386 keyframe decoder (`engine.vp8x`, pixel-exact
  vs libwebp); the round-1 ``GRAY``-chunk stub container is still
  accepted for corpus payloads.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import budget

# --------------------------------------------------------------------------
# 5x7 pixel font ("X" = ink). Every glyph is unique after blank-column trim.
# --------------------------------------------------------------------------

_FONT_ROWS: dict[str, tuple[str, ...]] = {
    "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
    "C": (".XXXX", "X....", "X....", "X....", "X....", "X....", ".XXXX"),
    "D": ("XXXX.", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXX."),
    "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
    "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
    "G": (".XXXX", "X....", "X....", "X.XXX", "X...X", "X...X", ".XXX."),
    "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "I": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
    "J": ("....X", "....X", "....X", "....X", "....X", "X...X", ".XXX."),
    "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
    "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
    "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
    "N": ("X...X", "XX..X", "XX..X", "X.X.X", "X..XX", "X..XX", "X...X"),
    "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
    "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
    "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
    "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
    "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
    "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "V": ("X...X", "X...X", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "XX.XX", "X...X"),
    "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
    "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
    "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
    "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
    "1": ("..X..", ".XX..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
    "3": ("XXXXX", "...X.", "..X..", "...X.", "....X", "X...X", ".XXX."),
    "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
    "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
    "6": ("..XX.", ".X...", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
    "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
    "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
    "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "...X.", ".XX.."),
    ".": (".....", ".....", ".....", ".....", ".....", ".XX..", ".XX.."),
    ",": (".....", ".....", ".....", ".....", "..XX.", "..X..", ".X..."),
    "-": (".....", ".....", ".....", "XXXXX", ".....", ".....", "....."),
    "!": ("..X..", "..X..", "..X..", "..X..", "..X..", ".....", "..X.."),
    "?": (".XXX.", "X...X", "....X", "..XX.", "..X..", ".....", "..X.."),
    ":": (".....", ".XX..", ".XX..", ".....", ".XX..", ".XX..", "....."),
    "'": ("..X..", "..X..", ".....", ".....", ".....", ".....", "....."),
}

#: Per-language glyph packs — the stand-in's analog of tesseract language
#: data (`rust/src/engines/leptess.rs:227-245`): language-specific characters
#: are only RECOGNIZED when their language is requested; rendering always
#: knows every glyph. A pack-less supported language (ita, por, ...) simply
#: adds no glyphs, like an installed-but-latin tessdata pack.
_LANG_FONT_ROWS: dict[str, dict[str, tuple[str, ...]]] = {
    "deu": {
        "Ä": ("X...X", ".XXX.", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
        "Ö": ("X...X", ".XXX.", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "Ü": ("X...X", ".....", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "ß": ("XXX..", "X..X.", "X..X.", "XX.X.", "X..X.", "X...X", "X.XX."),
    },
    "fra": {
        "É": ("...X.", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "È": (".X...", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "Ç": (".XXXX", "X....", "X....", "X....", ".XXXX", "..X..", ".XX.."),
        "À": (".X...", ".XXX.", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    },
    "spa": {
        "Ñ": (".XX.X", ".....", "X...X", "XX..X", "X.X.X", "X..XX", "X...X"),
        "É": ("...X.", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "Á": ("...X.", ".XXX.", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    },
    # round 3: two more of the reference's 13 languages get real packs
    "ita": {
        "È": (".X...", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "Ì": (".X...", "XXXXX", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
        "Ò": (".X...", ".XXX.", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "Ù": (".X...", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    },
    "por": {
        "Ã": (".XX.X", ".XXX.", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
        "Õ": (".XX.X", ".XXX.", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "Â": ("..X..", ".X.X.", ".XXX.", "X...X", "XXXXX", "X...X", "X...X"),
        "Ê": ("..X..", ".X.X.", "XXXXX", "X....", "XXXX.", "X....", "XXXXX"),
        "Ç": (".XXXX", "X....", "X....", "X....", ".XXXX", "..X..", ".XX.."),
    },
    # round 4: Dutch — the sixth language with glyphs distinct from base
    # latin (the remaining six of the reference's 13 are non-latin scripts
    # whose letterforms this pixel font cannot distinguish; documented as
    # pack-less)
    "nld": {
        "Ë": ("X...X", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "Ï": ("X...X", "XXXXX", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
        "É": ("...X.", "XXXXX", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "Ĳ": ("X...X", "X...X", "X...X", "X...X", "X...X", "XX..X", "X.XX."),
    },
    # round 5: Russian — the first NON-LATIN pack (closes E8's last honest
    # gap and exercises real non-ASCII codepoints through the full
    # rasterize -> OCR -> byte-identity path). Cyrillic letterforms that
    # are pixel-identical homoglyphs of latin capitals (А В Е К М Н О Р С
    # Т У Х) get NO bitmap here — in a 5x7 grid they ARE the latin bitmaps;
    # they render via CYRILLIC_HOMOGLYPHS aliases and decode back to the
    # Cyrillic codepoints only when rus is requested without eng (the
    # deterministic stand-in for the language model a real engine uses to
    # resolve script-ambiguous shapes). Every glyph is column-connected
    # (no fully blank interior column) or the segmenter would split it.
    "rus": {
        "Б": ("XXXXX", "X....", "X....", "XXXX.", "X...X", "X...X", "XXXX."),
        "Г": ("XXXXX", "X....", "X....", "X....", "X....", "X....", "X...."),
        "Д": ("..XX.", ".X.X.", ".X.X.", ".X.X.", ".X.X.", "XXXXX", "X...X"),
        "Ж": ("X.X.X", "X.X.X", ".XXX.", "..X..", ".XXX.", "X.X.X", "X.X.X"),
        "З": (".XXX.", "X...X", "....X", "..XX.", "....X", "X...X", ".XXX."),
        "И": ("X...X", "X..XX", "X..XX", "X.X.X", "XX..X", "XX..X", "X...X"),
        "Й": (".X.X.", "X...X", "X..XX", "X.X.X", "XX..X", "XX..X", "X...X"),
        "Л": ("..XXX", ".X..X", ".X..X", ".X..X", ".X..X", ".X..X", "X...X"),
        "П": ("XXXXX", "X...X", "X...X", "X...X", "X...X", "X...X", "X...X"),
        "Ф": ("..X..", ".XXX.", "X.X.X", "X.X.X", ".XXX.", "..X..", "..X.."),
        "Ц": ("X..X.", "X..X.", "X..X.", "X..X.", "X..X.", "XXXXX", "....X"),
        "Ч": ("X...X", "X...X", "X...X", ".XXXX", "....X", "....X", "....X"),
        "Ш": ("X.X.X", "X.X.X", "X.X.X", "X.X.X", "X.X.X", "X.X.X", "XXXXX"),
        "Щ": ("X.X.X", "X.X.X", "X.X.X", "X.X.X", "X.X.X", "XXXXX", "....X"),
        "Ъ": ("XX...", ".X...", ".X...", ".XXX.", ".X..X", ".X..X", ".XXX."),
        "Ы": ("X...X", "X...X", "XX..X", "X.X.X", "X.X.X", "XX..X", "XX.XX"),
        "Ь": ("X....", "X....", "X....", "XXXX.", "X...X", "X...X", "XXXX."),
        "Э": (".XXX.", "X...X", "....X", "..XXX", "....X", "X...X", ".XXX."),
        "Ю": ("X..X.", "X.X.X", "X.X.X", "XXX.X", "X.X.X", "X.X.X", "X..X."),
        "Я": (".XXXX", "X...X", "X...X", ".XXXX", "..X.X", ".X..X", "X...X"),
    },
    # round 5 (second non-latin pack): Japanese — the base 46 katakana
    # plus the long-vowel mark. 5x7 simplified letterforms, every glyph
    # column-connected and byte-distinct from all other packs (import-time
    # collision check). Round 6 adds the voicing marks (voiced kana
    # decompose to base + mark and re-compose on recognition — see
    # compose_kana below) and the nine small kana as sub-cell glyphs.
    # Hiragana and kanji remain outside the pixel font and read as '?' —
    # documented degradation, the same posture as unloaded accent packs.
    "jpn": {
        "ア": ("XXXXX","....X","...X.","..XX.",".X.X.","...X.","..X.."),
        "イ": ("....X","...X.","..XX.",".X.X.","X..X.","...X.","...X."),
        "ウ": ("..X..","XXXXX","X...X","....X","....X","...X.","..X.."),
        "エ": ("XXXXX","..X..","..X..","..X..","..X..",".XXX.","XXXXX"),
        "オ": ("...X.","XXXXX","...X.","..XX.",".X.X.","...X.","...X."),
        "カ": ("..X..","XXXXX","..X.X","..X.X",".X..X",".X..X","X..X."),
        "キ": ("..X..","XXXXX","..X..","..X..","XXXXX","..X..","...X."),
        "ク": ("..XX.",".X..X","X...X","....X","....X","...X.","..X.."),
        "ケ": (".X...","XXXXX",".X.X.",".X.X.","...X.","...X.","..X.."),
        "コ": ("XXXXX","....X","....X","....X","....X","....X","XXXXX"),
        "サ": (".X.X.","XXXXX",".X.X.",".X.X.","...X.","...X.","..X.."),
        "シ": ("X..X.","....X","X...X","....X","....X","...X.","XXX.."),
        "ス": ("XXXXX","....X","...X.","..X..",".XX..","X..X.","....X"),
        "セ": (".X...","XXXXX",".X..X",".X.X.",".X...",".X...","..XXX"),
        "ソ": ("X...X",".X..X","....X","....X","...X.","...X.","..X.."),
        "タ": ("..XX.",".X..X","X...X","..X.X","...X.","...X.","..X.."),
        "チ": ("...XX","XXX..","..X..","XXXXX","..X..","..X..",".X..."),
        "ツ": ("X.X.X","X.X.X",".X..X","....X","...X.","..X..",".X..."),
        "テ": ("XXXXX",".....","XXXXX","..X..","..X..","..X..",".X..."),
        "ト": ("X....","X....","X....","XX...","X.XX.","X....","X...."),
        "ナ": ("..X..","XXXXX","..X..","..X..","..X..",".X...","X...."),
        "ニ": ("XXXXX",".....",".....",".....",".....",".....","XXXXX"),
        "ヌ": ("XXXXX","....X","..X.X",".X.X.","..XX.",".X.X.","....X"),
        "ネ": ("..X..","XXXXX","...X.","..XX.",".X.X.","X.X.X","..X.."),
        "ノ": ("....X","....X","...X.","...X.","..X..",".X...","X...."),
        "ハ": ("..X..",".X.X.",".X.X.","X...X","X...X","X...X","X...X"),
        "ヒ": ("X....","X..XX","XX...","X....","X....","X....",".XXXX"),
        "フ": ("XXXXX","....X","....X","....X","...X.","..X..",".X..."),
        "ヘ": (".....",".X...","X.X..","...X.","....X",".....","....."),
        "ホ": ("..X..","XXXXX","..X..","X.X.X","X.X.X","..X..","..X.."),
        "マ": ("XXXXX","....X","...X.","..X..","..XX.","....X","....."),
        "ミ": (".XXX.","....X",".XX..","....X",".XX..","...X.","X...."),
        "ム": ("..X..","..X..",".X...",".X..X","X...X","XXXXX","....X"),
        "メ": ("....X","X..X.",".X.X.","..XX.","..X..",".XX..","X...."),
        "モ": ("XXXXX","..X..","..X..","XXXXX","..X..","..X..","...XX"),
        "ヤ": (".X...",".X.XX","XXXX.","..X.X","..X..","..X..","...X."),
        "ユ": (".XXX.","...X.","...X.","...X.","...X.","XXXXX","....."),
        "ヨ": ("XXXXX","....X","....X","XXXXX","....X","....X","XXXXX"),
        "ラ": ("XXXXX",".....","XXXXX","....X","...X.","..X..",".X..."),
        "リ": ("X...X","X...X","X...X","X...X","....X","...X.",".XX.."),
        "ル": (".X.X.",".X.X.",".X.X.",".X.X.",".X.XX","X.X.X","X.X.."),
        "レ": ("X....","X....","X....","X...X","X..X.","X.X..","XX..."),
        "ロ": ("XXXXX","X...X","X...X","X...X","X...X","X...X","XXXXX"),
        "ワ": ("XXXXX","X...X","X...X","....X","...X.","...X.","..X.."),
        "ヲ": ("XXXXX","....X","....X","XXXXX","...X.","..X..",".X..."),
        "ン": ("XX..X","....X","....X","....X","...X.","..X..","XX..."),
        "ー": (".....",".....",".....","XXXX.",".....",".....","....."),
        # round 6: the two voicing marks render as their own cells —
        # voiced kana DECOMPOSE to base + mark for rendering (a 5x7 cell
        # cannot stack the mark into the glyph corner) and recognition
        # RE-COMPOSES mark runs when jpn is requested, the same
        # decompose-on-render / recompose-on-recognize treatment as
        # hangul jamo. ゛ = dakuten (ka->ga row), ゜ = handakuten (pa row).
        "゛": (".X.X.","X.X..",".....",".....",".....",".....","....."),
        "゜": (".XXX.",".X.X.",".XXX.",".....",".....",".....","....."),
        # round 6: the nine small kana as bottom-aligned sub-cell glyphs
        # (rows 2-6, mostly 4 cols) — the short-glyph band geometry
        # (`_band_geometry`) makes sub-cell letterforms first-class, so
        # トーキョー / ラッパ-class words round-trip. Literal codepoints,
        # no composition needed.
        # round 6 (second jpn batch): the base 46 HIRAGANA — real
        # Japanese text is hiragana-heavy, so the katakana-only pack read
        # most of a sentence as '?'. 5x7 skeletons of the cursive forms,
        # byte-distinct from the katakana set (import-time collision
        # check); voiced forms ride the same ゛/゜ mark composition via
        # the hiragana rows of _KANA_VOICED.
        "あ": ("..X..","XXXXX","..X..",".XXXX","X.X.X","X.X.X",".XX.X"),
        "い": ("X..X.","X...X","X...X","X...X","X...X",".X...","..X.."),
        "う": ("..XX.","..X..","XXXX.","....X","....X","...X.","XX..."),
        "え": ("..X..","XXXXX","...X.","..X..",".XX..","X.X.X","X..XX"),
        "お": ("X.X..","XXXXX","X..X.","X.X.X","XX..X","X...X","XXXX."),
        "か": ("..X..","XXXXX","X.X.X","X.X.X","X.X.X","X.X..","..X.."),
        "き": ("..X..","XXXXX","..X..","XXXXX",".X...","..XXX","....X"),
        "く": ("...X.","..X..",".X...","X....",".X...","..X..","...X."),
        "け": ("X..X.","XXXXX","X..X.","X..X.","X..X.","X..X.","X.X.."),
        "こ": ("XXXX.","....X","....X","....X","X....","X....",".XXXX"),
        "さ": ("..X..","XXXXX","...X.","...X.",".XX..","X....",".XXX."),
        "し": ("X....","X....","X....","X....","X....","X...X",".XXX."),
        "す": ("XXXXX","..X..","..XX.","..X.X","..XX.","..X..",".X..."),
        "せ": ("X..X.","XXXXX","X..X.","X..X.","X.XX.","X....",".XXX."),
        "そ": (".XXX.","..X..",".XXXX","..X..",".X...","X....",".XXXX"),
        "た": ("..X..","XXXXX","..X..",".X.XX",".X...",".X..X",".X.XX"),
        "ち": ("..X..","XXXXX","..X..",".XXX.","....X","....X","XXXX."),
        "つ": ("XXXX.","....X","....X","....X","....X","...X.","XX..."),
        "て": ("XXXXX","...X.","..X..","..X..","..X..","..X..","...XX"),
        "と": ("..X..","..X.X","...X.","..X..",".X...","X....",".XXXX"),
        "な": ("..X.X","XXX.X","..X..",".X.X.",".X.XX","X..X.","...X."),
        "に": ("X.XXX","X....","XX...","X....","X....","X....","X.XXX"),
        "ぬ": (".X.X.",".X.X.","XXXX.","X.XX.","X.X.X","XXX.X","...XX"),
        "ね": ("X....","XXXX.","X..X.","XX.X.","X.XX.","XX.XX","X..XX"),
        "の": ("..XX.",".X.X.","X..X.","X..X.","X.X.X","X.X.X",".X.X."),
        "は": ("X..X.","X..X.","X.XXX","X..X.","X.XX.","XX.X.","X.XX."),
        "ひ": ("XX.X.","..X.X","..X.X",".XX.X","X...X","X...X",".XXX."),
        "ふ": ("..XX.","...X.","..XX.",".X.X.","X.X.X","X.X.X","..X.X"),
        # へ sits one row lower than katakana ヘ — the pair is a true
        # typographic homoglyph; the offset keeps the bitmaps distinct so
        # both round-trip byte-exact
        "へ": (".....",".....",".X...","X.X..","...X.","....X","....."),
        "ほ": ("X.XXX","X..X.","X.XXX","X..X.","X.XX.","XX.X.","X.XX."),
        "ま": ("XXXXX","..X..","XXXXX","..X..",".XXX.","..X.X",".XXX."),
        "み": (".XX..","..X..","..X.X","XXXXX","..X.X",".X.XX","X..X."),
        "む": (".X...","XXXXX",".X..X",".XX..",".X.X.",".X.XX",".XXX."),
        "め": (".X.X.",".X.X.","XXXX.","X.XX.","X.X.X",".XX.X","..XX."),
        "も": (".X...",".XXXX",".X...","XXXXX",".X..X",".X..X","..XX."),
        "や": (".X...",".X.XX","XXXX.","..X.X","..X..",".X...",".X..."),
        "ゆ": ("X.X..","X.XX.","X.X.X","XXX.X","X.X.X","..XX.","..X.."),
        "よ": ("...X.","...X.","..XXX","...X.","..XX.",".X.X.","..X.."),
        "ら": (".X...","..X..","X....","XXXX.","X...X","....X","XXXX."),
        "り": (".X.X.","X..X.","X..X.","X..X.","X..X.","...X.","..X.."),
        "る": ("XXXX.","...X.","..X..",".XXX.","X...X","X.X.X",".XX.X"),
        "れ": ("X....","XXXX.","X..X.","XX.X.","X.X..","XX.X.","X..XX"),
        "ろ": ("XXXX.","...X.","..X..",".XXX.","X...X","X...X",".XXX."),
        "わ": ("X....","XXXX.","X...X","XX..X","X.XX.","XX...","X...."),
        "を": ("..X..","XXXXX","..XX.",".XX..","..XXX",".X...","..XXX"),
        "ん": ("..X..","..X..",".X...",".XX..",".X.X.","X..XX","X...X"),
        "ァ": (".....",".....","XXXX.","...X.","..XX.",".X.X.","..X.."),
        "ィ": (".....",".....","...X.","..XX.",".X.X.","..X..","..X.."),
        "ゥ": (".....",".....",".X...","XXXX.","X..X.","...X.","..X.."),
        "ェ": (".....",".....","XXXX.","..X..","..X..","..X..","XXXX."),
        "ォ": (".....",".....","..X..","XXXX.","..X..",".XX..","..X.."),
        "ッ": (".....",".....","X.X.X","....X","...X.","..X..",".X..."),
        "ぁ": (".....",".....",".X...","XXXX.",".XXX.","X.X.X",".XX.X"),
        "ぃ": (".....",".....","X.X..","X..X.","X..X.","X....",".X..."),
        "ぅ": (".....",".....",".XX..","X.XX.","...X.","..X..",".X..."),
        "ぇ": (".....",".....",".X...","XXXX.","..X..",".XX.X",".X.XX"),
        "ぉ": (".....",".....","X.X..","XXXX.","XX.X.","X..X.","XXXX."),
        "ゃ": (".....",".....","X.XX.","XXXX.","..X..",".X...",".X..."),
        "ゅ": (".....",".....","X.X..","XXXXX","X.X.X",".XX..","..X.."),
        "ょ": (".....",".....","...X.","..XXX","...X.","..XX.",".X.X."),
        "っ": (".....",".....","XXXX.","....X","....X","...X.","XX..."),
        "ャ": (".....",".....","X.X..","XXXX.","..X..","..X..","..X.."),
        "ュ": (".....",".....",".XXX.","...X.","...X.","XXXXX","....."),
        "ョ": (".....",".....","XXXX.","...X.","XXXX.","...X.","XXXX."),
    },
    # round 6: Korean — the third non-latin pack, and the first that
    # exercises ALGORITHMIC composition: hangul syllables (U+AC00..U+D7A3)
    # decompose arithmetically into a linear jamo sequence for rendering
    # (a 5x7 cell cannot stack a syllable block, so jamo write in a row —
    # documented stand-in), and recognition RE-COMPOSES jamo runs into
    # syllables when ``kor`` is requested, restoring byte-identity.  The
    # glyph set is the 19 lead consonants (doubled forms are atomic glyphs
    # — expanding ㄲ to ㄱㄱ would make 악까 / 앆가 decompose identically,
    # an ambiguity) plus the 10 basic vowels; compound vowels and complex
    # tails expand to basic sequences, which recompose unambiguously
    # because every syllable carries an explicit lead (ㅇ included).
    # Letterforms avoid pixel-identity with latin (ㅜ vs T, ㄴ vs L, ㅡ vs
    # '-', ㅁ/ㅇ vs 5-wide box/O) by width or stroke tweaks; the
    # import-time collision check pins it.
    "kor": {
        "ㄱ": ("XXXXX","....X","....X","....X","....X","....X","....X"),
        "ㄲ": ("XXXXX",".X..X",".X..X",".X..X",".X..X",".X..X",".X..X"),
        "ㄴ": ("XX...","XX...","XX...","XX...","XX...","XX...","XXXXX"),
        "ㄷ": ("XXXXX","X....","X....","X....","X....","X....","XXXXX"),
        "ㄸ": ("XXXXX","X..X.","X..X.","X..X.","X..X.","X..X.","XXXXX"),
        "ㄹ": ("XXXXX","....X","....X","XXXXX","X....","X....","XXXXX"),
        "ㅁ": ("XXXXX","XX..X","XX..X","XX..X","XX..X","XX..X","XXXXX"),
        "ㅂ": ("X...X","X...X","X...X","XXXXX","X...X","X...X","XXXXX"),
        "ㅃ": ("X.X.X","X.X.X","X.X.X","XXXXX","X.X.X","X.X.X","XXXXX"),
        "ㅅ": ("..X..","..X..",".X.X.",".X.X.","X...X","X...X","X...X"),
        "ㅆ": (".X.X.",".X.X.",".X.X.",".X.X.","X.X.X","X.X.X","X.X.X"),
        "ㅇ": ("..X..",".X.X.","X...X","X...X","X...X",".X.X.","..X.."),
        "ㅈ": ("XXXXX","..X..","..X..",".X.X.",".X.X.","X...X","X...X"),
        "ㅉ": ("XXXXX",".X.X.",".X.X.","X.X.X","X.X.X","X.X.X","X.X.X"),
        "ㅊ": ("..X..","XXXXX","..X..","..X..",".X.X.","X...X","X...X"),
        "ㅋ": ("XXXXX","....X","....X","XXXXX","....X","....X","....X"),
        "ㅌ": ("XXXXX","X....","X....","XXXXX","X....","X....","XXXXX"),
        "ㅍ": ("XXXXX",".X.X.",".X.X.",".X.X.",".X.X.",".X.X.","XXXXX"),
        "ㅎ": ("..X..","XXXXX","..X..",".XXX.","X...X","X...X",".XXX."),
        "ㅏ": ("X....","X....","X....","XXXXX","X....","X....","X...."),
        "ㅑ": ("X....","XXXXX","X....","XXXXX","X....","X....","X...."),
        "ㅓ": ("....X","....X","....X","XXXXX","....X","....X","....X"),
        "ㅕ": ("....X","XXXXX","....X","XXXXX","....X","....X","....X"),
        "ㅗ": ("..X..","..X..","..X..","..X..","..X..","..X..","XXXXX"),
        "ㅛ": (".X.X.",".X.X.",".X.X.",".X.X.",".X.X.",".X.X.","XXXXX"),
        "ㅜ": ("XXXXX","..XX.","..XX.","..XX.","..XX.","..XX.","..XX."),
        "ㅠ": ("XXXXX",".X.X.",".X.X.",".X.X.",".X.X.",".X.X.",".X.X."),
        "ㅡ": (".....",".....",".....",".....","XXXXX",".....","....."),
        "ㅣ": (".XXX.","..X..","..X..","..X..","..X..","..X..",".XXX."),
    },
    # round 6: Arabic — the fourth non-latin pack, and the first
    # RIGHT-TO-LEFT script: logical-order text renders with every maximal
    # Arabic run mirrored into visual order (`mirror_rtl_runs`, applied in
    # `render_text`), and recognition — which always scans columns
    # left-to-right — re-mirrors those runs back to logical order when
    # ``ara`` is requested, restoring byte identity through the full
    # rasterize -> OCR round trip. The mirror is an involution, so one
    # function serves both directions. Scope: the 28 base isolated
    # letterforms + hamza; cursive joining (initial/medial/final
    # contextual forms) cannot exist in a fixed 5x7 cell and is out of
    # scope (documented stand-in, same posture as jamo-in-a-row for kor);
    # i'jam dot placement is adjusted where the cell forces it. Every
    # glyph keeps a contiguous ink-row span (no interior blank row — a
    # lone glyph must stay ONE line band) and no blank interior column.
    "ara": {
        "ا": ("....X","....X","....X","....X","....X","....X","XXXXX"),
        "ب": ("X...X","X...X","X...X","X...X","XXXXX","..X..","..X.."),
        "ت": (".X.X.","X...X","X...X","X...X","X...X","X...X","XXXXX"),
        "ث": ("..X..",".X.X.","X...X","X...X","X...X","X...X","XXXXX"),
        "ج": ("XXXXX","....X","...X.","..X.X",".X...","X....",".XXXX"),
        "ح": ("XXXXX","....X","...X.","..X..",".X...","X....",".XXXX"),
        "خ": ("XXXXX","....X","X..X.","..X..",".X...","X....",".XXXX"),
        "د": ("....X","....X","....X","...X.","..X..",".X...","XXXXX"),
        "ذ": ("..X.X","....X","....X","...X.","..X..",".X...","XXXXX"),
        "ر": ("....X","....X","....X","....X","...X.","..X..","XX..."),
        "ز": ("..X.X","....X","....X","....X","...X.","..X..","XX..."),
        "س": ("X.X.X","X.X.X","X.X.X","X.X.X","X.X.X","X...X","XXXXX"),
        "ش": ("..X..","X.X.X","X.X.X","X.X.X","X.X.X","X...X","XXXXX"),
        "ص": ("XXXX.","X..X.","X..X.","XXXX.","X....","X....","XXXXX"),
        "ض": ("..X..","XXXX.","X..X.","XXXX.","X....","X....","XXXXX"),
        "ط": ("X....","X....","X....","X.XXX","X.X.X","X.XXX","XXXXX"),
        "ظ": ("X..X.","X....","X....","X.XXX","X.X.X","X.XXX","XXXXX"),
        "ع": (".XXX.","X....","X....",".XX..","X....","X...X",".XXXX"),
        "غ": ("..X..",".XXX.","X....",".XX..","X....","X...X",".XXXX"),
        "ف": ("..X..",".X.X.",".XXX.","X....","X....","X....","XXXXX"),
        "ق": (".X.X.",".XXX.",".X.X.",".XXX.","X...X","X...X",".XXXX"),
        "ك": ("X...X","X..X.","X.X..","XX...","X.X..","X....","XXXXX"),
        "ل": ("....X","....X","....X","....X","X...X","X...X",".XXXX"),
        "م": ("..XXX","..X.X","..XXX","..X..","..X..","..X..","XXX.."),
        "ن": ("..X..","X...X","X...X","X...X","X...X","X...X",".XXX."),
        "ه": (".XXX.","X...X","X.X.X","X.X.X","X.X.X","X...X",".XXX."),
        "و": ("..XX.","..X.X","..XX.","....X","...X.","..X..","XX..."),
        "ي": ("X...X","X...X",".XXXX","....X","X...X",".XXX.",".X.X."),
        "ء": ("..XX.",".X...",".XXX.","...X.","..XX.",".....","....."),
        # the two common word-final forms beyond the base 28 (a review of
        # real text tripped on their absence): ta marbuta = heh + two
        # dots above, alef maksula = yeh without its dots
        "ة": ("X...X",".XXX.","X...X","X.X.X","X.X.X","X...X",".XXX."),
        "ى": ("X...X","X...X",".XXXX","....X","X...X",".XXX.","....."),
        # round 6 (second ara batch): the Eastern Arabic-Indic digits —
        # real Arabic crawl text numbers with these, not 0-9. Bidi class
        # AN: they travel INSIDE mirrored Arabic runs but read
        # left-to-right internally (`mirror_rtl_runs` re-reverses maximal
        # digit sub-runs after mirroring each run; the fix-up commutes
        # with reversal, so the mirror stays an involution).
        "٠": (".....",".....",".....",".XXX.",".XXX.",".....","....."),
        "١": ("..XX.","..X..","..X..","..X..","..X..",".X...",".X..."),
        "٢": ("XXXX.","..X..","..X..","..X..",".X...",".X...","X...."),
        "٣": ("X.X.X","XX.XX","..X..","..X..","..X..",".X...","X...."),
        "٤": (".XXX.","X....",".XX..","X....","X....",".X...","..XXX"),
        "٥": ("..X..",".XXX.",".XXX.",".XXX.","..X..",".....","....."),
        "٦": ("...X.","...X.","..X..","XXX..","X....","X....","X...."),
        "٧": ("X...X","X...X",".X.X.",".X.X.","..X..","..X..","..X.."),
        "٨": ("..X..",".X.X.",".X.X.","X...X","X...X","X...X","X...."),
        "٩": ("..XX.",".X.X.",".X.X.",".XX..","...X.","..X..","..X.."),
    },
    # round 6: Chinese — the last two pack-less languages get real packs,
    # completing 13/13. Hanzi are open-class (thousands of characters);
    # like a partial tessdata these packs carry a CORE set — the ten
    # numerals plus the highest-frequency characters — and everything
    # outside it degrades to '?' exactly like unloaded accents (the same
    # documented posture as jpn's missing kanji). Letterforms are 25-pixel
    # schematic skeletons of the real strokes: visually disconnected
    # components are bridged (a fully blank interior column/row would
    # split the glyph across the segmenter's column runs / line bands),
    # and shapes that would collide with latin (工 = I) are omitted or
    # tweaked. chi_sim and chi_tra share every character whose form is
    # identical in both scripts (populated programmatically below, like
    # the fra/spa shared accents); the chi_tra literal carries only the
    # traditional-distinct forms.
    "chi_sim": {
        "一": (".....",".....","..X..","XXXXX",".....",".....","....."),
        "二": (".....",".XXX.","...X.","..X..",".X...","XXXXX","....."),
        "三": ("XXXXX","X....","XXXXX","....X","....X","XXXXX","....."),
        "四": ("XXXXX","X.X.X","X.X.X","X.XXX","X...X","XXXXX","....."),
        "五": ("XXXXX","..X..",".XXX.",".X.X.",".X.X.","XXXXX","....."),
        "六": ("..X..","XXXXX",".X.X.",".X.X.","X...X","X...X","....."),
        "七": ("..X..","..X..","XXXXX","..X..","..X.X","..XXX","....."),
        "八": (".....","..X..",".X.X.",".X.X.","X...X","X...X","....."),
        "九": (".X...",".X...","XXXX.",".X.X.",".X.X.","X..X.","...XX"),
        "十": ("..X..","..X..","XXXXX","..X..","..X..","..X..","....."),
        "人": ("..X..","..X..",".X.X.",".X.X.","X...X","X...X","X...."),
        "大": ("..X..","XXXXX","..X..",".X.X.",".X.X.","X...X","X...X"),
        "中": ("..X..","XXXXX","X.X.X","X.X.X","XXXXX","..X..","..X.."),
        "国": ("XXXXX","X...X","XX.XX","X.X.X","XX.XX","X...X","XXXXX"),
        "我": ("X.X..","XXXXX","X.X.X",".XXX.","X.X.X","XXXXX","..X.X"),
        "你": ("X.XX.","XX.X.","X.XXX","X.X.X","X..X.","X..X.","X.XX."),
        "他": ("X..X.","XX.X.","X.XXX","X.X.X","X.XXX","X..X.","X..XX"),
        "们": ("X.X.X","XX.XX","X.XXX","X.X.X","X.X.X","X.X.X","X.X.X"),
        "是": ("XXXXX","X...X","XXXXX","..X..","XXXXX",".X.X.","X...X"),
        "不": ("XXXXX","..X..",".XX.X","X.X..","..X..","..X..","..X.."),
        "了": ("XXXXX","....X","...X.","..X..","..X..","..X..",".XX.."),
        "的": (".XXX.","X...X","XXXXX","X.X.X","X.XXX","X...X",".XXX."),
        "在": ("XXXXX",".X...","XXXX.",".X..X",".XXX.",".X...",".XXXX"),
        "有": ("XXXXX","..X..",".XXXX",".X..X",".XXXX",".X..X",".X.XX"),
        "上": ("..X..","..X..","..XXX","..X..","..X..","..X..","XXXXX"),
        "下": ("XXXXX","..X..","..XX.","..X.X","..X..","..X..","..X.."),
        "日": ("XXXX.","X..X.","X..X.","XXXX.","X..X.","X..X.","XXXX."),
        "月": (".XXXX",".X..X",".XXXX",".X..X",".XXXX",".X..X","X...X"),
        "山": ("..X..","..X..","X.X.X","X.X.X","X.X.X","X...X","XXXXX"),
        "水": ("..X..","X.X.X","XXXXX","..X..",".XXX.","X.X.X","..X.."),
        "火": ("..X..","X.X.X",".XXX.","..X..",".X.X.","X...X","X...X"),
        "木": ("..X..","XXXXX",".XXX.","X.X.X","..X..","..X..","..X.."),
        "土": ("..X..","..X..",".XXX.","..X..","..X..","..X..","XXXXX"),
        "口": (".....","XXXXX","X...X","X...X","X...X","XXXXX","....."),
        "门": ("X.XXX","X...X","XX..X","X...X","X...X","X...X","X...X"),
        "天": ("XXXXX","..X..","XXXXX","..X..",".X.X.","X...X","X...X"),
        "年": (".X...","XXXXX","X.X..","XXXXX","..X..","XXXXX","..X.."),
        "王": ("XXXXX","..X..","..X..",".XXX.","..X..","..X..","XXXXX"),
        "生": (".X...","XXXXX","..X..",".XXX.","..X..","..X..","XXXXX"),
        "学": (".X.X.","XXXXX","X...X","XXXXX","..X..","XXXXX","..X.."),
    },
    "chi_tra": {
        "國": ("XXXXX","X.X.X","XX.XX","X.XXX","XX.XX","X.X.X","XXXXX"),
        "們": ("X.XXX","XXX.X","X.XXX","X.X.X","X.X.X","X.X.X","X.X.X"),
        "門": ("XX.XX","XX.XX","XXXXX","X...X","X...X","X...X","X...X"),
        "學": ("X.X.X",".XXX.","X.X.X","XXXXX","...X.","XXXXX","..X.."),
        "愛": (".XXX.","XXXXX",".X.X.","XXXXX",".X...",".XXX.","X...X"),
        "馬": ("XXXX.","X.X..","XXXX.","X.X..","XXXXX","....X",".X.XX"),
        "鳥": (".XX..","XXXX.","X.XX.","XXXX.","X.XXX","....X",".XXXX"),
        "車": ("..X..","XXXXX","X.X.X","XXXXX","X.X.X","XXXXX","..X.."),
        "見": ("XXXX.","X..X.","XXXX.","X..X.","XXXX.",".X.X.","X..XX"),
        "長": ("X.XXX","X.X..","XXXXX","X.X..","XX.XX","X.XX.","X..XX"),
    },
}

#: characters whose form is identical in simplified and traditional script
#: share one bitmap across both packs (the simplified-specific forms 国们
#: 门学 stay chi_sim-only; their traditional counterparts live in the
#: chi_tra literal above)
_LANG_FONT_ROWS["chi_tra"].update({
    ch: rows for ch, rows in _LANG_FONT_ROWS["chi_sim"].items()
    if ch not in ("国", "们", "门", "学")
})


# ---------------------------------------------------------------------------
# hangul syllable (de)composition — the public Unicode arithmetic mapping
# (syllable = 0xAC00 + (lead*21 + vowel)*28 + tail), with compound vowels
# and complex tails expanded to the basic glyph set above
# ---------------------------------------------------------------------------
_H_LEADS = "ㄱㄲㄴㄷㄸㄹㅁㅂㅃㅅㅆㅇㅈㅉㅊㅋㅌㅍㅎ"
_H_VOWELS = (
    "ㅏ", "ㅏㅣ", "ㅑ", "ㅑㅣ", "ㅓ", "ㅓㅣ", "ㅕ", "ㅕㅣ", "ㅗ", "ㅗㅏ",
    "ㅗㅏㅣ", "ㅗㅣ", "ㅛ", "ㅜ", "ㅜㅓ", "ㅜㅓㅣ", "ㅜㅣ", "ㅠ", "ㅡ",
    "ㅡㅣ", "ㅣ",
)
_H_TAILS = (
    "", "ㄱ", "ㄲ", "ㄱㅅ", "ㄴ", "ㄴㅈ", "ㄴㅎ", "ㄷ", "ㄹ", "ㄹㄱ",
    "ㄹㅁ", "ㄹㅂ", "ㄹㅅ", "ㄹㅌ", "ㄹㅍ", "ㄹㅎ", "ㅁ", "ㅂ", "ㅂㅅ",
    "ㅅ", "ㅆ", "ㅇ", "ㅈ", "ㅊ", "ㅋ", "ㅌ", "ㅍ", "ㅎ",
)
_H_LEAD_IDX = {c: i for i, c in enumerate(_H_LEADS)}
_H_VOWEL_IDX = {v: i for i, v in enumerate(_H_VOWELS)}
_H_TAIL_IDX = {t: i for i, t in enumerate(_H_TAILS)}
_H_V_CHARS = frozenset("ㅏㅑㅓㅕㅗㅛㅜㅠㅡㅣ")
_H_CONS = frozenset(_H_LEADS)


def decompose_hangul(text: str) -> str:
    """Precomposed syllables -> linear basic-jamo sequence (other chars
    pass through)."""
    out = []
    for ch in text:
        o = ord(ch)
        if 0xAC00 <= o <= 0xD7A3:
            s = o - 0xAC00
            out.append(_H_LEADS[s // 588])
            out.append(_H_VOWELS[(s % 588) // 28])
            out.append(_H_TAILS[s % 28])
        else:
            out.append(ch)
    return "".join(out)


def compose_hangul(text: str) -> str:
    """Inverse of `decompose_hangul` on decomposed syllable text: greedy
    lead + longest-vowel + longest-legal-tail, where a consonant followed
    by a vowel always stays the NEXT syllable's lead.  Jamo that cannot
    form a syllable (bare vowels, orphan consonants) pass through
    unchanged, so the function is safe on arbitrary OCR output."""
    out = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch not in _H_LEAD_IDX or i + 1 >= n or text[i + 1] not in _H_V_CHARS:
            out.append(ch)
            i += 1
            continue
        lead = _H_LEAD_IDX[ch]
        i += 1
        vidx = 0
        for k in (3, 2, 1):
            seq = text[i : i + k]
            if len(seq) == k and seq in _H_VOWEL_IDX:
                vidx = _H_VOWEL_IDX[seq]
                i += k
                break
        tidx = 0
        for k in (2, 1):
            seq = text[i : i + k]
            if (
                len(seq) == k
                and all(c in _H_CONS for c in seq)
                and seq in _H_TAIL_IDX
                and not (i + k < n and text[i + k] in _H_V_CHARS)
            ):
                tidx = _H_TAIL_IDX[seq]
                i += k
                break
        out.append(chr(0xAC00 + (lead * 21 + vidx) * 28 + tidx))
    return "".join(out)

# ---------------------------------------------------------------------------
# katakana voicing (de)composition — the Unicode NFD/NFC pairs for the
# dakuten (U+3099-composed, rendered via the spacing mark ゛) and
# handakuten (゜) rows, as an explicit table so behavior can't drift with
# the stdlib's Unicode version. Voiced kana decompose to base + mark for
# rendering and re-compose on recognition when jpn is requested (the
# katakana analog of the hangul jamo treatment).
# ---------------------------------------------------------------------------
_KANA_VOICED = {
    "ガ": "カ゛", "ギ": "キ゛", "グ": "ク゛", "ゲ": "ケ゛", "ゴ": "コ゛",
    "ザ": "サ゛", "ジ": "シ゛", "ズ": "ス゛", "ゼ": "セ゛", "ゾ": "ソ゛",
    "ダ": "タ゛", "ヂ": "チ゛", "ヅ": "ツ゛", "デ": "テ゛", "ド": "ト゛",
    "バ": "ハ゛", "ビ": "ヒ゛", "ブ": "フ゛", "ベ": "ヘ゛", "ボ": "ホ゛",
    "ヴ": "ウ゛",
    "パ": "ハ゜", "ピ": "ヒ゜", "プ": "フ゜", "ペ": "ヘ゜", "ポ": "ホ゜",
    # hiragana rows (r6 second batch) — same marks, same composition
    "が": "か゛", "ぎ": "き゛", "ぐ": "く゛", "げ": "け゛", "ご": "こ゛",
    "ざ": "さ゛", "じ": "し゛", "ず": "す゛", "ぜ": "せ゛", "ぞ": "そ゛",
    "だ": "た゛", "ぢ": "ち゛", "づ": "つ゛", "で": "て゛", "ど": "と゛",
    "ば": "は゛", "び": "ひ゛", "ぶ": "ふ゛", "べ": "へ゛", "ぼ": "ほ゛",
    "ぱ": "は゜", "ぴ": "ひ゜", "ぷ": "ふ゜", "ぺ": "へ゜", "ぽ": "ほ゜",
}
_KANA_COMPOSE = {v: k for k, v in _KANA_VOICED.items()}


def decompose_kana(text: str) -> str:
    """Voiced katakana -> base + spacing voicing mark (other chars pass)."""
    return "".join(_KANA_VOICED.get(ch, ch) for ch in text)


def compose_kana(text: str) -> str:
    """Inverse of `decompose_kana`: base+mark pairs re-compose; orphan
    marks (no voiceable base before them) pass through unchanged, so the
    function is safe on arbitrary OCR output.

    Deliberate NFC normalization, not an involution: literal source text
    "base + spacing mark" (e.g. カ U+30AB followed by ゛ U+309B) renders
    pixel-identically to the precomposed kana — the renderer DECOMPOSES
    ガ to exactly those cells — so the two spellings are indistinguishable
    in the raster and a jpn-context decode resolves the shared shape to
    the PRECOMPOSED codepoint. This is the same deterministic
    one-winner rule as the Cyrillic homoglyph resolution (and the reason
    the hangul pack made doubled jamo atomic: there BOTH readings were
    common words; here the spacing-mark spelling is the rare legacy
    form, so NFC wins)."""
    out: list[str] = []
    for ch in text:
        if out and ch in ("゛", "゜"):
            composed = _KANA_COMPOSE.get(out[-1] + ch)
            if composed is not None:
                out[-1] = composed
                continue
        out.append(ch)
    return "".join(out)


# ---------------------------------------------------------------------------
# RTL handling for the ara pack — a minimal, involutory bidi stand-in.
# Full UAX#9 is out of scope for a pixel font; the rule here: within each
# line, every MAXIMAL run of Arabic letters (including interior spaces
# whose nearest non-space neighbors on both sides are Arabic) is mirrored
# into visual order. Digits and latin embedments terminate runs and keep
# their logical positions. Mirroring a run yields a run with identical
# membership and identical surrounding context, so applying the same
# function to the mirrored text restores the original — the renderer and
# the recognizer share one function for the two directions.
# ---------------------------------------------------------------------------
_ARA_CHARS = frozenset(_LANG_FONT_ROWS["ara"])
_ARA_DIGITS = frozenset("٠١٢٣٤٥٦٧٨٩")


def _fix_digit_subruns(seg: str) -> str:
    """Re-reverse maximal Arabic-Indic digit sub-runs inside a mirrored
    segment (bidi class AN: numbers read left-to-right within RTL text).
    Reversal maps digit runs to digit runs, so this fix-up commutes with
    the segment reversal and the overall mirror stays an involution."""
    out: list[str] = []
    i, n = 0, len(seg)
    while i < n:
        if seg[i] in _ARA_DIGITS:
            j = i
            while j + 1 < n and seg[j + 1] in _ARA_DIGITS:
                j += 1
            out.append(seg[i : j + 1][::-1])
            i = j + 1
        else:
            out.append(seg[i])
            i += 1
    return "".join(out)


def mirror_rtl_runs(line: str) -> str:
    """Mirror maximal Arabic runs (logical <-> visual order); involution.
    Arabic-Indic digits travel inside the run but stay left-to-right
    internally (`_fix_digit_subruns`)."""
    out = list(line)
    n = len(line)
    i = 0
    while i < n:
        if line[i] not in _ARA_CHARS:
            i += 1
            continue
        k = i
        while k + 1 < n:
            if line[k + 1] in _ARA_CHARS:
                k += 1
            elif line[k + 1] == " ":
                m = k + 1
                while m < n and line[m] == " ":
                    m += 1
                if m < n and line[m] in _ARA_CHARS:
                    k = m
                else:
                    break
            else:
                break
        out[i : k + 1] = _fix_digit_subruns(line[i : k + 1][::-1])
        i = k + 1
    return "".join(out)


#: the 13 languages the reference's leptess engine reports
#: (`rust/src/engines/leptess.rs:227-245`)
SUPPORTED_LANGUAGES = (
    "eng", "deu", "fra", "spa", "ita", "por", "nld",
    "jpn", "chi_sim", "chi_tra", "kor", "ara", "rus",
)
DEFAULT_LANGUAGE = "eng"

FONT_CHARS = frozenset(_FONT_ROWS)
GLYPH_H = 7
GLYPH_W = 5
CHAR_SPACING = 1  # blank columns between glyph cells (x scale)
LINE_SPACING = 3  # blank rows between line bands (x scale)


def _rows_array(rows: tuple[str, ...]) -> np.ndarray:
    return np.array([[c == "X" for c in r] for r in rows], dtype=bool)


def _glyph_array(ch: str) -> np.ndarray:
    return _rows_array(_FONT_ROWS[ch])


def _trim_cols(g: np.ndarray) -> np.ndarray:
    cols = np.flatnonzero(g.any(axis=0))
    return g[:, cols[0] : cols[-1] + 1]


_GLYPHS: dict[str, np.ndarray] = {ch: _glyph_array(ch) for ch in _FONT_ROWS}
#: every glyph any language can render (recognition filters by language)
_ALL_GLYPHS: dict[str, np.ndarray] = dict(_GLYPHS)
for _pack in _LANG_FONT_ROWS.values():
    for _ch, _rows in _pack.items():
        _ALL_GLYPHS[_ch] = _rows_array(_rows)
ALL_FONT_CHARS = frozenset(_ALL_GLYPHS)


def _build_tables(glyphs: dict[str, np.ndarray]):
    """(by_width fuzzy patterns, exact trimmed-bitmap table) for a charset.

    by_width maps width -> (chars, stacked (n, GLYPH_H, width) float array)
    so the fuzzy fallback scores every glyph of a width in ONE vectorized
    op (was a per-glyph np.mean loop — profiled hot in round 3)."""
    acc: dict[int, list[tuple[str, np.ndarray]]] = {}
    table: dict[bytes, str] = {}
    for ch, g in glyphs.items():
        t = _trim_cols(g)
        acc.setdefault(t.shape[1], []).append((ch, t.astype(np.float64)))
        key = t.tobytes() + bytes([t.shape[1]])
        if key in table:  # pragma: no cover - guarded by tests
            raise AssertionError(f"font collision: {ch} vs {table[key]}")
        table[key] = ch
    by_width = {
        w: ([ch for ch, _ in items], np.stack([p for _, p in items]))
        for w, items in acc.items()
    }
    return by_width, table


# base (eng) tables; language-extended tables are cached per language set
_GLYPHS_BY_WIDTH, _DECODE_TABLE = _build_tables(_GLYPHS)
_build_tables(_ALL_GLYPHS)  # collision check across every pack at import

#: Cyrillic capitals whose 5x7 letterform is pixel-identical to a latin
#: capital. They RENDER through the latin bitmap (alias added after the
#: collision check — two codepoints sharing one bitmap is intentional
#: here, never an accident the check should catch); recognition maps the
#: shared shape back to the Cyrillic codepoint only when ``rus`` is
#: requested without ``eng`` (`_tables_for`), mirroring how a real OCR
#: engine's language model resolves script-ambiguous shapes.
CYRILLIC_HOMOGLYPHS = {
    "А": "A", "В": "B", "Е": "E", "К": "K", "М": "M", "Н": "H",
    "О": "O", "Р": "P", "С": "C", "Т": "T", "У": "Y", "Х": "X",
}
for _cyr, _lat in CYRILLIC_HOMOGLYPHS.items():
    _ALL_GLYPHS[_cyr] = _GLYPHS[_lat]
#: includes the render-only homoglyph aliases
ALL_FONT_CHARS = frozenset(_ALL_GLYPHS)

_LANG_TABLE_CACHE: dict[frozenset, tuple[dict, dict]] = {}


def _tables_for(languages: tuple[str, ...]):
    key = frozenset(languages)
    cached = _LANG_TABLE_CACHE.get(key)
    if cached is None:
        glyphs = dict(_GLYPHS)
        for lg in sorted(key):
            for ch, rows in _LANG_FONT_ROWS.get(lg, {}).items():
                glyphs[ch] = _rows_array(rows)
        by_width, table = _build_tables(glyphs)
        if "rus" in key and "eng" not in key:
            # Cyrillic-context decode: the script-ambiguous shapes read as
            # their Cyrillic codepoints (with eng requested too, latin wins
            # — first-listed-script preference, documented above)
            inv = {lat: cyr for cyr, lat in CYRILLIC_HOMOGLYPHS.items()}
            table = {k: inv.get(ch, ch) for k, ch in table.items()}
            by_width = {
                w: ([inv.get(c, c) for c in chars], stack)
                for w, (chars, stack) in by_width.items()
            }
        cached = (by_width, table)
        _LANG_TABLE_CACHE[key] = cached
    return cached


def normalize_renderable(text: str) -> str:
    """Map arbitrary text onto the renderable charset (uppercase; unsupported
    chars -> '?'). The corpus generator emits renderable text already; this is
    a guard for ad-hoc use."""
    out = []
    for raw in decompose_kana(decompose_hangul(text)):
        # ß survives as itself (str.upper would expand it to 'SS')
        ch = raw if raw == "ß" else raw.upper()
        if ch in ALL_FONT_CHARS or ch in (" ", "\n"):
            out.append(ch)
        else:
            out.append("?")
    return "".join(out)


def render_text(text: str, scale: int = 2, margin: int = 4) -> np.ndarray:
    """Render text into a uint8 grayscale image (ink=0, paper=255).

    Layout: glyph cells 5x7 at ``scale``, 1*scale blank cols between cells,
    space = one blank cell, 3*scale blank rows between lines, ``margin``
    pixels of paper on every side.
    """
    # RTL: Arabic runs rasterize in visual order (identity for other text)
    lines = [mirror_rtl_runs(ln) for ln in normalize_renderable(text).split("\n")]
    cell_w = (GLYPH_W + CHAR_SPACING) * scale
    line_h = GLYPH_H * scale
    width = max((len(ln) * cell_w - CHAR_SPACING * scale) for ln in lines) if lines else 0
    width = max(width, scale)
    height = len(lines) * line_h + (len(lines) - 1) * LINE_SPACING * scale
    img = np.full((height + 2 * margin, width + 2 * margin), 255, dtype=np.uint8)
    y = margin
    for ln in lines:
        x = margin
        for ch in ln:
            if ch != " ":
                g = np.kron(_ALL_GLYPHS[ch], np.ones((scale, scale), dtype=bool))
                img[y : y + line_h, x : x + GLYPH_W * scale][g] = 0
            x += cell_w
        y += line_h + LINE_SPACING * scale
    return img


def to_rgb(gray: np.ndarray) -> np.ndarray:
    return np.repeat(gray[:, :, None], 3, axis=2)


def rgb_to_gray(rgb: np.ndarray) -> np.ndarray:
    """ITU-R 601 luma, matching the reference grayscale step
    (`rust/src/preprocessing/steps/grayscale.rs:6-8`)."""
    f = rgb.astype(np.float64)
    luma = f[..., 0] * 0.299 + f[..., 1] * 0.587 + f[..., 2] * 0.114
    return np.clip(np.round(luma), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# OCR stand-in: 4-phase deterministic decode (E5 structure)
# --------------------------------------------------------------------------


def _segments(mask: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous True runs in a 1-D bool array -> [(start, end_exclusive)]."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return []
    breaks = np.flatnonzero(np.diff(idx) > 1)
    starts = np.concatenate(([idx[0]], idx[breaks + 1]))
    ends = np.concatenate((idx[breaks] + 1, [idx[-1] + 1]))
    return list(zip(starts.tolist(), ends.tolist()))


def ocr_decode_image(
    gray: np.ndarray, languages: tuple[str, ...] = (DEFAULT_LANGUAGE,)
) -> tuple[str, list[str]]:
    """Decode a rendered raster back to text. Returns (text, warnings).

    Phases mirror `ocrs.rs:81-101`: (1) prepare: binarize at <128;
    (2) detect text lines: contiguous dark-row bands; (3) detect words/glyphs:
    column runs, gap > 3*scale => word break; (4) recognize: trimmed-bitmap
    match against the font table. Words joined " ", lines "\\n" (E6).

    ``languages`` selects the recognition charset (the leptess language-pack
    analog): base latin always; umlauts/accents only with their pack loaded —
    an unrequested language's glyph reads as an unrecognized '?'.
    """
    by_width, table = _tables_for(languages)
    warnings: list[str] = []
    if gray.ndim == 3:
        gray = rgb_to_gray(gray)
    dark = gray < 128
    if not dark.any():
        return "", warnings
    lines_out: list[str] = []
    for r0, r1 in _segments(dark.any(axis=1)):
        budget.check()  # per-line guard: glyph matching over huge rasters
        band = dark[r0:r1, :]
        h = r1 - r0
        scale = max(1, round(h / GLYPH_H))
        runs = _segments(band.any(axis=0))
        if not runs:
            continue
        scale, pad_top, pad_bot, exact = _band_geometry(
            band, h, scale, runs, table
        )
        words: list[list[str]] = [[]]
        prev_end: int | None = None
        for j, (c0, c1) in enumerate(runs):
            if prev_end is not None and (c0 - prev_end) > 3 * scale:
                words.append([])
            prev_end = c1
            ch = exact[j]
            if ch is None:
                glyph = band[:, c0:c1]
                if pad_top or pad_bot:
                    glyph = np.pad(glyph, ((pad_top, pad_bot), (0, 0)))
                ch = _match_glyph(glyph, scale, by_width, table)
            if ch is None:
                warnings.append("unrecognized glyph")
                ch = "?"
            words[-1].append(ch)
        lines_out.append(" ".join("".join(w) for w in words if w))
    if "ara" in languages:
        # columns scan left-to-right (visual order); mirror Arabic runs
        # back into logical order (the renderer applied the same involution)
        lines_out = [mirror_rtl_runs(ln) for ln in lines_out]
    text = "\n".join(lines_out)
    if "kor" in languages:
        # jamo only decode out of the kor pack; recompose them into the
        # syllables the renderer decomposed (byte-identity round trip)
        text = compose_hangul(text)
    if "jpn" in languages:
        # voicing marks re-compose onto their base kana (same treatment)
        text = compose_kana(text)
    return text, warnings


def _exact_lookup(glyph: np.ndarray, scale: int, table: dict) -> str | None:
    """Exact-table fast-path lookup (the first branch of `_match_glyph`),
    shared with `_band_geometry` so geometry scoring doubles as decode."""
    h, w = glyph.shape
    if GLYPH_H * scale != h:
        return None
    gw = max(1, round(w / scale))
    if gw * scale == w:
        # mean(axis) >= 0.5 over a 0/1 glyph == 2*sum >= cell area, in
        # integers — one C-level sum instead of numpy's mean wrapper
        # (this lookup runs once per glyph per band trial; r7 profile)
        cells = (
            glyph.reshape(GLYPH_H, scale, gw, scale).sum(axis=(1, 3), dtype=np.int32)
            * 2 >= scale * scale
        )
    else:
        cells = _grid_cells(glyph.astype(np.int8), GLYPH_H, gw)
    return table.get(cells.tobytes() + bytes([gw]))


def _band_geometry(band, h, base_scale, runs, table):
    """(scale, pad_top_rows, pad_bot_rows, per-run exact chars) for a band.

    A line band crops blank glyph rows: when NO glyph on the line reaches
    grid row 0 / row 6 (a line of only short glyphs — Chinese numerals,
    hamza, punctuation), ``round(h / 7)`` misreads the scale and the
    decode silently garbles (r6 review finding). Enumerate the integral
    interpretations (scale s with s | h, span h/s <= 7, each top offset),
    score each by exact-table hits over the line's glyphs, and keep the
    best. The full-height interpretation is tried first and
    short-circuits when every glyph hits, and the winning trial's lookups
    are RETURNED for reuse, so the common path pays exactly one exact
    lookup per glyph — the same work as before. Fractional-resize bands
    (no integral interpretation, or zero exact hits anywhere) fall back
    to the legacy estimate + per-glyph fuzzy matching unchanged."""
    if h == GLYPH_H * base_scale:
        chars = [_exact_lookup(band[:, c0:c1], base_scale, table)
                 for c0, c1 in runs]
        if any(c is not None for c in chars):
            # at least one glyph confirms the full-height reading: trust
            # it (misses go to fuzzy, the pre-r6 behavior) — enumerating
            # here lets a heavily-downsampled alias outscore the truth
            # (e.g. two unknown-script boxes both reading as apostrophes)
            return base_scale, 0, 0, chars
        full_chars = chars
    else:
        full_chars = [None] * len(runs)
    best = None  # key (hits, span) maximized; first-found wins ties
    # enumerate by span (<= 7 candidates), not by scale — a pathological
    # 10^5-row band would otherwise spin a 10^5-iteration divisor loop
    for span in range(GLYPH_H, 0, -1):
        if h % span:
            continue
        s = h // span
        for off in range(GLYPH_H - span + 1):
            pad_t, pad_b = off * s, (GLYPH_H - span - off) * s
            if span == GLYPH_H and s == base_scale:
                chars = full_chars  # already computed above
            else:
                chars = [
                    _exact_lookup(
                        np.pad(band[:, c0:c1], ((pad_t, pad_b), (0, 0))),
                        s, table,
                    )
                    for c0, c1 in runs
                ]
            hits = sum(1 for c in chars if c is not None)
            if hits and (best is None or (hits, span) > best[:2]):
                best = (hits, span, s, pad_t, pad_b, chars)
    if best is not None:
        return best[2], best[3], best[4], best[5]
    return base_scale, 0, 0, full_chars


def _grid_means(glyph: np.ndarray, gh: int, gw: int) -> np.ndarray:
    """Block-mean downsample to a gh x gw float grid, tolerating fractional
    cell sizes (needed after non-integer resizes, e.g. the 300/72 preset)."""
    h, w = glyph.shape
    ys = np.floor(np.linspace(0, h, gh + 1)).astype(int)
    xs = np.floor(np.linspace(0, w, gw + 1)).astype(int)
    # prefix sums give O(1) block means without per-cell slicing
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = glyph.cumsum(axis=0).cumsum(axis=1)
    s = ii[ys[1:]][:, xs[1:]] - ii[ys[:-1]][:, xs[1:]] - ii[ys[1:]][:, xs[:-1]] + ii[ys[:-1]][:, xs[:-1]]
    area = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    area = np.maximum(area, 1)
    return s / area


def _grid_cells(glyph: np.ndarray, gh: int, gw: int) -> np.ndarray:
    return _grid_means(glyph, gh, gw) >= 0.5


def _match_glyph(
    glyph: np.ndarray,
    scale: int,
    by_width: dict | None = None,
    table: dict | None = None,
) -> str | None:
    by_width = _GLYPHS_BY_WIDTH if by_width is None else by_width
    table = _DECODE_TABLE if table is None else table
    h, w = glyph.shape
    gh = GLYPH_H
    if h < gh:
        return None
    if gh * scale == h:
        gw = max(1, round(w / scale))
        if gw * scale == w:
            # exact-multiple fast path: 2*sum >= cell area == mean >= 0.5
            # on the 0/1 glyph, without numpy's mean wrapper (r7 profile)
            cells = (
                glyph.reshape(gh, scale, gw, scale).sum(axis=(1, 3), dtype=np.int32)
                * 2 >= scale * scale
            )
        else:
            cells = _grid_cells(glyph.astype(np.int8), gh, gw)
        got = table.get(cells.tobytes() + bytes([gw]))
        if got is not None:
            return got
    # fractional-scale fallback (images resampled by a non-integer and
    # possibly anisotropic factor — the 300/72 resize clamps min-dim to 300,
    # which can stretch one axis): nearest-neighbor match of the
    # fractional-grid ink means against every trimmed font width
    g8 = glyph.astype(np.int8)
    best: tuple[float, str] | None = None
    for gw, (chars, stack) in by_width.items():
        means = _grid_means(g8, gh, gw)
        # one vectorized pass over every glyph of this width; argmin keeps
        # the first (insertion-order) glyph on ties like the scalar loop did
        ds = np.abs(means[None, :, :] - stack).mean(axis=(1, 2))
        i = int(np.argmin(ds))
        d = float(ds[i])
        if best is None or d < best[0]:
            best = (d, chars[i])
    if best is not None and best[0] <= 0.3:
        return best[1]
    return None


# --------------------------------------------------------------------------
# Image codecs
# --------------------------------------------------------------------------


def encode_png(gray: np.ndarray) -> bytes:
    h, w = gray.shape
    raw = b"".join(b"\x00" + gray[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        c = struct.pack(">I", len(data)) + tag + data
        return c + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


#: channels per PNG color type (0 gray, 2 rgb, 3 palette idx, 4 gray+a, 6 rgba)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: legal bit depths per color type (PNG spec §11.2.2)
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
#: Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, off: int, w: int, h: int, bpp_bits: int) -> tuple[np.ndarray, int]:
    """Reverse per-scanline filtering for one (sub-)image; returns the
    unfiltered byte rows (h, rowbytes) and the new stream offset. bpp_bits =
    bits per pixel; the filter byte-lag is max(1, bpp_bits // 8)."""
    rowbytes = (w * bpp_bits + 7) // 8
    lag = max(1, bpp_bits // 8)
    out = np.empty((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for r in range(h):
        row = raw[off : off + 1 + rowbytes]
        if len(row) < 1 + rowbytes:
            raise ValueError("truncated PNG data")
        off += 1 + rowbytes
        ftype, scan = row[0], np.frombuffer(row[1:], dtype=np.uint8)
        if ftype == 0:
            line = scan.copy()
        elif ftype == 2:  # Up
            line = (scan.astype(np.int32) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth
            line = np.empty(rowbytes, dtype=np.uint8)
            for x in range(rowbytes):
                a = int(line[x - lag]) if x >= lag else 0
                b_ = int(prev[x])
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b_) // 2
                else:
                    c = int(prev[x - lag]) if x >= lag else 0
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                line[x] = (int(scan[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[r] = line
        prev = line
    return out, off


def _png_samples(rows: np.ndarray, w: int, depth: int, nch: int) -> np.ndarray:
    """Byte rows -> (h, w, nch) uint8 samples. Depth 16 keeps the MSB (the
    spec's sample reduction); sub-byte depths unpack MSB-first."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * nch].reshape(h, w, nch)
    if depth == 16:
        return rows[:, : w * nch * 2].reshape(h, w * nch, 2)[:, :, 0].reshape(h, w, nch)
    bits = np.unpackbits(rows, axis=1)[:, : w * depth].reshape(h, w, depth)
    vals = np.zeros((h, w), dtype=np.uint8)
    for b in range(depth):
        vals = (vals << 1) | bits[:, :, b]
    return vals[:, :, None]


def decode_png(data: bytes) -> np.ndarray:
    """Full PNG still decode (spec-complete for crawl images): color types
    0/2/3/4/6, bit depths 1-16 (16 reduced to MSB), palette + tRNS alpha,
    all five scanline filters, Adam7 interlace. Alpha composites over white
    (the pipeline convention). Returns gray (h, w) for colorless images,
    RGB (h, w, 3) otherwise."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = depth = color_type = interlace = None
    idat: list[bytes] = []
    plte = None
    trns = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif tag == b"PLTE":
            plte = np.frombuffer(body[: (len(body) // 3) * 3], dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if w is None or w == 0 or h == 0:
        raise ValueError("missing/empty PNG IHDR")
    if color_type not in _PNG_CHANNELS or depth not in _PNG_DEPTHS[color_type]:
        raise ValueError(f"unsupported PNG color type {color_type} / depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"unsupported PNG interlace {interlace}")
    budget.check_pixels("PNG", w, h)
    nch = _PNG_CHANNELS[color_type]
    bpp_bits = depth * nch
    # Adam7 is seven independently-filtered sub-images; a plain image is one
    passes = []
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw and ph:
            passes.append((x0, y0, dx, dy, pw, ph))
    # the header declares the stream's size: a filter byte plus the packed
    # samples per row of every pass
    size = sum(ph * (1 + (pw * bpp_bits + 7) // 8) for *_, pw, ph in passes)
    try:
        raw = budget.inflate(b"".join(idat), size)
    except zlib.error as e:
        raise ValueError(f"bad PNG IDAT stream: {e}") from e
    samples = np.zeros((h, w, nch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        rows, off = _png_unfilter(raw, off, pw, ph, bpp_bits)
        samples[y0::dy, x0::dx] = _png_samples(rows, pw, depth, nch)

    def _scale(v: np.ndarray) -> np.ndarray:
        if depth >= 8:
            return v
        return (v.astype(np.int32) * 255 // ((1 << depth) - 1)).astype(np.uint8)

    def _over_white(fg: np.ndarray, a: np.ndarray) -> np.ndarray:
        f = fg.astype(np.int32)
        al = a.astype(np.int32)
        return ((f * al + (255 - al) * 255 + 127) // 255).astype(np.uint8)

    if color_type == 0:
        return _scale(samples[:, :, 0])
    if color_type == 4:
        return _over_white(samples[:, :, 0], samples[:, :, 1])
    if color_type == 2:
        return samples
    if color_type == 6:
        return _over_white(samples[:, :, :3], samples[:, :, 3:4].repeat(3, axis=2))
    # palette
    if plte is None or len(plte) == 0:
        raise ValueError("palette PNG without PLTE chunk")
    idx = np.minimum(samples[:, :, 0], len(plte) - 1)
    rgb = plte[idx]
    if trns:  # per-entry alpha, composited over white
        alpha = np.full(len(plte), 255, dtype=np.uint8)
        n = min(len(trns), len(plte))
        alpha[:n] = np.frombuffer(trns[:n], dtype=np.uint8)
        a = alpha[idx]
        rgb = _over_white(rgb, a[:, :, None].repeat(3, axis=2))
    return rgb


def encode_bmp(gray: np.ndarray) -> bytes:
    h, w = gray.shape
    rgb = to_rgb(gray)
    row_size = (w * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = rgb[r][:, ::-1].tobytes()  # BGR
        pixel_bytes += row + b"\x00" * (row_size - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return header + info + bytes(pixel_bytes)


def _bmp_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """RLE8-compressed 8-bit BMP pixel data -> (h, w) palette indices."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        count, val = data[pos], data[pos + 1]
        pos += 2
        if count > 0:  # run
            out[y, x : min(x + count, w)] = val
            x += count
        elif val == 0:  # end of line
            x, y = 0, y + 1
            if y >= h:
                break
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: `val` literal pixels, word-aligned
            lit = data[pos : pos + val]
            out[y, x : min(x + val, w)] = np.frombuffer(lit[: max(0, min(val, w - x))], dtype=np.uint8)
            x += val
            pos += val + (val & 1)
    return out


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", data[10:14])
    hdr_size, w, h, _planes, bpp = struct.unpack("<IiiHH", data[14:30])
    (compression,) = struct.unpack("<I", data[30:34])
    flip = h > 0
    h = abs(h)
    if w <= 0 or h <= 0:
        raise ValueError(f"empty BMP {w}x{h}")
    budget.check_pixels("BMP", w, h)
    if bpp == 32 and compression in (0, 3):
        # BGRA (BI_RGB) or BI_BITFIELDS; alpha composited over white like
        # every other format here
        if compression == 3:
            # masks live at byte 54 for every header variant: appended after
            # a 40-byte BITMAPINFOHEADER, embedded at the same position in
            # V4/V5 headers; an alpha mask exists from V3 on (hdr >= 56 or
            # pixel data leaving room for a 4th dword)
            rm, gm, bm = struct.unpack("<III", data[54:66])
            am = struct.unpack("<I", data[66:70])[0] if (hdr_size >= 56 or offset >= 70) else 0
        else:
            rm, gm, bm, am = 0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000

        def _shift(mask):
            if mask == 0:
                return None
            s = (mask & -mask).bit_length() - 1
            if (mask >> s) != 0xFF:
                raise ValueError(f"unsupported BMP bitfields mask {mask:#x} (only 8-bit channels)")
            return s
        rs, gs, bs, as_ = _shift(rm), _shift(gm), _shift(bm), _shift(am)
        if None in (rs, gs, bs):
            raise ValueError("BMP bitfields with a missing color mask")
        px32 = np.frombuffer(data[offset : offset + h * w * 4], dtype="<u4").reshape(h, w)
        rgb = np.stack(
            [(px32 >> s).astype(np.uint8) for s in (rs, gs, bs)], axis=-1
        ).astype(np.int32)
        if as_ is None:
            a = np.full((h, w), 255, dtype=np.int32)
        else:
            a = ((px32 >> as_) & 0xFF).astype(np.int32)
            if not a.any():
                # BI_RGB writers often leave the alpha byte 0 on fully opaque
                # images: decide the opaque fallback ONCE over the whole
                # image, never per scanline (a genuinely-transparent row in a
                # real RGBA image must not flip to opaque)
                a = np.full((h, w), 255, dtype=np.int32)
        out = ((rgb * a[..., None] + (255 - a[..., None]) * 255 + 127) // 255).astype(np.uint8)
        if flip:
            out = out[::-1]
        return rgb_to_gray(out)
    if bpp == 24 and compression == 0:
        row_size = (w * 3 + 3) & ~3
        out = np.empty((h, w, 3), dtype=np.uint8)
        for r in range(h):
            row = np.frombuffer(data[offset + r * row_size : offset + r * row_size + w * 3], dtype=np.uint8)
            out[h - 1 - r if flip else r] = row.reshape(w, 3)[:, ::-1]
        return rgb_to_gray(out)
    if bpp == 8:
        # palette follows the info header (BGRX quads)
        (n_colors,) = struct.unpack("<I", data[46:50])
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(data[pal_off : pal_off + n_colors * 4], dtype=np.uint8).reshape(-1, 4)
        rgb_pal = pal[:, [2, 1, 0]]
        if compression == 1:  # RLE8
            idx = _bmp_rle8(data[offset:], w, h)
        elif compression == 0:
            row_size = (w + 3) & ~3
            idx = np.stack(
                [
                    np.frombuffer(data[offset + r * row_size : offset + r * row_size + w], dtype=np.uint8)
                    for r in range(h)
                ]
            )
        else:
            raise ValueError(f"unsupported BMP compression {compression}")
        if flip:
            idx = idx[::-1]
        rgb = rgb_pal[np.minimum(idx, len(rgb_pal) - 1)]
        return rgb_to_gray(rgb)
    raise ValueError(f"unsupported BMP bpp {bpp} / compression {compression}")


def encode_tiff(gray: np.ndarray) -> bytes:
    h, w = gray.shape
    strip = gray.tobytes()
    # header(8) + strip + IFD
    strip_off = 8
    ifd_off = strip_off + len(strip)
    entries = [
        (256, 3, 1, w),  # ImageWidth
        (257, 3, 1, h),  # ImageLength
        (258, 3, 1, 8),  # BitsPerSample
        (259, 3, 1, 1),  # Compression = none
        (262, 3, 1, 1),  # Photometric = BlackIsZero
        (273, 4, 1, strip_off),  # StripOffsets
        (277, 3, 1, 1),  # SamplesPerPixel
        (278, 3, 1, h),  # RowsPerStrip
        (279, 4, 1, len(strip)),  # StripByteCounts
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)
    return struct.pack("<2sHI", b"II", 42, ifd_off) + strip + ifd


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 7: 1, 8: 2, 9: 4}


def _tiff_tag_values(data: bytes, entry: bytes, e: str) -> list[int]:
    """One IFD entry -> list of integer values (inline or via offset)."""
    typ, cnt = struct.unpack(e + "HI", entry[2:8])
    size = _TIFF_TYPE_SIZE.get(typ)
    if size is None:
        return []
    total = size * cnt
    raw = entry[8:12] if total <= 4 else None
    if raw is None:
        (off,) = struct.unpack(e + "I", entry[8:12])
        raw = data[off : off + total]
    if len(raw) < total:
        raise ValueError("truncated TIFF tag data")
    fmt = {1: "B", 2: "B", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h", 9: "i"}[typ]
    return list(struct.unpack(e + fmt * cnt, raw[:total]))


def lzw_decode(data: bytes, root_bits: int, *, msb: bool, early: int, max_out: int) -> bytes:
    """LZW for TIFF (spec §13), PDF ``/LZWDecode`` and GIF, producing at
    most ``max_out`` bytes. CLEAR is ``1 << root_bits``, EOI the code after
    it; ``msb`` packs codes MSB-first (TIFF, PDF) rather than LSB-first
    (GIF); ``early`` is 1 where the code width grows one entry early (TIFF,
    PDF EarlyChange), 0 for GIF. The table stops at the 4096 entries 12-bit
    codes can address. A code past the table raises ValueError."""
    if not 0 <= root_bits <= 8:
        raise ValueError(f"bad LZW root code size {root_bits}")
    clear = 1 << root_bits
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = roots[:]
    width = root_bits + 1
    out = bytearray()
    buf = nbits = 0
    prev: bytes | None = None
    for byte in data:
        if msb:
            buf = (buf << 8) | byte
        else:
            buf |= byte << nbits
        nbits += 8
        while nbits >= width:
            nbits -= width
            if msb:
                code = buf >> nbits
                buf &= (1 << nbits) - 1
            else:
                code = buf & ((1 << width) - 1)
                buf >>= width
            if code == clear:
                table = roots[:]
                width = root_bits + 1
                prev = None
                continue
            if code == clear + 1:
                return bytes(out)
            if code < len(table):
                entry = table[code]
                if prev is not None and len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} is past the table ({len(table)} entries)")
            out += entry
            if len(out) >= max_out:
                return bytes(out[:max_out])
            prev = entry
            if len(table) + early == 1 << width and width < 12:
                width += 1
    return bytes(out)


def packbits_decode(data: bytes, max_out: int, *, eod: bool = False) -> bytes:
    """PackBits (TIFF) and PDF RunLengthDecode, which differ only in the
    128 header byte: a no-op in PackBits, end of data when ``eod``. Stops
    once ``max_out`` bytes are out; the last run may pass it by at most 128
    bytes."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n and len(out) < max_out:
        b = data[pos]
        pos += 1
        if b < 128:
            out += data[pos : pos + b + 1]
            pos += b + 1
        elif b > 128:
            if pos >= n:
                raise ValueError("truncated PackBits run")
            out += bytes([data[pos]]) * (257 - b)
            pos += 1
        elif eod:
            break
    return bytes(out)


def decode_tiff(data: bytes) -> np.ndarray:
    """Baseline TIFF still decode for crawl images: both byte orders,
    8-bit gray (either photometric polarity) and RGB, strip assembly,
    compressions none/LZW/PackBits, horizontal-differencing predictor."""
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF IFD")
    (n,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n):
        entry = data[ifd_off + 2 + i * 12 : ifd_off + 14 + i * 12]
        if len(entry) < 12:
            raise ValueError("truncated TIFF IFD entry")
        (tag,) = struct.unpack(e + "H", entry[:2])
        tags[tag] = _tiff_tag_values(data, entry, e)

    def one(tag_id, default=None):
        v = tags.get(tag_id)
        return v[0] if v else default

    w, h = one(256), one(257)
    if not w or not h:
        raise ValueError("TIFF missing dimensions")
    budget.check_pixels("TIFF", w, h)
    spp = one(277, 1)
    bps = tags.get(258, [8])
    if spp not in (1, 3) or any(b != 8 for b in bps[:spp]):
        raise ValueError(f"unsupported TIFF samples: spp={spp} bps={bps}")
    comp = one(259, 1)
    photometric = one(262, 1)
    predictor = one(317, 1)
    offs = tags.get(273)
    cnts = tags.get(279)
    if not offs or not cnts or len(offs) != len(cnts):
        raise ValueError("TIFF missing strip layout")
    rows_per_strip = one(278, h)
    raw = bytearray()
    for off, cnt in zip(offs, cnts):
        strip = data[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("truncated TIFF strip")
        n_rows = min(rows_per_strip, h - len(raw) // (w * spp))
        expect = n_rows * w * spp
        if comp == 1:
            raw += strip[:expect]
        elif comp == 5:
            raw += lzw_decode(strip, 8, msb=True, early=1, max_out=expect)
        elif comp == 32773:
            raw += packbits_decode(strip, expect)
        else:
            raise ValueError(f"unsupported TIFF compression {comp}")
    if len(raw) < w * h * spp:
        raise ValueError("TIFF pixel data too short")
    px = np.frombuffer(bytes(raw[: w * h * spp]), dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing (per sample)
        px = np.cumsum(px.astype(np.int32), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if spp == 3:
        return rgb_to_gray(px)
    gray = px[:, :, 0]
    if photometric == 0:  # WhiteIsZero
        gray = (255 - gray.astype(np.int32)).astype(np.uint8)
    return gray.copy()


def _gif_lzw_decode_fast9(data: bytes) -> bytes | None:
    """Vectorized fast path for min_code_size=8 streams that stay at 9-bit
    root codes — the "uncompressed-style" LZW many writers (including
    `encode_gif`) emit: a CLEAR at least every 254 data codes keeps the
    table under 512 so the code width never grows, and data codes are all
    literals. Decoding is then just bit-unpacking: output == the data
    codes as bytes, byte-identical to the general loop (each entry is its
    root byte; table appends never alter literal entries). Returns None —
    falling back to the general decoder — the moment any condition fails
    (a code >= 258, a run between CLEARs longer than 254). ~40x over the
    per-byte Python loop (21 ms -> sub-ms per image, r7 profile)."""
    bits = np.unpackbits(np.frombuffer(data, np.uint8), bitorder="little")
    total = bits.size // 9
    if total == 0:
        return b""
    codes = bits[: total * 9].reshape(total, 9).astype(np.int32) @ (
        1 << np.arange(9, dtype=np.int32)
    )
    ends = np.nonzero(codes == 257)[0]
    if ends.size:
        codes = codes[: ends[0]]
    if codes.size == 0:
        return b""
    is_clear = codes == 256
    data_codes = codes[~is_clear]
    if data_codes.size and int(data_codes.max()) > 255:
        return None
    run_bounds = np.concatenate(([-1], np.nonzero(is_clear)[0], [codes.size]))
    if int(np.diff(run_bounds).max()) - 1 > 254:
        return None  # table would reach 512 entries -> 10-bit codes
    return data_codes.astype(np.uint8).tobytes()


def _gif_lzw_decode(data: bytes, min_code_size: int, max_out: int = budget.MAX_PIXELS) -> bytes:
    """A GIF frame's LZW stream, at most ``max_out`` bytes of it: the 9-bit
    fast path when the stream allows it, the general decoder otherwise."""
    if min_code_size == 8:
        fast = _gif_lzw_decode_fast9(data)
        if fast is not None:
            return fast[:max_out]
    return lzw_decode(data, min_code_size, msb=False, early=0, max_out=max_out)


def encode_gif(gray: np.ndarray) -> bytes:
    """GIF87a, 256-entry gray palette. The LZW stream emits root codes with a
    CLEAR before every 254-code run — valid (uncompressed-style) LZW."""
    h, w = gray.shape
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 colors
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    min_code = 8
    clear, end = 256, 257
    codes: list[int] = []
    px = gray.flatten().tolist()
    for i, p in enumerate(px):
        if i % 254 == 0:
            codes.append(clear)
        codes.append(p)
    codes.append(end)
    # pack 9-bit codes LSB-first
    buf = 0
    nbits = 0
    stream = bytearray()
    for c in codes:
        buf |= c << nbits
        nbits += 9
        while nbits >= 8:
            stream.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8
    if nbits:
        stream.append(buf & 0xFF)
    out.append(min_code)
    for i in range(0, len(stream), 255):
        sub = stream[i : i + 255]
        out.append(len(sub))
        out += sub
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(data: bytes) -> np.ndarray:
    if data[:4] != b"GIF8":
        raise ValueError("not a GIF")
    w, h, flags = struct.unpack("<HHB", data[6:11])
    if w == 0 or h == 0:
        raise ValueError(f"empty GIF {w}x{h}")
    budget.check_pixels("GIF", w, h)
    pos = 13
    palette = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        palette = np.frombuffer(data[pos : pos + size * 3], dtype=np.uint8).reshape(size, 3)
        pos += size * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x2C:  # image descriptor
            _x, _y, iw, ih, iflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            if iflags & 0x80:
                size = 2 << (iflags & 0x07)
                palette = np.frombuffer(data[pos : pos + size * 3], dtype=np.uint8).reshape(size, 3)
                pos += size * 3
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            budget.check_pixels("GIF frame", iw, ih)
            idx = np.frombuffer(_gif_lzw_decode(bytes(lzw), min_code, iw * ih), dtype=np.uint8)
            rgb = palette[np.minimum(idx, len(palette) - 1)].reshape(ih, iw, 3)
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                out = np.empty_like(rgb)
                r = 0
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                    n = len(range(start, ih, step))
                    out[start::step] = rgb[r : r + n]
                    r += n
                rgb = out
            return rgb_to_gray(rgb)
        elif b == 0x21:  # extension
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x3B:
            break
        else:
            raise ValueError("corrupt GIF")
    raise ValueError("no image in GIF")


_STUB_TAG = b"ASOS"  # marks the embedded deterministic raster in stub formats


def _stub_raster(stream: bytes, w: int, h: int) -> np.ndarray:
    """A stub container's deflated raster; inflating one byte past ``h * w``
    keeps a stream longer than its header claims failing the reshape."""
    budget.check_pixels("stub raster", w, h)
    raw = budget.inflate(stream, h * w + 1)
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w).copy()


def encode_jpeg_stub(gray: np.ndarray) -> bytes:
    """Deterministic JPEG STUB (see module docstring)."""
    h, w = gray.shape
    payload = _STUB_TAG + struct.pack(">II", w, h) + zlib.compress(gray.tobytes(), 6)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out = bytearray(b"\xff\xd8" + app0)
    for i in range(0, len(payload), 60000):
        part = payload[i : i + 60000]
        out += b"\xff\xef" + struct.pack(">H", len(part) + 2) + part
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_stub(data: bytes) -> np.ndarray:
    if data[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    pos = 2
    payload = bytearray()
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG stream")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if marker == 0xEF:
            payload += data[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
    if payload[:4] != _STUB_TAG:
        raise ValueError("not a stub JPEG")
    w, h = struct.unpack(">II", payload[4:12])
    return _stub_raster(bytes(payload[12:]), w, h)


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG decode: the deterministic stub container when present (corpus
    payloads), else the real pure-numpy baseline decoder (`engine.jpegx`) —
    the reference's `image`-crate JPEG path (`rust/src/server.rs:237-238`)."""
    try:
        return decode_jpeg_stub(data)
    except ValueError:
        pass
    from . import jpegx

    return jpegx.decode_jpeg(data)


def encode_webp_stub(gray: np.ndarray) -> bytes:
    """Deterministic WEBP STUB (see module docstring)."""
    h, w = gray.shape
    body = _STUB_TAG + struct.pack(">II", w, h) + zlib.compress(gray.tobytes(), 6)
    chunk = b"GRAY" + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def decode_webp_stub(data: bytes) -> np.ndarray:
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"GRAY" and body[:4] == _STUB_TAG:
            w, h = struct.unpack(">II", body[4:12])
            return _stub_raster(body[12:], w, h)
        pos += 8 + ln + (ln % 2)
    raise ValueError("not a stub WEBP")


def decode_webp(data: bytes) -> np.ndarray:
    """WEBP decode: the deterministic stub container when present (corpus
    payloads), else the real pure-Python decoders (`engine.webpx` for VP8L
    lossless, `engine.vp8x` for VP8 lossy keyframes)."""
    try:
        return decode_webp_stub(data)
    except ValueError:
        pass
    from . import webpx

    return webpx.decode_webp(data)


_DECODERS = {
    "image/png": decode_png,
    "image/bmp": decode_bmp,
    "image/tiff": decode_tiff,
    "image/gif": decode_gif,
    "image/jpeg": decode_jpeg,
    "image/webp": decode_webp,
}

_ENCODERS = {
    "image/png": encode_png,
    "image/bmp": encode_bmp,
    "image/tiff": encode_tiff,
    "image/gif": encode_gif,
    "image/jpeg": encode_jpeg_stub,
    "image/webp": encode_webp_stub,
}


def decode_image(payload: bytes, mime: str) -> np.ndarray:
    """Decode a supported container to a uint8 grayscale array.

    Analog of the reference's ``image::load_from_memory``
    (`rust/src/server.rs:237-238`); raises ValueError on corrupt input (the
    caller quarantines, it never crashes the job)."""
    dec = _DECODERS.get(mime)
    if dec is None:
        raise ValueError(f"unsupported image mime: {mime}")
    return dec(payload)


def encode_image(gray: np.ndarray, mime: str) -> bytes:
    enc = _ENCODERS.get(mime)
    if enc is None:
        raise ValueError(f"unsupported image mime: {mime}")
    return enc(gray)
