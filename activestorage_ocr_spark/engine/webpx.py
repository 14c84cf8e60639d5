"""Pure-Python WebP **VP8L (lossless)** decoder.

Built from the public "WebP Lossless Bitstream Specification" only. Covers
the full VP8L feature set:

* LSB-first bit reading, 14-bit dimensions, version 0;
* prefix (huffman) codes — both the "simple" (1-2 symbol) and the
  code-length-coded normal form, incl. the max_symbol short form;
* meta prefix groups (entropy image), color cache (1-11 bits),
  LZ77 backward references with the 120-entry 2D distance map;
* all four transforms, inverted in reverse order: PREDICTOR (14 modes),
  COLOR (signed 3.5 fixed-point cross-channel deltas), SUBTRACT_GREEN,
  COLOR_INDEXING (palette, incl. sub-byte pixel packing for palettes
  of size <= 16).

VP8 (lossy) chunks route to the sibling RFC 6386 keyframe decoder
(``vp8x.py``, round 3) — the same files the reference decodes via the Rust
`image` crate (`rust/src/server.rs:237-238`) now decode here too, closing
the last reference-fixture gap.

Returns (h, w, 3) uint8 RGB (alpha composited over white).
"""

from __future__ import annotations

import struct

import numpy as np

from . import budget

# order in which code-length code lengths are stored (spec §6.2.2)
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 2D offsets for distance codes 1..120 (spec §6.2.3), (dx, dy)
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _Bits:
    """LSB-first bit reader (VP8L bit order, opposite of JPEG)."""

    __slots__ = ("d", "pos", "buf", "n")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0
        self.buf = 0
        self.n = 0

    def read(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.d):
                raise ValueError("truncated VP8L stream")
            self.buf |= self.d[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.buf & ((1 << k) - 1)
        self.buf >>= k
        self.n -= k
        return v


class _Huff:
    """Canonical prefix code: decode walks bits MSB-of-code-first (each
    stream bit extends the code). Single-symbol codes consume zero bits."""

    __slots__ = ("lut", "single")

    def __init__(self, lengths: list[int]):
        syms = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not syms:
            raise ValueError("empty VP8L prefix code")
        if len(syms) == 1:
            self.single = syms[0][1]
            self.lut = None
            return
        self.single = None
        syms.sort()
        lut = {}
        code = 0
        prev_len = syms[0][0]
        for ln, s in syms:
            code <<= ln - prev_len
            prev_len = ln
            lut[(ln, code)] = s
            code += 1
        self.lut = lut

    def decode(self, bits: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | bits.read(1)
            s = self.lut.get((ln, code))
            if s is not None:
                return s
        raise ValueError("invalid VP8L prefix code")


def _read_code(bits: _Bits, alphabet_size: int) -> _Huff:
    """One prefix code: simple (1-2 symbols) or code-length-coded."""
    if bits.read(1):  # simple
        num = bits.read(1) + 1
        if bits.read(1):
            first = bits.read(8)
        else:
            first = bits.read(1)
        lengths = [0] * alphabet_size
        if num == 1:
            if first >= alphabet_size:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[first] = 1
        else:
            second = bits.read(8)
            if first >= alphabet_size or second >= alphabet_size:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[first] = 1
            lengths[second] = 1
        return _Huff(lengths)
    # normal: code lengths themselves are prefix-coded
    num_cl = bits.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = bits.read(3)
    cl_huff = _Huff(cl_lengths)
    if bits.read(1):  # use max_symbol
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl_huff.decode(bits)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + bits.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + bits.read(3)
        else:  # 18
            i += 11 + bits.read(7)
    return _Huff(lengths)


def _prefix_value(bits: _Bits, prefix: int) -> int:
    """LZ77 length/distance prefix decoding (spec §6.2.3)."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + bits.read(extra) + 1


def _sub_image_dims(size: int, bs_bits: int) -> int:
    return (size + (1 << bs_bits) - 1) >> bs_bits


def _decode_image(bits: _Bits, w: int, h: int, is_level0: bool) -> np.ndarray:
    """Decode a (possibly transformed) VP8L image to uint8 ARGB (h, w, 4)
    in channel order (A, R, G, B)."""
    transforms = []
    if is_level0:
        used = set()
        while bits.read(1):
            t = bits.read(2)
            if t in used:
                raise ValueError("duplicate VP8L transform")
            used.add(t)
            if t == 0:  # PREDICTOR
                bs_bits = bits.read(3) + 2
                tw, th = _sub_image_dims(w, bs_bits), _sub_image_dims(h, bs_bits)
                tiles = _decode_image(bits, tw, th, False)
                transforms.append(("predictor", bs_bits, tiles))
            elif t == 1:  # COLOR
                bs_bits = bits.read(3) + 2
                tw, th = _sub_image_dims(w, bs_bits), _sub_image_dims(h, bs_bits)
                tiles = _decode_image(bits, tw, th, False)
                transforms.append(("color", bs_bits, tiles))
            elif t == 2:  # SUBTRACT_GREEN
                transforms.append(("subtract_green",))
            else:  # COLOR_INDEXING
                pal_size = bits.read(8) + 1
                pal = _decode_image(bits, pal_size, 1, False)[0]  # (pal_size, 4)
                pal = np.cumsum(pal.astype(np.int64), axis=0).astype(np.uint8)  # delta-coded
                if pal_size <= 2:
                    width_bits = 3
                elif pal_size <= 4:
                    width_bits = 2
                elif pal_size <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("palette", pal, width_bits, w))
                w = _sub_image_dims(w, width_bits)

    cache_bits = 0
    if bits.read(1):
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad VP8L color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    meta_bs = 0
    num_groups = 1
    if is_level0 and bits.read(1):
        meta_bs = bits.read(3) + 2
        mw, mh = _sub_image_dims(w, meta_bs), _sub_image_dims(h, meta_bs)
        meta_img = _decode_image(bits, mw, mh, False)
        meta = (meta_img[:, :, 1].astype(np.int64) << 8) | meta_img[:, :, 2]
        num_groups = int(meta.max()) + 1

    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        g = _read_code(bits, green_alpha)
        r = _read_code(bits, 256)
        b = _read_code(bits, 256)
        a = _read_code(bits, 256)
        d = _read_code(bits, 40)
        groups.append((g, r, b, a, d))

    n = w * h
    argb = np.zeros((n, 4), dtype=np.uint8)
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            group = groups[int(meta[y >> meta_bs, x >> meta_bs])]
        gh, rh, bh, ah, dh = group
        s = gh.decode(bits)
        if s < 256:
            red = rh.decode(bits)
            blue = bh.decode(bits)
            alpha = ah.decode(bits)
            argb[pos] = (alpha, red, s, blue)
            if cache is not None:
                px = (alpha << 24) | (red << 16) | (s << 8) | blue
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 280:
            length = _prefix_value(bits, s - 256)
            dist_code = _prefix_value(bits, dh.decode(bits))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("VP8L backward reference before image start")
            for _ in range(length):
                if pos >= n:
                    break
                argb[pos] = argb[pos - dist]
                if cache is not None:
                    alpha, red, green, blue = (int(v) for v in argb[pos])
                    px = (alpha << 24) | (red << 16) | (green << 8) | blue
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L cache reference without color cache")
            px = cache[s - 280]
            argb[pos] = ((px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF)
            pos += 1

    img = argb.reshape(h, w, 4)
    for t in reversed(transforms):
        img = _inverse_transform(img, t)
    return img


def _avg2(a, b):
    return (a.astype(np.int64) + b.astype(np.int64)) // 2


def _inverse_transform(img: np.ndarray, t: tuple) -> np.ndarray:
    kind = t[0]
    if kind == "subtract_green":
        out = img.astype(np.int64)
        out[:, :, 1] = (out[:, :, 1] + out[:, :, 2]) & 0xFF  # red += green
        out[:, :, 3] = (out[:, :, 3] + out[:, :, 2]) & 0xFF  # blue += green
        return out.astype(np.uint8)
    if kind == "palette":
        _, pal, width_bits, full_w = t
        h = img.shape[0]
        idx = img[:, :, 2]  # green channel holds indices
        if width_bits:
            per = 1 << width_bits  # pixels packed per byte
            bw = 8 >> width_bits  # bits per pixel
            cols = []
            for i in range(per):
                cols.append((idx >> (i * bw)) & ((1 << bw) - 1))
            idx = np.stack(cols, axis=2).reshape(h, -1)
        idx = idx[:, :full_w]
        safe = np.where(idx < pal.shape[0], idx, 0)
        out = pal[safe]
        out[idx >= pal.shape[0]] = 0
        return out
    if kind == "color":
        _, bs_bits, tiles = t
        h, w = img.shape[:2]
        out = img.astype(np.int64)
        ty = np.arange(h) >> bs_bits
        tx = np.arange(w) >> bs_bits
        g2r = tiles[:, :, 3].astype(np.int8)[np.ix_(ty, tx)].astype(np.int64)
        g2b = tiles[:, :, 2].astype(np.int8)[np.ix_(ty, tx)].astype(np.int64)
        r2b = tiles[:, :, 1].astype(np.int8)[np.ix_(ty, tx)].astype(np.int64)
        green = out[:, :, 2].astype(np.int8).astype(np.int64)
        out[:, :, 1] = (out[:, :, 1] + ((g2r * green) >> 5)) & 0xFF
        red = out[:, :, 1].astype(np.uint8).astype(np.int8).astype(np.int64)
        out[:, :, 3] = (out[:, :, 3] + ((g2b * green) >> 5) + ((r2b * red) >> 5)) & 0xFF
        return out.astype(np.uint8)
    if kind == "predictor":
        _, bs_bits, tiles = t
        return _inverse_predictor(img, bs_bits, tiles)
    raise ValueError(f"unknown transform {kind}")


def _inverse_predictor(img: np.ndarray, bs_bits: int, tiles: np.ndarray) -> np.ndarray:
    """Sequential by nature (L is the reconstructed left neighbor), so the
    loop runs in pure-Python ints over channel tuples — per-pixel ndarray
    temporaries cost ~20x more and turned large predictor-transformed
    images into Spark-task stragglers."""
    h, w = img.shape[:2]
    modes = tiles[:, :, 2].tolist()  # green channel
    src = img.astype(np.int64).tolist()
    out: list[list[tuple]] = [[None] * w for _ in range(h)]
    black = (255, 0, 0, 0)
    for y in range(h):
        row = src[y]
        out_row = out[y]
        prev_row = out[y - 1] if y else None
        mode_row = modes[y >> bs_bits]
        for x in range(w):
            if y == 0:
                pred = black if x == 0 else out_row[x - 1]
            elif x == 0:
                pred = prev_row[0]
            else:
                m = mode_row[x >> bs_bits]
                L = out_row[x - 1]
                T = prev_row[x]
                if m == 1:
                    pred = L
                elif m == 2:
                    pred = T
                elif m == 0:
                    pred = black
                elif m == 3:
                    # last column: TR wraps to the current row's first pixel
                    # (contiguous-buffer semantics of the reference decoders)
                    pred = prev_row[x + 1] if x + 1 < w else out_row[0]
                elif m == 4:
                    pred = prev_row[x - 1]
                elif m == 5:
                    TR = prev_row[x + 1] if x + 1 < w else out_row[0]
                    pred = tuple(
                        (((a + b) // 2) + c) // 2 for a, b, c in zip(L, TR, T)
                    )
                elif m == 6:
                    TL = prev_row[x - 1]
                    pred = tuple((a + b) // 2 for a, b in zip(L, TL))
                elif m == 7:
                    pred = tuple((a + b) // 2 for a, b in zip(L, T))
                elif m == 8:
                    TL = prev_row[x - 1]
                    pred = tuple((a + b) // 2 for a, b in zip(TL, T))
                elif m == 9:
                    TR = prev_row[x + 1] if x + 1 < w else out_row[0]
                    pred = tuple((a + b) // 2 for a, b in zip(T, TR))
                elif m == 10:
                    TL = prev_row[x - 1]
                    TR = prev_row[x + 1] if x + 1 < w else out_row[0]
                    pred = tuple(
                        ((a + b) // 2 + (c + d) // 2) // 2
                        for a, b, c, d in zip(L, TL, T, TR)
                    )
                elif m == 11:  # Select
                    TL = prev_row[x - 1]
                    pt = sum(abs(a - b) for a, b in zip(L, TL))
                    pl = sum(abs(a - b) for a, b in zip(T, TL))
                    pred = L if pl < pt else T
                elif m == 12:  # ClampAddSubtractFull
                    TL = prev_row[x - 1]
                    pred = tuple(
                        min(255, max(0, a + b - c)) for a, b, c in zip(L, T, TL)
                    )
                elif m == 13:  # ClampAddSubtractHalf (C-style trunc division)
                    TL = prev_row[x - 1]
                    vals = []
                    for a, b, c in zip(L, T, TL):
                        avg = (a + b) // 2
                        d = avg - c
                        half = d // 2 if d >= 0 else -((-d) // 2)
                        vals.append(min(255, max(0, avg + half)))
                    pred = tuple(vals)
                else:
                    raise ValueError("bad VP8L predictor mode")
            px = row[x]
            out_row[x] = (
                (px[0] + pred[0]) & 0xFF,
                (px[1] + pred[1]) & 0xFF,
                (px[2] + pred[2]) & 0xFF,
                (px[3] + pred[3]) & 0xFF,
            )
    return np.array(out, dtype=np.uint8)


def decode_vp8l(payload: bytes) -> np.ndarray:
    """Malformed input always surfaces as ValueError (quarantine contract)."""
    try:
        return _decode_vp8l(payload)
    except (IndexError, KeyError) as e:
        raise ValueError(f"truncated or corrupt VP8L stream: {e}") from e


def _decode_vp8l(payload: bytes) -> np.ndarray:
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = _Bits(payload[1:])
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    budget.check_pixels("VP8L", w, h)
    bits.read(1)  # alpha hint
    if bits.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb = _decode_image(bits, w, h, True)
    a = argb[:, :, 0].astype(np.float64) / 255.0
    rgb = argb[:, :, 1:4].astype(np.float64)
    out = rgb * a[:, :, None] + 255.0 * (1.0 - a[:, :, None])  # over white
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def decode_alpha(body: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk (container spec): 1 option byte (compression + filter),
    then either raw w*h alpha bytes or a headerless VP8L stream whose GREEN
    channel carries the alpha values; the per-row predictive filter
    (none/horizontal/vertical/gradient) is reversed afterwards."""
    if not body:
        raise ValueError("empty ALPH chunk")
    comp = body[0] & 3
    filt = (body[0] >> 2) & 3
    data = body[1:]
    if comp == 0:
        if len(data) < w * h:
            raise ValueError("truncated raw ALPH data")
        a = np.frombuffer(data[: w * h], dtype=np.uint8).reshape(h, w).copy()
    elif comp == 1:
        argb = _decode_image(_Bits(data), w, h, True)
        a = argb[:, :, 2].copy()  # green channel (ARGB order: A,R,G,B)
    else:
        raise ValueError(f"reserved ALPH compression method {comp}")
    if filt == 0:
        return a
    out = a.astype(np.int32)
    if filt == 1:  # horizontal: pred = left (row 0 seeds at 0; rows seed above)
        out[0] = np.cumsum(out[0]) & 0xFF
        for y in range(1, h):
            row = out[y]
            row[0] = (row[0] + out[y - 1, 0]) & 0xFF
            row[:] = np.cumsum(row) & 0xFF
    elif filt == 2:  # vertical: pred = above (row 0 unfiltered horizontally)
        out[0] = np.cumsum(out[0]) & 0xFF
        for y in range(1, h):
            out[y] = (out[y] + out[y - 1]) & 0xFF
    else:  # gradient: pred = clip(left + above - above_left)
        out[0] = np.cumsum(out[0]) & 0xFF
        for y in range(1, h):
            prev = out[y - 1]
            left = int(prev[0])
            top_left = left
            row = out[y]
            for x in range(w):
                top = int(prev[x])
                p = left + top - top_left
                left = (row[x] + (0 if p < 0 else 255 if p > 255 else p)) & 0xFF
                top_left = top
                row[x] = left
    return out.astype(np.uint8)


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF container walk: VP8L decodes via this module, VP8 (lossy) via
    the RFC 6386 keyframe decoder (`vp8x.py`); inside a VP8X container an
    ALPH chunk's alpha plane is decoded and composited over white."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WEBP")
    pos = 12
    alph: bytes | None = None
    canvas_wh: tuple[int, int] | None = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"VP8X" and len(body) >= 10:
            # canvas size: 24-bit LE width-1 / height-1 after flags+reserved
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
            budget.check_pixels("VP8X canvas", cw, ch)
            canvas_wh = (cw, ch)
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            from .vp8x import decode_vp8

            rgb = decode_vp8(body)
            if alph is None:
                return rgb
            h, w = rgb.shape[:2]
            a = decode_alpha(alph, w, h).astype(np.float64) / 255.0
            out = rgb.astype(np.float64) * a[:, :, None] + 255.0 * (1.0 - a[:, :, None])
            return np.clip(np.round(out), 0, 255).astype(np.uint8)
        if tag == b"ALPH":
            alph = body
        if tag == b"ANMF" and len(body) > 16:
            # animated WebP: decode the FIRST frame (16-byte frame params,
            # then the frame's own ALPH/VP8/VP8L chunk sequence — recurse
            # with a synthetic container around it), then composite it at
            # its x/y offset onto the VP8X canvas over white (pipeline
            # background convention) — a first frame smaller than the
            # canvas must not change the image's dimensions (ADVICE r3)
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            sub = body[16:]
            frame = decode_webp(
                b"RIFF" + struct.pack("<I", 4 + len(sub)) + b"WEBP" + sub
            )
            if canvas_wh is None:
                return frame
            cw, ch = canvas_wh
            if frame.ndim == 2:  # grayscale sub-decode: lift to RGB canvas
                frame = np.stack([frame] * 3, axis=-1)
            canvas = np.full((ch, cw, 3), 255, dtype=np.uint8)
            fh = min(frame.shape[0], max(ch - fy, 0))
            fw = min(frame.shape[1], max(cw - fx, 0))
            canvas[fy : fy + fh, fx : fx + fw] = frame[:fh, :fw]
            return canvas
        # VP8X and metadata chunks: keep walking to the image chunk
        pos += 8 + ln + (ln % 2)
    raise ValueError("no image chunk in WEBP")
