"""Pure-numpy JPEG (JFIF) decoder — Huffman + dequant + IDCT.

Built from the public JPEG spec (ITU-T T.81) only. Covers what a crawl
actually contains at the fidelity the OCR path needs:

* baseline sequential DCT (SOF0/SOF1) AND progressive DCT (SOF2) —
  spectral selection, successive approximation (DC/AC first + refine
  scans, EOBRUN), interleaved and single-component scans;
* grayscale (1 component) and YCbCr (3 components) with luma sampling
  factors up to 2x2 — 4:4:4, 4:2:2, 4:4:0, 4:2:0;
* restart intervals (DRI / RSTn), byte stuffing, 8- and 16-bit quant tables.

Rejected with ValueError (clear reason, quarantine-friendly):
hierarchical/lossless/arithmetic frames, 12-bit precision, 2- or
4-component frames.

Reference parity target: the reference decodes JPEG via the Rust `image`
crate on its OCR path (`rust/src/server.rs:237-238`, fixture
`rust/tests/fixtures/sample_text.jpg`); this module replaces the round-1
stub so that fixture extracts instead of quarantining.

Per-symbol entropy decoding is a Python loop (inherent to Huffman);
everything after it — dequant, IDCT, plane assembly, upsampling, color
convert — is vectorized numpy over all blocks at once.
"""

from __future__ import annotations

import struct

import numpy as np

from . import budget

# zigzag scan order: index = scan position, value = natural (row*8+col) index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_SOF_UNSUPPORTED = {
    0xC3: "lossless JPEG not supported",
    0xC5: "differential sequential JPEG not supported",
    0xC6: "differential progressive JPEG not supported",
    0xC7: "differential lossless JPEG not supported",
    0xCB: "arithmetic-coded lossless JPEG not supported",
    0xCD: "differential sequential JPEG not supported",
    0xCE: "differential progressive JPEG not supported",
    0xCF: "differential lossless JPEG not supported",
}

# 8x8 IDCT basis: spatial = C.T @ coeffs @ C
_C = np.array([
    [(np.sqrt(1.0 / 8.0) if u == 0 else np.sqrt(2.0 / 8.0))
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


class _Bits:
    """MSB-first bit reader over unstuffed entropy bytes; pads with zeros
    past the end (truncated streams fail later on an invalid Huffman code
    or simply produce a short block count, both handled by the caller)."""

    __slots__ = ("d", "i", "buf", "n")

    def __init__(self, d: bytes):
        self.d = d
        self.i = 0
        self.buf = 0
        self.n = 0

    def read(self, k: int) -> int:
        while self.n < k:
            b = self.d[self.i] if self.i < len(self.d) else 0
            self.i += 1
            self.buf = ((self.buf << 8) | b) & 0xFFFFFFFFFFFF
            self.n += 8
        self.n -= k
        return (self.buf >> self.n) & ((1 << k) - 1)


def _build_huff(bits_counts: bytes, values: bytes) -> dict:
    """Canonical Huffman table -> {(code_len, code): symbol}."""
    lut = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits_counts[ln - 1]):
            lut[(ln, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return lut


def _decode_symbol(bits: _Bits, lut: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.read(1)
        sym = lut.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to a signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _split_scan(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Unstuff the entropy-coded bytes and split at RSTn markers. Returns
    (restart segments, position of the terminating marker) — progressive
    files have several scans, so the caller resumes marker parsing there."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or any true marker terminates the scan
            break
    segs.append(bytes(cur))
    return segs, i


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline, progressive or arithmetic-coded JFIF payload.
    Returns (h, w) uint8 for grayscale, (h, w, 3) uint8 RGB for YCbCr.
    Malformed input always surfaces as ValueError (the quarantine
    contract), never an internal IndexError; a truncated progressive
    stream renders the scans that arrived (the coarse-preview property of
    the format)."""
    try:
        frame, qt = _decode_to_coefficients(data)
        return _render_frame(frame, qt)
    except (IndexError, KeyError) as e:
        raise ValueError(f"truncated or corrupt JPEG header: {e}") from e


def decode_jpeg_coefficients(data: bytes) -> list:
    """Entropy-decode only: per component (hb, wb, coef[hb*wb, 64]) in the
    MCU-padded raster block grid, natural (row-major) coefficient order.
    Validation surface: tests pin these integer-exact against the arrays
    the system libjpeg's `jpeg_read_coefficients` reports for the same
    bytes, isolating entropy decoding from IDCT rounding."""
    try:
        frame, _ = _decode_to_coefficients(data)
    except (IndexError, KeyError) as e:
        raise ValueError(f"truncated or corrupt JPEG header: {e}") from e
    return [(c["hb"], c["wb"], c["coef"].copy()) for c in frame["comps"]]


def _decode_to_coefficients(data: bytes):
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    dac: dict = {}
    frame = None
    restart_interval = 0
    got_any_scan = False
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = data[pos + 1]
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        ln = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT — may hold several tables
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0x0F
                o += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[o : o + 64], dtype=np.uint8).astype(np.float64)
                    o += 64
                elif pq == 1:
                    tbl = np.frombuffer(seg[o : o + 128], dtype=">u2").astype(np.float64)
                    o += 128
                else:
                    raise ValueError("bad DQT precision")
                nat = np.empty(64)
                nat[ZIGZAG] = tbl  # store in natural order
                qt[tq] = nat
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0/1 baseline, SOF2 progressive (Huffman);
            # SOF9 sequential, SOF10 progressive (arithmetic, T.81 Annex F)
            precision = seg[0]
            if precision != 8:
                raise ValueError(f"{precision}-bit JPEG not supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component JPEG not supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            if any(c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps):
                raise ValueError("JPEG sampling factors beyond 2x2 not supported")
            if h == 0 or w == 0:
                raise ValueError("zero-dimension JPEG")
            budget.check_pixels("JPEG", w, h)
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker in (0xC2, 0xCA),
                     "arith": marker in (0xC9, 0xCA)}
            _init_frame_state(frame)
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError(_SOF_UNSUPPORTED[marker])
        elif marker == 0xC4:  # DHT — may hold several tables
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0x0F
                counts = seg[o + 1 : o + 17]
                nv = sum(counts)
                vals = seg[o + 17 : o + 17 + nv]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huff(counts, vals)
                o += 17 + nv
        elif marker == 0xCC:  # DAC — arithmetic conditioning (T.81 B.2.4.3)
            # a tables/misc segment: may legally precede SOF9/SOF10
            o = 0
            while o + 2 <= len(seg):
                tc, tb = seg[o] >> 4, seg[o] & 0x0F
                cs = seg[o + 1]
                o += 2
                if tc == 0:
                    lo, up = cs & 0x0F, cs >> 4
                    if lo > up:
                        raise ValueError("bad JPEG DAC DC conditioning")
                    dac[("dc", tb)] = (lo, up)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        raise ValueError("bad JPEG DAC AC conditioning")
                    dac[("ac", tb)] = cs
                else:
                    raise ValueError("bad JPEG DAC table class")
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS — one of possibly many scans
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan_comps = []
            for si in range(ns):
                cs, tables = seg[1 + 2 * si], seg[2 + 2 * si]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            ss, se, ahl = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            scan = {"comps": scan_comps, "ss": ss, "se": se,
                    "ah": ahl >> 4, "al": ahl & 0x0F}
            segs, end = _split_scan(data, pos + 2 + ln)
            got_any_scan = True
            try:
                if frame.get("arith"):
                    frame["dac"] = dac
                    _decode_one_scan_arith(frame, scan, segs, dac,
                                           restart_interval)
                else:
                    _decode_one_scan(frame, scan, segs, huff_dc, huff_ac,
                                     restart_interval)
            except ValueError:
                if not frame.get("any_block_decoded"):
                    raise
                # truncated/corrupt later scan: render what accumulated
                break
            pos = end
            continue
        pos += 2 + ln
    if frame is None or not got_any_scan:
        raise ValueError("no SOS marker in JPEG")
    return frame, qt


def _init_frame_state(frame: dict) -> None:
    """Allocate per-component coefficient grids in RASTER block order
    (padded to the MCU grid); scans — one for baseline, many for
    progressive — accumulate into them before one final dequant+IDCT."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    frame.update(hmax=hmax, vmax=vmax, mcux=mcux, mcuy=mcuy)
    for c in comps:
        c["wb"] = mcux * c["h"]  # padded grid width in blocks
        c["hb"] = mcuy * c["v"]
        # actual (unpadded) block dims for non-interleaved scans
        c["wb_used"] = -(-(-(-frame["w"] * c["h"] // hmax)) // 8)
        c["hb_used"] = -(-(-(-frame["h"] * c["v"] // vmax)) // 8)
        c["coef"] = np.zeros((c["hb"] * c["wb"], 64), dtype=np.int32)


def _decode_one_scan(frame, scan, segs, huff_dc, huff_ac, ri):
    """Decode one entropy-coded scan into the frame's coefficient state.
    Handles baseline (Ss=0..Se=63, Ah=Al=0, interleaved) and every
    progressive scan kind: DC first/refine (interleaved or not), AC
    first/refine (single-component, EOBRUN)."""
    comps_by_id = {c["id"]: c for c in frame["comps"]}
    members = []
    for cid, dc_t, ac_t in scan["comps"]:
        if cid not in comps_by_id:
            raise ValueError("JPEG scan references unknown component")
        c = comps_by_id[cid]
        members.append(c)
        c["dc"] = huff_dc.get(dc_t)
        c["ac"] = huff_ac.get(ac_t)
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if not (0 <= ss <= se <= 63) or al > 13:
        raise ValueError("bad JPEG spectral/approximation parameters")
    baseline_scan = ss == 0 and se == 63  # sequential full-block scan
    dc_scan = ss == 0 and se == 0
    ac_scan = ss > 0
    if baseline_scan and (ah or al):
        raise ValueError("JPEG sequential scan with approximation bits")
    if ss == 0 and 0 < se < 63:
        raise ValueError("bad JPEG spectral selection (DC mixed with partial AC)")
    if ac_scan and len(members) != 1:
        raise ValueError("JPEG AC progressive scan must be single-component")
    for c in members:
        if (baseline_scan or dc_scan) and ah == 0 and c["dc"] is None:
            raise ValueError("JPEG missing DC huffman table")
        if (baseline_scan or ac_scan) and c["ac"] is None:
            # AC refine scans (ah > 0) also decode run/size symbols
            raise ValueError("JPEG missing AC huffman table")

    interleaved = len(members) > 1
    if interleaved:
        units = frame["mcux"] * frame["mcuy"]
    else:
        c = members[0]
        # single-component scan traverses the component's OWN grid
        units = c["hb_used"] * c["wb_used"]

    per_seg = ri if ri else units
    seg_i = 0
    bits = _Bits(segs[0] if segs else b"")
    preds = {c["id"]: 0 for c in members}
    eobrun = 0
    unit = 0
    zig = ZIGZAG
    while unit < units:
        if ri and unit and unit % per_seg == 0:
            seg_i += 1
            if seg_i >= len(segs):
                break  # truncated: keep the decoded prefix
            bits = _Bits(segs[seg_i])
            preds = {c["id"]: 0 for c in members}
            eobrun = 0
        try:
            if interleaved:
                my, mx = divmod(unit, frame["mcux"])
                for c in members:
                    for v in range(c["v"]):
                        for hh in range(c["h"]):
                            bi = (my * c["v"] + v) * c["wb"] + (mx * c["h"] + hh)
                            row = c["coef"][bi]
                            if baseline_scan:
                                preds[c["id"]] = _dc_unit(bits, c, row, 0, 0, preds[c["id"]])
                                _ac_baseline_unit(bits, c, row, zig)
                            else:  # interleaved DC scan (first or refine)
                                preds[c["id"]] = _dc_unit(bits, c, row, ah, al, preds[c["id"]])
            else:
                c = members[0]
                by, bx = divmod(unit, c["wb_used"])
                row = c["coef"][by * c["wb"] + bx]
                if baseline_scan:  # single-component sequential (gray SOF0)
                    preds[c["id"]] = _dc_unit(bits, c, row, 0, 0, preds[c["id"]])
                    _ac_baseline_unit(bits, c, row, zig)
                elif dc_scan:
                    preds[c["id"]] = _dc_unit(bits, c, row, ah, al, preds[c["id"]])
                elif ah == 0:
                    eobrun = _ac_first_unit(bits, c, row, ss, se, al, eobrun, zig)
                else:
                    eobrun = _ac_refine_unit(bits, c, row, ss, se, al, eobrun, zig)
            frame["any_block_decoded"] = True
        except ValueError:
            if not frame.get("any_block_decoded"):
                raise
            break  # truncated tail: keep the decoded prefix
        unit += 1


def _dc_unit(bits, c, row, ah, al, pred):
    if ah == 0:  # first scan
        t = _decode_symbol(bits, c["dc"])
        pred += _extend(bits.read(t), t)
        row[0] = pred << al
        return pred
    if bits.read(1):  # refinement: append one magnitude bit
        row[0] |= 1 << al
    return pred


def _ac_baseline_unit(bits, c, row, zig):
    k = 1
    while k < 64:
        rs = _decode_symbol(bits, c["ac"])
        r, sz = rs >> 4, rs & 0x0F
        if sz == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past block end")
        row[zig[k]] = _extend(bits.read(sz), sz)
        k += 1


def _ac_first_unit(bits, c, row, ss, se, al, eobrun, zig):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(bits, c["ac"])
        r, sz = rs >> 4, rs & 0x0F
        if sz == 0:
            if r < 15:  # EOBn: run of end-of-bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += bits.read(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("JPEG AC run past band end")
        row[zig[k]] = _extend(bits.read(sz), sz) << al
        k += 1
    return eobrun


def _ac_refine_unit(bits, c, row, ss, se, al, eobrun, zig):
    """Successive-approximation AC refinement (T.81 G.1.2.3): correction
    bits for already-nonzero coefficients interleave with newly-nonzero
    insertions; EOBRUN covers whole bands of correction-only blocks."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_symbol(bits, c["ac"])
            r, sz = rs >> 4, rs & 0x0F
            new_val = 0
            if sz == 0:
                if r < 15:
                    # EOBRUN includes the CURRENT band: the tail sweep below
                    # must still read this block's remaining correction bits
                    eobrun = 1 << r
                    if r:
                        eobrun += bits.read(r)
                    break
                # r == 15: skip over 16 zero-history positions
            else:
                if sz != 1:
                    raise ValueError("JPEG AC refinement size must be 1")
                new_val = p1 if bits.read(1) else m1
            while k <= se:
                cur = int(row[zig[k]])
                if cur != 0:
                    if bits.read(1) and (cur & p1) == 0:
                        row[zig[k]] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if new_val:
                if k > se:
                    raise ValueError("JPEG AC refinement run past band end")
                row[zig[k]] = new_val
            k += 1
    if eobrun > 0:
        while k <= se:
            cur = int(row[zig[k]])
            if cur != 0:
                if bits.read(1) and (cur & p1) == 0:
                    row[zig[k]] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _render_frame(frame, qt):
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for c in frame["comps"]:
        if c["tq"] not in qt:
            raise ValueError("JPEG missing quant table")
        coef = c["coef"].astype(np.float64) * qt[c["tq"]][None, :]
        blocks = coef.reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _C, blocks, _C, optimize=True) + 128.0
        spatial = np.clip(np.round(spatial), 0, 255)
        hb, wb = c["hb"], c["wb"]
        plane = spatial.reshape(hb, wb, 8, 8).transpose(0, 2, 1, 3).reshape(hb * 8, wb * 8)
        # chroma upsampling (nearest / pixel replication) + crop
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0].astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (ITU-T T.81 Annex F / Annex D QM-coder)
# ---------------------------------------------------------------------------
# Probability estimation state machine, T.81 Table D.3: one row per state
# as (Qe, next_index_LPS, next_index_MPS, switch_MPS).  Transcribed from
# the public spec; validated two ways: (a) cross-checked value-for-value
# against the canonical C implementation's copy of the same spec table in
# this machine's system libjpeg (symbol `jpeg_aritab`), and (b) pinned
# empirically by tests that decode fixtures ENCODED by that libjpeg and
# require coefficient-exact agreement with its own decoder.  Index 113 is
# the non-adapting "fixed 1/2 probability" bin used for AC sign decisions.
_QM_STATES = (
    (0x5A1D,  1,  1,1), (0x2586, 14,  2,0), (0x1114, 16,  3,0), (0x080B, 18,  4,0),
    (0x03D8, 20,  5,0), (0x01DA, 23,  6,0), (0x00E5, 25,  7,0), (0x006F, 28,  8,0),
    (0x0036, 30,  9,0), (0x001A, 33, 10,0), (0x000D, 35, 11,0), (0x0006,  9, 12,0),
    (0x0003, 10, 13,0), (0x0001, 12, 13,0), (0x5A7F, 15, 15,1), (0x3F25, 36, 16,0),
    (0x2CF2, 38, 17,0), (0x207C, 39, 18,0), (0x17B9, 40, 19,0), (0x1182, 42, 20,0),
    (0x0CEF, 43, 21,0), (0x09A1, 45, 22,0), (0x072F, 46, 23,0), (0x055C, 48, 24,0),
    (0x0406, 49, 25,0), (0x0303, 51, 26,0), (0x0240, 52, 27,0), (0x01B1, 54, 28,0),
    (0x0144, 56, 29,0), (0x00F5, 57, 30,0), (0x00B7, 59, 31,0), (0x008A, 60, 32,0),
    (0x0068, 62, 33,0), (0x004E, 63, 34,0), (0x003B, 32, 35,0), (0x002C, 33,  9,0),
    (0x5AE1, 37, 37,1), (0x484C, 64, 38,0), (0x3A0D, 65, 39,0), (0x2EF1, 67, 40,0),
    (0x261F, 68, 41,0), (0x1F33, 69, 42,0), (0x19A8, 70, 43,0), (0x1518, 72, 44,0),
    (0x1177, 73, 45,0), (0x0E74, 74, 46,0), (0x0BFB, 75, 47,0), (0x09F8, 77, 48,0),
    (0x0861, 78, 49,0), (0x0706, 79, 50,0), (0x05CD, 48, 51,0), (0x04DE, 50, 52,0),
    (0x040F, 50, 53,0), (0x0363, 51, 54,0), (0x02D4, 52, 55,0), (0x025C, 53, 56,0),
    (0x01F8, 54, 57,0), (0x01A4, 55, 58,0), (0x0160, 56, 59,0), (0x0125, 57, 60,0),
    (0x00F6, 58, 61,0), (0x00CB, 59, 62,0), (0x00AB, 61, 63,0), (0x008F, 61, 32,0),
    (0x5B12, 65, 65,1), (0x4D04, 80, 66,0), (0x412C, 81, 67,0), (0x37D8, 82, 68,0),
    (0x2FE8, 83, 69,0), (0x293C, 84, 70,0), (0x2379, 86, 71,0), (0x1EDF, 87, 72,0),
    (0x1AA9, 87, 73,0), (0x174E, 72, 74,0), (0x1424, 72, 75,0), (0x119C, 74, 76,0),
    (0x0F6B, 74, 77,0), (0x0D51, 75, 78,0), (0x0BB6, 77, 79,0), (0x0A40, 77, 48,0),
    (0x5832, 80, 81,1), (0x4D1C, 88, 82,0), (0x438E, 89, 83,0), (0x3BDD, 90, 84,0),
    (0x34EE, 91, 85,0), (0x2EAE, 92, 86,0), (0x299A, 93, 87,0), (0x2516, 86, 71,0),
    (0x5570, 88, 89,1), (0x4CA9, 95, 90,0), (0x44D9, 96, 91,0), (0x3E22, 97, 92,0),
    (0x3824, 99, 93,0), (0x32B4, 99, 94,0), (0x2E17, 93, 86,0), (0x56A8, 95, 96,1),
    (0x4F46,101, 97,0), (0x47E5,102, 98,0), (0x41CF,103, 99,0), (0x3C3D,104,100,0),
    (0x375E, 99, 93,0), (0x5231,105,102,0), (0x4C0F,106,103,0), (0x4639,107,104,0),
    (0x415E,103, 99,0), (0x5627,105,106,1), (0x50E7,108,107,0), (0x4B85,109,103,0),
    (0x5597,110,109,0), (0x504F,111,107,0), (0x5A10,110,111,1), (0x5522,112,109,0),
    (0x59EB,112,111,1), (0x5A1D,113,113,0),
)


class _QMDecoder:
    """QM arithmetic decoder (T.81 F.2.2, software conventions).

    ``data`` is one restart segment's entropy bytes, already unstuffed
    (0xFF 0x00 -> 0xFF) and marker-terminated by ``_split_scan``; past the
    end the decoder feeds zero bytes (the spec's convention once a marker
    is reached).  Register model: ``a`` is the 16-bit interval size,
    ``c`` the code value carrying ``ct`` extra low-order fetched bits, so
    interval values compare against ``c`` after an ``<< ct`` alignment.
    The MPS sub-interval of size a-Qe sits at the bottom, the LPS
    sub-interval of size Qe on top, with standard conditional exchange
    when a-Qe < Qe.  Statistics bins are bytes of (mps << 7) | state."""

    __slots__ = ("d", "i", "n", "c", "a", "ct", "fixed")

    def __init__(self, data: bytes):
        self.d = data
        self.n = len(data)
        b0 = data[0] if self.n > 0 else 0
        b1 = data[1] if self.n > 1 else 0
        self.i = 2
        self.c = (b0 << 8) | b1
        self.a = 0x10000  # full unit interval (INITDEC)
        self.ct = 0
        self.fixed = bytearray([113])

    def decode(self, st: bytearray, k: int) -> int:
        a = self.a
        c = self.c
        ct = self.ct
        while a < 0x8000:
            ct -= 1
            if ct < 0:
                c = (c << 8) | (self.d[self.i] if self.i < self.n else 0)
                self.i += 1
                ct += 8
            a <<= 1
        sv = st[k]
        qe, nl, nm, sw = _QM_STATES[sv & 0x7F]
        a -= qe
        temp = a << ct
        if c < temp:  # MPS sub-interval
            if a < 0x8000:  # renormalization case: conditional exchange
                if a < qe:
                    st[k] = ((sv & 0x80) ^ (0x80 if sw else 0)) | nl
                    d = (sv >> 7) ^ 1
                else:
                    st[k] = (sv & 0x80) | nm
                    d = sv >> 7
            else:
                d = sv >> 7
        else:  # LPS sub-interval
            c -= temp
            if a < qe:  # conditional exchange: decoded symbol is the MPS
                st[k] = (sv & 0x80) | nm
                d = sv >> 7
            else:
                st[k] = ((sv & 0x80) ^ (0x80 if sw else 0)) | nl
                d = (sv >> 7) ^ 1
            a = qe
        self.a = a
        self.c = c
        self.ct = ct
        return d

    def decode_fixed(self) -> int:
        return self.decode(self.fixed, 0)


#: per-table statistics sizes (T.81 Tables F.4 / F.5 bin layouts)
_DC_STAT_BINS = 64
_AC_STAT_BINS = 256


def _arith_dc_diff(dec, st, ctx, lo, up):
    """Decode one DC difference (T.81 Figures F.19/F.21-F.24).  Returns
    (diff, next context index for this component)."""
    i = ctx
    if dec.decode(st, i) == 0:
        return 0, 0
    sign = dec.decode(st, i + 1)
    j = i + 2 + sign
    m = dec.decode(st, j)
    if m != 0:
        j = 20  # X1 bin (Table F.4)
        while dec.decode(st, j):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic JPEG DC magnitude overflow")
            j += 1
    # F.1.4.4.1.2: conditioning category for the NEXT block's context
    if m < (1 << lo) >> 1:
        ctx = 0
    elif m > (1 << up) >> 1:
        ctx = 12 + sign * 4
    else:
        ctx = 4 + sign * 4
    v = m
    j += 14  # mantissa bins follow the magnitude-category bins
    m >>= 1
    while m:
        if dec.decode(st, j):
            v |= m
        m >>= 1
    v += 1
    return (-v if sign else v), ctx


def _arith_ac_band(dec, st, row, ss, se, al, kx, zig):
    """Decode AC coefficients ss..se of one block (T.81 Figure F.20);
    ``al`` is the successive-approximation shift (0 for sequential)."""
    k = ss
    while k <= se:
        i = 3 * (k - 1)
        if dec.decode(st, i):
            break  # EOB
        while dec.decode(st, i + 1) == 0:
            i += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic JPEG AC run past band end")
        sign = dec.decode_fixed()
        i += 2
        m = dec.decode(st, i)
        if m != 0 and dec.decode(st, i):
            m <<= 1
            i = 189 if k <= kx else 217  # Table F.5 X2 tracks
            while dec.decode(st, i):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("arithmetic JPEG AC magnitude overflow")
                i += 1
        v = m
        i += 14
        m >>= 1
        while m:
            if dec.decode(st, i):
                v |= m
            m >>= 1
        v += 1
        row[zig[k]] = (-v if sign else v) << al
        k += 1


def _arith_ac_refine(dec, st, row, ss, se, al, zig):
    """Successive-approximation AC refinement (T.81 Figure G.10)."""
    p1 = 1 << al
    m1 = -1 << al
    kex = se
    while kex > 0 and row[zig[kex]] == 0:
        kex -= 1
    k = ss
    while k <= se:
        i = 3 * (k - 1)
        if k > kex and dec.decode(st, i):
            break  # EOB
        while True:
            cur = int(row[zig[k]])
            if cur != 0:
                if dec.decode(st, i + 2):
                    row[zig[k]] = cur + (p1 if cur >= 0 else m1)
                break
            if dec.decode(st, i + 1):
                row[zig[k]] = m1 if dec.decode_fixed() else p1
                break
            i += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic JPEG AC refinement past band end")
        k += 1


def _dac_params(frame, c):
    dac = frame.get("dac") or {}
    lo, up = dac.get(("dc", c["dc_t"]), (0, 1))
    kx = dac.get(("ac", c["ac_t"]), 5)
    return lo, up, kx


def _arith_unit_dc(dec, frame, c, row, ah, al, dc_stats, preds, dc_ctx):
    if ah != 0:  # DC refinement: one fixed-probability bit per block
        if dec.decode_fixed():
            row[0] |= 1 << al
        return
    lo, up, _ = _dac_params(frame, c)
    diff, ctx = _arith_dc_diff(dec, dc_stats[c["dc_t"]], dc_ctx[c["id"]], lo, up)
    dc_ctx[c["id"]] = ctx
    preds[c["id"]] += diff
    row[0] = preds[c["id"]] << al


def _decode_one_scan_arith(frame, scan, segs, dac, ri):
    """Arithmetic counterpart of `_decode_one_scan`: sequential (SOF9) and
    progressive (SOF10) scans into the same coefficient grids.  Statistics
    areas, DC contexts and predictors reset per scan and per restart
    segment (T.81 F.2.1.3)."""
    comps_by_id = {c["id"]: c for c in frame["comps"]}
    members = []
    for cid, dc_t, ac_t in scan["comps"]:
        if cid not in comps_by_id:
            raise ValueError("JPEG scan references unknown component")
        c = comps_by_id[cid]
        c["dc_t"] = dc_t
        c["ac_t"] = ac_t
        members.append(c)
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    if not (0 <= ss <= se <= 63) or al > 13:
        raise ValueError("bad JPEG spectral/approximation parameters")
    sequential = ss == 0 and se == 63
    dc_scan = ss == 0 and se == 0
    ac_scan = ss > 0
    if sequential and frame["progressive"]:
        raise ValueError("full-band scan in progressive JPEG")
    if sequential and (ah or al):
        raise ValueError("JPEG sequential scan with approximation bits")
    if ss == 0 and 0 < se < 63:
        raise ValueError("bad JPEG spectral selection (DC mixed with partial AC)")
    if ac_scan and len(members) != 1:
        raise ValueError("JPEG AC progressive scan must be single-component")

    interleaved = len(members) > 1
    if interleaved:
        units = frame["mcux"] * frame["mcuy"]
    else:
        c = members[0]
        units = c["hb_used"] * c["wb_used"]

    def fresh_stats():
        return ({t: bytearray(_DC_STAT_BINS) for t in {c["dc_t"] for c in members}},
                {t: bytearray(_AC_STAT_BINS) for t in {c["ac_t"] for c in members}})

    per_seg = ri if ri else units
    seg_i = 0
    dec = _QMDecoder(segs[0] if segs else b"")
    dc_stats, ac_stats = fresh_stats()
    preds = {c["id"]: 0 for c in members}
    dc_ctx = {c["id"]: 0 for c in members}
    zig = ZIGZAG
    unit = 0
    while unit < units:
        if ri and unit and unit % per_seg == 0:
            seg_i += 1
            if seg_i >= len(segs):
                break  # truncated: keep the decoded prefix
            dec = _QMDecoder(segs[seg_i])
            dc_stats, ac_stats = fresh_stats()
            preds = {c["id"]: 0 for c in members}
            dc_ctx = {c["id"]: 0 for c in members}
        try:
            if interleaved:
                my, mx = divmod(unit, frame["mcux"])
                for c in members:
                    for v in range(c["v"]):
                        for hh in range(c["h"]):
                            bi = (my * c["v"] + v) * c["wb"] + (mx * c["h"] + hh)
                            row = c["coef"][bi]
                            _arith_unit_dc(dec, frame, c, row, ah, al,
                                           dc_stats, preds, dc_ctx)
                            if sequential:
                                _, _, kx = _dac_params(frame, c)
                                _arith_ac_band(dec, ac_stats[c["ac_t"]], row,
                                               1, 63, 0, kx, zig)
            else:
                c = members[0]
                by, bx = divmod(unit, c["wb_used"])
                row = c["coef"][by * c["wb"] + bx]
                if sequential or dc_scan:
                    _arith_unit_dc(dec, frame, c, row, ah, al,
                                   dc_stats, preds, dc_ctx)
                    if sequential:
                        _, _, kx = _dac_params(frame, c)
                        _arith_ac_band(dec, ac_stats[c["ac_t"]], row,
                                       1, 63, 0, kx, zig)
                elif ah == 0:
                    _, _, kx = _dac_params(frame, c)
                    _arith_ac_band(dec, ac_stats[c["ac_t"]], row,
                                   ss, se, al, kx, zig)
                else:
                    _arith_ac_refine(dec, ac_stats[c["ac_t"]], row,
                                     ss, se, al, zig)
            frame["any_block_decoded"] = True
        except ValueError:
            if not frame.get("any_block_decoded"):
                raise
            break  # truncated tail: keep the decoded prefix
        unit += 1


# ---------------------------------------------------------------------------
# fixture-encoder mirror (sequential grayscale SOF9)
# ---------------------------------------------------------------------------
# Synthetic-corpus counterpart of the decoder above (the same role the
# JBIG2 encoder mirrors play in `jbig2x`): enough of T.81 Annex F's
# ENCODING side — QM-coder with carry/stacked-0xFF byte output (F.1.4.3)
# and the DC/AC statistical models — to produce conformant SOF9 streams
# for the scanned-PDF fixture rotation.  Validated by decoder round-trips
# (coefficient-exact) on top of the decoder's own true-producer pins.


class _QMEncoder:
    __slots__ = ("a", "c", "ct", "buffer", "sc", "zc", "out", "fixed")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # empty
        self.sc = 0  # stacked 0xFF bytes (carry may still propagate)
        self.zc = 0  # pending zero bytes
        self.out = bytearray()
        self.fixed = bytearray([113])

    def _flush_zc(self):
        while self.zc:
            self.out.append(0x00)
            self.zc -= 1

    def encode(self, st: bytearray, k: int, val: int) -> None:
        sv = st[k]
        qe, nl, nm, sw = _QM_STATES[sv & 0x7F]
        self.a -= qe
        if val != (sv >> 7):  # LPS
            if self.a >= qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            st[k] = ((sv & 0x80) ^ (0x80 if sw else 0)) | nl
        else:  # MPS
            if self.a >= 0x8000:
                return  # no renormalization needed
            if self.a < qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            st[k] = (sv & 0x80) | nm
        # renormalization & byte output (F.1.4.3)
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                temp = self.c >> 19
                if temp > 0xFF:  # carry-over into the buffered byte
                    if self.buffer >= 0:
                        self._flush_zc()
                        self.out.append(self.buffer + 1)
                        if self.buffer + 1 == 0xFF:
                            self.out.append(0x00)
                    self.zc += self.sc
                    self.sc = 0
                    self.buffer = temp & 0xFF
                elif temp == 0xFF:
                    self.sc += 1  # stack: may still receive a carry
                else:
                    if self.buffer == 0:
                        self.zc += 1
                    elif self.buffer >= 0:
                        self._flush_zc()
                        self.out.append(self.buffer)
                    if self.sc:
                        self._flush_zc()
                        while self.sc:
                            self.out.append(0xFF)
                            self.out.append(0x00)
                            self.sc -= 1
                    self.buffer = temp
                self.c &= 0x7FFFF
                self.ct += 8
            if self.a >= 0x8000:
                break

    def encode_fixed(self, val: int) -> None:
        self.encode(self.fixed, 0, val)

    def flush(self) -> bytes:
        """D.1.8 termination: pick the in-interval code value with the most
        trailing zeros, then drain the byte pipeline."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        if temp < self.c:
            self.c = temp + 0x8000
        else:
            self.c = temp
        self.c <<= self.ct
        if self.c & 0xF8000000:  # final carry
            if self.buffer >= 0:
                self._flush_zc()
                self.out.append(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self.out.append(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._flush_zc()
                self.out.append(self.buffer)
            if self.sc:
                self._flush_zc()
                while self.sc:
                    self.out.append(0xFF)
                    self.out.append(0x00)
                    self.sc -= 1
        if self.c & 0x7FFF800:  # final bytes, only if nonzero
            self._flush_zc()
            b = (self.c >> 19) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)
        return bytes(self.out)


def _arith_enc_dc(enc, st, ctx, lo, up, diff):
    i = ctx
    if diff == 0:
        enc.encode(st, i, 0)
        return 0
    enc.encode(st, i, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st, i + 1, sign)
    v = -diff if sign else diff
    j = i + 2 + sign
    m = 0
    v -= 1
    if v:
        enc.encode(st, j, 1)
        m = 1
        j = 20
        v2 = v >> 1
        while v2:
            enc.encode(st, j, 1)
            m <<= 1
            j += 1
            v2 >>= 1
    enc.encode(st, j, 0)
    if m < (1 << lo) >> 1:
        ctx = 0
    elif m > (1 << up) >> 1:
        ctx = 12 + sign * 4
    else:
        ctx = 4 + sign * 4
    j += 14
    m >>= 1
    while m:
        enc.encode(st, j, 1 if (m & v) else 0)
        m >>= 1
    return ctx


def _arith_enc_ac(enc, st, row, kx, zig):
    ke = 63
    while ke > 0 and row[zig[ke]] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        i = 3 * (k - 1)
        enc.encode(st, i, 0)  # not-EOB
        while row[zig[k]] == 0:
            enc.encode(st, i + 1, 0)
            i += 3
            k += 1
        enc.encode(st, i + 1, 1)
        v = int(row[zig[k]])
        sign = 1 if v < 0 else 0
        enc.encode_fixed(sign)
        if sign:
            v = -v
        i += 2
        m = 0
        v -= 1
        if v:
            enc.encode(st, i, 1)
            m = 1
            v2 = v >> 1
            if v2:
                enc.encode(st, i, 1)
                m <<= 1
                i = 189 if k <= kx else 217
                v2 >>= 1
                while v2:
                    enc.encode(st, i, 1)
                    m <<= 1
                    i += 1
                    v2 >>= 1
        enc.encode(st, i, 0)
        i += 14
        m >>= 1
        while m:
            enc.encode(st, i, 1 if (m & v) else 0)
            m >>= 1
        k += 1
    if k <= 63:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def encode_jpeg_arith(img: np.ndarray, qval: int = 1, restart: int = 0) -> bytes:
    """Encode (h, w) uint8 grayscale as a sequential arithmetic-coded JFIF
    (SOF9) with a flat quant table of ``qval`` and default conditioning.
    ``restart`` > 0 emits DRI/RSTn every that many MCUs with full
    statistics resets, mirroring the decoder's per-segment state."""
    h, w = img.shape
    hb, wb = -(-h // 8), -(-w // 8)
    pad = np.full((hb * 8, wb * 8), 128, dtype=np.float64)
    pad[:h, :w] = img
    blocks = (
        pad.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
    )
    coefs = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)
    q = np.round(coefs / float(qval)).astype(np.int32).reshape(-1, 64)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    qtab = np.full(64, qval, dtype=np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab.tobytes()
    out += b"\xff\xc9" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes([1, 0x11, 0])
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])

    zig = ZIGZAG
    enc = _QMEncoder()
    dc_st = bytearray(_DC_STAT_BINS)
    ac_st = bytearray(_AC_STAT_BINS)
    pred = 0
    ctx = 0
    rst = 0
    for bi in range(len(q)):
        if restart and bi and bi % restart == 0:
            out += enc.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            enc = _QMEncoder()
            dc_st = bytearray(_DC_STAT_BINS)
            ac_st = bytearray(_AC_STAT_BINS)
            pred = 0
            ctx = 0
        row = q[bi]
        diff = int(row[0]) - pred
        pred = int(row[0])
        ctx = _arith_enc_dc(enc, dc_st, ctx, 0, 1, diff)
        _arith_enc_ac(enc, ac_st, row, 5, zig)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)
