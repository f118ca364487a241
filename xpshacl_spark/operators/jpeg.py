"""Dependency-free baseline JPEG decoder (ITU-T T.81 / ISO 10918-1).

Everything here is spec-implemented from the public standard:
baseline sequential DCT, 8-bit precision, 1- or 3-component
(grayscale / YCbCr), arbitrary sampling factors up to 2x2 (4:4:4,
4:2:2, 4:2:0), restart intervals. Progressive (SOF2), arithmetic
coding, 12-bit precision, hierarchical modes and corrupt streams are
REJECTED: `decode_jpeg_bytes` returns None. Nothing in the package
imports this module; it is the next leaf to delete.

Correctness evidence (tests/test_jpeg_codec.py):
* the fast matrix IDCT vs the textbook O(n^4) DCT-III double loop;
* canonical Huffman table construction vs hand-built bitstreams;
* a test-local INDEPENDENT encoder (naive forward DCT + quantize +
  spec Huffman encoding) round-trips arbitrary images through this
  decoder within quantization error;
* DC-only JPEGs (solid blocks) decode to EXACT flat values — ground
  truth that needs no reference codec.

Scale: one image per decode (never intra-image parallelism); a
2^26 channel-byte bound on hostile payloads.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: index i of the stream -> (row, col) in the 8x8 block
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

_MAX_CHANNEL_BYTES = 1 << 26  # same hostile-payload bound as PNG


def _dct_matrix() -> np.ndarray:
    """8x8 DCT-II basis matrix C with C[u, x] = c(u) cos((2x+1)u pi/16),
    c(0)=sqrt(1/8), c(u>0)=sqrt(2/8). IDCT of block B is C.T @ B @ C."""
    C = np.zeros((8, 8))
    for u in range(8):
        cu = np.sqrt(0.125) if u == 0 else np.sqrt(0.25)
        for x in range(8):
            C[u, x] = cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return C


_C = _dct_matrix()


def idct_2d(block: np.ndarray) -> np.ndarray:
    """2-D type-III DCT (the JPEG inverse transform) of an 8x8
    coefficient block, float64 in -> float64 out (no level shift)."""
    return _C.T @ block @ _C


class _Huff:
    """Canonical JPEG Huffman table (T.81 Annex C): built from the
    16-entry BITS list (code count per length) + the value list, decoded
    MSB-first. Uses the standard MINCODE/MAXCODE/VALPTR walk — O(length)
    per symbol, no precomputed LUT (correctness-first reference
    decoder)."""

    def __init__(self, bits: list, values: bytes):
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.maxcode[ln] = code - 1
            else:
                self.maxcode[ln] = -1
            code <<= 1
        self.values = values
        if k != len(values):
            raise ValueError("huffman table size mismatch")

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bit()
            if self.maxcode[ln] >= 0 and code <= self.maxcode[ln]:
                return self.values[self.valptr[ln] + code - self.mincode[ln]]
        raise ValueError("invalid huffman code")


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with JPEG
    byte-stuffing: FF 00 yields a literal FF; FF Dn (RSTn) terminates
    the current run (restart handling resets DC predictors); any other
    FF xx marker also terminates."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker = None  # pending marker byte seen mid-stream

    def bit(self) -> int:
        if self.n == 0:
            if self.marker is not None:
                raise ValueError("read past marker")
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy stream")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated after FF")
                nxt = self.data[self.pos]
                self.pos += 1
                if nxt != 0x00:
                    self.marker = nxt
                    raise ValueError("marker in entropy stream")
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self) -> None:
        """Consume padding bits + the RSTn marker at a restart
        boundary."""
        self.n = 0
        if self.marker is None:
            # padding bits were all consumed exactly; marker follows
            if (
                self.pos + 1 < len(self.data)
                and self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7
            ):
                self.pos += 2
                return
            raise ValueError("expected restart marker")
        if not 0xD0 <= self.marker <= 0xD7:
            raise ValueError("expected RSTn, found other marker")
        self.marker = None


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude v to its signed
    value (top bit 0 -> negative branch)."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg_bytes(b: bytes, pixels: bool = False):
    """Baseline JPEG decode. Returns (width, height,
    mean-over-RGB-channel-values) or None for anything unsupported /
    corrupt; pixels=True returns (width, height, float64 grayscale
    h x w grid — per-pixel RGB mean) for the perceptual-hash path,
    matching the PNG/BMP/PPM decoder contract."""
    try:
        return _decode(b, pixels)
    except Exception:
        return None


def _decode(b: bytes, pixels: bool):
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:  # SOI
        return None
    pos = 2
    qt = {}  # quant tables by id (int arrays, natural order)
    huff_dc, huff_ac = {}, {}
    restart_interval = 0
    frame = None  # (w, h, comps) with comps = [(cid, hf, vf, tq)]
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if marker == 0xD9:  # EOI before SOS
            return None
        (ln,) = struct.unpack_from(">H", b, pos)
        seg = b[pos + 2 : pos + ln]
        if len(seg) != ln - 2:
            return None
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq != 0:  # 16-bit tables only occur at 12-bit depth
                    return None
                if i + 64 > len(seg):
                    return None
                tbl = np.zeros((8, 8))
                for k in range(64):
                    r, c = ZIGZAG[k]
                    tbl[r, c] = seg[i + k]
                qt[tq] = tbl
                i += 64
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = seg[i + 17 : i + 17 + n]
                if len(vals) != n:
                    return None
                (huff_dc if tc == 0 else huff_ac)[th] = _Huff(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8 or nc not in (1, 3) or w == 0 or h == 0:
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                hf, vf = hv >> 4, hv & 0xF
                if not (1 <= hf <= 2 and 1 <= vf <= 2):
                    return None
                comps.append((cid, hf, vf, tq))
            if w * h * nc > _MAX_CHANNEL_BYTES:
                return None
            frame = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline SOF: progressive/arithmetic/...
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                return None
            return _decode_scan(
                b, pos + ln, seg, frame, qt, huff_dc, huff_ac,
                restart_interval, pixels,
            )
        # APPn / COM / others: skip
        pos += ln
    return None


def _decode_scan(b, data_pos, seg, frame, qt, huff_dc, huff_ac,
                 restart_interval, pixels):
    w, h, comps = frame
    ns = seg[0]
    if ns != len(comps):
        return None  # single interleaved scan only (baseline norm)
    tables = {}
    i = 1
    for _ in range(ns):
        cs, tt = seg[i], seg[i + 1]
        tables[cs] = (tt >> 4, tt & 0xF)
        i += 2
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    meta = []  # (hf, vf, q, dc_table, ac_table, plane_w_mcus)
    for cid, hf, vf, tq in comps:
        if tq not in qt or cid not in tables:
            return None
        td, ta = tables[cid]
        if td not in huff_dc or ta not in huff_ac:
            return None
        pw, ph = mcux * hf * 8, mcuy * vf * 8
        planes.append(np.zeros((ph, pw)))
        meta.append((hf, vf, qt[tq], huff_dc[td], huff_ac[ta]))
    br = _BitReader(b, data_pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                br.align_restart()
                preds = [0] * len(comps)
            for ci, (hf, vf, q, hdc, hac) in enumerate(meta):
                for by in range(vf):
                    for bx in range(hf):
                        block = np.zeros((8, 8))
                        t = hdc.decode(br)
                        diff = _extend(br.receive(t), t)
                        preds[ci] += diff
                        block[0, 0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = hac.decode(br)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zr, zc = ZIGZAG[k]
                            block[zr, zc] = _extend(br.receive(s), s)
                            k += 1
                        px = idct_2d(block * q) + 128.0
                        y0 = (my * vf + by) * 8
                        x0 = (mx * hf + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1
    # upsample subsampled planes to full size, crop to (h, w)
    out = []
    for ci, (hf, vf, _q, _d, _a) in enumerate(meta):
        p = planes[ci]
        if hf < hmax or vf < vmax:
            p = np.repeat(np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        rgb_mean = np.clip(out[0], 0, 255)
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = np.clip(y + 1.402 * cr, 0, 255)
        g = np.clip(y - 0.344136 * cb - 0.714136 * cr, 0, 255)
        bch = np.clip(y + 1.772 * cb, 0, 255)
        rgb_mean = (r + g + bch) / 3.0
    if pixels:
        return w, h, rgb_mean
    return w, h, float(rgb_mean.mean())
