"""Baseline JPEG decoder (operators/jpeg.py) against an INDEPENDENT
test-local encoder.

Oracle strategy: the encoder below implements the FORWARD path from
the T.81 spec with a naive O(n^4) double-loop DCT-II, its own zigzag
run-length pass, and a flat canonical Huffman table — sharing no code
with the decoder's matrix IDCT / MINCODE table walk. Agreement within
quantization error on arbitrary images is therefore evidence for both
sides; DC-only (solid-block) images reconstruct EXACTLY, giving ground
truth that needs no reference codec at all.
"""

import math
import struct

import numpy as np
import pytest

from xpshacl_spark.operators.jpeg import (
    ZIGZAG,
    _BitReader,
    _Huff,
    decode_jpeg_bytes,
    idct_2d,
)

# ---------------------------------------------------------------------------
# independent forward transform + encoder
# ---------------------------------------------------------------------------


def naive_dct2(f):
    """Textbook forward DCT-II, O(n^4) double loop (T.81 A.3.3)."""
    F = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = math.sqrt(0.125) if u == 0 else 0.5
            cv = math.sqrt(0.125) if v == 0 else 0.5
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        f[x, y]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            F[u, v] = cu * cv * s
    return F


def naive_idct2(F):
    """Textbook inverse (DCT-III) double loop — used only to check the
    library's matrix IDCT."""
    f = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = math.sqrt(0.125) if u == 0 else 0.5
                    cv = math.sqrt(0.125) if v == 0 else 0.5
                    s += (
                        cu * cv * F[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            f[x, y] = s
    return f


class _Writer:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.bits((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _flat_table(symbols):
    """Canonical Huffman table giving every symbol a 9-bit code (all-1s
    code stays unused): (bits16, values, {sym: (code, 9)})."""
    symbols = sorted(set(symbols))
    assert len(symbols) <= 256
    bits = [0] * 16
    bits[8] = len(symbols)  # length 9 == index 8
    enc = {s: (i, 9) for i, s in enumerate(symbols)}
    return bits, bytes(symbols), enc


def _mag(v):
    """(size, magnitude-bits) per T.81 F.1.2.1."""
    v = int(v)
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def encode_jpeg(img, quant=1, subsample=None, restart=0):
    """Minimal INDEPENDENT baseline encoder. img: float/int array —
    (h, w) grayscale or (h, w, 3) RGB. quant: scalar quantizer for all
    64 coefficients. subsample: None (4:4:4) or (2, 2) (4:2:0, color
    only). restart: DRI interval in MCUs (0 = none)."""
    img = np.asarray(img, dtype=np.float64)
    color = img.ndim == 3
    h, w = img.shape[:2]
    if color:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]
    else:
        comps = [img]
    hf = [1] * len(comps)
    vf = [1] * len(comps)
    if subsample and color:
        sh, sv = subsample  # (2, 2) -> 4:2:0, (2, 1) -> 4:2:2
        hf, vf = [sh, 1, 1], [sv, 1, 1]
        # box-downsample chroma by (sv, sh)
        for i in (1, 2):
            c = comps[i]
            ph = -(-c.shape[0] // sv) * sv
            pw = -(-c.shape[1] // sh) * sh
            p = np.pad(c, ((0, ph - c.shape[0]), (0, pw - c.shape[1])),
                       mode="edge")
            acc = np.zeros((ph // sv, pw // sh))
            for dy in range(sv):
                for dx in range(sh):
                    acc += p[dy::sv, dx::sh]
            comps[i] = acc / (sv * sh)
    hmax, vmax = max(hf), max(vf)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = []
    for i, c in enumerate(comps):
        ph, pw = mcuy * vf[i] * 8, mcux * hf[i] * 8
        padded.append(
            np.pad(c, ((0, ph - c.shape[0]), (0, pw - c.shape[1])),
                   mode="edge")
        )

    # first pass: collect (blocks in MCU order) + the symbol alphabet
    def blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(len(comps)):
                    for by in range(vf[ci]):
                        for bx in range(hf[ci]):
                            y0 = (my * vf[ci] + by) * 8
                            x0 = (mx * hf[ci] + bx) * 8
                            yield ci, padded[ci][y0:y0 + 8, x0:x0 + 8]

    coded = []  # per block: (ci, dc_size_sym, dc_bits, [(rs, bits, size)])
    preds = [0] * len(comps)
    dc_syms, ac_syms = set(), set()
    mcu_blocks = sum(hf[i] * vf[i] for i in range(len(comps)))
    bi = 0
    for ci, blk in blocks():
        if restart and bi % (mcu_blocks * restart) == 0 and bi:
            preds = [0] * len(comps)  # restart resets predictors
        F = naive_dct2(blk - 128.0)
        q = np.round(F / quant).astype(int)
        zz = [q[r, c] for (r, c) in ZIGZAG]
        diff = zz[0] - preds[ci]
        preds[ci] = zz[0]
        t, m = _mag(diff)
        dc_syms.add(t)
        acs = []
        run = 0
        last = max((k for k in range(1, 64) if zz[k]), default=0)
        for k in range(1, last + 1):
            if zz[k] == 0:
                run += 1
                if run == 16:
                    acs.append((0xF0, 0, 0))  # ZRL
                    ac_syms.add(0xF0)
                    run = 0
                continue
            s, mb = _mag(zz[k])
            acs.append(((run << 4) | s, mb, s))
            ac_syms.add((run << 4) | s)
            run = 0
        if last < 63:
            acs.append((0x00, 0, 0))  # EOB
            ac_syms.add(0x00)
        coded.append((ci, t, m, acs))
        bi += 1

    dc_bits, dc_vals, dc_enc = _flat_table(dc_syms)
    ac_bits, ac_vals, ac_enc = _flat_table(ac_syms)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    out = bytearray(b"\xff\xd8")
    qz = bytes([int(quant)] * 64)
    out += seg(0xDB, bytes([0]) + qz)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for i in range(len(comps)):
        sof += bytes([i + 1, (hf[i] << 4) | vf[i], 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + dc_vals)
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals)
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))
    sos = bytes([len(comps)])
    for i in range(len(comps)):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    wtr = _Writer()
    blocks_per_mcu = mcu_blocks
    mcu_idx = 0
    for j, (ci, t, m, acs) in enumerate(coded):
        if restart and j and j % (blocks_per_mcu * restart) == 0:
            wtr.flush()
            out += wtr.out
            out += bytes([0xFF, 0xD0 + (mcu_idx // restart - 1) % 8])
            wtr = _Writer()
        code, ln = dc_enc[t]
        wtr.bits(code, ln)
        if t:
            wtr.bits(m, t)
        for rs, mb, s in acs:
            code, ln = ac_enc[rs]
            wtr.bits(code, ln)
            if s:
                wtr.bits(mb, s)
        if (j + 1) % blocks_per_mcu == 0:
            mcu_idx += 1
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def rng(seed):
    return np.random.default_rng(seed)


# ---------------------------------------------------------------------------
# component tests
# ---------------------------------------------------------------------------


def test_idct_matches_naive_double_loop():
    r = rng(1)
    for _ in range(5):
        F = r.uniform(-500, 500, (8, 8))
        assert np.allclose(idct_2d(F), naive_idct2(F), atol=1e-9)
    # DC-only: IDCT is flat at DC/8
    F = np.zeros((8, 8)); F[0, 0] = 80.0
    assert np.allclose(idct_2d(F), 10.0)


def test_dct_idct_roundtrip():
    r = rng(2)
    f = r.uniform(-128, 127, (8, 8))
    assert np.allclose(idct_2d(naive_dct2(f)), f, atol=1e-9)


def test_huffman_decode_hand_built():
    # canonical table: symbols a,b at length 2 (codes 00, 01), c at
    # length 3 (code 100)
    bits = [0] * 16
    bits[1], bits[2] = 2, 1
    tbl = _Huff(bits, bytes([10, 20, 30]))
    # stream: 00 01 100 00 -> 10, 20, 30, 10 (padded)
    data = bytes([0b00011000, 0b00000000])
    br = _BitReader(data, 0)
    assert [tbl.decode(br) for _ in range(4)] == [10, 20, 30, 10]


# ---------------------------------------------------------------------------
# decoder vs independent encoder
# ---------------------------------------------------------------------------


def test_solid_gray_decodes_exactly():
    for v in (0, 1, 77, 128, 200, 255):
        img = np.full((16, 24), v)
        got = decode_jpeg_bytes(encode_jpeg(img), pixels=True)
        assert got is not None
        w, h, gray = got
        assert (w, h) == (24, 16)
        assert np.allclose(gray, v, atol=1e-9), f"value {v}"


def test_block_mosaic_decodes_exactly():
    # each 8x8 block a different solid value: DC-only stream with
    # nonzero DC diffs, still exact
    vals = np.array([[40, 90, 160], [220, 10, 128]])
    img = np.kron(vals, np.ones((8, 8)))
    got = decode_jpeg_bytes(encode_jpeg(img), pixels=True)
    assert got is not None
    _w, _h, gray = got
    assert np.allclose(gray, img, atol=1e-9)


def test_grayscale_roundtrip_arbitrary_images():
    r = rng(3)
    for shape in ((8, 8), (16, 8), (17, 13), (40, 33)):
        img = np.clip(
            r.normal(128, 40, shape) + np.linspace(0, 60, shape[1]), 0, 255
        )
        got = decode_jpeg_bytes(encode_jpeg(img), pixels=True)
        assert got is not None
        w, h, gray = got
        assert (w, h) == (shape[1], shape[0])
        # quant=1: error budget is DCT rounding only
        assert np.abs(gray - img).max() < 2.0, shape


def test_color_444_roundtrip():
    r = rng(4)
    img = np.clip(r.normal(128, 35, (24, 16, 3)), 16, 240)
    got = decode_jpeg_bytes(encode_jpeg(img), pixels=True)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 24)
    want = img.mean(axis=2)
    # YCbCr forward+inverse float error + DCT rounding
    assert np.abs(gray - want).max() < 3.5


def test_color_420_roundtrip_on_chroma_constant_image():
    # constant color per 2x2 cell -> the 4:2:0 box downsample is
    # lossless, isolating the subsample/upsample plumbing
    r = rng(5)
    cells = np.clip(r.normal(128, 40, (12, 10, 3)), 16, 240)
    img = np.repeat(np.repeat(cells, 2, axis=0), 2, axis=1)
    got = decode_jpeg_bytes(
        encode_jpeg(img, subsample=(2, 2)), pixels=True
    )
    assert got is not None
    w, h, gray = got
    assert (w, h) == (20, 24)
    assert np.abs(gray - img.mean(axis=2)).max() < 3.5


def test_restart_intervals():
    r = rng(6)
    img = np.clip(r.normal(120, 30, (16, 32)), 0, 255)
    by = decode_jpeg_bytes(encode_jpeg(img, restart=1), pixels=True)
    assert by is not None
    assert np.abs(by[2] - img).max() < 2.0
    by2 = decode_jpeg_bytes(encode_jpeg(img, restart=3), pixels=True)
    assert np.allclose(by[2], by2[2], atol=1e-9)


def test_quantized_lossy_path_still_close():
    r = rng(7)
    img = np.clip(r.normal(128, 30, (16, 16)), 0, 255)
    got = decode_jpeg_bytes(encode_jpeg(img, quant=16), pixels=True)
    assert got is not None
    # coarse quant: still recognizably the same image
    assert np.abs(got[2] - img).mean() < 8.0


def test_rejects_unsupported_and_corrupt():
    img = np.full((8, 8), 100)
    good = encode_jpeg(img)
    assert decode_jpeg_bytes(good) is not None
    # progressive: flip SOF0 -> SOF2
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg_bytes(prog) is None
    assert decode_jpeg_bytes(good[: len(good) // 2]) is None  # truncated
    assert decode_jpeg_bytes(b"\xff\xd8junk") is None
    assert decode_jpeg_bytes(b"not a jpeg") is None
    # mean contract (pixels=False)
    w, h, mean = decode_jpeg_bytes(good)
    assert (w, h) == (8, 8) and mean == pytest.approx(100, abs=1e-6)


def test_color_422_roundtrip_on_chroma_constant_columns():
    # constant color per 2-wide column pair -> the 4:2:2 horizontal
    # downsample is lossless, isolating the 2x1 sampling-factor path
    r = rng(8)
    cols = np.clip(r.normal(128, 40, (24, 9, 3)), 16, 240)
    img = np.repeat(cols, 2, axis=1)  # 24 x 18
    got = decode_jpeg_bytes(encode_jpeg(img, subsample=(2, 1)), pixels=True)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (18, 24)
    assert np.abs(gray - img.mean(axis=2)).max() < 3.5


def test_edge_shapes_roundtrip():
    # dimensions straddling MCU boundaries, including sub-8 sides
    r = rng(9)
    for shape in ((1, 1), (1, 17), (7, 8), (8, 9), (15, 15), (9, 25)):
        img = np.clip(r.normal(128, 40, shape), 0, 255)
        got = decode_jpeg_bytes(encode_jpeg(img), pixels=True)
        assert got is not None, shape
        w, h, gray = got
        assert (w, h) == (shape[1], shape[0])
        assert np.abs(gray - img).max() < 2.0, shape
    # color with odd dims through 4:2:0 (padding paths on both axes)
    img = np.clip(r.normal(128, 30, (11, 13, 3)), 16, 240)
    got = decode_jpeg_bytes(encode_jpeg(img, subsample=(2, 2)), pixels=True)
    assert got is not None
    assert (got[0], got[1]) == (13, 11)
    # chroma is lossy under subsample+odd dims; luma-dominated mean
    # stays close
    assert abs(got[2].mean() - img.mean(axis=2).mean()) < 4.0
