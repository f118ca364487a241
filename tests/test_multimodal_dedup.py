"""Image perceptual-hash dedup: dHash + Hamming-blocked pair join.

Oracle strategy (mirror-only, zero-slack r05 gate): a row-at-a-time
pure-Python dHash oracle recomputes every fingerprint from the same
payload bytes, and the blocked pair join is checked against the
exhaustive O(n^2) Hamming oracle — recall must be exactly 1.
"""

import struct
import zlib

import pytest

from xpshacl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _block_mean,
    _decode_gray,
    _dhash_from_gray,
    image_dhash,
    image_near_dup_pairs,
    image_near_dup_pairs_with_fingerprints,
)


# ---------------------------------------------------------------------------
# payload builders (deterministic, no image libs)
# ---------------------------------------------------------------------------


def ppm_bytes(pix):
    """pix: list of rows of (r, g, b)."""
    h, w = len(pix), len(pix[0])
    body = bytes(c for row in pix for p in row for c in p)
    return b"P6\n%d %d\n255\n" % (w, h) + body


def png_gray_bytes(pix):
    """8-bit grayscale PNG, filter 0 rows. pix: list of rows of ints."""
    h, w = len(pix), len(pix[0])
    raw = b"".join(b"\x00" + bytes(row) for row in pix)

    def chunk(ctype, data):
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def gradient(w, h, tilt=0, noise=None):
    """Horizontal luminance ramp; tilt adds a vertical component,
    noise (a dict {(y, x): delta}) perturbs single pixels."""
    pix = []
    for y in range(h):
        row = []
        for x in range(w):
            v = (x * 255) // max(w - 1, 1)
            v = min(255, max(0, v + tilt * y + (noise or {}).get((y, x), 0)))
            row.append((v, v, v))
        pix.append(row)
    return pix


def py_dhash(gray_rows, hash_size=8):
    """Row-at-a-time oracle: block-mean by the same floor-divided index
    grid, then left>right bits MSB-first, signed 64-bit."""
    h, w = len(gray_rows), len(gray_rows[0])
    if h < hash_size or w < hash_size + 1:
        return None
    out_h, out_w = hash_size, hash_size + 1
    ys = [(i * h) // out_h for i in range(out_h + 1)]
    xs = [(i * w) // out_w for i in range(out_w + 1)]
    small = []
    for bi in range(out_h):
        row = []
        for bj in range(out_w):
            vals = [
                gray_rows[y][x]
                for y in range(ys[bi], ys[bi + 1])
                for x in range(xs[bj], xs[bj + 1])
            ]
            row.append(sum(vals) / len(vals))
        small.append(row)
    v = 0
    for bi in range(out_h):
        for bj in range(out_w - 1):
            v = (v << 1) | int(small[bi][bj] > small[bi][bj + 1])
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def media_df(spark, payloads):
    rows = [
        (i, "image", bytearray(p) if p is not None else None, {})
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# fingerprint correctness
# ---------------------------------------------------------------------------


def test_dhash_matches_python_oracle_ppm_and_png(spark):
    pixes = [
        gradient(16, 12),
        gradient(16, 12, tilt=3),
        gradient(20, 16, noise={(3, 4): 90, (10, 11): -60}),
        gradient(9, 8),  # exactly hash grid size
    ]
    payloads = [ppm_bytes(p) for p in pixes]
    # the same first gradient as grayscale PNG: same gray grid -> same hash
    payloads.append(png_gray_bytes([[p[0] for p in row] for row in pixes[0]]))
    got = {
        r["media_id"]: (r["format"], r["dhash"])
        for r in image_dhash(media_df(spark, payloads)).collect()
    }
    for i, pix in enumerate(pixes):
        gray = [[(r + g + b) / 3.0 for (r, g, b) in row] for row in pix]
        assert got[i] == ("ppm", py_dhash(gray)), f"payload {i}"
    # PNG of gradient 0 reproduces the PPM hash bit-for-bit
    assert got[4] == ("png", got[0][1])


def test_dhash_null_for_small_or_unrecognized(spark):
    payloads = [
        ppm_bytes(gradient(4, 4)),  # below the 8x9 hash grid
        b"not an image at all",
        None,
    ]
    rows = image_dhash(media_df(spark, payloads)).collect()
    assert all(r["dhash"] is None for r in rows)
    assert rows[0]["format"] == "ppm"  # decoded, just too small to hash
    assert rows[1]["format"] is None


def test_dhash_top_bit_packs_negative():
    # descending ramp: every left > right comparison is True -> all-ones
    # hash -> -1 as a signed long (the sign-safe blocking contract)
    gray = [[255 - x * 25 for x in range(9)] for _ in range(8)]
    assert _dhash_from_gray([list(map(float, r)) for r in gray] and
                            __import__("numpy").array(gray, dtype=float)) == -1


def test_block_mean_exact_on_divisible_grid():
    import numpy as np

    g = np.arange(36, dtype=float).reshape(6, 6)
    got = _block_mean(g, 2, 3)
    for bi in range(2):
        for bj in range(3):
            assert got[bi, bj] == pytest.approx(
                g[bi * 3 : bi * 3 + 3, bj * 2 : bj * 2 + 2].mean()
            )


def test_decode_gray_bmp_topdown_matches_ppm():
    # same image through BMP (bottom-up storage) and PPM must yield the
    # SAME top-down gray grid, hence the same hash
    import numpy as np

    pix = gradient(10, 9, tilt=5)
    h, w = len(pix), len(pix[0])
    row_bytes = w * 3
    stride = (row_bytes + 3) & ~3
    body = b""
    for row in reversed(pix):  # bottom-up, BGR
        rb = bytes(c for (r, g, b) in row for c in (b, g, r))
        body += rb + b"\x00" * (stride - row_bytes)
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    got_bmp = _decode_gray(bmp)
    got_ppm = _decode_gray(ppm_bytes(pix))
    assert got_bmp[0] == "bmp" and got_ppm[0] == "ppm"
    assert np.allclose(got_bmp[3], got_ppm[3])


# ---------------------------------------------------------------------------
# pair join: exhaustive-oracle recall, near-dup semantics
# ---------------------------------------------------------------------------


def test_image_near_dup_pairs_vs_exhaustive_oracle(spark):
    # a family of gradients: exact copy, single-pixel nudges (tiny
    # Hamming distance), tilts (drift further), plus unrelated noise
    payloads = [
        ppm_bytes(gradient(16, 12)),
        ppm_bytes(gradient(16, 12)),  # byte-identical copy of 0
        ppm_bytes(gradient(16, 12, noise={(5, 5): 70})),
        ppm_bytes(gradient(16, 12, tilt=1)),
        ppm_bytes(gradient(16, 12, tilt=8)),
        ppm_bytes([[((x * 37 + y * 91) % 256,) * 3 for x in range(16)] for y in range(12)]),
        b"junk",  # NULL fingerprint: must not appear in any pair
    ]
    media = media_df(spark, payloads)
    for max_h in (0, 4, 8):
        pairs, fps = image_near_dup_pairs_with_fingerprints(
            media, max_hamming=max_h
        )
        got = {
            (r["media_a"], r["media_b"]): r["hamming"] for r in pairs.collect()
        }
        hashes = {
            r["media_id"]: r["dhash"]
            for r in fps.collect()
            if r["dhash"] is not None
        }
        fps.unpersist()
        want = {}
        ids = sorted(hashes)
        for i in ids:
            for j in ids:
                if i < j:
                    d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
                    if d <= max_h:
                        want[(i, j)] = d
        assert got == want, f"max_hamming={max_h}"
    # semantic smoke on the default threshold: the exact copy pairs at 0
    got4 = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in image_near_dup_pairs(media, max_hamming=4).collect()
    }
    assert got4[(0, 1)] == 0
    assert (0, 6) not in got4 and (5, 6) not in got4


def test_fingerprint_hamming_pairs_generic_negative_longs(spark):
    # direct generic-path check with adversarial 64-bit values around
    # the sign boundary: recall vs the exhaustive oracle must be 1
    from xpshacl_spark.operators.dedup import fingerprint_hamming_pairs

    vals = [
        -1,
        -2,
        (1 << 63) - 1,
        -(1 << 63),
        -(1 << 63) + 1,
        0,
        1,
        (1 << 62) | 3,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, fp long"
    )
    for max_h in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in fingerprint_hamming_pairs(
                df, bits=64, max_hamming=max_h, fp_col="fp"
            ).collect()
        }
        want = {}
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                d = bin((vals[i] ^ vals[j]) & ((1 << 64) - 1)).count("1")
                if d <= max_h:
                    want[(i, j)] = d
        assert got == want, f"max_hamming={max_h}"


def test_image_pair_join_is_blocked_not_cartesian(spark):
    # plan pin: the pair join must be an equi-join on the segment keys,
    # never a cartesian/broadcast-nested-loop product
    media = media_df(
        spark, [ppm_bytes(gradient(16, 12, tilt=t)) for t in range(4)]
    )
    pairs, fps = image_near_dup_pairs_with_fingerprints(media)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    fps.unpersist()
    assert "CartesianProduct" not in plan
    assert "seg_idx" in plan and "seg_val" in plan


# ---------------------------------------------------------------------------
# audio: energy-envelope fingerprint + near-dup (third modality through
# the same generic Hamming join)
# ---------------------------------------------------------------------------


def wav_bytes(rate, bits, channels, frames):
    data = b"".join(frames)
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def sine16(freqs, n=2000, amp=12000, rate=8000, noise=None):
    """16-bit mono: concatenated tones, one per freq; optional
    per-sample perturbation dict {idx: delta}."""
    import math

    frames = []
    for seg, f in enumerate(freqs):
        for t in range(n):
            v = int(amp * math.sin(2 * math.pi * f * t / rate))
            v += (noise or {}).get(seg * n + t, 0)
            frames.append(struct.pack("<h", max(-32768, min(32767, v))))
    return frames


def py_ahash(samples, n_bits=64):
    n = len(samples)
    if n < n_bits + 1:
        return None
    bounds = [(i * n) // (n_bits + 1) for i in range(n_bits + 2)]
    es = [
        sum(x * x for x in samples[bounds[i] : bounds[i + 1]])
        / (bounds[i + 1] - bounds[i])
        for i in range(n_bits + 1)
    ]
    v = 0
    for i in range(n_bits):
        v = (v << 1) | int(es[i] > es[i + 1])
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def test_audio_fingerprint_matches_python_oracle_and_gain_invariance(spark):
    from xpshacl_spark.operators.multimodal import audio_fingerprint

    melody = sine16([440, 880, 220, 660])
    quiet = sine16([440, 880, 220, 660], amp=3000)  # same melody, -12 dB
    other = sine16([660, 220, 880, 440])  # reordered envelope
    payloads = [
        wav_bytes(8000, 16, 1, melody),
        wav_bytes(8000, 16, 1, quiet),
        wav_bytes(8000, 16, 1, other),
        wav_bytes(8000, 16, 1, sine16([440], n=50)),  # < 65 frames: NULL
        b"RIFFxxxxNOPE",
    ]
    got = {
        r["media_id"]: r
        for r in audio_fingerprint(media_df(spark, payloads)).collect()
    }
    # oracle parity on the decoded [-1, 1] samples
    for i, frames in ((0, melody), (1, quiet), (2, other)):
        samples = [
            struct.unpack("<h", f)[0] / 32768.0 for f in frames
        ]
        assert got[i]["ahash"] == py_ahash(samples), f"clip {i}"
        assert (got[i]["format"], got[i]["sample_rate"]) == ("wav", 8000)
    # gain invariance: the -12 dB copy hashes IDENTICALLY...
    assert got[1]["ahash"] == got[0]["ahash"]
    # ...while the reordered melody lands far away
    d = bin((got[0]["ahash"] ^ got[2]["ahash"]) & ((1 << 64) - 1)).count("1")
    assert d > 8
    assert got[3]["ahash"] is None and got[3]["format"] == "wav"
    assert got[4]["ahash"] is None and got[4]["format"] is None


def test_audio_near_dup_pairs_vs_exhaustive_oracle(spark):
    from xpshacl_spark.operators.multimodal import (
        audio_near_dup_pairs,
        audio_near_dup_pairs_with_fingerprints,
    )

    melody = sine16([440, 880, 220, 660])
    payloads = [
        wav_bytes(8000, 16, 1, melody),
        wav_bytes(8000, 16, 1, melody),  # byte-identical copy
        wav_bytes(8000, 16, 1, sine16([440, 880, 220, 660], amp=6000)),
        wav_bytes(8000, 16, 1,
                  sine16([440, 880, 220, 660], noise={777: 900, 5001: -800})),
        wav_bytes(8000, 16, 1, sine16([660, 220, 880, 440])),
        b"junk",
    ]
    media = media_df(spark, payloads)
    pairs, fps = audio_near_dup_pairs_with_fingerprints(media, max_hamming=3)
    got = {
        (r["media_a"], r["media_b"]): r["hamming"] for r in pairs.collect()
    }
    hashes = {
        r["media_id"]: r["ahash"]
        for r in fps.collect()
        if r["ahash"] is not None
    }
    fps.unpersist()
    want = {}
    ids = sorted(hashes)
    for i in ids:
        for j in ids:
            if i < j:
                d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
                if d <= 3:
                    want[(i, j)] = d
    assert got == want
    # semantics: the copies and the gain-scaled clip group together
    got2 = {
        (r["media_a"], r["media_b"]) for r in
        audio_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert (0, 1) in got2 and (0, 2) in got2
    assert not any(4 in p or 5 in p for p in got2)


def test_media_near_dup_pairs_kind_dispatch(spark):
    """One call over a mixed media table: image pairs via dHash, audio
    pairs via the energy hash, never across kinds."""
    from xpshacl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_near_dup_pairs,
    )

    melody = sine16([440, 880, 220, 660])
    rows = [
        (0, "image", bytearray(ppm_bytes(gradient(16, 12))), {}),
        (1, "image", bytearray(ppm_bytes(gradient(16, 12))), {}),
        (2, "audio", bytearray(wav_bytes(8000, 16, 1, melody)), {}),
        (3, "audio", bytearray(wav_bytes(8000, 16, 1, melody)), {}),
        (4, "video", bytearray(b"container"), {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        (r["kind"], r["media_a"], r["media_b"]): r["hamming"]
        for r in media_near_dup_pairs(media).collect()
    }
    assert got == {("image", 0, 1): 0, ("audio", 2, 3): 0}


# ---------------------------------------------------------------------------
# video: real MJPEG-in-AVI parsing, frame hashes, shared-frame near-dup
# ---------------------------------------------------------------------------


def avi_bytes(jpeg_frames, w, h, usec_per_frame=40000):
    def chunk(cc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return cc + struct.pack("<I", len(data)) + data + pad

    avih = struct.pack(
        "<IIIIIIIIII",
        usec_per_frame, 0, 0, 0, len(jpeg_frames), 0, 1, 0, w, h,
    ) + b"\x00" * 16
    hdrl = b"hdrl" + chunk(b"avih", avih)
    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    body = b"AVI " + chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def saw_frame(offset, w=32, h=24):
    """Sawtooth image with a per-frame offset: adjacent dHash block
    means separate by >> decode noise (the tie lesson from the JPEG
    seam test), and different offsets give different hashes."""
    import numpy as np

    return np.array(
        [[(x * 37 + y * 11 + offset * 31) % 200 + 20.0 for x in range(w)]
         for y in range(h)]
    )


def test_decode_video_and_frame_hash_oracle(spark):
    from tests.test_jpeg_codec import encode_jpeg
    from xpshacl_spark.operators.multimodal import (
        decode_video,
        video_frame_dhash,
    )

    frames = [saw_frame(k) for k in range(4)]
    payloads = [
        avi_bytes([encode_jpeg(f) for f in frames], 32, 24),
        b"RIFFxxxxNOPE",
        None,
    ]
    media = media_df(spark, payloads)
    feats = {r["media_id"]: r for r in decode_video(media).collect()}
    assert (feats[0]["format"], feats[0]["width"], feats[0]["height"]) == (
        "avi", 32, 24,
    )
    assert feats[0]["n_frames"] == 4
    assert feats[0]["fps"] == pytest.approx(25.0)
    assert feats[1]["format"] is None and feats[2]["format"] is None

    got = {
        (r["media_id"], r["frame_idx"]): r["dhash"]
        for r in video_frame_dhash(media).collect()
    }
    assert set(got) == {(0, k) for k in range(4)}
    for k, f in enumerate(frames):
        assert got[(0, k)] == py_dhash([list(map(float, row)) for row in f])
    # sampling: every_n=2 decodes only frames 0 and 2
    sampled = {
        r["frame_idx"]
        for r in video_frame_dhash(media, every_n=2).collect()
    }
    assert sampled == {0, 2}


def test_video_near_dup_shared_frames(spark):
    from tests.test_jpeg_codec import encode_jpeg
    from xpshacl_spark.operators.multimodal import video_near_dup_pairs

    f = {k: encode_jpeg(saw_frame(k)) for k in range(8)}
    title = encode_jpeg(saw_frame(99))  # shared "title card"
    payloads = [
        avi_bytes([title, f[0], f[1], f[2], f[3]], 32, 24),  # A
        avi_bytes([title, f[0], f[1], f[2], f[3]], 32, 24),  # copy of A
        avi_bytes([title, f[2], f[3]], 32, 24),              # trim of A
        avi_bytes([title, f[4], f[5], f[6]], 32, 24),        # unrelated B
        b"junk",
    ]
    media = media_df(spark, payloads)
    got = {
        (r["media_a"], r["media_b"]): r["n_shared"]
        for r in video_near_dup_pairs(media, min_shared=2).collect()
    }
    # with the title card counted, everything shares >= 1; min_shared=2
    # keeps the real relationships (copy: 5, trim: 3) and drops B
    assert got[(0, 1)] == 5 and got[(0, 2)] == 3 and got[(1, 2)] == 3
    assert (0, 3) not in got and (2, 3) not in got
    # hot-frame cap: the title card appears in all 4 videos; capping at
    # 3 removes it, so B shares NOTHING even at min_shared=1
    got_capped = {
        (r["media_a"], r["media_b"]): r["n_shared"]
        for r in video_near_dup_pairs(
            media, min_shared=1, max_hash_freq=3
        ).collect()
    }
    assert (0, 3) not in got_capped and (1, 3) not in got_capped
    assert got_capped[(0, 1)] == 4 and got_capped[(0, 2)] == 2


# ---------------------------------------------------------------------------
# spectral audio fingerprints (Haitsma-Kalker)
# ---------------------------------------------------------------------------


def py_hk(samples, rate=8000, frame_len=2048, hop=1024, n_bands=33):
    """Row-at-a-time oracle for the Haitsma-Kalker sub-fingerprints."""
    import numpy as np

    n = len(samples)
    if n < frame_len:
        return []
    edges_hz = 300.0 * (2000.0 / 300.0) ** (np.arange(n_bands + 1) / n_bands)
    edges = np.unique((edges_hz * frame_len / rate).astype(int))
    assert len(edges) == n_bands + 1
    win = np.hanning(frame_len)
    mono = np.asarray(samples)
    n_frames = 1 + (n - frame_len) // hop
    E = []
    for i in range(n_frames):
        p = np.abs(np.fft.rfft(mono[i * hop : i * hop + frame_len] * win)) ** 2
        E.append([p[edges[m] : edges[m + 1]].sum() for m in range(n_bands)])
    out = []
    for i in range(1, n_frames):
        v = 0
        for m in range(n_bands - 1):
            cur = E[i][m] - E[i][m + 1]
            prv = E[i - 1][m] - E[i - 1][m + 1]
            v = (v << 1) | int(cur - prv > 0)
        if v >= 1 << 31:
            v -= 1 << 32
        out.append((i, v))
    return out


def _samples_of(frames):
    return [struct.unpack("<h", f)[0] / 32768.0 for f in frames]


def test_audio_subfingerprints_match_oracle_and_gain(spark):
    from xpshacl_spark.operators.multimodal import audio_subfingerprints

    melody = sine16([440, 880, 660, 220, 550], n=1500)
    quiet = sine16([440, 880, 660, 220, 550], n=1500, amp=2500)
    payloads = [
        wav_bytes(8000, 16, 1, melody),
        wav_bytes(8000, 16, 1, quiet),
        wav_bytes(8000, 16, 1, sine16([440], n=500)),  # < one frame
        b"junk",
    ]
    got = {}
    for r in audio_subfingerprints(media_df(spark, payloads)).collect():
        got.setdefault(r["media_id"], {})[r["frame_idx"]] = r["subfp"]
    want = dict(py_hk(_samples_of(melody)))
    assert got[0] == want
    # gain invariance: -18 dB copy has IDENTICAL sub-fingerprints
    assert got[1] == got[0]
    assert 2 not in got and 3 not in got


def test_audio_near_dup_spectral_shift_tolerant(spark):
    from xpshacl_spark.operators.multimodal import audio_near_dup_spectral

    melody = sine16([440, 880, 660, 220, 550, 770], n=1500)
    shifted = melody[2048 // 2 * 2:]  # drop exactly 2 hops of samples
    other = sine16([330, 990, 610, 240, 520, 710], n=1500)
    payloads = [
        wav_bytes(8000, 16, 1, melody),
        wav_bytes(8000, 16, 1, melody),   # exact copy
        wav_bytes(8000, 16, 1, shifted),  # overlapping suffix
        wav_bytes(8000, 16, 1, other),
    ]
    media = media_df(spark, payloads)
    got = {
        (r["media_a"], r["media_b"]): r["n_shared"]
        for r in audio_near_dup_spectral(media, min_shared=3).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 5
    # the shifted clip shares the overlapping frames' sub-fingerprints
    assert (0, 2) in got and (1, 2) in got
    assert not any(3 in p for p in got)
