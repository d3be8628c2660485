"""Baseline-JPEG codec tests (operators/jpeg.py).

Strategy (mirrors the PNG/GIF suites):
  * the DCT pair is checked against an INDEPENDENT naive direct-formula
    implementation written here, so the matrix-product fast path can't
    validate itself;
  * the constant-per-MCU exactness contract the driver oracle relies on
    is pinned end-to-end (synth bytes -> parse -> exact pixels);
  * the full AC path (runs, ZRL, EOB, real quant tables, restart
    markers) is pinned EXACTLY via a coefficient-domain replay: Huffman
    coding is lossless, so the bitstream round trip must reproduce the
    replayed dequant+IDCT pixels bit-for-bit on arbitrary content;
  * marker-level robustness: COM/APPn skip, 16-bit DQT precision,
    truncation, garbage, and progressive (SOF2) rejection.

Reference analogue: the PIL/pdf2image raster side of
/root/reference/pdfextraction.py:16,72-73.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.jpeg import (
    AC_CHROMA_BITS,
    AC_CHROMA_VALS,
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_CHROMA_BITS,
    DC_CHROMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    _jpeg_dims,
    _mcu_rgb,
    build_huffman_codes,
    decode_jpeg,
    encode_baseline_jpeg,
    fdct2,
    idct2,
    parse_jpeg,
    rgb_to_ycbcr,
    synth_jpeg_bytes,
    ycbcr_to_rgb,
)
from pdf_extraction_spark.operators.multimodal import synth_blobs

# Standard luminance quant table (T.81 Annex K, quality 50) — used for
# the lossy-realism tests; exactness there comes from the replay, not
# from q=1.
Q50 = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)


# ---------------------------------------------------------------------------
# DCT vs an independent direct-formula implementation
# ---------------------------------------------------------------------------


def _naive_fdct(block: np.ndarray) -> np.ndarray:
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 2 ** -0.5 if u == 0 else 1.0
            cv = 2 ** -0.5 if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out


def test_fdct_matches_naive_formula():
    rng = np.random.default_rng(11)
    for _ in range(5):
        block = rng.uniform(-128, 127, size=(8, 8))
        assert np.abs(fdct2(block) - _naive_fdct(block)).max() < 1e-9


def test_idct_inverts_fdct():
    rng = np.random.default_rng(12)
    block = rng.uniform(-128, 127, size=(8, 8))
    assert np.abs(idct2(fdct2(block)) - block).max() < 1e-9


def test_constant_block_dc_is_integer_8v():
    block = np.full((8, 8), 77.0) - 128.0
    coef = fdct2(block)
    assert abs(coef[0, 0] - 8 * (77 - 128)) < 1e-9
    assert np.abs(coef).reshape(64)[1:].max() < 1e-9


# ---------------------------------------------------------------------------
# Huffman table sanity (the tables the synthesizer EMITS; the decoder
# always rebuilds from DHT, which the round-trip tests cover)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "bits,vals,nsyms",
    [
        (DC_LUMA_BITS, DC_LUMA_VALS, 12),
        (DC_CHROMA_BITS, DC_CHROMA_VALS, 12),
        (AC_LUMA_BITS, AC_LUMA_VALS, 162),
        (AC_CHROMA_BITS, AC_CHROMA_VALS, 162),
    ],
)
def test_huffman_tables_are_valid_prefix_codes(bits, vals, nsyms):
    assert sum(bits) == len(vals) == nsyms
    assert len(set(vals)) == nsyms
    codes = build_huffman_codes(bits, vals)
    # prefix-free: no code is a prefix of a longer one
    as_bits = {format(c, f"0{ln}b") for c, ln in codes.values()}
    assert len(as_bits) == nsyms
    for a in as_bits:
        for b in as_bits:
            if a is not b and len(a) < len(b):
                assert not b.startswith(a), (a, b)
    # AC tables must cover EOB, ZRL, and every (run, size<=10) pair
    if nsyms == 162:
        syms = set(codes)
        assert 0x00 in syms and 0xF0 in syms
        for run in range(16):
            for size in range(1, 11):
                assert (run << 4) | size in syms


# ---------------------------------------------------------------------------
# Constant-MCU exactness (the driver-oracle contract)
# ---------------------------------------------------------------------------


def _expected_constant_pixels(mid: int) -> np.ndarray:
    w, h = _jpeg_dims(mid)
    exp = np.zeros((h, w, 3), np.int64)
    for my in range((h + 15) // 16):
        for mx in range((w + 15) // 16):
            r, g, b = _mcu_rgb(mid, my, mx)
            y, cb, cr = rgb_to_ycbcr(np.array([r]), np.array([g]), np.array([b]))
            r2, g2, b2 = ycbcr_to_rgb(y, cb, cr)
            exp[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = [
                int(r2[0]),
                int(g2[0]),
                int(b2[0]),
            ]
    return exp


@pytest.mark.parametrize("mid", [0, 1, 2, 3, 5, 6, 9, 17, 18, 19, 38])
def test_constant_mcu_roundtrip_exact(mid):
    # ids cover every (w, h) residue class and both restart modes
    w, h = _jpeg_dims(mid)
    out = parse_jpeg(synth_jpeg_bytes(mid))
    assert out is not None
    ww, hh, ch, px = out
    assert (ww, hh, ch) == (w, h, 3)
    assert (px.astype(np.int64) == _expected_constant_pixels(mid)).all()


def test_synth_blob_is_wire_format_jfif():
    raw = synth_jpeg_bytes(18)  # id % 3 == 0 and 9 MCUs -> restarts on the wire
    assert raw[:2] == b"\xff\xd8" and raw[-2:] == b"\xff\xd9"
    assert raw[2:4] == b"\xff\xe0" and raw[6:11] == b"JFIF\x00"
    assert b"\xff\xfe\x00\x0bsynthetic" in raw  # COM the parser must skip
    assert b"\xff\xdd" in raw  # DRI
    assert any(bytes([0xFF, 0xD0 + i]) in raw for i in range(8))  # RSTn


# ---------------------------------------------------------------------------
# Exact coefficient-domain replay: entropy coding is lossless, so the
# bitstream path must reproduce the replayed pixels EXACTLY on any
# content, any quant table, with or without restarts.
# ---------------------------------------------------------------------------


def _replay_pipeline(img: np.ndarray, lq: np.ndarray, cq: np.ndarray) -> np.ndarray:
    """Re-run the lossy pipeline (pad, subsample, FDCT, quantize,
    dequantize, IDCT, upsample, colour-convert, crop) WITHOUT touching
    the bitstream — what a correct decoder must output."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    mcu = 8 if gray else 16
    padh = (h + mcu - 1) // mcu * mcu
    padw = (w + mcu - 1) // mcu * mcu
    if gray:
        planes = [(np.pad(img, ((0, padh - h), (0, padw - w)), mode="edge").astype(np.int64), lq)]
    else:
        p = np.pad(img, ((0, padh - h), (0, padw - w), (0, 0)), mode="edge")
        y, cb, cr = rgb_to_ycbcr(p[:, :, 0], p[:, :, 1], p[:, :, 2])

        def sub(pl):
            return (pl[0::2, 0::2] + pl[0::2, 1::2] + pl[1::2, 0::2] + pl[1::2, 1::2] + 2) >> 2

        planes = [(y, lq), (sub(cb), cq), (sub(cr), cq)]
    recs = []
    for plane, qt in planes:
        ph, pw = plane.shape
        rec = np.zeros_like(plane)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                q = np.floor(fdct2(blk.astype(np.float64) - 128.0) / qt + 0.5)
                out = idct2(q * qt)
                rec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                    np.floor(out + 128.5), 0, 255
                )
        recs.append(rec)
    if gray:
        return recs[0][:h, :w].astype(np.uint8)[:, :, None]
    yr = recs[0][:h, :w]
    cbr = np.repeat(np.repeat(recs[1], 2, axis=0), 2, axis=1)[:h, :w]
    crr = np.repeat(np.repeat(recs[2], 2, axis=0), 2, axis=1)[:h, :w]
    r, g, b = ycbcr_to_rgb(yr, cbr, crr)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


@pytest.mark.parametrize("restart", [0, 3])
def test_bitstream_matches_replay_color_q50(restart):
    rng = np.random.default_rng(40 + restart)
    img = rng.integers(0, 256, size=(37, 50, 3), dtype=np.uint8)
    blob = encode_baseline_jpeg(img, luma_q=Q50, chroma_q=Q50, restart_interval=restart)
    out = parse_jpeg(blob)
    assert out is not None
    w, h, ch, px = out
    assert (w, h, ch) == (50, 37, 3)
    assert (px == _replay_pipeline(img, Q50, Q50)).all()


def test_bitstream_matches_replay_smooth_gradient():
    # smooth content -> long zero runs -> dense EOB coverage
    xx, yy = np.meshgrid(np.arange(48), np.arange(33))
    img = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    img = np.stack([img, 255 - img, img // 2], axis=2).astype(np.uint8)
    blob = encode_baseline_jpeg(img, luma_q=Q50, chroma_q=Q50)
    out = parse_jpeg(blob)
    assert out is not None and (out[3] == _replay_pipeline(img, Q50, Q50)).all()


def test_bitstream_matches_replay_impulse_exercises_zrl():
    # a single hot pixel per block spreads energy across the spectrum;
    # with a coarse table most coefficients quantize to 0 but the last
    # few survive -> runs > 15 -> ZRL symbols on the wire
    img = np.zeros((16, 16), np.uint8)
    img[7, 7] = 255
    img[2, 13] = 200
    q = np.ones((8, 8), np.int64)
    blob = encode_baseline_jpeg(img, luma_q=q, chroma_q=q)
    out = parse_jpeg(blob)
    assert out is not None
    assert (out[3] == _replay_pipeline(img, q, q)).all()


def test_grayscale_q1_is_near_lossless():
    rng = np.random.default_rng(99)
    img = rng.integers(0, 256, size=(24, 31), dtype=np.uint8)
    out = parse_jpeg(encode_baseline_jpeg(img))
    assert out is not None
    w, h, ch, px = out
    assert (w, h, ch) == (31, 24, 1)
    # q=1 keeps every coefficient; the only loss is FDCT/IDCT rounding
    assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).max() <= 1


# ---------------------------------------------------------------------------
# Marker-level robustness
# ---------------------------------------------------------------------------


def test_unknown_app_segments_are_skipped():
    img = np.full((8, 8), 100, np.uint8)
    extra = b"\xff\xe1\x00\x08Exif\x00\x00" + b"\xff\xfe\x00\x06note"
    out = parse_jpeg(encode_baseline_jpeg(img, extra_segments=extra))
    assert out is not None and (out[3][:, :, 0] == 100).all()


def test_16bit_dqt_precision_accepted():
    img = np.full((8, 8), 100, np.uint8)
    blob = encode_baseline_jpeg(img)
    # rewrite the 8-bit DQT segment (Pq=0) as 16-bit (Pq=1), same values
    i = blob.index(b"\xff\xdb")
    seglen = int.from_bytes(blob[i + 2 : i + 4], "big")
    body = blob[i + 4 : i + 2 + seglen]
    assert body[0] == 0x00 and len(body) == 65
    wide = bytes([0x10]) + b"".join(bytes([0, v]) for v in body[1:])
    patched = (
        blob[:i]
        + b"\xff\xdb"
        + (len(wide) + 2).to_bytes(2, "big")
        + wide
        + blob[i + 2 + seglen :]
    )
    out = parse_jpeg(patched)
    assert out is not None and (out[3][:, :, 0] == 100).all()


def test_rejects_truncation_garbage_and_progressive():
    blob = synth_jpeg_bytes(4)
    assert parse_jpeg(blob[: len(blob) // 2]) is None  # truncated mid-scan
    assert parse_jpeg(b"not a jpeg at all") is None
    assert parse_jpeg(b"") is None
    assert parse_jpeg(blob[:2]) is None  # SOI only
    # flip SOF0 -> SOF2 (progressive): must refuse, not mis-decode
    i = blob.index(b"\xff\xc0")
    assert parse_jpeg(blob[:i] + b"\xff\xc2" + blob[i + 2 :]) is None


def test_sequential_noninterleaved_scans_decode():
    # spec-legal baseline layout (T.81 A.2.2): one SOS per component,
    # non-interleaved block geometry — rejected before the store path
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(37, 50, 3), dtype=np.uint8)
    ref = parse_jpeg(encode_baseline_jpeg(img))
    for restart in (0, 3):
        seq = encode_baseline_jpeg(img, interleave=False, restart_interval=restart)
        assert seq.count(b"\xff\xda") == 3
        out = parse_jpeg(seq)
        assert out is not None and (out[3] == ref[3]).all()


def test_gray_frame_with_declared_sampling_factors():
    # some writers declare 2x2 sampling on a single-component frame;
    # the scan is still raster ceil(w/8) x ceil(h/8) blocks (the MCU of
    # a non-interleaved scan is one data unit), so dims must not change
    rng = np.random.default_rng(32)
    img = rng.integers(0, 256, size=(19, 26), dtype=np.uint8)
    blob = encode_baseline_jpeg(img)
    ref = parse_jpeg(blob)
    i = blob.index(b"\xff\xc0")
    j = i + 4 + 7  # SOF body offset 7 = the component's sampling byte
    assert blob[j] == 0x11
    patched = blob[:j] + b"\x22" + blob[j + 1 :]
    out = parse_jpeg(patched)
    assert out is not None and (out[3] == ref[3]).all()


def test_decode_scales_linearly_not_quadratically():
    # regression guard for the unmasked-accumulator bug: decode of a
    # 256x256 noise image took ~4 s when every bit-read shifted a
    # stream-sized integer; with the masked accumulator it is ~0.1 s.
    # The generous 2 s bound stays far above timer noise but far below
    # the quadratic regime.
    import time

    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, size=(256, 256, 3), dtype=np.uint8)
    blob = encode_baseline_jpeg(img)
    t0 = time.perf_counter()
    out = parse_jpeg(blob)
    elapsed = time.perf_counter() - t0
    assert out is not None
    assert elapsed < 2.0, f"256x256 decode took {elapsed:.2f}s - accumulator quadratic again?"


def test_malformed_dht_rejected_not_crashed():
    # a DHT whose code counts violate Kraft (3 codes of length 1) must
    # fail the parse cleanly — a naive canonical build would index past
    # the 16-bit LUT and crash the task instead of containing the error
    blob = synth_jpeg_bytes(4)
    i = blob.index(b"\xff\xc4")
    seglen = int.from_bytes(blob[i + 2 : i + 4], "big")
    body = bytearray(blob[i + 4 : i + 2 + seglen])
    body[1] = 3  # bits[0] = 3 -> only 2 length-1 codes exist
    patched = blob[: i + 4] + bytes(body) + blob[i + 2 + seglen :]
    assert parse_jpeg(patched) is None


def test_corrupted_restart_sequence_rejected():
    blob = synth_jpeg_bytes(18)  # 9 MCUs, interval 2 -> RSTn markers
    i = blob.index(b"\xff\xd0")
    # RST0 -> RST5 breaks the modulo-8 sequence the decoder verifies
    assert parse_jpeg(blob[:i] + b"\xff\xd5" + blob[i + 2 :]) is None


def test_encoder_rejects_out_of_range_inputs():
    with pytest.raises(ValueError):
        encode_baseline_jpeg(np.zeros((0, 4), np.uint8))
    with pytest.raises(ValueError):
        encode_baseline_jpeg(
            np.zeros((8, 8), np.uint8), luma_q=np.zeros((8, 8), np.int64)
        )


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------


def test_spark_synth_and_decode(spark):
    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_jpeg_bytes)
    rows = {
        r["media_id"]: r
        for r in decode_jpeg(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 30
    for mid in (0, 7, 23):
        exp = _expected_constant_pixels(mid)
        h, w = exp.shape[:2]
        r = rows[mid]
        assert (r["width"], r["height"], r["channels"], r["is_valid"]) == (w, h, 3, 1)
        assert r["tl_r"] == exp[0, 0, 0]
        assert r["mean_g_milli"] == int(exp[:, :, 1].sum()) * 1000 // (w * h)


def test_spark_invalid_blob_contained(spark):
    df = spark.createDataFrame([(1, bytearray(b"\xff\xd8garbage"))], "media_id long, blob binary")
    row = decode_jpeg(df, "media_id", "blob").collect()[0]
    assert row["is_valid"] == 0 and row["width"] is None
