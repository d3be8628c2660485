"""Progressive (SOF2) JPEG tests.

The load-bearing property: progressive JPEG re-orders the SAME
quantized coefficients a baseline file carries (the entropy layer is
lossless), so for identical quant tables

    parse_jpeg(encode_progressive_jpeg(img)) ==
    parse_jpeg(encode_baseline_jpeg(img))

must hold PIXEL-FOR-PIXEL on arbitrary content.  Any desync anywhere —
DC refinement bits, EOBn run lengths, ZRL inside refinement, buffered
correction bits, restart handling — shifts the bit stream and breaks
the equality, so these tests pin the whole Annex-G path at once.

Coverage of the rare wire constructs is ASSERTED, not hoped for:
helpers introspect the quantized coefficients and the tests fail if a
chosen input stops exercising ZRL-in-first-scan / ZRL-in-refinement /
multi-block EOB runs.
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_extraction_spark.operators.jpeg import (
    ZIGZAG,
    _quantize_plane,
    encode_baseline_jpeg,
    parse_jpeg,
    synth_jpeg_bytes,
    _jpeg_dims,
)
from pdf_extraction_spark.operators.jpeg_progressive import (
    AC_PROG_BITS,
    AC_PROG_VALS,
    encode_progressive_jpeg,
)
from pdf_extraction_spark.operators.jpeg import build_huffman_codes
from tests.test_jpeg import Q50  # one copy of the Annex-K table


def _assert_equal_decodes(img, lq=None, cq=None, restart=0):
    base = parse_jpeg(encode_baseline_jpeg(img, luma_q=lq, chroma_q=cq))
    prog = parse_jpeg(
        encode_progressive_jpeg(img, luma_q=lq, chroma_q=cq, restart_interval=restart)
    )
    assert base is not None and prog is not None
    assert base[:3] == prog[:3]
    assert (base[3] == prog[3]).all()
    return prog


# ---------------------------------------------------------------------------
# the exact cross-check on varied content
# ---------------------------------------------------------------------------


def test_progressive_equals_baseline_random_color_q1():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(37, 50, 3), dtype=np.uint8)
    _assert_equal_decodes(img)


def test_progressive_equals_baseline_random_color_q50():
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(41, 29, 3), dtype=np.uint8)
    _assert_equal_decodes(img, lq=Q50, cq=Q50)


def test_progressive_equals_baseline_gray():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(21, 34), dtype=np.uint8)
    _assert_equal_decodes(img)
    _assert_equal_decodes(img, lq=Q50, cq=Q50)


def test_progressive_equals_baseline_smooth_gradient():
    xx, yy = np.meshgrid(np.arange(48), np.arange(33))
    img = ((xx * 3 + yy * 5) % 256).astype(np.uint8)
    img = np.stack([img, 255 - img, img // 2], axis=2).astype(np.uint8)
    _assert_equal_decodes(img, lq=Q50, cq=Q50)


def test_progressive_equals_baseline_with_restarts():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(37, 50, 3), dtype=np.uint8)
    for restart in (1, 2, 5):
        _assert_equal_decodes(img, lq=Q50, cq=Q50, restart=restart)


def test_progressive_constant_mcu_is_exact():
    # the driver-oracle content: DC-only blocks survive the lossy
    # pipeline exactly, so progressive decode must equal the analytic
    # constants just like baseline does
    for mid in (0, 7, 18):
        w, h = _jpeg_dims(mid)
        base = parse_jpeg(synth_jpeg_bytes(mid))
        mcux, mcuy = (w + 15) // 16, (h + 15) // 16
        img = np.zeros((mcuy * 16, mcux * 16, 3), np.uint8)
        from pdf_extraction_spark.operators.jpeg import _mcu_rgb

        for my in range(mcuy):
            for mx in range(mcux):
                img[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = _mcu_rgb(mid, my, mx)
        prog = parse_jpeg(encode_progressive_jpeg(img[:h, :w]))
        assert prog is not None and (prog[3] == base[3]).all()


# ---------------------------------------------------------------------------
# sparse-spectrum content that provably exercises the rare constructs
# ---------------------------------------------------------------------------


def _speckled_gradient(seed: int, shape=(48, 48)) -> np.ndarray:
    """Smooth ramp (long zero runs in the spectrum) plus a few isolated
    single-pixel speckles (low-amplitude energy smeared across high
    frequencies -> +/-1 coefficients after quantization)."""
    rng = np.random.default_rng(seed)
    xx, yy = np.meshgrid(np.arange(shape[1]), np.arange(shape[0]))
    img = (96 + xx + yy // 2).astype(np.int64)
    for _ in range(10):
        y, x = rng.integers(0, shape[0]), rng.integers(0, shape[1])
        img[y, x] += int(rng.integers(4, 9))
    return np.clip(img, 0, 255).astype(np.uint8)


def _luma_patterns(img: np.ndarray):
    """Quantized q=1 luma rows (natural order) for an (h, w) gray image,
    padded like the encoders pad."""
    h, w = img.shape
    padh, padw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    plane = np.pad(img, ((0, padh - h), (0, padw - w)), mode="edge").astype(np.int64)
    rows, _ = _quantize_plane(plane, np.ones((8, 8), np.int64))
    nat = np.zeros((len(rows), 64), np.int64)
    nat[:, np.array(ZIGZAG)] = np.asarray(rows, np.int64)
    return nat


def _has_refine_zrl(nat: np.ndarray) -> bool:
    """True if some block needs ZRL inside the Al=0 AC refinement scan:
    a +/-1 coefficient preceded by >15 consecutive zero coefficients
    (zero-history positions) within the band 1..63."""
    for row in nat:
        zeros = 0
        for k in range(1, 64):
            v = abs(int(row[ZIGZAG[k]]))
            if v == 0:
                zeros += 1
            elif v == 1:
                if zeros > 15:
                    return True
                zeros = 0
            else:
                zeros = 0
    return False


def _has_first_scan_zrl(nat: np.ndarray) -> bool:
    """True if some block needs ZRL in the Al=1 first scan: a coef with
    |c| >> 1 >= 1 after >15 positions with |c| >> 1 == 0."""
    for row in nat:
        zeros = 0
        for k in range(1, 64):
            v = abs(int(row[ZIGZAG[k]])) >> 1
            if v == 0:
                zeros += 1
            else:
                if zeros > 15:
                    return True
                zeros = 0
    return False


def _has_multiblock_eobrun(nat: np.ndarray) -> bool:
    """True if >= 3 consecutive blocks have an all-zero 1..63 band at
    Al=1 (a multi-block EOBn on the wire)."""
    run = 0
    for row in nat:
        band = [abs(int(row[ZIGZAG[k]])) >> 1 for k in range(1, 64)]
        if not any(band):
            run += 1
            if run >= 3:
                return True
        else:
            run = 0
    return False


def _tiled_spectrum_image() -> np.ndarray:
    """Deterministic 48x48 tile mosaic whose q=1 luma spectra provably
    hit the rare constructs: a flat top tile-row (6 consecutive
    zero-band blocks -> multi-block EOBn), and gradient+checkerboard
    tiles (a +/-1 high-frequency coefficient after a >15-zero gap ->
    ZRL in the Al=0 refinement; a magnitude-2+ coefficient after a
    >15-positions-of-0 gap at Al=1 -> first-scan ZRL)."""
    img = np.full((48, 48), 128, np.int64)
    grad = np.tile(np.arange(8) * 3, (8, 1)) + 100
    xx, yy = np.meshgrid(np.arange(8), np.arange(8))
    cb = (-1) ** (xx + yy)
    for by in range(1, 6):
        for bx in range(6):
            tile = grad + (cb if bx % 2 == 0 else 0)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = tile
    return np.clip(img, 0, 255).astype(np.uint8)


def test_sparse_spectrum_exercises_rare_constructs_and_matches():
    img = _tiled_spectrum_image()
    nat = _luma_patterns(img)
    # coverage assertions: the input must actually hit the constructs
    assert _has_refine_zrl(nat), "tile content stopped producing refine-ZRL"
    assert _has_first_scan_zrl(nat), "content stopped producing first-scan ZRL"
    assert _has_multiblock_eobrun(nat), "content stopped producing EOB runs"
    _assert_equal_decodes(img)
    # and interleaved in colour, where luma/chroma EOB runs diverge
    img3 = np.stack([img, img[::-1], img[:, ::-1]], axis=2).astype(np.uint8)
    _assert_equal_decodes(img3)
    _assert_equal_decodes(img3, restart=3)


def test_many_seeds_cross_check():
    for seed in range(5, 12):
        img = _speckled_gradient(seed, shape=(24, 40))
        _assert_equal_decodes(img)


# ---------------------------------------------------------------------------
# wire format + robustness
# ---------------------------------------------------------------------------


def test_progressive_blob_is_sof2_with_multiple_scans():
    img = _speckled_gradient(7, shape=(24, 24))
    blob = encode_progressive_jpeg(np.stack([img] * 3, axis=2))
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
    assert blob.count(b"\xff\xda") == 10  # the default 10-scan script
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"


def test_progressive_ac_table_is_valid():
    assert sum(AC_PROG_BITS) == len(AC_PROG_VALS) == 176
    codes = build_huffman_codes(AC_PROG_BITS, AC_PROG_VALS)
    # every symbol progressive AC coding can emit is covered
    for r in range(16):
        for s in range(11):
            assert (r << 4) | s in codes
    # the all-ones 8-bit word is unused (T.81 C.2 requirement)
    assert all(code != 0xFF for code, ln in codes.values())


def test_truncated_progressive_rejected():
    img = _speckled_gradient(9, shape=(24, 24))
    blob = encode_progressive_jpeg(img)
    # cut inside the 3rd scan: parse must fail cleanly, not crash
    third = blob.index(b"\xff\xda", blob.index(b"\xff\xda") + 2)
    third = blob.index(b"\xff\xda", third + 2)
    assert parse_jpeg(blob[: third + 20]) is None


# ---------------------------------------------------------------------------
# property: for ANY dims (including 1x1 and sub-MCU sizes) and ANY
# pixel content, progressive and baseline decodes agree exactly, and
# grayscale q=1 stays within DCT rounding of the original
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 34),
    h=st.integers(1, 34),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
)
def test_any_dims_progressive_matches_baseline(w, h, seed, gray):
    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    base = parse_jpeg(encode_baseline_jpeg(img))
    prog = parse_jpeg(encode_progressive_jpeg(img))
    assert base is not None and prog is not None
    assert base[:3] == (w, h, 1 if gray else 3) == prog[:3]
    assert (base[3] == prog[3]).all()
    if gray:  # q=1: only FDCT/IDCT rounding separates decode from input
        assert np.abs(base[3][:, :, 0].astype(int) - img.astype(int)).max() <= 1


def test_jpeg_dimensions_header_only_probe():
    from pdf_extraction_spark.operators.jpeg import (
        exif_app1_segment,
        jpeg_dimensions,
    )

    img = _speckled_gradient(21, shape=(19, 26))
    img3 = np.stack([img] * 3, axis=2)
    base = encode_baseline_jpeg(img3)
    prog = encode_progressive_jpeg(img3)
    assert jpeg_dimensions(base) == (26, 19, 3, 0, 1)  # orientation defaults 1
    assert jpeg_dimensions(prog) == (26, 19, 3, 1, 1)
    gray = encode_baseline_jpeg(img)
    assert jpeg_dimensions(gray) == (26, 19, 1, 0, 1)
    # Exif orientation in both TIFF byte orders
    for little in (True, False):
        tagged = encode_baseline_jpeg(img3, extra_segments=exif_app1_segment(6, little))
        assert jpeg_dimensions(tagged) == (26, 19, 3, 0, 6), little
    # probe must succeed WITHOUT the entropy data: truncate right after
    # the SOF segment and it still answers
    sof = base.index(b"\xff\xc0")
    seglen = int.from_bytes(base[sof + 2 : sof + 4], "big")
    assert jpeg_dimensions(base[: sof + 2 + seglen]) == (26, 19, 3, 0, 1)
    # and fails cleanly on junk, including a truncated/garbled Exif
    assert jpeg_dimensions(b"\xff\xd8\xff\xd9") is None
    assert jpeg_dimensions(b"GIF89a") is None
    broken = exif_app1_segment(6)[:12]
    broken = broken[:2] + (len(broken) - 2).to_bytes(2, "big") + broken[4:]
    tagged = encode_baseline_jpeg(img3, extra_segments=broken)
    assert jpeg_dimensions(tagged) == (26, 19, 3, 0, 1)  # falls back to 1


def test_spark_probe_and_mixed_synth(spark):
    from pyspark.sql import functions as F
    from pdf_extraction_spark.operators.jpeg import probe_jpeg, synth_jpeg_mixed_bytes
    from pdf_extraction_spark.operators.jpeg import _jpeg_dims
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    ids = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_jpeg_mixed_bytes)
    rows = {
        r["media_id"]: r
        for r in probe_jpeg(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 20
    for mid in range(20):
        w, h = _jpeg_dims(mid)
        r = rows[mid]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["progressive"] == mid % 2
        assert r["orientation"] == mid % 8 + 1
        assert r["is_valid"] == 1


def test_progressive_through_spark_decode(spark):
    # decode_jpeg picks up SOF2 blobs transparently via parse_jpeg
    from pyspark.sql import functions as F
    from pdf_extraction_spark.operators.jpeg import decode_jpeg

    img = _speckled_gradient(13, shape=(24, 24))
    img3 = np.stack([img] * 3, axis=2)
    blob = encode_progressive_jpeg(img3)
    expected = parse_jpeg(encode_baseline_jpeg(img3))[3]
    df = spark.createDataFrame([(1, bytearray(blob))], "media_id long, blob binary")
    row = decode_jpeg(df, "media_id", "blob").collect()[0]
    assert row["is_valid"] == 1
    assert (row["width"], row["height"], row["channels"]) == (24, 24, 3)
    npx = 24 * 24
    assert row["mean_r_milli"] == int(expected[:, :, 0].astype(np.int64).sum()) * 1000 // npx
