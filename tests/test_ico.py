"""ICO (favicon) container tests (operators/ico.py)."""

from __future__ import annotations

import struct

import pytest

from pdf_extraction_spark.operators.ico import (
    _ico_dib_dims,
    _ico_row_bytes,
    decode_ico,
    parse_ico,
    synth_ico_bytes,
)
from pdf_extraction_spark.operators.multimodal import synth_blobs


def test_roundtrip_both_entry_kinds():
    from pdf_extraction_spark.operators.multimodal import parse_png, synth_png_bytes

    for mid in range(20):
        w, h = _ico_dib_dims(mid)
        imgs = parse_ico(synth_ico_bytes(mid))
        assert imgs is not None and len(imgs) == 2
        dw, dh, px = imgs[0]
        assert (dw, dh) == (w, h)
        for j in range(h):
            exp = _ico_row_bytes(mid, j, w * 4)
            for x in range(w):
                assert px[j * w + x] == tuple(exp[4 * x : 4 * x + 4]), (mid, j, x)
        # the PNG entry decodes exactly like the standalone PNG codec
        pw, ph, pch, rows = parse_png(synth_png_bytes(mid))
        iw, ih, ipx = imgs[1]
        assert (iw, ih) == (pw, ph)
        r0 = rows[0]
        assert ipx[0][:3] == (r0[0], r0[1], r0[2])


def test_rejections():
    assert parse_ico(b"") is None
    assert parse_ico(b"\x00\x00\x02\x00\x01\x00") is None  # .cur, not .ico
    blob = synth_ico_bytes(3)
    assert parse_ico(blob[:20]) is None  # directory truncated
    # entry pointing past the end of the blob
    bad = bytearray(blob)
    off_at = 6 + 12  # first entry's image_offset field
    bad[off_at : off_at + 4] = struct.pack("<I", len(blob) + 100)
    # size still covers data -> offset+size overruns
    assert parse_ico(bytes(bad)) is None
    # 8-bpp palettized DIB entries are outside the supported subset
    bad = bytearray(blob)
    # first entry's DIB starts at offset 38; biBitCount at +14
    dib_off = struct.unpack("<I", blob[6 + 12 : 6 + 16])[0]
    bad[dib_off + 14 : dib_off + 16] = struct.pack("<H", 8)
    assert parse_ico(bytes(bad)) is None


def test_spark_decode(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 15).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_ico_bytes)
    rows = {
        r["media_id"]: r
        for r in decode_ico(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 15
    for mid in (0, 7, 13):
        w, h = _ico_dib_dims(mid)
        r = rows[mid]
        assert (r["n_images"], r["dib_width"], r["dib_height"]) == (2, w, h)
        assert r["is_valid"] == 1
        total_a = sum(
            _ico_row_bytes(mid, j, w * 4)[3::4][x] for j in range(h) for x in range(w)
        )
        assert r["mean_a_milli"] == total_a * 1000 // (w * h)
