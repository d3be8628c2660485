"""TIFF 6.0 baseline RGB codec tests (operators/tiff.py)."""

from __future__ import annotations

import pytest

from pdf_extraction_spark.operators.tiff import (
    _tiff_dims,
    _tiff_row_bytes,
    decode_tiff,
    packbits_decode,
    packbits_encode,
    parse_tiff,
    synth_tiff_bytes,
)
from pdf_extraction_spark.operators.multimodal import synth_blobs


def test_packbits_canonical_vector():
    """The PackBits example from the TIFF 6.0 spec itself."""
    encoded = bytes(
        [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80, 0x00,
         0x2A, 0x22, 0xF7, 0xAA]
    )
    decoded = bytes(
        [0xAA] * 3 + [0x80, 0x00, 0x2A] + [0xAA] * 4 + [0x80, 0x00, 0x2A, 0x22]
        + [0xAA] * 10
    )
    assert packbits_decode(encoded, len(decoded)) == decoded


def test_packbits_roundtrip_and_noop_byte():
    for data in (b"", b"A", b"AAAA", b"ABCABC", b"A" * 300, bytes(range(256)) * 2):
        assert packbits_decode(packbits_encode(data), len(data)) == data
    # 0x80 is a noop in PackBits (unlike PDF RunLengthDecode's EOD)
    assert packbits_decode(b"\x80\x00A\x80", 1) == b"A"


def test_roundtrip_every_variant():
    """Both byte orders x all three compressions x multi-strip with a
    partial last strip — 36 ids cover the full matrix."""
    for mid in range(36):
        w, h = _tiff_dims(mid)
        out = parse_tiff(synth_tiff_bytes(mid))
        assert out is not None, mid
        pw, ph, rows = out
        assert (pw, ph) == (w, h)
        for j, row in enumerate(rows):
            assert row == _tiff_row_bytes(mid, j, w * 3), (mid, j)


def test_wire_format():
    even, odd = synth_tiff_bytes(0), synth_tiff_bytes(1)
    assert even[:4] == b"II\x2a\x00" and odd[:4] == b"MM\x00\x2a"
    lzw = synth_tiff_bytes(2)  # id%3==2 -> LZW + predictor
    assert parse_tiff(lzw) is not None


def test_rejections():
    assert parse_tiff(b"") is None
    assert parse_tiff(b"XX\x2a\x00\x08\x00\x00\x00") is None
    blob = synth_tiff_bytes(4)
    assert parse_tiff(blob[: len(blob) // 2]) is None  # strips truncated
    # gray/CMYK (SamplesPerPixel != 3) is outside the supported subset:
    # patch SPP to 1 -> clean rejection, not garbage pixels
    i = blob.index(b"II") if blob[:2] == b"II" else 0
    # find the SPP tag (277 = 0x0115 little-endian) and zero its value
    tag = (277).to_bytes(2, "little")
    j = blob.index(tag)
    patched = blob[: j + 8] + (1).to_bytes(4, "little") + blob[j + 12 :]
    assert parse_tiff(patched) is None


def test_spark_decode(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 24).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_tiff_bytes)
    rows = {
        r["media_id"]: r
        for r in decode_tiff(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 24
    for mid in (0, 1, 2, 5, 11):
        w, h = _tiff_dims(mid)
        r = rows[mid]
        assert (r["width"], r["height"], r["is_valid"]) == (w, h, 1)
        first = _tiff_row_bytes(mid, 0, w * 3)
        assert (r["tl_r"], r["tl_g"], r["tl_b"]) == (first[0], first[1], first[2])
        total_r = sum(_tiff_row_bytes(mid, j, w * 3)[0::3][i] for j in range(h) for i in range(w))
        assert r["mean_r_milli"] == total_r * 1000 // (w * h)


def test_spark_invalid_contained(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"MM\x00\x2agarbage"))], "media_id long, blob binary"
    )
    row = decode_tiff(df, "media_id", "blob").collect()[0]
    assert row["is_valid"] == 0 and row["width"] is None
