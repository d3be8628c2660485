"""MP4/ISO-BMFF metadata probe tests (operators/mp4.py)."""

from __future__ import annotations

import struct

from pdf_extraction_spark.operators.mp4 import (
    probe_mp4,
    probe_mp4_df,
    synth_mp4_bytes,
)
from pdf_extraction_spark.operators.multimodal import synth_blobs


def test_probe_matches_synth_params():
    for mid in range(12):
        timescale = 1000 + mid % 5 * 200
        duration = mid % 900 + 100
        ntracks = mid % 2 + 1
        got = probe_mp4(synth_mp4_bytes(mid))
        assert got is not None
        brand, dur, nt, w, h = got
        assert brand == "isom" and nt == ntracks
        assert dur == duration * 1000 // timescale
        assert w == max(320 + (mid + t) % 4 * 160 for t in range(ntracks))
        assert h == max(180 + (mid + t) % 3 * 90 for t in range(ntracks))


def test_large_size_boxes_and_unknown_boxes():
    blob = synth_mp4_bytes(0)  # id%3==0 -> first tkhd uses 64-bit size
    assert struct.pack(">I", 1) in blob  # a large-size box is on the wire
    assert b"free" in blob  # unknown box the walker must skip by size
    assert probe_mp4(blob) is not None


def test_mvhd_version1_64bit_times():
    # hand-build a v1 mvhd (64-bit create/modify/duration fields)
    def box(t, p):
        return struct.pack(">I", 8 + len(p)) + t + p

    mvhd = struct.pack(">BxxxQQIQ", 1, 0, 0, 500, 1500) + b"\x00" * 80
    tkhd_pay = (
        struct.pack(">BxxxIIIxxxxI", 0, 0, 0, 1, 1500)
        + b"\x00" * 8
        + struct.pack(">hhhxx", 0, 0, 0)
        + struct.pack(">9i", 0, 0, 0, 0, 0, 0, 0, 0, 0)
        + struct.pack(">II", 640 << 16, 360 << 16)
    )
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd_pay)))
    blob = box(b"ftyp", b"mp42" + b"\x00" * 8) + moov
    assert probe_mp4(blob) == ("mp42", 1500 * 1000 // 500, 1, 640, 360)


def test_short_v1_mvhd_rejected_not_misread():
    """Review regression: a version-1 mvhd with only the v0-sized 20
    bytes must not read the NEXT box's bytes as a 64-bit duration."""
    def box(t, p):
        return struct.pack(">I", 8 + len(p)) + t + p

    short_mvhd = struct.pack(">BxxxQQ", 1, 0, 0) + b"\x00" * 3  # 20 bytes
    moov = box(b"moov", box(b"mvhd", short_mvhd) + box(b"free", b"\xff" * 32))
    blob = box(b"ftyp", b"isom" + b"\x00" * 8) + moov
    assert probe_mp4(blob) is None  # no usable duration -> invalid


def test_rejections():
    assert probe_mp4(b"") is None
    assert probe_mp4(b"\x00\x00\x00\x08ftyp") is None  # no moov
    blob = synth_mp4_bytes(3)
    assert probe_mp4(blob[:30]) is None  # box size past the end
    # size smaller than the header itself
    bad = struct.pack(">I", 3) + b"moov"
    assert probe_mp4(bad) is None


def test_spark_probe(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_mp4_bytes)
    rows = {
        r["media_id"]: r
        for r in probe_mp4_df(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 10
    for mid in (0, 3, 7):
        r = rows[mid]
        assert r["is_valid"] == 1 and r["brand"] == "isom"
        assert r["n_tracks"] == mid % 2 + 1
