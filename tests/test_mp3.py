"""MP3 metadata probe tests (operators/mp3.py)."""

from __future__ import annotations

from pdf_extraction_spark.operators.mp3 import (
    _BITRATE_KBPS,
    _SAMPLE_RATE,
    probe_mp3,
    probe_mp3_df,
    synth_mp3_bytes,
)
from pdf_extraction_spark.operators.multimodal import synth_blobs


def test_probe_matches_synth_params():
    for mid in range(20):
        br = (128, 192, 320)[mid % 3]
        sr = _SAMPLE_RATE[mid % 5 % 3]
        nf = mid % 4 + 10
        got = probe_mp3(synth_mp3_bytes(mid))
        assert got is not None
        id3, gbr, gsr, gnf, gdur = got
        assert (gbr, gsr, gnf) == (br, sr, nf)
        assert gdur == nf * 1152 * 1000 // sr
        assert id3 == 50  # 10 header + 26-byte TIT2 + 14 padding


def test_false_sync_in_id3_payload_not_taken():
    """A 0xFF 0xFB pair inside the ID3 tag must not be mistaken for a
    frame: the tag is skipped by its syncsafe size, and a sync is only
    accepted when the NEXT frame confirms it."""
    blob = synth_mp3_bytes(2)
    # plant a fake sync inside the ID3 padding (bytes 40..49)
    planted = blob[:40] + b"\xff\xfb\x92\xc0" + blob[44:]
    got = probe_mp3(planted)
    assert got is not None and got[3] == 2 % 4 + 10  # frame count unchanged


def test_trailing_id3v1_stops_the_walk():
    blob = synth_mp3_bytes(5)
    assert blob[-128:-125] == b"TAG"
    nf = probe_mp3(blob)[3]
    # chopping the trailer must not change the frame count
    assert probe_mp3(blob[:-128])[3] == nf


def test_rejections():
    assert probe_mp3(b"") is None
    assert probe_mp3(bytes(500)) is None
    assert probe_mp3(b"ID3\x03\x00\x00\x00\x00\x00\x00") is None
    # MPEG-2 (version bits 10) is outside the supported subset: with
    # EVERY frame header rewritten to MPEG-2 there is nothing to sync on
    blob = synth_mp3_bytes(1).replace(b"\xff\xfb", b"\xff\xf3")
    assert probe_mp3(blob) is None
    # ...but a single corrupt frame only drops that frame: the probe
    # RESYNCS on the next confirmed header (dirty-data posture)
    blob = bytearray(synth_mp3_bytes(1))
    i = blob.index(b"\xff\xfb")
    blob[i + 1] = 0xF3
    got = probe_mp3(bytes(blob))
    assert got is not None and got[3] == 1 % 4 + 10 - 1


def test_spark_probe(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    blobs = synth_blobs(ids, "doc_id", synth_mp3_bytes)
    rows = {
        r["media_id"]: r
        for r in probe_mp3_df(blobs, "media_id", "blob").collect()
    }
    assert len(rows) == 12
    for mid in (0, 4, 11):
        r = rows[mid]
        assert r["is_valid"] == 1
        assert r["n_frames"] == mid % 4 + 10
        assert r["bitrate_kbps"] == (128, 192, 320)[mid % 3]
