"""MP3 metadata probe — audio at corpus scale, header-only.

Like the MP4 box walk and the JPEG SOF probe, the right first operator
over an audio corpus never decodes: skip the ID3v2 tag (syncsafe
size), find the first MPEG-1 Layer III frame sync, validate it against
the NEXT frame's sync (a lone 0xFFEx in payload bytes is a classic
false positive), then WALK the frame headers — each header states its
own frame length, so frame count and therefore exact duration
(1152 samples per MPEG-1 Layer III frame) come from reading 4 bytes
per frame.

Scope: MPEG-1 Layer III CBR/VBR streams (the overwhelmingly common
case); other versions/layers and free-format bitrates return None.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from pdf_extraction_spark.operators.multimodal import invalid_row, map_blobs

# MPEG-1 Layer III tables (index 0 = free format, 15 = invalid)
_BITRATE_KBPS = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0]
_SAMPLE_RATE = [44100, 48000, 32000, 0]
_SAMPLES_PER_FRAME = 1152


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _frame_header(raw: bytes, pos: int):
    """Parse a frame header at pos; returns (bitrate_kbps, sample_rate,
    frame_len) or None if it is not a valid MPEG-1 Layer III header."""
    if pos + 4 > len(raw):
        return None
    b0, b1, b2, _b3 = raw[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    if (b1 >> 3) & 0x03 != 0x03:  # MPEG version 1
        return None
    if (b1 >> 1) & 0x03 != 0x01:  # Layer III
        return None
    br = _BITRATE_KBPS[(b2 >> 4) & 0x0F]
    sr = _SAMPLE_RATE[(b2 >> 2) & 0x03]
    if not br or not sr:
        return None
    padding = (b2 >> 1) & 0x01
    frame_len = 144_000 * br // sr + padding
    return br, sr, frame_len


def probe_mp3(raw: bytes):
    """(id3v2_size, first_bitrate_kbps, sample_rate, n_frames,
    duration_ms) or None.  The first frame must be confirmed by a valid
    header exactly one frame length later (anti-false-sync); the walk
    then follows each header's own length and stops cleanly at EOF or
    trailing junk (e.g. an ID3v1 tag)."""
    pos = 0
    id3_size = 0
    if raw[:3] == b"ID3" and len(raw) >= 10:
        id3_size = 10 + _syncsafe(raw[6:10])
        if raw[5] & 0x10:  # footer present
            id3_size += 10
        pos = id3_size
    # scan a bounded window for the first confirmed sync
    limit = min(len(raw), pos + 4096)
    start = None
    while pos + 4 <= limit:
        hdr = _frame_header(raw, pos)
        if hdr is not None:
            nxt = pos + hdr[2]
            if nxt + 4 <= len(raw) and _frame_header(raw, nxt) is not None:
                start = pos
                break
            if nxt == len(raw):  # single-frame file: nothing to confirm
                start = pos
                break
        pos += 1
    if start is None:
        return None
    first = _frame_header(raw, start)
    sr = first[1]
    n_frames = 0
    pos = start
    while pos + 4 <= len(raw):
        hdr = _frame_header(raw, pos)
        if hdr is None:
            break  # trailing junk / ID3v1 tag
        if hdr[1] != sr:
            break  # sample-rate change mid-stream: not a sane MP3
        n_frames += 1
        pos += hdr[2]
    if n_frames == 0:
        return None
    duration_ms = n_frames * _SAMPLES_PER_FRAME * 1000 // sr
    return id3_size, first[0], sr, n_frames, duration_ms


def synth_mp3_bytes(media_id: int) -> bytes:
    """A spec-shaped MPEG-1 Layer III stream: an ID3v2.3 tag (syncsafe
    size, one TIT2 frame carrying an md5 title), then n = id%4 + 10 CBR
    frames (bitrate cycling 128/192/320 kbps by id%3, sample rate
    44100/48000/32000 by id%5%3, padding bit alternating per frame),
    then an ID3v1 'TAG' trailer the walker must stop at."""
    br_idx = (9, 11, 14)[media_id % 3]  # 128 / 192 / 320 kbps
    sr_idx = media_id % 5 % 3
    nframes = media_id % 4 + 10
    title = hashlib.md5(f"{media_id}:mp3".encode()).hexdigest()[:16].encode()
    tit2 = b"TIT2" + len(title).to_bytes(4, "big") + b"\x00\x00" + title
    id3_body = tit2 + b"\x00" * 14  # a little padding, as writers emit
    sz = len(id3_body)
    syncsafe = bytes(
        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
    )
    out = bytearray(b"ID3\x03\x00\x00" + syncsafe + id3_body)
    sr = _SAMPLE_RATE[sr_idx]
    br = _BITRATE_KBPS[br_idx]
    for f in range(nframes):
        padding = f % 2
        frame_len = 144_000 * br // sr + padding
        hdr = bytes(
            [
                0xFF,
                0xFB,  # MPEG1, Layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | (padding << 1),
                0xC0,  # mono-ish channel mode bits; ignored by the probe
            ]
        )
        body = hashlib.md5(f"{media_id}:frame{f}".encode()).digest()
        payload = (body * ((frame_len - 4) // 16 + 1))[: frame_len - 4]
        out += hdr + payload
    out += b"TAG" + b"\x00" * 125  # ID3v1 trailer
    return bytes(out)


MP3_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("id3v2_bytes", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _mp3_row(blob):
    meta = probe_mp3(bytes(blob))
    return invalid_row(MP3_META_SCHEMA) if meta is None else (*meta, 1)


def probe_mp3_df(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Header-only MP3 metadata: ID3 skip + frame-header walk, 4 bytes
    read per frame, no decode."""
    return map_blobs(df, id_col, blob_col, _mp3_row, MP3_META_SCHEMA)
