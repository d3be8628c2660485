"""MP4 / ISO-BMFF metadata probe — video at corpus scale.

A 100 TB multimodal corpus cannot afford to DECODE video to learn its
shape; the right first operator is a header probe, exactly like the
JPEG SOF/Exif probe in operators/jpeg.py: walk the box tree (boxes are
``[u32 size][4cc type]`` with 64-bit large-size support), read
``moov/mvhd`` for timescale + duration and each ``moov/trak/tkhd`` for
track dims, and never touch ``mdat``.  A few hundred bytes read per
blob regardless of file size — at scale this runs over ranged reads of
object-store headers.

The synthesizer emits spec-shaped boxes (ftyp + moov{mvhd, trak{tkhd}
x N} + a dummy mdat; one tkhd per id uses the 64-bit large-size form
so the walker's both paths are exercised) with analytic parameters the
DuckDB oracle replays.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from pdf_extraction_spark.operators.multimodal import invalid_row, map_blobs


def _box(btype: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mvhd(timescale: int, duration: int) -> bytes:
    body = struct.pack(">BxxxIIII", 0, 0, 0, timescale, duration)
    body += struct.pack(">iH", 0x00010000, 0x0100) + b"\x00" * 10  # rate, volume
    body += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    body += b"\x00" * 24 + struct.pack(">I", 99)  # predefineds + next track id
    return _box(b"mvhd", body)


def _tkhd(track_id: int, duration: int, w: int, h: int, large: bool) -> bytes:
    body = struct.pack(">BxxxIIIxxxxI", 0, 0, 0, track_id, duration)
    body += b"\x00" * 8  # reserved
    body += struct.pack(">hhhxx", 0, 0, 0)  # layer, alternate group, volume
    body += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    body += struct.pack(">II", w << 16, h << 16)  # 16.16 fixed point
    return _box(b"tkhd", body, large=large)


def synth_mp4_bytes(media_id: int) -> bytes:
    """ftyp(isom) + moov{mvhd + N traks} + mdat: timescale
    1000 + id%5*200, duration id%900 + 100 ticks, N = id%2 + 1 tracks
    whose dims follow the analytic formulas below; the first tkhd of
    every 3rd id uses the 64-bit large-size box form."""
    timescale = 1000 + media_id % 5 * 200
    duration = media_id % 900 + 100
    ntracks = media_id % 2 + 1
    traks = b""
    for t in range(ntracks):
        w = 320 + (media_id + t) % 4 * 160
        h = 180 + (media_id + t) % 3 * 90
        tkhd = _tkhd(t + 1, duration, w, h, large=(t == 0 and media_id % 3 == 0))
        traks += _box(b"trak", tkhd)
    moov = _box(b"moov", _mvhd(timescale, duration) + traks)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    free = _box(b"free", b"skip me")  # an unknown-to-the-walker box
    mdat = _box(b"mdat", b"\x00" * 32)
    return ftyp + free + moov + mdat


def _walk_boxes(raw: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes in
    raw[start:end]; stops (raises ValueError) on malformed sizes."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(raw[pos : pos + 4], "big")
        btype = raw[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated large box")
            size = int.from_bytes(raw[pos + 8 : pos + 16], "big")
            payload = pos + 16
        elif size == 0:  # box extends to the end of the enclosing scope
            size = end - pos
        if size < payload - pos or pos + size > end:
            raise ValueError("bad box size")
        yield btype, payload, pos + size
        pos += size


def probe_mp4(raw: bytes):
    """(major_brand, duration_ms, n_tracks, max_w, max_h) from the box
    tree, or None.  Only ftyp and moov headers are examined — never
    mdat."""
    try:
        brand = None
        duration_ms = None
        n_tracks = 0
        max_w = max_h = 0
        saw_moov = False
        for btype, p0, p1 in _walk_boxes(raw, 0, len(raw)):
            if btype == b"ftyp" and p1 - p0 >= 4:
                brand = raw[p0 : p0 + 4].decode("latin1")
            elif btype == b"moov":
                saw_moov = True
                for ctype, c0, c1 in _walk_boxes(raw, p0, p1):
                    if ctype == b"mvhd" and c1 - c0 >= 20:
                        version = raw[c0]
                        # v0 needs 20 payload bytes, v1 (64-bit times)
                        # needs 32 — a short v1 box must be rejected,
                        # not read past its end into the next box
                        if version == 0:
                            timescale = int.from_bytes(raw[c0 + 12 : c0 + 16], "big")
                            dur = int.from_bytes(raw[c0 + 16 : c0 + 20], "big")
                        elif version == 1 and c1 - c0 >= 32:
                            timescale = int.from_bytes(raw[c0 + 20 : c0 + 24], "big")
                            dur = int.from_bytes(raw[c0 + 24 : c0 + 32], "big")
                        else:
                            continue
                        if timescale:
                            duration_ms = dur * 1000 // timescale
                    elif ctype == b"trak":
                        n_tracks += 1
                        for t2, t0, t1 in _walk_boxes(raw, c0, c1):
                            if t2 == b"tkhd" and t1 - t0 >= 84:
                                version = raw[t0]
                                # width/height are the LAST 8 payload bytes
                                w = int.from_bytes(raw[t1 - 8 : t1 - 4], "big") >> 16
                                h = int.from_bytes(raw[t1 - 4 : t1], "big") >> 16
                                max_w = max(max_w, w)
                                max_h = max(max_h, h)
        if not saw_moov or duration_ms is None:
            return None
        return brand, duration_ms, n_tracks, max_w, max_h
    except (ValueError, IndexError):
        return None


MP4_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("brand", StringType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", IntegerType()),
        StructField("max_width", IntegerType()),
        StructField("max_height", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _mp4_row(blob):
    meta = probe_mp4(bytes(blob))
    return invalid_row(MP4_META_SCHEMA) if meta is None else (*meta, 1)


def probe_mp4_df(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Header-only MP4 metadata: box walk, no codec work, no mdat
    reads."""
    return map_blobs(df, id_col, blob_col, _mp4_row, MP4_META_SCHEMA)
