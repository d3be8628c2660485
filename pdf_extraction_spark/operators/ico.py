"""REAL pixel decode: ICO (favicon) containers.

A crawl's image column is full of favicons; .ico is a tiny directory
format whose entries are either PNG files (modern high-res favicons)
or headerless DIBs (BITMAPINFOHEADER with doubled height covering the
XOR pixel block and the legacy 1-bit AND mask).  The decoder walks the
directory and decodes BOTH kinds: PNG entries reuse
operators/multimodal.parse_png verbatim; DIB entries support the
ubiquitous 32-bit BGRA layout (bottom-up rows, AND mask parsed and
length-checked even though alpha supersedes it).

The synthesizer emits two-entry icons — one DIB whose RGBA pixels come
from an md5 row formula, one PNG reusing synth_png_bytes — so the
analytic oracle covers the directory walk, the DIB decode AND the
PNG-inside-ICO dispatch in a single value hash.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from pdf_extraction_spark.operators.multimodal import (
    _PNG_SIG,
    invalid_row,
    map_blobs,
    parse_png,
    synth_png_bytes,
)


def _ico_dib_dims(media_id: int) -> tuple[int, int]:
    return media_id % 5 + 4, media_id % 4 + 4


def _ico_row_bytes(media_id: int, j: int, n: int) -> bytes:
    """Top-down row j's RGBA bytes (the oracle's formula)."""
    from pdf_extraction_spark.operators.multimodal import md5_row_bytes

    return md5_row_bytes(media_id, "i", j, n)


def _build_dib_entry(media_id: int) -> bytes:
    """Headerless 32-bit BGRA DIB: BITMAPINFOHEADER with biHeight =
    2*h, XOR block bottom-up, then the 1-bpp AND mask (all transparent;
    rows padded to 32 bits)."""
    w, h = _ico_dib_dims(media_id)
    hdr = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 32, 0, 0, 0, 0, 0, 0)
    xor = bytearray()
    for j in range(h - 1, -1, -1):  # bottom-up
        rgba = _ico_row_bytes(media_id, j, w * 4)
        for x in range(w):
            r, g, b, a = rgba[4 * x : 4 * x + 4]
            xor += bytes([b, g, r, a])  # BGRA on disk
    mask_stride = (w + 31) // 32 * 4
    mask = bytes(mask_stride * h)
    return bytes(hdr) + bytes(xor) + mask


def synth_ico_bytes(media_id: int) -> bytes:
    """A two-entry .ico: entry 0 is the md5-formula 32-bit DIB, entry 1
    a complete PNG file (synth_png_bytes — its own md5 formula)."""
    dib = _build_dib_entry(media_id)
    png = synth_png_bytes(media_id)
    w, h = _ico_dib_dims(media_id)
    png_w = media_id % 5 + 4
    png_h = media_id % 4 + 4
    out = bytearray(struct.pack("<HHH", 0, 1, 2))
    offset = 6 + 16 * 2
    for ew, eh, bpp, data in ((w, h, 32, dib), (png_w, png_h, 32, png)):
        out += struct.pack(
            "<BBBBHHII", ew % 256, eh % 256, 0, 0, 1, bpp, len(data), offset
        )
        offset += len(data)
    out += dib
    out += png
    return bytes(out)


def parse_ico(raw: bytes):
    """Decode every entry of an .ico; returns a list of (w, h, pixels)
    with pixels = row-major top-down (r, g, b, a) tuples, or None if
    the container or any entry is malformed."""
    if len(raw) < 6:
        return None
    reserved, rtype, count = struct.unpack("<HHH", raw[:6])
    if reserved != 0 or rtype != 1 or count == 0:
        return None
    images = []
    for e in range(count):
        at = 6 + 16 * e
        if at + 16 > len(raw):
            return None
        _w, _h, _colors, _res, _planes, _bpp, size, off = struct.unpack(
            "<BBBBHHII", raw[at : at + 16]
        )
        if off + size > len(raw):
            return None
        data = raw[off : off + size]
        if data[:8] == _PNG_SIG:
            parsed = parse_png(data)
            if parsed is None:
                return None
            w, h, ch, rows = parsed
            px = []
            for row in rows:
                for x in range(w):
                    chunk = row[ch * x : ch * x + ch]
                    px.append(
                        (chunk[0], chunk[1], chunk[2], chunk[3] if ch == 4 else 255)
                    )
            images.append((w, h, px))
            continue
        # headerless DIB
        if len(data) < 40:
            return None
        (
            bisize, w, h2, planes, bpp, comp, _sz, _xp, _yp, _cu, _ci
        ) = struct.unpack("<IiiHHIIiiII", data[:40])
        if bisize != 40 or comp != 0 or bpp != 32 or h2 <= 0 or h2 % 2 or w <= 0:
            return None
        h = h2 // 2
        xor_size = w * 4 * h
        mask_stride = (w + 31) // 32 * 4
        if 40 + xor_size + mask_stride * h > len(data):
            return None
        px = [None] * (w * h)
        for jj in range(h):  # stored bottom-up
            rowoff = 40 + jj * w * 4
            y = h - 1 - jj
            for x in range(w):
                b, g, r, a = data[rowoff + 4 * x : rowoff + 4 * x + 4]
                px[y * w + x] = (r, g, b, a)
        images.append((w, h, px))
    return images


ICO_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_images", IntegerType()),
        StructField("dib_width", IntegerType()),
        StructField("dib_height", IntegerType()),
        StructField("mean_r_milli", LongType()),
        StructField("mean_g_milli", LongType()),
        StructField("mean_b_milli", LongType()),
        StructField("mean_a_milli", LongType()),
        StructField("png_width", IntegerType()),
        StructField("png_height", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _ico_row(blob):
    parsed = parse_ico(bytes(blob))
    if not parsed:
        return invalid_row(ICO_DECODE_SCHEMA)
    w, h, px = parsed[0]  # the DIB entry
    n = w * h
    png = parsed[1] if len(parsed) > 1 else (None, None)
    return (
        len(parsed), w, h,
        *(sum(p[c] for p in px) * 1000 // n for c in range(4)),
        png[0], png[1],
        1,
    )


def decode_ico(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL favicon decode: directory walk plus per-entry DIB or
    PNG-in-ICO decode."""
    return map_blobs(df, id_col, blob_col, _ico_row, ICO_DECODE_SCHEMA)
