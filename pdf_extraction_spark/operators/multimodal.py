"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

The reference (`ajmal624/Pdf_extraction`) renders PDF pages to images and
OCRs them (pdfextraction.py:72-73, via poppler + tesseract subprocesses).
Neither library exists in this environment and shelling out is forbidden,
so the decoders here are from-scratch: BMP/WAV/PNG/GIF below (JPEG, TIFF
and ICO live in their own modules), each behind the shared ``map_blobs``
shape with per-row containment (a malformed blob yields ``is_valid=0``).

At 100 TB scale the blobs live in their own parquet files; every operator
below selects only the columns it needs so Catalyst prunes the fat binary
column out of scans that read metadata alone.
"""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pdf_extraction_spark.operators.balance import map_documents
from pdf_extraction_spark.pdf_parse import _paeth, _png_unfilter

BLOB_SCHEMA = "media_id long, blob binary"


def synth_blobs(df: DataFrame, id_col: str, make) -> DataFrame:
    """(media_id, blob) with ``make(media_id)`` per id: the shape of
    every Python-side ``synth_*`` generator."""
    src = df.select(F.col(id_col).cast("long").alias("media_id"))
    return map_documents(src, lambda m: (m, make(m)), BLOB_SCHEMA)


def map_blobs(df: DataFrame, id_col: str, blob_col: str, fn, schema) -> DataFrame:
    """(media_id, *fn(blob)) under ``schema``: the shape of every
    decoder and probe.  The id is cast to long and carried through;
    ``fn`` sees the blob alone and returns the remaining fields."""
    src = df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(blob_col).alias("blob")
    )
    return map_documents(src, fn, schema, passthrough=("media_id",))


def invalid_row(schema: StructType) -> tuple:
    """A decoder's contained failure row: null stats, ``is_valid=0``."""
    return (None,) * (len(schema.fields) - 2) + (0,)


def channel_sums(rows, nch: int) -> list[int]:
    """Per-channel sums over rows of ``nch``-interleaved samples."""
    sums = [0] * nch
    for row in rows:
        for c in range(nch):
            sums[c] += sum(row[c::nch])
    return sums


# ---------------------------------------------------------------------------
# REAL pixel decode: BMP (uncompressed 24-bit) — no image library needed.
# BMP's layout (little-endian headers, 4-byte row stride, bottom-up row order,
# BGR channel order) is fully specified.
# ---------------------------------------------------------------------------

def _u32le_hex(v: Column) -> Column:
    """Hex of a uint32 in little-endian byte order (JVM expressions)."""
    b = [F.format_string("%02x", (v.bitwiseAND(F.lit(255 << (8 * i))) / F.lit(1 << (8 * i))).cast("int")) for i in range(4)]
    return F.concat(*b)


def synth_bmp(id_col: Column) -> Column:
    """A REAL, spec-conformant 24-bit BMP built from an integer id with
    pure JVM expressions: width = 4 + id%5, height = 4 + id%4, stored
    row j's pixel bytes = md5(id:j:a)||md5(id:j:b) truncated to 3*w
    bytes, zero-padded to the 4-byte stride.  (BMP stores rows
    bottom-up, so stored row j is IMAGE row h-1-j — the decoder must
    flip; the DuckDB oracle accounts for it analytically.)"""
    sid = id_col.cast("string")
    w = (id_col % 5 + 4).cast("int")
    h = (id_col % 4 + 4).cast("int")
    row_bytes = w * 3
    pad = (F.lit(4) - row_bytes % 4) % 4
    stride = row_bytes + pad
    image_size = (stride * h).cast("int")
    file_size = (image_size + 54).cast("int")
    file_header = F.concat(
        F.lit("424d"),                      # 'BM'
        _u32le_hex(file_size),
        F.lit("00000000"),
        F.lit("36000000"),                  # pixel offset 54
    )
    info_header = F.concat(
        F.lit("28000000"),                  # header size 40
        _u32le_hex(w.cast("int")),
        _u32le_hex(h.cast("int")),          # positive -> bottom-up
        F.lit("0100"),                      # planes
        F.lit("1800"),                      # 24 bpp
        F.lit("00000000"),                  # BI_RGB
        _u32le_hex(image_size),
        F.lit("00000000" * 4),
    )
    row_hex = lambda j: F.concat(
        F.substring(
            F.concat(
                F.md5(F.concat(sid, F.lit(":"), j.cast("string"), F.lit(":a"))),
                F.md5(F.concat(sid, F.lit(":"), j.cast("string"), F.lit(":b"))),
            ),
            1,
            row_bytes * 2,
        ),
        F.substring(F.lit("000000"), 1, pad * 2),
    )
    pixels = F.array_join(
        F.transform(F.sequence(F.lit(0), h - 1), row_hex), ""
    )
    return F.unhex(F.concat(file_header, info_header, pixels))


BMP_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_b_milli", LongType()),
        StructField("mean_g_milli", LongType()),
        StructField("mean_r_milli", LongType()),
        StructField("tl_b", IntegerType()),
        StructField("tl_g", IntegerType()),
        StructField("tl_r", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def parse_bmp(raw: bytes):
    """Parse an uncompressed 24-bit BMP; returns (w, h, rows) with
    rows[y] = image row y's BGR bytes (top-to-bottom), or None if the
    blob is not a decodable 24-bit BI_RGB BMP.  Handles both bottom-up
    (positive height) and top-down (negative height) layouts and the
    4-byte row stride."""
    if len(raw) < 54 or raw[:2] != b"BM":
        return None
    off = int.from_bytes(raw[10:14], "little")
    w = int.from_bytes(raw[18:22], "little", signed=True)
    h = int.from_bytes(raw[22:26], "little", signed=True)
    bpp = int.from_bytes(raw[28:30], "little")
    compression = int.from_bytes(raw[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down, height = h < 0, abs(h)
    stride = (3 * w + 3) // 4 * 4
    px = raw[off : off + stride * height]
    if len(px) < stride * height:
        return None
    rows = [px[j * stride : j * stride + 3 * w] for j in range(height)]
    if not top_down:
        rows = rows[::-1]
    return w, height, rows


def _bmp_row(blob):
    parsed = parse_bmp(bytes(blob))
    if parsed is None:
        return invalid_row(BMP_DECODE_SCHEMA)
    w, h, rows = parsed
    n = w * h
    means = [s * 1000 // n for s in channel_sums(rows, 3)]
    return (w, h, *means, *rows[0][:3], 1)


def decode_bmp(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL pixel decode for 24-bit BMP blobs: per-channel means (BGR)
    and the top-left pixel — the top-left value proves the decoder
    honors BMP's bottom-up row storage."""
    return map_blobs(df, id_col, blob_col, _bmp_row, BMP_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio decode: WAV (RIFF, 16-bit PCM) — uncompressed, fully
# specified, no audio library needed.  Chunk-walking parser (handles
# extra chunks before "data"), little-endian signed samples.
# ---------------------------------------------------------------------------

def synth_wav(id_col: Column) -> Column:
    """A real 16-bit PCM mono WAV from an integer id, pure JVM
    expressions: n_samples = 16 + id%17, sample bytes from
    md5(id:w:0), md5(id:w:1), ... (8 samples per md5)."""
    sid = id_col.cast("string")
    n = (id_col % 17 + 16).cast("int")
    data_bytes = n * 2
    n_md5 = (n + 7) / 8  # int division on longs
    sample_hex = F.substring(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), (n_md5 - 1).cast("int")),
                lambda w: F.md5(F.concat(sid, F.lit(":w"), w.cast("string"))),
            ),
            "",
        ),
        1,
        data_bytes * 2,
    )
    riff_size = (36 + data_bytes).cast("int")
    header = F.concat(
        F.lit("52494646"),            # 'RIFF'
        _u32le_hex(riff_size),
        F.lit("57415645"),            # 'WAVE'
        F.lit("666d7420"),            # 'fmt '
        F.lit("10000000"),            # fmt chunk size 16
        F.lit("0100"),                # PCM
        F.lit("0100"),                # mono
        _u32le_hex(F.lit(8000).cast("int")),
        _u32le_hex(F.lit(16000).cast("int")),   # byte rate
        F.lit("0200"),                # block align
        F.lit("1000"),                # 16 bits
        F.lit("64617461"),            # 'data'
        _u32le_hex(data_bytes.cast("int")),
    )
    return F.unhex(F.concat(header, sample_hex))


WAV_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("mean_abs_milli", LongType()),
        StructField("max_abs", IntegerType()),
        StructField("first_sample", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def parse_wav(raw: bytes):
    """Parse a RIFF/WAVE 16-bit PCM blob by walking chunks; returns
    (sample_rate, samples list) or None."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos, rate, bits, data = 12, None, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        size = int.from_bytes(raw[pos + 4 : pos + 8], "little")
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = int.from_bytes(body[0:2], "little")
            if fmt != 1:
                return None
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or bits != 16 or data is None:
        return None
    samples = [
        int.from_bytes(data[i : i + 2], "little", signed=True)
        for i in range(0, len(data) - 1, 2)
    ]
    return rate, samples


def _wav_row(blob):
    parsed = parse_wav(bytes(blob))
    if not parsed or not parsed[1]:
        return invalid_row(WAV_DECODE_SCHEMA)
    rate, samples = parsed
    abs_s = [abs(s) for s in samples]
    return rate, len(samples), sum(abs_s) * 1000 // len(samples), max(abs_s), samples[0], 1


def decode_wav(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL audio decode for 16-bit PCM WAV blobs: amplitude stats over
    little-endian signed samples."""
    return map_blobs(df, id_col, blob_col, _wav_row, WAV_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL pixel decode: PNG (8-bit RGB / RGBA) — stdlib zlib inflates IDAT,
# so unlike JPEG this compressed format needs NO image library.  The
# decoder is a genuine from-scratch PNG reader: signature check, chunk
# walk with CRC32 verification (skipping ancillary chunks), multi-IDAT
# reassembly into one zlib stream, and per-scanline unfilter for all
# five filter types (None/Sub/Up/Average/Paeth).  The matching
# synthesizer emits spec-conformant PNGs whose scanlines cycle through
# all five filters, so a wrong unfilter inverse cannot cancel out.
# Reference analogue: the pixel side of pdfextraction.py:72-73
# (convert_from_bytes -> PIL images), minus the poppler render.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def md5_row_bytes(media_id: int, tag: str, j: int, n: int) -> bytes:
    """Row j's raw bytes for a synthetic image: md5(id:{tag}{j}:a) ||
    md5(id:{tag}{j}:b) truncated to n bytes — ONE implementation of the
    formula every codec synthesizer and its DuckDB oracle share (tags:
    'p' PNG, 'i' ICO, 't' TIFF)."""
    a = hashlib.md5(f"{media_id}:{tag}{j}:a".encode()).digest()
    b = hashlib.md5(f"{media_id}:{tag}{j}:b".encode()).digest()
    return (a + b)[:n]


def _png_row_bytes(media_id: int, j: int, n: int) -> bytes:
    return md5_row_bytes(media_id, "p", j, n)


def _png_filter_row(row: bytes, prev: bytes, ft: int, bpp: int) -> bytes:
    """Apply one PNG scanline filter; returns filter byte + filtered
    bytes (the exact inverse of _png_unfilter's per-row step)."""
    out = bytearray([ft])
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 0:
            f = x
        elif ft == 1:
            f = (x - a) & 0xFF
        elif ft == 2:
            f = (x - b) & 0xFF
        elif ft == 3:
            f = (x - (a + b) // 2) & 0xFF
        else:
            f = (x - _paeth(a, b, c)) & 0xFF
        out.append(f)
    return bytes(out)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def synth_png_bytes(media_id: int) -> bytes:
    """A spec-conformant 8-bit PNG from an integer id: w = id%5+4,
    h = id%4+4, RGB for even ids / RGBA for odd (colour types 2/6).
    Scanline j uses filter type j%5 — every filter appears in every
    image with h >= 5.  The single zlib stream is split across two IDAT
    chunks and an ancillary tEXt chunk sits before them, so the decoder
    must reassemble IDATs and skip non-critical chunks.  Pixel bytes
    come from the md5 formula in _png_row_bytes (analytically mirrored
    by the driver oracle)."""
    w = media_id % 5 + 4
    h = media_id % 4 + 4
    ch = 3 + media_id % 2
    raw_rows = [_png_row_bytes(media_id, j, w * ch) for j in range(h)]
    filtered = bytearray()
    prev = bytes(w * ch)
    for j, row in enumerate(raw_rows):
        filtered += _png_filter_row(row, prev, j % 5, ch)
        prev = row
    comp = zlib.compress(bytes(filtered), 9)
    half = len(comp) // 2
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2 if ch == 3 else 6, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00synthetic")
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


def synth_png_interlaced_bytes(media_id: int) -> bytes:
    """The same md5-formula pixels as synth_png_bytes, packed as an
    Adam7-interlaced PNG (interlace method 1): each non-empty pass is
    filtered as an independent sub-image with the filter type cycling
    over (pass + row) % 5, and the 4..8-pixel dims guarantee EMPTY
    passes occur (e.g. w=4 leaves pass 2 with zero columns), which the
    spec says contribute no bytes at all.  Decoded pixels are identical
    to the sequential blob's, so the driver oracle applies verbatim."""
    w = media_id % 5 + 4
    h = media_id % 4 + 4
    ch = 3 + media_id % 2
    full = [_png_row_bytes(media_id, j, w * ch) for j in range(h)]
    filtered = bytearray()
    for pidx, (x0, y0, dx, dy) in enumerate(_ADAM7):
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * ch)
        for pj in range(ph):
            y = y0 + pj * dy
            row = b"".join(
                full[y][(x0 + pi * dx) * ch : (x0 + pi * dx + 1) * ch]
                for pi in range(pw)
            )
            filtered += _png_filter_row(row, prev, (pidx + pj) % 5, ch)
            prev = row
    comp = zlib.compress(bytes(filtered), 9)
    half = len(comp) // 2
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2 if ch == 3 else 6, 0, 0, 1])  # interlace = Adam7
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00synthetic-adam7")
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec 8.2)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def parse_png(raw: bytes):
    """Parse an 8-bit colour-type-2/6 PNG; returns (w, h, channels, rows)
    with rows[j] = scanline j's raw (unfiltered) bytes, or None if the
    blob is not a decodable PNG of that shape.  Verifies every chunk's
    CRC32, concatenates all IDAT chunks into one zlib stream, and
    inverts all five scanline filters.  Interlace method 1 (Adam7) is
    supported: each of the seven passes unfilters as an independent
    sub-image and scatters onto the output grid."""
    if len(raw) < 8 or raw[:8] != _PNG_SIG:
        return None
    pos, n = 8, len(raw)
    w = h = ch = None
    interlace = 0
    idat = bytearray()
    while pos + 12 <= n:
        length = int.from_bytes(raw[pos : pos + 4], "big")
        ctype = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + length]
        if len(body) < length:
            return None
        crc = int.from_bytes(raw[pos + 8 + length : pos + 12 + length], "big")
        if (zlib.crc32(ctype + body) & 0xFFFFFFFF) != crc:
            return None
        if ctype == b"IHDR":
            if length != 13:
                return None
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, colour, comp_m, filt_m, interlace = body[8:13]
            if depth != 8 or colour not in (2, 6) or comp_m or filt_m or interlace > 1:
                return None
            ch = 3 if colour == 2 else 4
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        # any other chunk (ancillary or unknown): skip
        pos += 12 + length
    if not w or not h or not ch or not idat:
        return None
    try:
        data = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * ch
    bpp = ch
    if not interlace:
        if len(data) != h * (stride + 1):
            return None
        try:
            return w, h, ch, _png_unfilter(data, 0, h, stride, bpp)
        except ValueError:  # an unknown filter type
            return None
    # Adam7: unfilter each pass, scatter into the full-size grid
    grid = [bytearray(stride) for _ in range(h)]
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty pass contributes no bytes at all
        pstride = pw * ch
        need = ph * (pstride + 1)
        if off + need > len(data):
            return None
        try:
            prows = _png_unfilter(data, off, ph, pstride, bpp)
        except ValueError:
            return None
        off += need
        for pj, prow in enumerate(prows):
            y = y0 + pj * dy
            for pi in range(pw):
                x = x0 + pi * dx
                grid[y][x * ch : (x + 1) * ch] = prow[pi * ch : (pi + 1) * ch]
    if off != len(data):
        return None
    return w, h, ch, [bytes(r) for r in grid]


PNG_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_r_milli", LongType()),
        StructField("mean_g_milli", LongType()),
        StructField("mean_b_milli", LongType()),
        StructField("mean_a_milli", LongType()),
        StructField("tl_r", IntegerType()),
        StructField("tl_g", IntegerType()),
        StructField("tl_b", IntegerType()),
        StructField("tl_a", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _png_row(blob):
    parsed = parse_png(bytes(blob))
    if parsed is None:
        return invalid_row(PNG_DECODE_SCHEMA)
    w, h, ch, rows = parsed
    n = w * h
    sums = channel_sums(rows, ch)
    tl = rows[0]
    alpha = ch == 4
    return (
        w, h, ch,
        sums[0] * 1000 // n, sums[1] * 1000 // n, sums[2] * 1000 // n,
        sums[3] * 1000 // n if alpha else None,
        tl[0], tl[1], tl[2], tl[3] if alpha else None,
        1,
    )


def decode_png(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL pixel decode for 8-bit RGB/RGBA PNG blobs: chunk walk + CRC
    check + zlib inflate + unfilter, then per-channel means and the
    top-left pixel (PNG rows are top-down — the opposite of BMP, which
    the tl_* columns pin)."""
    return map_blobs(df, id_col, blob_col, _png_row, PNG_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL pixel decode: GIF (87a/89a) — a from-scratch LZW codec, so this
# compressed format also needs no image library.  The decoder walks the
# logical screen descriptor, global/local colour tables, extension
# blocks (skipped by sub-block length, as the spec requires), and the
# image's LZW-packed index stream (little-endian bit order, clear/EOI
# codes, code-width growth to 12 bits), then maps indices through the
# palette.  The synthesizer emits spec-conformant GIF89a bytes with an
# 8-colour palette (3-bit min code size, so ~70-pixel images exercise
# several code-width bumps), a comment extension the parser must skip,
# and 16-byte data sub-blocks so multi-block reassembly is always hit.
# Reference analogue: the PIL image side of pdfextraction.py:72-73.
# ---------------------------------------------------------------------------


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavour LZW: emits CLEAR first, grows the code width when the
    next free slot reaches 2^width (insert-then-check), emits CLEAR and
    resets when the table hits 4096 — the classic compress/GIFCOMPR
    behaviour real writers produce."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    table: dict[bytes, int] = {}
    free = 0
    width = 0

    def emit(code: int) -> None:
        # write at the current width, THEN bump once the free counter
        # fills the code space — the compress/GIFCOMPR structure
        # (check-after-every-output, including the flush and EOI), which
        # is what keeps the decoder's lagged insertions synchronized;
        # verified byte-exact against the canonical 10x10 sample stream
        # in tests/test_multimodal.py
        nonlocal acc, nbits, width
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if free >= (1 << width) and width < 12:
            width += 1

    def reset() -> None:
        nonlocal table, free, width
        table = {bytes([i]): i for i in range(clear)}
        free = eoi + 1
        width = min_code_size + 1

    reset()
    emit(clear)
    cur = b""
    for c in indices:
        nxt = cur + bytes([c])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if free < 4096:
            table[nxt] = free
            free += 1
        else:
            emit(clear)
            reset()
        cur = bytes([c])
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytes | None:
    """Inverse of :func:`_lzw_encode`, synchronized with real encoders:
    after inserting an entry the width bumps once the table FILLS the
    current code space (len == 2^width) — the decoder's insertion lags
    the encoder's by one code, which exactly offsets the encoder's
    bump-at-2^w+1, so both read/write code n with the same width
    (verified against the canonical 10x10 GIF sample stream and the
    1x1 tracking-pixel bytes in tests).  Handles the c-S-c special case
    (code == next free slot) and deferred clears (table capped at 4096,
    width capped at 12); returns None on a malformed stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos_bits = 0
    total_bits = len(data) * 8
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while pos_bits + width <= total_bits:
        byte0 = pos_bits // 8
        code = (
            int.from_bytes(data[byte0 : byte0 + 3], "little") >> (pos_bits % 8)
        ) & ((1 << width) - 1)
        pos_bits += width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if len(out) > max_pixels:
            return None
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return None  # no EOI before the data ran out


def _gif_palette(media_id: int) -> list[tuple[int, int, int]]:
    """The synthetic 8-colour palette — analytic, so the DuckDB oracle
    recomputes it without parsing GIF."""
    return [
        ((i * 37 + media_id) % 256, (i * 59 + 3 * media_id) % 256,
         (i * 83 + 7 * media_id) % 256)
        for i in range(8)
    ]


def _gif_indices(media_id: int, n: int) -> bytes:
    """Pixel index stream: md5(id:g{t}) digests concatenated, each byte
    % 8 — the same formula the oracle states in SQL."""
    need = (n + 15) // 16
    raw = b"".join(
        hashlib.md5(f"{media_id}:g{t}".encode()).digest() for t in range(need)
    )
    return bytes(b % 8 for b in raw[:n])


def synth_gif_bytes(media_id: int) -> bytes:
    """A spec-conformant GIF89a from an integer id: w = id%6+4,
    h = id%5+4, one image, 8-colour global table (min LZW code size 3,
    so the ~16-70 pixel streams bump the code width at least once), a
    comment extension before the image, and 16-byte data sub-blocks."""
    w = media_id % 6 + 4
    h = media_id % 5 + 4
    pal = _gif_palette(media_id)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF2, 0, 0])  # global table, 8 entries, 3 bits/colour
    for r, g, b in pal:
        out += bytes([r, g, b])
    out += b"\x21\xfe\x09synthetic\x00"  # comment extension, then terminator
    out += b"\x2c" + bytes(4) + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += b"\x00"  # no local table, no interlace
    out += bytes([3])  # LZW minimum code size
    lzw = _lzw_encode(_gif_indices(media_id, w * h), 3)
    for i in range(0, len(lzw), 16):
        chunk = lzw[i : i + 16]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _gif_frame_indices(media_id: int, f: int, n: int) -> bytes:
    """Frame f's pixel indices: md5(id:f{f}:{t}) digests, byte % 8 —
    analytically mirrored by the animated entry's oracle."""
    need = (n + 15) // 16
    raw = b"".join(
        hashlib.md5(f"{media_id}:f{f}:{t}".encode()).digest() for t in range(need)
    )
    return bytes(b % 8 for b in raw[:n])


def synth_gif_animated_bytes(media_id: int) -> bytes:
    """A spec-conformant ANIMATED GIF89a: n = id%3+2 full-screen frames,
    each preceded by a Graphic Control Extension carrying delay
    (id+f)%100 cs and disposal 'leave in place', plus the NETSCAPE2.0
    looping application extension real animated GIFs carry (an
    application extension the parser must skip by sub-block walking).
    Frame pixels come from the md5 formula in _gif_frame_indices and
    the same affine palette as the single-frame entry."""
    w = media_id % 6 + 4
    h = media_id % 5 + 4
    nframes = media_id % 3 + 2
    pal = _gif_palette(media_id)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF2, 0, 0])
    for r, g, b in pal:
        out += bytes([r, g, b])
    # NETSCAPE looping extension: app extension, 11-byte id, 3-byte data
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(nframes):
        delay = (media_id + f) % 100
        out += b"\x21\xf9\x04" + bytes([0x04]) + delay.to_bytes(2, "little")
        out += b"\x00\x00"  # no transparency; then block terminator
        out += b"\x2c" + bytes(4) + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += b"\x00" + bytes([3])
        lzw = _lzw_encode(_gif_frame_indices(media_id, f, w * h), 3)
        for i in range(0, len(lzw), 16):
            chunk = lzw[i : i + 16]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _gif_read_image(raw: bytes, pos: int, palette, sw: int, sh: int):
    """Read one image block (descriptor byte 0x2C already consumed):
    returns (left, top, w, h, indices, palette, new_pos) or None."""
    if pos + 9 > len(raw):
        return None
    left = int.from_bytes(raw[pos : pos + 2], "little")
    top = int.from_bytes(raw[pos + 2 : pos + 4], "little")
    w = int.from_bytes(raw[pos + 4 : pos + 6], "little")
    h = int.from_bytes(raw[pos + 6 : pos + 8], "little")
    iflags = raw[pos + 8]
    pos += 9
    if iflags & 0x40:  # interlaced: outside the supported subset
        return None
    pal = palette
    if iflags & 0x80:
        n = 2 << (iflags & 0x07)
        chunk = raw[pos : pos + 3 * n]
        if len(chunk) < 3 * n:
            return None
        pal = [tuple(chunk[i * 3 : i * 3 + 3]) for i in range(n)]
        pos += 3 * n
    if (
        pal is None
        or pos >= len(raw)
        or not (1 <= w and 1 <= h and left + w <= sw and top + h <= sh)
    ):
        return None
    mcs = raw[pos]
    pos += 1
    if not 2 <= mcs <= 8:
        return None
    lzw = bytearray()
    while pos < len(raw) and raw[pos]:
        ln = raw[pos]
        block = raw[pos + 1 : pos + 1 + ln]
        if len(block) < ln:
            return None
        lzw += block
        pos += 1 + ln
    pos += 1  # block terminator
    indices = _lzw_decode(bytes(lzw), mcs, w * h)
    if indices is None or len(indices) != w * h:
        return None
    if any(i >= len(pal) for i in indices):
        return None
    return left, top, w, h, indices, pal, pos


def parse_gif_frames(raw: bytes):
    """Parse ALL frames of an animated (or single-image) GIF87a/89a:
    returns (sw, sh, frames) with frames = list of composited
    (delay_cs, canvas) where canvas is the sw*sh row-major list of
    (r, g, b) tuples AFTER applying that frame onto the accumulated
    canvas.  Graphic Control Extensions supply per-frame delay,
    transparency index (transparent pixels leave the canvas untouched)
    and disposal: 0/1 leave, 2 restores the background colour over the
    frame rect, 3 (restore-previous) restores the pre-frame canvas.
    Returns None on any malformed block — containment over partial
    output."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = int.from_bytes(raw[6:8], "little")
    sh = int.from_bytes(raw[8:10], "little")
    flags = raw[10]
    bg_index = raw[11]
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        chunk = raw[pos : pos + 3 * n]
        if len(chunk) < 3 * n:
            return None
        palette = [tuple(chunk[i * 3 : i * 3 + 3]) for i in range(n)]
        pos += 3 * n
    bg_rgb = palette[bg_index] if palette and bg_index < len(palette) else (0, 0, 0)
    canvas = [bg_rgb] * (sw * sh)
    frames = []
    delay_cs = 0
    transparent = None
    disposal = 0
    while pos < len(raw):
        marker = raw[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            return (sw, sh, frames) if frames else None
        if marker == 0x21:  # extension
            if pos >= len(raw):
                return None
            label = raw[pos]
            pos += 1
            # GCE payload is 5 bytes (size, flags, delay lo/hi, transparent
            # index); bounds-check before reading — a truncated blob must
            # return None (containment), never raise
            if label == 0xF9 and pos + 5 <= len(raw) and raw[pos] == 4:
                gflags = raw[pos + 1]
                delay_cs = int.from_bytes(raw[pos + 2 : pos + 4], "little")
                transparent = raw[pos + 4] if gflags & 0x01 else None
                disposal = (gflags >> 2) & 0x07
            while pos < len(raw) and raw[pos]:
                pos += 1 + raw[pos]
            if pos >= len(raw):
                return None  # truncated inside the sub-block chain
            pos += 1
            continue
        if marker != 0x2C:
            return None
        img = _gif_read_image(raw, pos, palette, sw, sh)
        if img is None:
            return None
        left, top, w, h, indices, pal, pos = img
        # the pre-frame snapshot is only needed for disposal 3
        before = list(canvas) if disposal == 3 else None
        for j in range(h):
            base = (top + j) * sw + left
            for i in range(w):
                idx = indices[j * w + i]
                if transparent is not None and idx == transparent:
                    continue
                canvas[base + i] = pal[idx]
        frames.append((delay_cs, list(canvas)))
        if disposal == 2:  # restore background over the frame rect
            for j in range(h):
                base = (top + j) * sw + left
                for i in range(w):
                    canvas[base + i] = bg_rgb
        elif disposal == 3:  # restore previous canvas
            canvas = before
        delay_cs = 0
        transparent = None
        disposal = 0
    return None  # missing trailer


def parse_gif(raw: bytes):
    """Parse the first image of a GIF87a/89a; returns (w, h, pixels)
    with pixels = row-major (r, g, b) tuples after palette mapping, or
    None if the blob is not a decodable non-interlaced GIF.  Walks
    extension blocks by sub-block length, honours a local colour table
    when the image descriptor flags one, and LZW-decodes the index
    stream."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = int.from_bytes(raw[6:8], "little")
    sh = int.from_bytes(raw[8:10], "little")
    flags = raw[10]
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        chunk = raw[pos : pos + 3 * n]
        if len(chunk) < 3 * n:
            return None
        palette = [tuple(chunk[i * 3 : i * 3 + 3]) for i in range(n)]
        pos += 3 * n
    while pos < len(raw):
        marker = raw[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            return None
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(raw) and raw[pos]:
                pos += 1 + raw[pos]
            pos += 1
            continue
        if marker != 0x2C:  # not an image descriptor
            return None
        img = _gif_read_image(raw, pos, palette, sw, sh)
        if img is None:
            return None
        left, top, w, h, indices, pal, pos = img
        return w, h, [pal[i] for i in indices]
    return None


GIF_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r_milli", LongType()),
        StructField("mean_g_milli", LongType()),
        StructField("mean_b_milli", LongType()),
        StructField("tl_r", IntegerType()),
        StructField("tl_g", IntegerType()),
        StructField("tl_b", IntegerType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _gif_row(blob):
    parsed = parse_gif(bytes(blob))
    if parsed is None:
        return invalid_row(GIF_DECODE_SCHEMA)
    w, h, px = parsed
    n = w * h
    sums = [sum(p[c] for p in px) for c in range(3)]
    return (w, h, *(s * 1000 // n for s in sums), *px[0][:3], 1)


def decode_gif(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL pixel decode for GIF blobs: from-scratch LZW + palette
    mapping, then per-channel means and the top-left pixel."""
    return map_blobs(df, id_col, blob_col, _gif_row, GIF_DECODE_SCHEMA)


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_r_milli", LongType()),
        StructField("mean_g_milli", LongType()),
        StructField("mean_b_milli", LongType()),
        StructField("last_r", IntegerType()),
        StructField("last_g", IntegerType()),
        StructField("last_b", IntegerType()),
        StructField("total_delay_cs", LongType()),
        StructField("is_valid", IntegerType()),
    ]
)


def _gif_anim_row(blob):
    parsed = parse_gif_frames(bytes(blob))
    if parsed is None:
        return invalid_row(GIF_ANIM_SCHEMA)
    sw, sh, frames = parsed
    sums = [0, 0, 0]
    for _, canvas in frames:
        for r, g, b in canvas:
            sums[0] += r
            sums[1] += g
            sums[2] += b
    npx = sw * sh * len(frames)
    last = frames[-1][1][0]
    return (
        sw, sh, len(frames),
        *(s * 1000 // npx for s in sums),
        *last[:3],
        sum(delay_cs for delay_cs, _ in frames),
        1,
    )


def decode_gif_animated(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """Multi-frame GIF decode: every frame LZW-decoded and composited
    (GCE delay/transparency/disposal), then whole-animation stats —
    frame count, per-channel means across all composited frames, the
    final frame's top-left pixel, and the total animation delay."""
    return map_blobs(df, id_col, blob_col, _gif_anim_row, GIF_ANIM_SCHEMA)
