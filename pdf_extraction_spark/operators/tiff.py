"""REAL pixel decode: TIFF 6.0 baseline RGB — the classic scanned-
document container (the reference's OCR path exists to read scans;
TIFF is what scanners emit).

From-scratch, no image library: header + IFD walk in BOTH byte orders
(II little / MM big — the same TIFF structure the Exif probe in
operators/jpeg.py walks), strip assembly via StripOffsets/
StripByteCounts/RowsPerStrip, and the baseline compressions:

  * 1     = uncompressed
  * 32773 = PackBits (run-length; 0x80 is a noop, unlike PDF
            RunLengthDecode where it is EOD)
  * 5     = LZW — TIFF-LZW is byte-for-byte the PDF ``LZWDecode``
    filter (MSB-first codes, clear 256 / EOI 257, early code-width
    change), so the decoder REUSES pdf_parse._pdf_lzw_decode; with
    the horizontal-differencing Predictor 2 real writers pair it with.

The synthesizer emits spec-shaped files (8-bit RGB, chunky, strips of
2 rows so multi-strip assembly and a partial last strip always occur;
endianness, compression and predictor vary by id) whose pixels come
from an md5 row formula the DuckDB oracle replays analytically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from pdf_extraction_spark.operators.ccitt import (
    g3_decode,
    g3_encode,
    g4_decode,
    g4_encode,
    mh_decode,
    mh_encode,
)
from pdf_extraction_spark.operators.multimodal import channel_sums, invalid_row, map_blobs
from pdf_extraction_spark.pdf_parse import _pdf_lzw_decode, _pdf_lzw_encode

# the IFD tags baseline RGB needs

_T_WIDTH, _T_HEIGHT, _T_BPS, _T_COMPRESSION = 256, 257, 258, 259
_T_PHOTOMETRIC, _T_STRIP_OFFSETS, _T_SPP = 262, 273, 277
_T_ROWS_PER_STRIP, _T_STRIP_COUNTS, _T_PREDICTOR = 278, 279, 317
_T_T4OPTIONS = 292  # bit 0: the strip's G3 lines use the 2-D scheme


def packbits_decode(data: bytes, expect: int) -> bytes | None:
    """Apple PackBits: n in 0..127 -> n+1 literal bytes; n in 129..255
    -> the next byte repeated 257-n times; 128 -> noop."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c == 128:
            continue
        if c < 128:
            if i + c + 1 > n:
                return None
            out += data[i : i + c + 1]
            i += c + 1
        else:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
    return bytes(out) if len(out) == expect else None


def packbits_encode(data: bytes) -> bytes:
    """A valid (not maximally tight) PackBits encoding: runs of >= 3
    as repeats, everything else as literal chunks of <= 128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i
        lit = bytearray()
        while j < n and len(lit) < 128:
            run = 1
            while j + run < n and run < 3 and data[j + run] == data[j]:
                run += 1
            if run >= 3:
                break
            lit.append(data[j])
            j += 1
        out += bytes([len(lit) - 1]) + lit
        i = j
    return bytes(out)


def _undiff_rgb(row: bytearray) -> None:
    """Invert TIFF Predictor 2 (horizontal differencing) in place for
    one chunky 8-bit RGB row."""
    for i in range(3, len(row)):
        row[i] = (row[i] + row[i - 3]) & 0xFF


def _diff_rgb(row: bytes) -> bytes:
    out = bytearray(row)
    for i in range(len(row) - 1, 2, -1):
        out[i] = (row[i] - row[i - 3]) & 0xFF
    return bytes(out)


def parse_tiff(raw: bytes):
    """Decode a baseline chunky 8-bit RGB TIFF; returns (w, h, rows)
    with rows[j] the raw RGB bytes of scanline j, or None.  Handles II
    and MM byte orders, inline and offset tag values, multi-strip
    images, PackBits, and LZW with optional Predictor 2."""
    if len(raw) < 8:
        return None
    if raw[:2] == b"II":
        bo = "little"
    elif raw[:2] == b"MM":
        bo = "big"
    else:
        return None

    def u(off, n):
        return int.from_bytes(raw[off : off + n], bo)

    if u(2, 2) != 42:
        return None
    ifd = u(4, 4)
    if ifd + 2 > len(raw):
        return None
    count = u(ifd, 2)
    if ifd + 2 + count * 12 > len(raw):
        return None
    _SIZES = {1: 1, 2: 1, 3: 2, 4: 4}
    tags: dict[int, list[int]] = {}
    for e in range(count):
        off = ifd + 2 + e * 12
        tag, typ, cnt = u(off, 2), u(off + 2, 2), u(off + 4, 4)
        if typ not in _SIZES or cnt == 0:
            continue
        size = _SIZES[typ] * cnt
        voff = off + 8 if size <= 4 else u(off + 8, 4)
        if voff + size > len(raw):
            return None
        step = _SIZES[typ]
        tags[tag] = [u(voff + k * step, step) for k in range(cnt)]

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w = one(_T_WIDTH)
    h = one(_T_HEIGHT)
    comp = one(_T_COMPRESSION, 1)
    spp = one(_T_SPP, 1)
    bps = tags.get(_T_BPS, [1])
    predictor = one(_T_PREDICTOR, 1)
    offsets = tags.get(_T_STRIP_OFFSETS)
    counts = tags.get(_T_STRIP_COUNTS)
    rps = one(_T_ROWS_PER_STRIP, h or 0)
    if (
        not w
        or not h
        or offsets is None
        or counts is None
        or len(offsets) != len(counts)
        or not rps
    ):
        return None
    if (comp in (2, 3, 4)) or (comp == 1 and bps == [1]):
        # Bilevel — what real scanners emit: Group 4 (T.6, comp 4),
        # Group 3 (T.4 EOL-framed, comp 3, 1-D or 2-D per T4Options
        # bit 0), Modified Huffman (bare T.4 1-D, comp 2), or raw packed
        # bits (comp 1, MSB-first, rows padded to byte boundaries).  Fax
        # sense only (PhotometricInterpretation 0 = WhiteIsZero); each
        # compressed strip is an independent coding block per TIFF 6.0.
        if spp != 1 or bps != [1] or one(_T_PHOTOMETRIC, 0) != 0 or predictor != 1:
            return None
        t4_2d = bool(one(_T_T4OPTIONS, 0) & 1)
        rows = []
        for s, (soff, scnt) in enumerate(zip(offsets, counts)):
            if soff + scnt > len(raw):
                return None
            nrows = min(rps, h - s * rps)
            if nrows <= 0:
                return None
            try:
                chunk = raw[soff : soff + scnt]
                if comp == 4:
                    bilevel = g4_decode(chunk, w, nrows)
                elif comp == 3:
                    bilevel = g3_decode(chunk, w, nrows, two_d=t4_2d)
                elif comp == 2:
                    bilevel = mh_decode(chunk, w, nrows)
                else:  # raw packed bits
                    stride_b = (w + 7) // 8
                    if len(chunk) < nrows * stride_b:
                        return None
                    bilevel = [
                        bytes(
                            (chunk[j * stride_b + (i >> 3)] >> (7 - (i & 7))) & 1
                            for i in range(w)
                        )
                        for j in range(nrows)
                    ]
            except ValueError:
                return None
            if len(bilevel) != nrows:
                return None
            for brow in bilevel:
                # ink (1) -> 0,0,0; paper (0) -> 255,255,255 so the G4 path
                # feeds the same RGB stats contract as every other branch
                rows.append(bytes(v for px in brow for v in ((0,) * 3 if px else (255,) * 3)))
        if len(rows) != h:
            return None
        return w, h, rows
    if (
        spp != 3
        or any(b != 8 for b in bps)
        or len(bps) != 3
        or comp not in (1, 5, 32773)
        or predictor not in (1, 2)
    ):
        return None
    stride = w * 3
    rows: list[bytes] = []
    for s, (soff, scnt) in enumerate(zip(offsets, counts)):
        if soff + scnt > len(raw):
            return None
        nrows = min(rps, h - s * rps)
        if nrows <= 0:
            return None
        chunk = raw[soff : soff + scnt]
        if comp == 32773:
            data = packbits_decode(chunk, nrows * stride)
        elif comp == 5:
            try:
                data = _pdf_lzw_decode(chunk)
            except Exception:
                return None
        else:
            data = chunk
        if data is None or len(data) < nrows * stride:
            return None
        for j in range(nrows):
            row = bytearray(data[j * stride : (j + 1) * stride])
            if predictor == 2:
                _undiff_rgb(row)
            rows.append(bytes(row))
    if len(rows) != h:
        return None
    return w, h, rows


# ---------------------------------------------------------------------------
# synthesizer (oracle-mirrored md5 pixels)
# ---------------------------------------------------------------------------


def _tiff_dims(media_id: int) -> tuple[int, int]:
    return 5 + media_id % 6, 4 + media_id % 5  # w 5..10, h 4..8


def _tiff_row_bytes(media_id: int, j: int, n: int) -> bytes:
    from pdf_extraction_spark.operators.multimodal import md5_row_bytes

    return md5_row_bytes(media_id, "t", j, n)


def synth_tiff_bytes(media_id: int) -> bytes:
    """A spec-shaped baseline RGB TIFF from an integer id: byte order
    II for even ids / MM for odd, strips of 2 rows (so multi-strip
    assembly and a partial last strip always occur), compression
    cycling none / PackBits / LZW+Predictor-2 by id % 3."""
    w, h = _tiff_dims(media_id)
    bo = "little" if media_id % 2 == 0 else "big"
    comp = (1, 32773, 5)[media_id % 3]
    predictor = 2 if comp == 5 else 1
    stride = w * 3
    rps = 2
    strips = []
    for s in range((h + rps - 1) // rps):
        nrows = min(rps, h - s * rps)
        data = bytearray()
        for j in range(nrows):
            row = _tiff_row_bytes(media_id, s * rps + j, stride)
            data += _diff_rgb(row) if predictor == 2 else row
        if comp == 32773:
            strips.append(packbits_encode(bytes(data)))
        elif comp == 5:
            strips.append(_pdf_lzw_encode(bytes(data)))
        else:
            strips.append(bytes(data))

    entries = [
        (_T_WIDTH, 3, [w]),
        (_T_HEIGHT, 3, [h]),
        (_T_BPS, 3, [8, 8, 8]),
        (_T_COMPRESSION, 3, [comp]),
        (_T_PHOTOMETRIC, 3, [2]),  # RGB
        (_T_STRIP_OFFSETS, 4, [0] * len(strips)),  # patched in assembly
        (_T_SPP, 3, [3]),
        (_T_ROWS_PER_STRIP, 3, [rps]),
        (_T_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    if predictor == 2:
        entries.append((_T_PREDICTOR, 3, [2]))
    return _assemble_tiff(bo, entries, strips)


def _assemble_tiff(bo: str, entries: list, strips: list[bytes]) -> bytes:
    """Serialize header + one IFD + out-of-line values + strip data;
    the STRIP_OFFSETS entry is patched with the real strip positions."""

    def b(v, n):
        return int(v).to_bytes(n, bo)

    out = bytearray()
    out += (b"II" if bo == "little" else b"MM") + b(42, 2)
    out += b(8, 4)  # IFD right after the header; strip data follows it
    entries = sorted(entries)
    ifd_at = 8
    ifd_size = 2 + len(entries) * 12 + 4
    extra_at = ifd_at + ifd_size
    extra = bytearray()
    sizes = {3: 2, 4: 4}
    packed = []
    for tag, typ, vals in entries:
        size = sizes[typ] * len(vals)
        if size <= 4:
            val = b"".join(b(v, sizes[typ]) for v in vals)
            val += b"\x00" * (4 - size)
            packed.append((tag, typ, len(vals), val, None))
        else:
            packed.append((tag, typ, len(vals), None, extra_at + len(extra)))
            extra += b"".join(b(v, sizes[typ]) for v in vals)
    data_at = extra_at + len(extra)
    strip_offsets = []
    p = data_at
    for s in strips:
        strip_offsets.append(p)
        p += len(s)
    out += b(len(entries), 2)
    for tag, typ, cnt, inline, off in packed:
        if tag == _T_STRIP_OFFSETS:
            if cnt * 4 <= 4:
                inline = b(strip_offsets[0], 4)
                off = None
            else:
                # patch the external array with the real offsets
                rel = off - extra_at
                extra[rel : rel + 4 * cnt] = b"".join(b(v, 4) for v in strip_offsets)
        out += b(tag, 2) + b(typ, 2) + b(cnt, 4)
        out += inline if inline is not None else b(off, 4)
    out += b(0, 4)  # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def _tiff_g4_dims(media_id: int) -> tuple[int, int]:
    return 20 + media_id % 13, 10 + media_id % 7  # w 20..32 (<= 32 = two md5 blocks)


def _tiff_g4_row(media_id: int, j: int, w: int) -> bytes:
    """Bilevel row: pixel is ink iff its md5-formula byte >= 128 — the
    same shared md5_row_bytes contract the DuckDB oracle replays (tag
    'g'), re-thresholded so the pattern is irregular enough to exercise
    pass/horizontal/vertical coding against a changing reference line."""
    from pdf_extraction_spark.operators.multimodal import md5_row_bytes

    return bytes(1 if v >= 128 else 0 for v in md5_row_bytes(media_id, "g", j, w))


def synth_tiff_g4_bytes(media_id: int) -> bytes:
    """A spec-shaped CCITT bilevel TIFF (PhotometricInterpretation=0
    WhiteIsZero, BitsPerSample=1) — the full fax family real document
    scanners emit, cycling by id % 5: Compression=4 (Group 4 / T.6) for
    0/3, Compression=3 Group 3 1-D (EOL-framed T.4) for 2, Group 3
    mixed 2-D (T4Options bit 0, K=2) for 1, and Compression=2 (bare
    Modified Huffman, byte-aligned rows) for 4.  Byte order II/MM by
    parity; strips of 3 rows so multi-strip assembly and a partial last
    strip occur, each strip an independent coding block per TIFF 6.0.
    The decoded pixels are identical across compressions (the shared
    md5 formula), so the analytic oracle is compression-invariant by
    construction."""
    w, h = _tiff_g4_dims(media_id)
    bo = "little" if media_id % 2 == 0 else "big"
    mode = media_id % 5
    comp = {4: 2, 2: 3, 1: 3, 3: 1}.get(mode, 4)
    two_d = mode == 1
    rps = 3
    strips = []
    for s in range((h + rps - 1) // rps):
        nrows = min(rps, h - s * rps)
        rows = [_tiff_g4_row(media_id, s * rps + j, w) for j in range(nrows)]
        if comp == 4:
            strips.append(g4_encode(rows, w))
        elif comp == 3:
            strips.append(g3_encode(rows, w, two_d=two_d, k=2))
        elif comp == 2:
            strips.append(mh_encode(rows, w))
        else:  # raw packed bits, MSB-first, byte-padded rows
            packed = bytearray()
            for row in rows:
                acc = 0
                for i, px in enumerate(row):
                    acc = (acc << 1) | px
                    if i % 8 == 7:
                        packed.append(acc)
                        acc = 0
                if w % 8:
                    packed.append(acc << (8 - w % 8))
            strips.append(bytes(packed))
    entries = [
        (_T_WIDTH, 3, [w]),
        (_T_HEIGHT, 3, [h]),
        (_T_BPS, 3, [1]),
        (_T_COMPRESSION, 3, [comp]),
        (_T_PHOTOMETRIC, 3, [0]),  # WhiteIsZero — the fax convention
        (_T_STRIP_OFFSETS, 4, [0] * len(strips)),
        (_T_SPP, 3, [1]),
        (_T_ROWS_PER_STRIP, 3, [rps]),
        (_T_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    if comp == 3:
        entries.append((_T_T4OPTIONS, 4, [1 if two_d else 0]))
    return _assemble_tiff(bo, entries, strips)


TIFF_DECODE_SCHEMA = StructType(
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


def _tiff_row(blob):
    parsed = parse_tiff(bytes(blob))
    if parsed is None:
        return invalid_row(TIFF_DECODE_SCHEMA)
    w, h, rows = parsed
    n = w * h
    return (w, h, *(s * 1000 // n for s in channel_sums(rows, 3)), *rows[0][:3], 1)


def decode_tiff(df: DataFrame, id_col: str, blob_col: str) -> DataFrame:
    """REAL TIFF pixel decode: IFD walk in both byte orders, strip
    assembly, PackBits / TIFF-LZW (+Predictor 2) decompression, then the
    same stats contract as the other codecs."""
    return map_blobs(df, id_col, blob_col, _tiff_row, TIFF_DECODE_SCHEMA)
