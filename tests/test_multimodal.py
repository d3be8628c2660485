"""Multimodal binary-column decoders: BMP, WAV, PNG and GIF, each checked
against a Python reference parse and for containment of malformed blobs."""


def test_bmp_decode_real_semantics(spark):
    """decode_bmp honors bottom-up storage, 4-byte stride, and BGR order;
    malformed blobs degrade to is_valid=0 rows, never exceptions."""
    import struct

    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.multimodal import (
        decode_bmp,
        parse_bmp,
        synth_bmp,
    )

    blobs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"), synth_bmp(F.col("id")).alias("blob")
    )
    got = {r["media_id"]: r for r in decode_bmp(blobs, "doc_id", "blob").collect()}
    for i in range(20):
        r = got[i]
        assert r["is_valid"] == 1
        assert (r["width"], r["height"]) == (4 + i % 5, 4 + i % 4)
        # python reference: parse the same blob locally
        raw = bytes(
            blobs.filter(F.col("doc_id") == i).collect()[0]["blob"]
        )
        w, h, rows = parse_bmp(raw)
        sums = [0, 0, 0]
        for row in rows:
            for k, v in enumerate(row):
                sums[k % 3] += v
        assert r["mean_b_milli"] == sums[0] * 1000 // (w * h)
        assert (r["tl_b"], r["tl_g"], r["tl_r"]) == tuple(rows[0][:3])

    # top-down (negative height) variant parses without the row flip
    w, h = 2, 2
    stride = (3 * w + 3) // 4 * 4
    px = (bytes([1, 2, 3, 4, 5, 6]) + b"\x00" * (stride - 6)
          + bytes([7, 8, 9, 10, 11, 12]) + b"\x00" * (stride - 6))
    raw = (
        b"BM" + struct.pack("<I", 54 + stride * h) + b"\x00" * 4
        + struct.pack("<I", 54)
        + struct.pack("<IiiHHIIIIII", 40, w, -h, 1, 24, 0, stride * h, 0, 0, 0, 0)
        + px
    )
    pw, ph, rows = parse_bmp(raw)
    assert (pw, ph) == (2, 2) and rows[0][:3] == bytes([1, 2, 3])

    # malformed blobs -> is_valid=0, no exception
    bad = spark.createDataFrame(
        [(1, b"not a bmp"), (2, b"BM" + b"\x00" * 10)], "doc_id long, blob binary"
    )
    rows = decode_bmp(bad, "doc_id", "blob").collect()
    assert all(r["is_valid"] == 0 and r["width"] is None for r in rows)


def test_wav_decode_real_semantics(spark):
    """decode_wav walks RIFF chunks (tolerating extra chunks before
    'data'), parses signed little-endian samples, and degrades malformed
    blobs to is_valid=0."""
    import struct

    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.multimodal import (
        decode_wav,
        parse_wav,
        synth_wav,
    )

    blobs = spark.range(0, 12).select(
        F.col("id").alias("doc_id"), synth_wav(F.col("id")).alias("blob")
    )
    got = {r["media_id"]: r for r in decode_wav(blobs, "doc_id", "blob").collect()}
    raws = {
        r["doc_id"]: bytes(r["blob"]) for r in blobs.collect()
    }
    for i in range(12):
        rate, samples = parse_wav(raws[i])
        r = got[i]
        assert r["is_valid"] == 1 and r["sample_rate"] == 8000
        assert r["n_samples"] == len(samples) == 16 + i % 17
        assert r["first_sample"] == samples[0]
        assert r["max_abs"] == max(abs(s) for s in samples)

    # extra chunk ('LIST') before 'data' must be skipped, including the
    # odd-size word-alignment pad
    samples = [100, -200, 300]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size + pad
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + listc + \
           b"data" + struct.pack("<I", len(data)) + data
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, got_samples = parse_wav(raw)
    assert rate == 8000 and got_samples == samples

    bad = spark.createDataFrame(
        [(1, b"RIFFxxxx"), (2, b"nope")], "doc_id long, blob binary"
    )
    rows = decode_wav(bad, "doc_id", "blob").collect()
    assert all(r["is_valid"] == 0 for r in rows)


def test_png_roundtrip_all_variants():
    """Encoder->decoder identity for RGB and RGBA, every scanline filter
    type (h >= 5 ids exercise all five), CRC-checked chunk walk."""
    from pdf_extraction_spark.operators.multimodal import (
        _png_row_bytes,
        parse_png,
        synth_png_bytes,
    )

    for mid in range(24):
        w, h, ch = mid % 5 + 4, mid % 4 + 4, 3 + mid % 2
        parsed = parse_png(synth_png_bytes(mid))
        assert parsed is not None
        pw, ph, pch, rows = parsed
        assert (pw, ph, pch) == (w, h, ch)
        for j, row in enumerate(rows):
            assert row == _png_row_bytes(mid, j, w * ch), (mid, j)


def test_png_adam7_interlaced_matches_sequential():
    """Adam7 decode scatters the seven independently-filtered passes
    back to exactly the sequential image; the 4..8-pixel dims guarantee
    empty passes occur (w=4 leaves pass 2 with zero columns), which
    must contribute no bytes at all."""
    from pdf_extraction_spark.operators.multimodal import (
        _ADAM7,
        parse_png,
        synth_png_bytes,
        synth_png_interlaced_bytes,
    )

    saw_empty_pass = False
    for mid in range(24):
        w, h = mid % 5 + 4, mid % 4 + 4
        seq = parse_png(synth_png_bytes(mid))
        inter = parse_png(synth_png_interlaced_bytes(mid))
        assert inter is not None and inter == seq, mid
        for x0, y0, dx, dy in _ADAM7:
            if (w - x0 + dx - 1) // dx <= 0 or (h - y0 + dy - 1) // dy <= 0:
                saw_empty_pass = True
    assert saw_empty_pass  # the dims must actually exercise empty passes
    # wire checks: interlace flag set, IDAT byte count differs from the
    # sequential stream (passes re-filter independently)
    blob = synth_png_interlaced_bytes(7)
    ihdr = blob.index(b"IHDR")
    assert blob[ihdr + 4 + 12] == 1  # interlace method byte


def test_png_adam7_rejects_short_pass_data():
    from pdf_extraction_spark.operators.multimodal import (
        parse_png,
        synth_png_interlaced_bytes,
    )
    import zlib as _z

    blob = synth_png_interlaced_bytes(9)
    # rebuild with the last pass's bytes chopped: must fail cleanly
    i = blob.index(b"IDAT")
    # collect both IDAT bodies
    bodies = []
    pos = 8
    out = bytearray(blob[:8])
    while pos + 12 <= len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        ctype = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + ln]
        if ctype == b"IDAT":
            bodies.append(body)
        pos += 12 + ln
    raw = _z.decompress(b"".join(bodies))
    short = _z.compress(raw[:-3])
    from pdf_extraction_spark.operators.multimodal import _png_chunk

    pos = 8
    while pos + 12 <= len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            pass  # drop originals
        elif ctype == b"IEND":
            out += _png_chunk(b"IDAT", short)
            out += blob[pos : pos + 12 + ln]
        else:
            out += blob[pos : pos + 12 + ln]
        pos += 12 + ln
    assert parse_png(bytes(out)) is None


def _mini_gif(frames, sw=4, sh=2, bg=0):
    """Hand-assemble an animated GIF: 4-colour global table, frames =
    list of (gce_or_None, left, top, w, h, indices) with gce =
    (disposal, delay_cs, transparent_index_or_None)."""
    from pdf_extraction_spark.operators.multimodal import _lzw_encode

    pal = [(10, 0, 0), (0, 20, 0), (0, 0, 30), (40, 40, 40)]
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x81, bg, 0])  # global table, 4 entries
    for rgb in pal:
        out += bytes(rgb)
    for gce, left, top, w, h, indices in frames:
        if gce is not None:
            disposal, delay, trans = gce
            flags = (disposal << 2) | (1 if trans is not None else 0)
            out += b"\x21\xf9\x04" + bytes([flags]) + delay.to_bytes(2, "little")
            out += bytes([trans if trans is not None else 0]) + b"\x00"
        out += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
        out += bytes([2])  # LZW min code size for a 4-colour table
        lzw = _lzw_encode(bytes(indices), 2)
        for i in range(0, len(lzw), 16):
            chunk = lzw[i : i + 16]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out), pal


def test_gif_animated_synth_roundtrip():
    from pdf_extraction_spark.operators.multimodal import (
        _gif_frame_indices,
        _gif_palette,
        parse_gif_frames,
        synth_gif_animated_bytes,
    )

    for mid in range(12):
        w, h, nf = mid % 6 + 4, mid % 5 + 4, mid % 3 + 2
        parsed = parse_gif_frames(synth_gif_animated_bytes(mid))
        assert parsed is not None
        sw, sh, frames = parsed
        assert (sw, sh, len(frames)) == (w, h, nf)
        pal = _gif_palette(mid)
        for f, (delay, canvas) in enumerate(frames):
            assert delay == (mid + f) % 100
            exp = [pal[i] for i in _gif_frame_indices(mid, f, w * h)]
            assert canvas == exp, (mid, f)


def test_gif_animated_compositing_transparency_and_disposal():
    from pdf_extraction_spark.operators.multimodal import parse_gif_frames

    P0, P1, P2, P3 = (10, 0, 0), (0, 20, 0), (0, 0, 30), (40, 40, 40)
    blob, _ = _mini_gif(
        [
            # frame 1: full screen of palette 1, disposal 3 (restore prev)
            ((3, 10, None), 0, 0, 4, 2, [1] * 8),
            # frame 2: 1x1 rect at (1,0) of palette 2, disposal 2 over it
            ((2, 5, None), 1, 0, 1, 1, [2]),
            # frame 3: full screen, transparent index 0 - only the 3s land
            ((0, 7, 0), 0, 0, 4, 2, [3, 0, 3, 0, 0, 3, 0, 3]),
        ]
    )
    parsed = parse_gif_frames(blob)
    assert parsed is not None
    sw, sh, frames = parsed
    assert (sw, sh, len(frames)) == (4, 2, 3)
    assert [d for d, _ in frames] == [10, 5, 7]
    # frame 1 canvas: all P1; disposal 3 then restores the bg canvas
    assert frames[0][1] == [P1] * 8
    # frame 2: bg everywhere (frame 1 was restore-previous) except (1,0)
    exp2 = [P0] * 8
    exp2[1] = P2
    assert frames[1][1] == exp2
    # frame 3: drawn over frame 2's canvas AFTER its disposal-2 cleared
    # the (1,0) rect back to bg; transparent 0s leave the base visible
    base = [P0] * 8
    exp3 = [P3 if i in (0, 2, 5, 7) else base[i] for i in range(8)]
    assert frames[2][1] == exp3


def test_gif_animated_truncation_contained_not_raised():
    """A blob cut anywhere inside the stream must return None — an
    IndexError would kill the whole Spark task instead of emitting
    is_valid=0 (review regression: truncation inside a GCE)."""
    from pdf_extraction_spark.operators.multimodal import (
        parse_gif_frames,
        synth_gif_animated_bytes,
    )

    blob = synth_gif_animated_bytes(1)
    gce = blob.index(b"\x21\xf9\x04")
    for cut in (gce + 1, gce + 3, gce + 5):
        assert parse_gif_frames(blob[:cut]) is None
    # sweep: EVERY prefix either parses or returns None, never raises
    for cut in range(0, len(blob), 7):
        parse_gif_frames(blob[:cut])


def test_gif_animated_rejects_missing_trailer_and_bad_rect():
    from pdf_extraction_spark.operators.multimodal import parse_gif_frames

    blob, _ = _mini_gif([((0, 1, None), 0, 0, 4, 2, [1] * 8)])
    assert parse_gif_frames(blob) is not None
    assert parse_gif_frames(blob[:-1]) is None  # trailer gone
    # frame rect exceeding the logical screen must be rejected
    bad, _ = _mini_gif([((0, 1, None), 3, 0, 4, 2, [1] * 8)])
    assert parse_gif_frames(bad) is None


def test_png_rejects_corruption():
    """A flipped pixel byte breaks that chunk's CRC -> None (not garbage
    pixels); truncation and wrong signature are also rejected."""
    from pdf_extraction_spark.operators.multimodal import parse_png, synth_png_bytes

    png = synth_png_bytes(7)
    assert parse_png(png) is not None
    # flip one byte inside the first IDAT body
    idat = png.index(b"IDAT")
    corrupt = bytearray(png)
    corrupt[idat + 8] ^= 0xFF
    assert parse_png(bytes(corrupt)) is None
    assert parse_png(png[:40]) is None
    assert parse_png(b"\x89PNJ" + png[4:]) is None
    assert parse_png(b"") is None


def test_png_decode_spark_matches_python(spark):
    """decode_png over synth_png blobs reproduces the raw md5 pixel
    formula's channel means, and tl_* prove top-down row order."""
    from pdf_extraction_spark.operators.multimodal import (
        _png_row_bytes,
        decode_png,
        synth_blobs,
        synth_png_bytes,
    )

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    blobs = synth_blobs(ids, "doc_id", synth_png_bytes)
    out = {
        r["media_id"]: r
        for r in decode_png(blobs, "media_id", "blob").collect()
    }
    assert len(out) == 12
    for mid in range(12):
        w, h, ch = mid % 5 + 4, mid % 4 + 4, 3 + mid % 2
        rows = [_png_row_bytes(mid, j, w * ch) for j in range(h)]
        sums = [0, 0, 0, 0]
        for row in rows:
            for i, v in enumerate(row):
                sums[i % ch] += v
        r = out[mid]
        assert r["is_valid"] == 1
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch)
        assert r["mean_r_milli"] == sums[0] * 1000 // (w * h)
        assert r["mean_b_milli"] == sums[2] * 1000 // (w * h)
        assert r["tl_r"] == rows[0][0]
        if ch == 4:
            assert r["mean_a_milli"] == sums[3] * 1000 // (w * h)
            assert r["tl_a"] == rows[0][3]
        else:
            assert r["mean_a_milli"] is None and r["tl_a"] is None


# ---------------------------------------------------------------------------
# GIF: from-scratch LZW codec pinned to REAL-WORLD bytes, then the
# synth/parse pair and the Spark operator
# ---------------------------------------------------------------------------

# The canonical 10x10 GIF sample stream (the worked LZW example used
# across GIF documentation): min code size 2, grows to 4-bit codes
# mid-stream — a REAL encoder's output, so it pins our codec's width
# synchronization to the spec, not to itself.
_CANONICAL_LZW = bytes.fromhex("8C2D99872A1CDC33A00275EC95FAA8DE608C04914C01")
_CANONICAL_GRID = (
    "1111122222" "1111122222" "1111122222"
    "1110000222" "1110000222"
    "2220000111" "2220000111"
    "2222211111" "2222211111" "2222211111"
)

# The classic 1x1 transparent tracking pixel, byte-for-byte as served
# by the web for decades.
_ONE_PX = bytes.fromhex(
    "47494638396101000100800000ffffff0000002c00000000010001000002024401003b"
)


def test_gif_lzw_decodes_canonical_sample():
    from pdf_extraction_spark.operators.multimodal import _lzw_decode

    dec = _lzw_decode(_CANONICAL_LZW, 2, 100)
    assert dec is not None
    assert "".join(str(c) for c in dec) == _CANONICAL_GRID


def test_gif_lzw_reencodes_canonical_sample_byte_exact():
    """Greedy LZW is deterministic, so a spec-synchronized encoder must
    reproduce the canonical bytes EXACTLY — this catches any code-width
    bump placed one code early or late (both desyncs round-trip cleanly
    against a matching-but-wrong decoder; the external vector cannot)."""
    from pdf_extraction_spark.operators.multimodal import _lzw_encode

    indices = bytes(int(c) for c in _CANONICAL_GRID)
    assert _lzw_encode(indices, 2) == _CANONICAL_LZW


def test_gif_parses_real_tracking_pixel():
    from pdf_extraction_spark.operators.multimodal import parse_gif

    assert parse_gif(_ONE_PX) == (1, 1, [(255, 255, 255)])


def test_gif_lzw_roundtrip_fuzz():
    import random

    from pdf_extraction_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rng = random.Random(11)
    for t in range(150):
        n = rng.randrange(1, 6000)
        k = rng.choice([2, 3, 4, 8])
        data = bytes(rng.randrange(1 << k) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, k), k, n) == data, (t, n, k)
    # adversarial: single-symbol runs (the c-S-c special case repeatedly)
    # and >4096-entry streams that force a mid-stream CLEAR reset
    for k in (2, 8):
        run = bytes([1]) * 20000
        assert _lzw_decode(_lzw_encode(run, k), k, len(run)) == run
        cyc = bytes(range(1 << k)) * 400
        assert _lzw_decode(_lzw_encode(cyc, k), k, len(cyc)) == cyc


def test_gif_synth_parse_roundtrip():
    from pdf_extraction_spark.operators.multimodal import (
        _gif_indices,
        _gif_palette,
        parse_gif,
        synth_gif_bytes,
    )

    for mid in range(60):
        blob = synth_gif_bytes(mid)
        assert blob[:6] == b"GIF89a" and blob[-1:] == b"\x3b"
        w, h, px = parse_gif(blob)
        assert (w, h) == (mid % 6 + 4, mid % 5 + 4)
        pal = _gif_palette(mid)
        assert px == [pal[i] for i in _gif_indices(mid, w * h)], mid


def test_gif_local_color_table_overrides_global():
    """Hand-built GIF whose image descriptor carries a LOCAL table with
    inverted colours: the parser must use it, not the global one."""
    from pdf_extraction_spark.operators.multimodal import _lzw_encode, parse_gif

    indices = bytes([0, 1, 1, 0])
    lzw = _lzw_encode(indices, 2)
    out = bytearray(b"GIF89a")
    out += (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
    out += bytes([0x80, 0, 0])  # global table, 2 entries
    out += bytes([10, 10, 10, 20, 20, 20])  # global palette (decoys)
    out += b"\x2c" + bytes(4) + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
    out += bytes([0x80])  # LOCAL table flag, 2 entries
    out += bytes([200, 0, 0, 0, 0, 200])  # local palette
    out += bytes([2])  # min code size
    out += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    assert parse_gif(bytes(out)) == (
        2,
        2,
        [(200, 0, 0), (0, 0, 200), (0, 0, 200), (200, 0, 0)],
    )


def test_gif_rejects_malformed():
    from pdf_extraction_spark.operators.multimodal import parse_gif, synth_gif_bytes

    gif = synth_gif_bytes(9)
    assert parse_gif(gif) is not None
    assert parse_gif(b"") is None
    assert parse_gif(b"GIF90a" + gif[6:]) is None
    assert parse_gif(gif[:20]) is None
    # truncated LZW data (drop the last sub-block + trailer)
    assert parse_gif(gif[:-4]) is None
    # interlace flag set -> outside the subset, rejected not mis-decoded
    bad = bytearray(gif)
    desc = bad.index(b"\x2c")
    bad[desc + 9] |= 0x40
    assert parse_gif(bytes(bad)) is None


def test_gif_decode_spark_matches_python(spark):
    """decode_gif over synth_gif blobs reproduces the analytic
    palette/index stats — the same invariant the driver oracle states."""
    from pdf_extraction_spark.operators.multimodal import (
        _gif_indices,
        _gif_palette,
        decode_gif,
        synth_blobs,
        synth_gif_bytes,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    blobs = synth_blobs(ids, "doc_id", synth_gif_bytes)
    got = {
        r["media_id"]: r.asDict()
        for r in decode_gif(blobs, "media_id", "blob").collect()
    }
    assert len(got) == 40
    for mid in range(40):
        w, h = mid % 6 + 4, mid % 5 + 4
        pal = _gif_palette(mid)
        px = [pal[i] for i in _gif_indices(mid, w * h)]
        n = w * h
        r = got[mid]
        assert r["is_valid"] == 1 and (r["width"], r["height"]) == (w, h)
        assert r["mean_r_milli"] == sum(p[0] for p in px) * 1000 // n
        assert r["mean_g_milli"] == sum(p[1] for p in px) * 1000 // n
        assert r["mean_b_milli"] == sum(p[2] for p in px) * 1000 // n
        assert (r["tl_r"], r["tl_g"], r["tl_b"]) == px[0]
