"""CCITT Group 4 (ITU-T T.6 / MMR) codec: table integrity, round trips,
wire-format pins, containment, and the TIFF/PDF integrations.

The encoder and decoder share the T.4 run-length tables, so a
transcription typo could hide behind round-trip self-consistency; the
table tests below break that symmetry by (a) pinning well-known
codewords straight from the published Recommendation and (b) asserting
each alphabet is prefix-free and length-bounded.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.operators.ccitt import (
    BLACK_MAKEUP,
    BLACK_TERM,
    EXT_MAKEUP,
    WHITE_MAKEUP,
    WHITE_TERM,
    g4_decode,
    g4_encode,
)

# --- table integrity ---------------------------------------------------------


def test_spec_pinned_codewords():
    """Well-known T.4 codewords, transcribed independently of the table
    block (Rec. T.4 Tables 2-4): a shared-table typo in any of these
    breaks here even though encode/decode agree with each other."""
    assert WHITE_TERM[0] == "00110101"
    assert WHITE_TERM[1] == "000111"
    assert WHITE_TERM[2] == "0111"
    assert WHITE_TERM[3] == "1000"
    assert WHITE_TERM[63] == "00110100"
    assert BLACK_TERM[0] == "0000110111"
    assert BLACK_TERM[1] == "010"
    assert BLACK_TERM[2] == "11"
    assert BLACK_TERM[3] == "10"
    assert BLACK_TERM[63] == "000001100111"
    assert WHITE_MAKEUP[64] == "11011"
    assert WHITE_MAKEUP[1728] == "010011011"
    assert BLACK_MAKEUP[64] == "0000001111"
    assert EXT_MAKEUP[1792] == "00000001000"
    assert EXT_MAKEUP[2560] == "000000011111"


@pytest.mark.parametrize(
    "tables",
    [
        (WHITE_TERM, WHITE_MAKEUP, EXT_MAKEUP),
        (BLACK_TERM, BLACK_MAKEUP, EXT_MAKEUP),
    ],
    ids=["white", "black"],
)
def test_alphabets_prefix_free_and_complete(tables):
    codes = {}
    for t in tables:
        for run, code in t.items():
            assert code not in codes, f"duplicate code {code}"
            assert set(code) <= {"0", "1"} and 2 <= len(code) <= 13
            codes[code] = run
    for a in codes:
        for b in codes:
            if a is not b:
                assert not b.startswith(a), f"{a} is a prefix of {b}"
    # completeness: every terminating run 0..63 and every make-up step
    assert set(tables[0]) == set(range(64))
    assert set(tables[1]) == set(range(64, 1729, 64))
    assert set(EXT_MAKEUP) == set(range(1792, 2561, 64))


# --- round trips -------------------------------------------------------------


def _rt(rows, width):
    enc = g4_encode(rows, width)
    assert g4_decode(enc, width, len(rows)) == rows
    assert g4_decode(enc, width, None) == rows  # EOFB-terminated
    return enc


def test_roundtrip_degenerate_shapes():
    _rt([bytes(1)], 1)  # single white pixel
    _rt([b"\x01"], 1)  # single black pixel
    _rt([bytes(1728)] * 4, 1728)  # blank fax lines
    _rt([b"\x01" * 400] * 3, 400)  # solid black
    _rt([bytes([i % 2 for i in range(64)])] * 8, 64)  # 1px vertical stripes
    checker = [bytes([(i + j) % 2 for i in range(33)]) for j in range(9)]
    _rt(checker, 33)


def test_roundtrip_long_runs_use_makeups():
    # runs spanning make-up + extended make-up territory (>2560)
    row = bytes(2700) + b"\x01" * 2700 + bytes(300)
    _rt([row, row, bytes(5700)], 5700)


def test_roundtrip_mode_coverage():
    """A page whose structure forces all three modes: vertical tracking,
    horizontal (isolated marks far from the reference), and pass
    (reference-line features that vanish on the coding line)."""
    rows = []
    w = 200
    for j in range(40):
        row = bytearray(w)
        row[10 + j % 4 : 14 + j % 4] = b"\x01" * 4  # drifts -> vertical
        if j % 3 == 0:
            row[100:130] = b"\x01" * 30  # appears/vanishes -> pass
        if j % 7 == 0:
            row[180 + j % 5] = 1  # isolated -> horizontal
        rows.append(bytes(row))
    enc = _rt(rows, w)
    assert len(enc) < w * 40 // 8  # and it actually compresses


def test_blank_page_compresses_to_almost_nothing():
    enc = g4_encode([bytes(1728)] * 100, 1728)
    assert len(enc) < 60  # one V0 bit per line + EOFB


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_roundtrip_fuzz(data):
    w = data.draw(st.integers(1, 120))
    h = data.draw(st.integers(1, 12))
    rows = [
        bytes(data.draw(st.lists(st.integers(0, 1), min_size=w, max_size=w)))
        for _ in range(h)
    ]
    enc = g4_encode(rows, w)
    assert g4_decode(enc, w, h) == rows


# --- Modified Huffman (T.4 1-D, TIFF Compression=2) --------------------------


def test_mh_roundtrip_and_alignment():
    from pdf_extraction_spark.operators.ccitt import mh_decode, mh_encode

    rows = [
        bytes(17),  # all white
        b"\x01" * 17,  # all black (needs the zero-length white lead run)
        bytes([i % 2 for i in range(17)]),
        bytes(3) + b"\x01" * 10 + bytes(4),
    ]
    enc = mh_encode(rows, 17)
    assert mh_decode(enc, 17, 4) == rows
    # every row starts on a byte boundary (TIFF 6.0 §10): encoding rows
    # separately and concatenating gives the identical stream
    parts = b"".join(mh_encode([r], 17) for r in rows)
    assert parts == enc


def test_mh_wire_pin():
    """All-black line of 2 px = white-0 (00110101) then black-2 (11)."""
    from pdf_extraction_spark.operators.ccitt import mh_encode

    bits = "".join(f"{b:08b}" for b in mh_encode([b"\x01\x01"], 2))
    assert bits.startswith("00110101" + "11")


def test_mh_containment():
    from pdf_extraction_spark.operators.ccitt import mh_decode

    with pytest.raises(ValueError):
        mh_decode(b"", 8, 1)  # truncated
    with pytest.raises(ValueError):
        mh_decode(b"\xff\xff\xff", 4, 1)  # runs overshoot the row
    rng = random.Random(99)
    for _ in range(60):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 60)))
        try:
            rows = mh_decode(blob, 16, 3)
            assert all(len(r) == 16 for r in rows)
        except ValueError:
            pass


def test_tiff_mh_variant_ids_decode_identically():
    """Every 5th id is Compression=2; pixels must match the formula
    exactly like the G4 ids (the oracle is compression-invariant)."""
    from pdf_extraction_spark.operators.tiff import (
        _tiff_g4_dims,
        _tiff_g4_row,
        parse_tiff,
        synth_tiff_g4_bytes,
    )

    for mid in (4, 9, 14):
        blob = synth_tiff_g4_bytes(mid)
        w, h, rows = parse_tiff(blob)
        assert (w, h) == _tiff_g4_dims(mid)
        for j, row in enumerate(rows):
            want = b"".join(
                b"\x00\x00\x00" if px else b"\xff\xff\xff"
                for px in _tiff_g4_row(mid, j, w)
            )
            assert row == want


# --- Group 3 (T.4 EOL-framed, 1-D and mixed 2-D) -----------------------------


def test_g3_roundtrips_all_modes():
    from pdf_extraction_spark.operators.ccitt import g3_decode, g3_encode

    rows = [
        bytes(29),
        b"\x01" * 29,
        bytes([(i + 1) % 2 for i in range(29)]),
        bytes(5) + b"\x01" * 20 + bytes(4),
        bytes([i % 3 == 0 for i in range(29)]),
    ]
    for two_d, k in ((False, 1), (True, 2), (True, 4)):
        enc = g3_encode(rows, 29, two_d=two_d, k=k)
        assert g3_decode(enc, 29, 5, two_d=two_d) == rows
        # RTC-terminated (height unknown)
        assert g3_decode(enc, 29, None, two_d=two_d) == rows


def test_g3_wire_pin():
    """The stream opens with an EOL (000000000001); in 2-D mode the tag
    bit follows (1 = first line coded 1-D)."""
    from pdf_extraction_spark.operators.ccitt import g3_encode

    bits = "".join(f"{b:08b}" for b in g3_encode([bytes(8)], 8))
    assert bits.startswith("000000000001")
    bits2 = "".join(f"{b:08b}" for b in g3_encode([bytes(8)], 8, two_d=True))
    assert bits2.startswith("000000000001" + "1")


def test_g3_framing_containment():
    from pdf_extraction_spark.operators.ccitt import g3_decode

    with pytest.raises(ValueError):
        g3_decode(b"\xff\xff", 8, 1)  # stray 1 inside EOL framing
    assert g3_decode(b"", 8, None) == []  # empty data: no lines, no error


def test_g3_2d_lines_actually_2d_coded():
    """With K=4 only every 4th line is 1-D; the 2-D lines must shrink
    the stream vs pure 1-D on line-coherent content."""
    from pdf_extraction_spark.operators.ccitt import g3_encode

    rows = [bytes(10) + b"\x01" * 40 + bytes(150)] * 16  # identical lines
    pure = g3_encode(rows, 200, two_d=False)
    mixed = g3_encode(rows, 200, two_d=True, k=4)
    assert len(mixed) < len(pure)


# --- wire-format pin ---------------------------------------------------------


def test_known_bitstream_hand_decoded():
    """First line of an image is coded against an imaginary all-white
    reference, so a line '3 white, 2 black, rest white' (w=8) must be
    horizontal-mode: H(001) W3(1000) B2(11) then V0(1) past the last
    change... hand-assembling instead the simplest pinnable case:
    an all-white 8px line is one V0?  No — with a blank reference b1=8
    (width), a1=8: |a1-b1|=0 -> V0, a single '1' bit.  Assert exactly
    that, plus the EOFB tail."""
    enc = g4_encode([bytes(8)], 8)
    # V0 (1) + EOFB (000000000001 x2) = 25 bits -> 4 bytes padded
    bits = "".join(f"{b:08b}" for b in enc)
    assert bits.startswith("1" + "000000000001" + "000000000001")
    # and the 3-white/2-black line: H + W3 + B2, then V0 at the final edge
    enc2 = g4_encode([bytes(3) + b"\x01\x01" + bytes(3)], 8)
    bits2 = "".join(f"{b:08b}" for b in enc2)
    assert bits2.startswith("001" + "1000" + "11" + "1")


# --- containment -------------------------------------------------------------


def test_truncation_raises_valueerror():
    enc = g4_encode([bytes([(i * 7 + j) % 2 for i in range(64)]) for j in range(6)], 64)
    for cut in range(0, len(enc) - 1):
        try:
            g4_decode(enc[:cut], 64, 6)
        except ValueError:
            continue  # the contained outcome


def test_garbage_never_hangs_or_crashes():
    rng = random.Random(1234)
    for _ in range(80):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 200)))
        try:
            rows = g4_decode(blob, 48, None)
            assert all(len(r) == 48 for r in rows)
        except ValueError:
            pass


def test_bad_geometry_rejected():
    with pytest.raises(ValueError):
        g4_decode(b"\x80", 0, 1)
    with pytest.raises(ValueError):
        g4_decode(b"\x80", 8, 0)
    with pytest.raises(ValueError):
        g4_encode([bytes(3)], 4)  # row width mismatch


# --- TIFF integration --------------------------------------------------------


def test_tiff_g4_identity_both_endians():
    from pdf_extraction_spark.operators.tiff import (
        _tiff_g4_dims,
        _tiff_g4_row,
        parse_tiff,
        synth_tiff_g4_bytes,
    )

    for mid in range(12):
        parsed = parse_tiff(synth_tiff_g4_bytes(mid))
        assert parsed is not None
        w, h, rows = parsed
        assert (w, h) == _tiff_g4_dims(mid)
        for j, row in enumerate(rows):
            want = b"".join(
                b"\x00\x00\x00" if px else b"\xff\xff\xff"
                for px in _tiff_g4_row(mid, j, w)
            )
            assert row == want


def test_tiff_g4_wrong_photometric_rejected():
    from pdf_extraction_spark.operators.tiff import parse_tiff, synth_tiff_g4_bytes

    blob = bytearray(synth_tiff_g4_bytes(0))  # II byte order
    # IFD entries are sorted by tag; find tag 262 and flip its value to 1
    ifd_at, count = 8, int.from_bytes(blob[8:10], "little")
    for e in range(count):
        off = ifd_at + 2 + e * 12
        if int.from_bytes(blob[off : off + 2], "little") == 262:
            assert blob[off + 8] == 0
            blob[off + 8] = 1
            break
    else:
        raise AssertionError("photometric tag not found")
    assert parse_tiff(bytes(blob)) is None


# --- PDF integration ---------------------------------------------------------


def test_pdf_g4_xobject_roundtrip_bit_exact():
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    rows = [bytes([(i // 3 + j) % 2 for i in range(40)]) for j in range(16)]
    payload = g4_encode(rows, 40)
    pdf = build_pdf(["page text"], images=[("g4", 40, 16, payload)])
    imgs = extract_pdf_images(pdf)
    (im,) = imgs[0]
    assert im["filter"] == "CCITTFaxDecode"
    assert (im["width"], im["height"]) == (40, 16)
    assert im["data"] == payload  # bit-exact through the container
    parms = im["decode_parms"]
    assert parms["K"] == -1 and parms["Columns"] == 40 and parms["Rows"] == 16
    assert parms["BlackIs1"] is True
    assert g4_decode(im["data"], 40, 16) == rows


def test_pdf_g4_xobject_survives_encryption():
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    rows = [bytes([(i + j) % 2 for i in range(24)]) for j in range(8)]
    payload = g4_encode(rows, 24)
    for enc in ("rc4-128", "aes-128", "aes-256"):
        pdf = build_pdf([""], images=[("g4", 24, 8, payload)], encrypt=enc)
        (im,) = extract_pdf_images(pdf)[0]
        assert im["data"] == payload, enc


def test_g4_encoded_byte_align_roundtrip():
    """/EncodedByteAlign layout: every line starts on a byte boundary;
    a non-aligned read of the same bytes must NOT give the same rows
    (proves the alignment actually changed the stream)."""
    rows = [bytes([(i * 5 + j) % 2 for i in range(21)]) for j in range(6)]
    enc = g4_encode(rows, 21, byte_align=True)
    assert g4_decode(enc, 21, 6, byte_align=True) == rows
    plain = g4_encode(rows, 21)
    assert enc != plain and len(enc) > len(plain)


def test_pdf_g3_xobject_roundtrip_and_ocr():
    """K=0 (Group 3 1-D) embedded scans: bit-exact container round trip
    and the dispatcher's OCR fallback decodes them."""
    from pdf_extraction_spark.operators.any_text import extract_any
    from pdf_extraction_spark.operators.ccitt import g3_encode
    from pdf_extraction_spark.operators.ocr import render_page, sanitize_text
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    rows = [bytes([(i // 2 + j) % 2 for i in range(32)]) for j in range(10)]
    payload = g3_encode(rows, 32)
    pdf = build_pdf([""], images=[("g3", 32, 10, payload)])
    (im,) = extract_pdf_images(pdf)[0]
    assert im["filter"] == "CCITTFaxDecode" and im["decode_parms"]["K"] == 0
    assert im["data"] == payload

    text = "G3 fax page\nline two"
    want = sanitize_text(text)[:128]
    raster = render_page(sanitize_text(text))
    prows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(64)]
    scanned = build_pdf([""], images=[("g3", 128, 64, g3_encode(prows, 128))])
    assert extract_any(scanned) == ("pdf_scanned", want)


def test_scanned_one_g4_parity():
    from __spark_entry__ import _scanned_row
    from pdf_extraction_spark.operators.ocr import sanitize_text

    text = "Receipt 42\nTotal: 19.99"
    for doc_id in (2, 3):  # even -> JPEG, odd -> G4
        _, n, w, h, filt, rec = _scanned_row()(doc_id, text)
        assert (n, w, h) == (1, 128, 64)
        assert filt == ("DCTDecode" if doc_id % 2 == 0 else "CCITTFaxDecode")
        assert rec == sanitize_text(text)[:128]


def test_decode_ccitt_pdf_image_dispatch():
    """decode_ccitt_pdf_image routes every /K shape a PDF can declare to
    the right codec — the single dispatch both OCR consumers share."""
    from pdf_extraction_spark.operators.ccitt import (
        _BitWriter,
        _encode_row_1d,
        decode_ccitt_pdf_image,
        g3_encode,
        mh_encode,
    )

    rows = [bytes([(i // 3 + j) % 2 for i in range(19)]) for j in range(7)]
    base = {"Columns": 19, "Rows": 7}

    # /K -1 -> G4, with and without /EncodedByteAlign
    enc = g4_encode(rows, 19)
    assert decode_ccitt_pdf_image(enc, {**base, "K": -1}) == rows
    enc_a = g4_encode(rows, 19, byte_align=True)
    assert (
        decode_ccitt_pdf_image(enc_a, {**base, "K": -1, "EncodedByteAlign": True})
        == rows
    )

    # /K 0 continuous (PDF default: no EOLs, no padding)
    w = _BitWriter()
    for row in rows:
        _encode_row_1d(w, row, 19)
    assert decode_ccitt_pdf_image(w.getvalue(), {**base, "K": 0}) == rows

    # /K 0 + /EncodedByteAlign -> per-line aligned MH (the TIFF shape)
    assert (
        decode_ccitt_pdf_image(
            mh_encode(rows, 19), {**base, "K": 0, "EncodedByteAlign": True}
        )
        == rows
    )

    # /K 0 + /EndOfLine true -> EOL-framed G3 1-D (what build_pdf emits)
    assert (
        decode_ccitt_pdf_image(
            g3_encode(rows, 19), {**base, "K": 0, "EndOfLine": True}
        )
        == rows
    )

    # /K > 0 -> mixed 2-D G3
    assert (
        decode_ccitt_pdf_image(
            g3_encode(rows, 19, two_d=True, k=4), {**base, "K": 4}
        )
        == rows
    )

    # continuous /K 0 cannot infer height
    with pytest.raises(ValueError):
        decode_ccitt_pdf_image(w.getvalue(), {"K": 0, "Columns": 19})
