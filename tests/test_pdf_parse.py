"""PDF builder/parser suite: round-trip identity, subset wrinkles, and the
kernel's pdf branch (byte-identity of the F4 fold vs the golden text layer).

The reference capability this stands in for is pdfplumber's text layer
(`/root/reference/pdfextraction.py:33-35`) / PyPDF2 (`app.py:46-52`):
per-page text out of real %PDF bytes, pure Python + stdlib zlib.
"""

from __future__ import annotations

import random
import re
import zlib

import pytest

from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_pages


def _vandalize_startxref(pdf: bytes) -> bytes:
    """Point startxref at byte 0 (the %PDF header), as the registry's PDF
    round trip does every 7th id: the xref load fails and the parser must
    fall back to scanning for ``N G obj``."""
    return re.sub(rb"startxref\s+\d+", b"startxref\n0", pdf)


def test_round_trip_basic():
    pages = ["line one\nline two\nline three", "page 2 text", ""]
    assert extract_pdf_pages(build_pdf(pages)) == pages


def test_round_trip_unicode_and_escapes():
    pages = [
        "unicode: žluťoučký kůň — ¿niño? 中文 🎉\ttab",
        "parens () and \\ backslash\n(nested (deep)) \\n literal",
        "ctrl bytes stay: \x0b \x85 \r kept\nnext line",
    ]
    for compress in (True, False):
        for indirect in (True, False):
            data = build_pdf(pages, compress=compress, indirect_length=indirect)
            assert extract_pdf_pages(data) == pages


def test_round_trip_fuzz_200():
    rng = random.Random(7)
    alphabet = "abc ()\\\n\té 中\U0001f600<>[]/%#"
    for t in range(200):
        pages = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(120)))
            for _ in range(1 + rng.randrange(4))
        ]
        data = build_pdf(
            pages, compress=bool(t % 2), indirect_length=(t % 3 == 0)
        )
        assert extract_pdf_pages(data) == pages, t


def test_emitted_bytes_are_real_pdf_structure():
    """The builder emits spec-shaped bytes, not a bespoke container: header,
    xref table whose offsets actually resolve, FlateDecode streams that
    zlib-inflate to BT/ET content, and a trailer with /Root."""
    data = build_pdf(["alpha\nbeta", "gamma"])
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    # startxref points at the xref table
    start = int(data[data.rfind(b"startxref") :].split()[1])
    assert data[start : start + 4] == b"xref"
    # every xref offset lands exactly on "N 0 obj"
    lines = data[start:].split(b"\n")
    n_objs = int(lines[1].split()[1])
    for num, entry in enumerate(lines[2 : 2 + n_objs]):
        off, _gen, kind = entry.split()[:3]
        if kind == b"n":
            assert data[int(off) :].startswith(f"{num} 0 obj".encode())
    assert b"/Root 1 0 R" in data
    # content streams inflate to text operators
    i = data.find(b"stream\n")
    j = data.find(b"\nendstream", i)
    inflated = zlib.decompress(data[i + len(b"stream\n") : j])
    assert inflated.startswith(b"BT\n") and b"Tj" in inflated


def test_damaged_xref_falls_back_to_object_scan():
    pages = ["alpha\nbeta", "gamma"]
    data = build_pdf(pages)
    broken = data[: data.rfind(b"startxref")] + b"garbage trailing bytes"
    assert extract_pdf_pages(broken) == pages


def test_unsupported_filter_raises():
    # image codecs stay out of the subset (no JPEG machinery in-env)
    data = build_pdf(["x"], compress=False)
    bad = data.replace(b"<< /Length", b"<< /Filter /DCTDecode /Length")
    with pytest.raises(ValueError, match="unsupported filter"):
        extract_pdf_pages(bad)


def test_not_a_pdf_raises():
    with pytest.raises(ValueError, match="%PDF"):
        extract_pdf_pages(b"<html>not a pdf</html>")


def test_mixed_show_operators_cover_all_variants():
    """4+ lines forces every show shape (Tj, TJ-with-kerning, ', hex Tj)
    and every line-move shape (T*, Td, ', TD) into one content stream."""
    pages = ["v0\nv1é\nv2\nv3中\nv4\nv5\nv6\nv7"]
    data = build_pdf(pages, compress=False)
    raw = data[data.find(b"stream\n") + 7 : data.find(b"\nendstream")]
    for op in (b" Tj", b" TJ", b") '", b"T*", b"Td", b"TD", b"<"):
        assert op in raw, op
    assert extract_pdf_pages(data) == pages


def test_kernel_pdf_branch_f4_folds_parsed_pages():
    """extract_document on PDF bytes == the text-layer path on the same
    pages: doc_kind flips to 'pdf', everything else byte-identical."""
    from pdf_extraction_spark.kernel import PAGE_SEP, extract_document

    pages = ["Invoice Number: 77\nTotal Amount: 12:34", "", "Notes: a\nb:c"]
    text_layer = PAGE_SEP.join(pages)
    via_pdf = extract_document("u", build_pdf(pages), None)
    via_text = extract_document("u", None, text_layer)
    assert via_pdf[1] == "pdf" and via_text[1] == "text"
    assert via_pdf[2:] == via_text[2:]  # text, fields, page_fields, spans, err


def test_kernel_contains_corrupt_pdf_on_error_column():
    from pdf_extraction_spark.kernel import extract_document

    out = extract_document("u", b"%PDF-1.4\nthis is not valid", None)
    assert out[1] == "error"
    assert out[6] and "ValueError" in out[6]


def test_fixture_pdf_rows_golden_equality():
    """The generated fixture's PDF rows: pipeline output from BYTES equals
    the oracle's output from the golden TEXT layer, field for field."""
    from fixtures.gen import gen_pages
    from pdf_extraction_spark.kernel import extract_document
    from tests.oracle import oracle_document

    rows = gen_pages(96).to_pylist()
    pdf_rows = [
        r for r in rows if r["html"] and bytes(r["html"][:5]) == b"%PDF-"
    ]
    assert len(pdf_rows) >= 8, "fixture must carry PDF rows"
    keys = ["url", "doc_kind", "extracted_text", "fields", "page_fields",
            "spans", "error"]
    for r in pdf_rows:
        got = dict(zip(keys, extract_document(r["url"], r["html"], r["text"])))
        exp = oracle_document(r["url"], r["html"], r["text"])
        assert got == exp, r["url"]
        assert got["doc_kind"] == "pdf"


# ---------------------------------------------------------------------------
# PDF-1.5 layouts: cross-reference streams, object streams, predictors
# ---------------------------------------------------------------------------

_P15_PAGES = [
    "Héllo wörld\nLine 2 — ünïcode",
    "page TWO\na:b\nc: d",
    "",
    "tail inside one line",
]


@pytest.mark.parametrize(
    "kw",
    [
        dict(xref_stream=True),
        dict(xref_stream=True, use_objstm=True),
        dict(xref_stream=True, predictor=True),
        dict(xref_stream=True, use_objstm=True, predictor=True),
        dict(xref_stream=True, use_objstm=True, predictor=True, compress=False),
        dict(xref_stream=True, use_objstm=True, indirect_length=True),
    ],
)
def test_round_trip_pdf15_layouts(kw):
    data = build_pdf(_P15_PAGES, **kw)
    assert data.startswith(b"%PDF-1.5")
    assert extract_pdf_pages(data) == _P15_PAGES


def test_pdf15_structure_is_real():
    """The xref-stream layout contains NO classic table/trailer keywords
    and the startxref target is an indirect /Type /XRef stream object."""
    data = build_pdf(_P15_PAGES, xref_stream=True, use_objstm=True)
    assert b"\ntrailer" not in data and b"\nxref\n" not in data
    import re as _re

    at = int(_re.search(rb"startxref\s+(\d+)", data[-128:]).group(1))
    assert _re.match(rb"\d+ 0 obj", data[at:])
    assert b"/Type /XRef" in data[at : at + 200]
    assert b"/Type /ObjStm" in data  # catalog & friends are packed


def test_pdf15_damaged_startxref_scan_recovers_through_objstm():
    """Vandalized startxref on an ObjStm layout: the catalog lives INSIDE
    the object stream (no top-level 'N 0 obj' for the scan to find), so
    recovery must expand the ObjStm it scans up."""
    data = build_pdf(_P15_PAGES, xref_stream=True, use_objstm=True, predictor=True)
    i = data.rfind(b"startxref")
    bad = data[:i] + b"startxref\n999999999\n%%EOF\n"
    assert extract_pdf_pages(bad) == _P15_PAGES


def test_pdf15_fuzz_100():
    rng = random.Random(15)
    alphabet = "xy ()\\\n\tü 漢\U0001f680<>/%#"
    for t in range(100):
        pages = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(90)))
            for _ in range(1 + rng.randrange(3))
        ]
        data = build_pdf(
            pages,
            compress=bool(t % 2),
            xref_stream=True,
            use_objstm=(t % 3 == 0),
            predictor=(t % 4 == 0),
        )
        assert extract_pdf_pages(data) == pages, t


def test_png_unpredict_all_filters():
    """Sub/Up/Average/Paeth row filters invert exactly (the general
    PNG-predictor machinery, not just the Up rows the builder emits)."""
    from pdf_extraction_spark.pdf_parse import _png_unpredict

    rng = random.Random(3)
    raw = bytes(rng.randrange(256) for _ in range(7 * 6))  # 6 rows of 7

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    filtered = bytearray()
    prev = bytes(7)
    for r, ftype in zip(range(6), [0, 1, 2, 3, 4, 2]):
        row = raw[r * 7 : r * 7 + 7]
        filtered.append(ftype)
        for i in range(7):
            left = row[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ftype == 0:
                filtered.append(row[i])
            elif ftype == 1:
                filtered.append((row[i] - left) & 0xFF)
            elif ftype == 2:
                filtered.append((row[i] - up) & 0xFF)
            elif ftype == 3:
                filtered.append((row[i] - (left + up) // 2) & 0xFF)
            else:
                filtered.append((row[i] - paeth(left, up, ul)) & 0xFF)
        prev = row
    assert _png_unpredict(bytes(filtered), columns=7, colors=1, bpc=8) == raw


def test_incremental_update_prev_chain():
    """An appended incremental update (new page-2 content stream + an
    xref STREAM section whose /Prev points at the original classic
    TABLE) must win for the redefined object and fall through /Prev for
    everything else — a mixed table/stream chain, which is what real
    incrementally-saved PDFs contain."""
    import re as _re
    import struct
    import zlib as _z

    base = build_pdf(["first page", "old second"], compress=False)
    # object layout from build_pdf: content stream of page 2 is object 7
    # (1 catalog, 2 pages, 3 font, 4-5 pages, 6-7 contents)
    new_content = b"BT /F1 12 Tf 14 TL 72 720 Td (new second) Tj ET\n"
    upd = bytearray(base)
    off7 = len(upd)
    upd += b"7 0 obj\n<< /Length %d >>\nstream\n" % len(new_content)
    upd += new_content + b"\nendstream\nendobj\n"
    old_start = int(_re.search(rb"startxref\s+(\d+)", base[-128:]).group(1))
    xref_id = 8
    xref_at = len(upd)
    rows = struct.pack(">BIH", 1, off7, 0) + struct.pack(">BIH", 1, xref_at, 0)
    data = _z.compress(rows)
    upd += b"%d 0 obj\n" % xref_id
    upd += (
        b"<< /Type /XRef /Size 9 /W [ 1 4 2 ] /Index [ 7 2 ] /Root 1 0 R"
        b" /Prev %d /Filter /FlateDecode /Length %d >>" % (old_start, len(data))
    )
    upd += b"\nstream\n" + data + b"\nendstream\nendobj\n"
    upd += b"startxref\n%d\n%%%%EOF\n" % xref_at
    assert extract_pdf_pages(bytes(upd)) == ["first page", "new second"]
    # the original bytes still read the OLD text (append-only property)
    assert extract_pdf_pages(base) == ["first page", "old second"]


# ---------------------------------------------------------------------------
# stream filters beyond FlateDecode: LZW (TIFF/PDF flavour), ASCII85,
# ASCIIHex, RunLength
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("filt", ["flate", "lzw", "ahx", "a85", "rl"])
@pytest.mark.parametrize("xs", [False, True])
def test_round_trip_all_stream_filters(filt, xs):
    data = build_pdf(_P15_PAGES, compress=filt, xref_stream=xs, use_objstm=xs)
    assert extract_pdf_pages(data) == _P15_PAGES


def test_pdf_lzw_codec_fuzz_and_early_change():
    """PDF/TIFF LZW: big-endian bits, EarlyChange 0 and 1, width growth
    through 12 bits and mid-stream CLEAR resets on >4096-entry inputs.
    The flush->EOD boundary is the regression this pins: a width bump
    landing exactly between the final data code and EOD desyncs only
    there (both sides round-trip cleanly everywhere else)."""
    from pdf_extraction_spark.pdf_parse import _pdf_lzw_decode, _pdf_lzw_encode

    rng = random.Random(6)
    for t in range(150):
        n = rng.randrange(0, 6000)
        if t % 3 == 0:
            data = bytes(rng.randrange(4) for _ in range(n))  # long chains
        elif t % 3 == 1:
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = bytes([rng.randrange(256)]) * n  # pure run (c-S-c)
        for e in (0, 1):
            assert _pdf_lzw_decode(_pdf_lzw_encode(data, e), e) == data, (t, e)


def test_ascii85_known_vectors_and_edge_cases():
    from pdf_extraction_spark.pdf_parse import _ascii85_decode, _ascii85_encode

    # the classic Leviathan-opening group
    assert _ascii85_decode(b"9jqo^~>") == b"Man "
    assert _ascii85_encode(b"Man ") == b"9jqo^~>"
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert _ascii85_encode(b"\x00\x00\x00\x00") == b"z~>"
    assert _ascii85_decode(b" 9 j q o ^ ~>") == b"Man "  # whitespace ignored
    with pytest.raises(ValueError):
        _ascii85_decode(b"9~>")  # lone trailing char is illegal
    with pytest.raises(ValueError):
        _ascii85_decode(b"\x7f\x7f\x7f\x7f\x7f~>")  # out of range


def test_hex_and_runlength_edge_cases():
    from pdf_extraction_spark.pdf_parse import (
        _ascii_hex_decode,
        _run_length_decode,
        _run_length_encode,
    )

    assert _ascii_hex_decode(b"48 65 6C\n6C 6F>") == b"Hello"
    assert _ascii_hex_decode(b"7>") == b"\x70"  # odd digit pads with 0
    assert _run_length_decode(_run_length_encode(b"")) == b""
    assert _run_length_decode(b"\x00A\x80") == b"A"
    assert _run_length_decode(b"\xffB\x80") == b"B" * 2
    assert _run_length_decode(b"\x81C\x80") == b"C" * 128


# ---------------------------------------------------------------------------
# encrypted PDFs: the standard security handler (RC4 R2/R3, empty pw)
# ---------------------------------------------------------------------------


def test_rc4_canonical_vector():
    """The classic public RC4 test vector (key 'Key' / 'Plaintext'),
    plus the self-inverse property — pins the cipher core the whole
    handler rests on."""
    from pdf_extraction_spark.pdf_parse import _rc4

    ct = _rc4(b"Key", b"Plaintext")
    assert ct.hex() == "bbf316e8d940af0ad3"
    assert _rc4(b"Key", ct) == b"Plaintext"


def test_encrypted_roundtrip_matrix():
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_pages

    pages = ["Encrypted page one\nwith lines", "página dos ✓"]
    for enc in ("rc4-40", "rc4-128"):
        for kw in (
            {},
            {"xref_stream": True},
            {"xref_stream": True, "use_objstm": True, "predictor": True},
            {"compress": False},
            {"indirect_length": True},
            {"compress": "lzw"},
        ):
            blob = build_pdf(pages, encrypt=enc, **kw)
            assert extract_pdf_pages(blob) == pages, (enc, kw)
            # ciphertext: the plaintext must not appear in the bytes
            assert b"Encrypted page one" not in blob, (enc, kw)


def test_encrypted_scan_recovery():
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_pages

    pages = ["alpha", "beta"]
    for kw in ({}, {"xref_stream": True, "use_objstm": True}):
        blob = build_pdf(pages, encrypt="rc4-128", **kw)
        assert extract_pdf_pages(_vandalize_startxref(blob)) == pages, kw


def test_encrypted_wrong_password_and_unsupported_rejected():
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_pages

    blob = build_pdf(["x"], encrypt="rc4-40")
    # corrupt /U: empty-password verification must fail loudly
    i = blob.index(b"/U <")
    bad = blob[: i + 4] + b"00" + blob[i + 6 :]
    with pytest.raises(ValueError, match="password required"):
        extract_pdf_pages(bad)
    # bump /V to 4 (crypt filters / AES): unsupported, not mis-decrypted
    j = blob.index(b"/V 1")
    with pytest.raises(ValueError, match="unsupported encryption"):
        extract_pdf_pages(blob[:j] + b"/V 4" + blob[j + 4 :])


# ---------------------------------------------------------------------------
# Property-based round trip over the FULL variant matrix.  The seeded fuzz
# above predates the PDF-1.5 features; this drives hypothesis through every
# builder knob at once (stream filter x indirect /Length x xref stream x
# object streams x PNG predictor x vandalized startxref x encryption) so a
# regression in any combination shrinks to a minimal failing document.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_page_text = st.text(
    # printable-ish unicode plus the delimiters the escaper must handle;
    # hypothesis' default text() already excludes surrogates
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=160,
)
_pages = st.lists(_page_text, min_size=1, max_size=4)
_filter = st.sampled_from([True, False, "flate", "lzw", "ahx", "a85", "rl"])


@settings(max_examples=120, deadline=None)
@given(
    pages=_pages,
    compress=_filter,
    indirect_length=st.booleans(),
    xref_stream=st.booleans(),
    use_objstm=st.booleans(),
    predictor=st.booleans(),
    vandalize=st.booleans(),
    encrypt=st.sampled_from([None, "rc4-40", "rc4-128"]),
)
def test_round_trip_property_full_matrix(
    pages, compress, indirect_length, xref_stream, use_objstm, predictor, vandalize,
    encrypt,
):
    data = build_pdf(
        pages,
        compress=compress,
        indirect_length=indirect_length,
        xref_stream=xref_stream,
        # documented builder precondition: objstm/predictor are PDF-1.5
        # xref-stream features
        use_objstm=use_objstm and xref_stream,
        predictor=predictor and xref_stream,
        encrypt=encrypt,
    )
    if vandalize:
        data = _vandalize_startxref(data)
    assert extract_pdf_pages(data) == pages
