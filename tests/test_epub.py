"""EPUB build/extract round trip (operators/epub_text.py)."""

from __future__ import annotations

import io
import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from __spark_entry__ import _round_trip, _split_row, _text_schema
from pdf_extraction_spark.operators.docx_text import sanitize_for_xml
from pdf_extraction_spark.operators.epub_text import build_epub, extract_epub_chapters


@pytest.mark.parametrize(
    "chaps",
    [
        ["Chapter one & <tags> escaped", "capítulo dos ✓"],
        ["", ""],
        ["line1\nline2", "  edge whitespace  "],
        ["ctrl\x07char", "x" * 400],
    ],
)
def test_roundtrip(chaps):
    assert extract_epub_chapters(build_epub(chaps)) == [
        sanitize_for_xml(c) for c in chaps
    ]


@settings(max_examples=60, deadline=None)
@given(
    chaps=st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=100),
        min_size=1,
        max_size=3,
    )
)
def test_roundtrip_property(chaps):
    assert extract_epub_chapters(build_epub(chaps)) == [
        sanitize_for_xml(c) for c in chaps
    ]


def test_wire_format_and_spine_resolution():
    blob = build_epub(["a", "b", "c"])
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        names = z.namelist()
        # mimetype must be FIRST and STORED (the spec's magic-sniffing rule)
        assert names[0] == "mimetype"
        assert z.getinfo("mimetype").compress_type == zipfile.ZIP_STORED
        assert "META-INF/container.xml" in names
        assert "OEBPS/content.opf" in names
        assert "OEBPS/text/ch1.xhtml" in names  # hrefs live in a subdir
    assert blob == build_epub(["a", "b", "c"])  # deterministic


def test_spine_order_is_authoritative():
    """Reverse the spine itemrefs: extraction must follow the SPINE
    order, not the manifest or zip order."""
    blob = build_epub(["first", "second"])
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        opf = z.read("OEBPS/content.opf").decode()
        parts = {n: z.read(n) for n in z.namelist()}
    flipped = opf.replace(
        '<itemref idref="c0"/><itemref idref="c1"/>',
        '<itemref idref="c1"/><itemref idref="c0"/>',
    )
    assert flipped != opf
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for n, data in parts.items():
            z.writestr(n, flipped.encode() if n == "OEBPS/content.opf" else data)
    assert extract_epub_chapters(buf.getvalue()) == ["second", "first"]


def test_rejections():
    assert extract_epub_chapters(b"junk") is None
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "application/epub+zip")
    assert extract_epub_chapters(buf.getvalue()) is None  # no container.xml
    # spine referencing a missing manifest item
    blob = build_epub(["x"])
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    opf = parts["OEBPS/content.opf"].decode().replace('idref="c0"', 'idref="nope"')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for n, data in parts.items():
            z.writestr(n, opf.encode() if n == "OEBPS/content.opf" else data)
    assert extract_epub_chapters(buf.getvalue()) is None


def test_spark_roundtrip(spark):
    rows = [(1, "book body text"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = _split_row(build_epub, extract_epub_chapters)
    out = _round_trip(df, row, _text_schema("n_chapters", "chap1_chars"))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["extracted_text"] == "book body text"
    assert got[1]["n_chapters"] == 2
    assert got[2]["extracted_text"] == "" and got[2]["n_chars"] == 0
