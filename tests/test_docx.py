"""DOCX build/extract round trip (operators/docx_text.py)."""

from __future__ import annotations

import io
import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from __spark_entry__ import _round_trip, _split_row, _text_schema
from pdf_extraction_spark.operators.docx_text import (
    build_docx,
    extract_docx_paragraphs,
    sanitize_for_xml,
)


@pytest.mark.parametrize(
    "paras",
    [
        ["Hello & <world> \"quoted\"", "second paragraph ¶ ✓"],
        ["", ""],
        ["line1\nline2\ttabbed", "  edge whitespace  "],
        ["control\x07chars\x1f here", "\r\nwindows line end"],
        ["x" * 500],
        ["emoji 🎉 and combining é"],
    ],
)
def test_roundtrip(paras):
    assert extract_docx_paragraphs(build_docx(paras)) == [
        sanitize_for_xml(p) for p in paras
    ]


@settings(max_examples=80, deadline=None)
@given(
    paras=st.lists(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=120),
        min_size=1,
        max_size=4,
    )
)
def test_roundtrip_property(paras):
    assert extract_docx_paragraphs(build_docx(paras)) == [
        sanitize_for_xml(p) for p in paras
    ]


def test_bmp_noncharacters_sanitized():
    """Review regression: U+FFFE/U+FFFF are outside XML 1.0's Char
    production — expat rejects a document carrying them, so they must
    sanitize to '?' like the C0 controls (and the entry's oracle
    replays the same class)."""
    assert extract_docx_paragraphs(build_docx(["a￾b￿c"])) == ["a?b?c"]
    assert sanitize_for_xml("￾￿") == "??"


def test_package_is_a_real_zip_with_required_parts():
    blob = build_docx(["content"])
    assert blob[:2] == b"PK"
    with zipfile.ZipFile(io.BytesIO(blob)) as z:
        names = set(z.namelist())
    assert {"[Content_Types].xml", "_rels/.rels", "word/document.xml"} <= names
    # deterministic bytes (fixed zip timestamps)
    assert blob == build_docx(["content"])


def test_foreign_namespace_prefix_still_parses():
    """Writers use arbitrary prefixes; extraction matches local names."""
    doc = (
        '<?xml version="1.0"?>'
        '<x:document xmlns:x="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<x:body><x:p><x:r><x:t>alpha</x:t></x:r><x:r><x:br/><x:t>beta</x:t></x:r></x:p>"
        "</x:body></x:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", doc)
    assert extract_docx_paragraphs(buf.getvalue()) == ["alpha\nbeta"]


def test_rejections():
    assert extract_docx_paragraphs(b"not a zip") is None
    assert extract_docx_paragraphs(b"PK\x03\x04junk") is None
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.txt", "x")
    assert extract_docx_paragraphs(buf.getvalue()) is None
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", "<broken")
    assert extract_docx_paragraphs(buf.getvalue()) is None


def test_spark_roundtrip(spark):
    rows = [(1, "plain text body"), (2, "with\nbreaks\tand\ttabs"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = _split_row(build_docx, extract_docx_paragraphs)
    out = _round_trip(df, row, _text_schema("n_paragraphs", "para1_chars"))
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["extracted_text"] == "plain text body"
    assert got[1]["n_paragraphs"] == 2
    assert got[2]["extracted_text"] == "with\nbreaks\tand\ttabs"
    assert got[3]["extracted_text"] == "" and got[3]["n_chars"] == 0
