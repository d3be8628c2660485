"""XLSX build/extract: grid round trips, the three cell encodings
(shared / inline / numeric), shared-string deduplication, rels-based
sheet resolution, every sheet in workbook order, and containment on
malformed bytes."""

from __future__ import annotations

import zipfile

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.operators.docx_text import sanitize_for_xml
from pdf_extraction_spark.operators.xlsx_text import (
    build_xlsx,
    extract_xlsx_sheets,
)


def test_grid_roundtrip():
    grid = [["alpha", "beta", "gamma"], ["", "déjà ✓", "42"], ["tail"]]
    assert extract_xlsx_sheets(build_xlsx(grid)) == [grid]


def test_all_three_cell_encodings_present():
    raw = build_xlsx([["shared", "inline", "42"]])
    with zipfile.ZipFile(__import__("io").BytesIO(raw)) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
        sst = z.read("xl/sharedStrings.xml").decode()
    assert 't="s"' in sheet and 't="inlineStr"' in sheet
    assert "<c r=\"C1\"><v>42</v></c>" in sheet  # native number cell
    assert "shared" in sst and "inline" not in sst


def test_shared_strings_deduplicated():
    raw = build_xlsx([["dup", "x"], ["dup", "y"], ["dup", "z"]])
    with zipfile.ZipFile(__import__("io").BytesIO(raw)) as z:
        sst = z.read("xl/sharedStrings.xml").decode()
    assert sst.count("dup") == 1
    assert extract_xlsx_sheets(raw) == [[["dup", "x"], ["dup", "y"], ["dup", "z"]]]


def test_sheet_resolved_through_rels_not_path():
    # same workbook, but the sheet stored at a non-default path that
    # ONLY the rels part names
    raw = build_xlsx([["a", "b"]])
    import io

    src = zipfile.ZipFile(io.BytesIO(raw))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/worksheets/sheet1.xml":
                name = "xl/worksheets/tab_one.xml"
            elif name == "xl/_rels/workbook.xml.rels":
                data = data.replace(
                    b"worksheets/sheet1.xml", b"worksheets/tab_one.xml"
                )
            z.writestr(name, data)
    assert extract_xlsx_sheets(buf.getvalue()) == [[["a", "b"]]]


def test_rich_text_runs_joined():
    # Excel writes formatted shared strings as <si><r><t>..</t></r>...;
    # the extractor must join runs, not read only a top-level <t>
    raw = build_xlsx([["placeholder"]])
    import io

    src = zipfile.ZipFile(io.BytesIO(raw))
    buf = io.BytesIO()
    rich = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'count="1" uniqueCount="1">'
        "<si><r><rPr><b/></rPr><t>bold</t></r><r><t> tail</t></r></si></sst>"
    )
    with zipfile.ZipFile(buf, "w") as z:
        for name in src.namelist():
            z.writestr(
                name,
                rich if name == "xl/sharedStrings.xml" else src.read(name),
            )
    assert extract_xlsx_sheets(buf.getvalue()) == [[["bold tail"]]]


def test_malformed_returns_none():
    assert extract_xlsx_sheets(b"not a zip") is None
    assert extract_xlsx_sheets(b"PK\x03\x04 truncated") is None
    # a zip without a workbook (e.g. a docx) is not an xlsx
    from pdf_extraction_spark.operators.docx_text import build_docx

    assert extract_xlsx_sheets(build_docx(["p"])) is None
    # bad shared-string index is contained, not raised
    base = build_xlsx([["a"]])
    import io

    src = zipfile.ZipFile(io.BytesIO(base))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/worksheets/sheet1.xml":
                data = data.replace(b"<v>0</v>", b"<v>99</v>")
            z.writestr(name, data)
    assert extract_xlsx_sheets(buf.getvalue()) == [[[""]]]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(st.text(max_size=30), min_size=1, max_size=4),
        min_size=1,
        max_size=4,
    )
)
def test_roundtrip_fuzz(grid):
    want = [[sanitize_for_xml(c) for c in row] for row in grid]
    assert extract_xlsx_sheets(build_xlsx(grid)) == [want]


def test_every_sheet_in_workbook_order():
    """A second worksheet, listed FIRST in workbook.xml: both grids come
    back in workbook order, and the dispatcher joins the sheets with a
    form feed."""
    import io

    from pdf_extraction_spark.operators.any_text import extract_any

    base = build_xlsx([["a", "b"], ["1"]])
    src = zipfile.ZipFile(io.BytesIO(base))
    sheet2 = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>summary</t></is></c>'
        '<c r="B1"><v>7</v></c></row></sheetData></worksheet>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name in src.namelist():
            data = src.read(name)
            if name == "xl/workbook.xml":
                data = data.replace(
                    b"<sheets>",
                    b'<sheets><sheet name="Summary" sheetId="2" r:id="rId9"/>',
                )
            elif name == "xl/_rels/workbook.xml.rels":
                data = data.replace(
                    b"</Relationships>",
                    b'<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/'
                    b'officeDocument/2006/relationships/worksheet" '
                    b'Target="worksheets/sheet2.xml"/></Relationships>',
                )
            z.writestr(name, data)
        z.writestr("xl/worksheets/sheet2.xml", sheet2)
    raw = buf.getvalue()
    assert extract_xlsx_sheets(raw) == [[["summary", "7"]], [["a", "b"], ["1"]]]
    assert extract_any(raw) == ("xlsx", "summary\t7\x0ca\tb\n1")
    # a single-sheet workbook reads exactly as before: no form feed
    assert extract_any(base) == ("xlsx", "a\tb\n1")
