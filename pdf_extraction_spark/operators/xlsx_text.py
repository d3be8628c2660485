"""XLSX text extraction — the third ubiquitous OOXML container after
DOCX (and the one whose text layer is INDIRECT: cell values live behind
a shared-string table).  Both directions, from scratch on stdlib
``zipfile`` + ``xml.etree``:

* :func:`build_xlsx` emits a real minimal workbook: [Content_Types].xml,
  the package rels, ``xl/workbook.xml`` whose sheet tab points through
  ``xl/_rels/workbook.xml.rels`` at the worksheet part, a
  ``xl/sharedStrings.xml`` table (deduplicated, exactly like Excel
  writes it), and ``xl/worksheets/sheet1.xml``.  Cells alternate the
  three value encodings real writers emit: shared strings (``t="s"``,
  the value is an INDEX), inline strings (``t="inlineStr"``), and
  numeric cells (no ``t``, the value is literal).
* :func:`extract_xlsx_sheets` opens the package, resolves every sheet
  of the workbook, in ``workbook.xml`` order, through its rels (not by
  guessing the path), loads the shared-string table, and returns one
  grid per sheet: one list per row, cells as strings (numeric cells as
  their literal ``<v>`` text).

The same XML-1.0 projection as docx applies (C0 controls / ``\\r`` ->
``'?'``), so the registry round trip's oracle replays
``sanitize_for_xml`` and the identity pins the whole chain.

Reference analogue: the reference extracts per-document text
(pdfextraction.py:33-35); XLSX is the same job for tabular documents.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
import xml.etree.ElementTree as ET

from pdf_extraction_spark.operators.docx_text import open_package, sanitize_for_xml

_SSML = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_PKG_REL}">'
    '<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId8" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_SSML}" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId7"/></sheets>'
    "</workbook>"
)


def _esc(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col_name(idx: int) -> str:
    """0-based column index -> A1-style column letters."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _is_number(v: str) -> bool:
    try:
        float(v)
        return True
    except ValueError:
        return False


def build_xlsx(rows: list[list[str]]) -> bytes:
    """A real minimal .xlsx carrying ``rows``.  Numeric-looking cells
    are written as native number cells (literal ``<v>``); string cells
    alternate shared (even data column) and inline (odd) so extraction
    must resolve the shared-string table AND read inline runs."""
    shared: list[str] = []
    shared_idx: dict[str, int] = {}
    body: list[str] = []
    for r, row in enumerate(rows, start=1):
        cells: list[str] = []
        for c, v in enumerate(row):
            v = sanitize_for_xml(v)
            ref = f"{_col_name(c)}{r}"
            if v and _is_number(v):
                cells.append(f'<c r="{ref}"><v>{_esc(v)}</v></c>')
            elif c % 2 == 0:
                if v not in shared_idx:
                    shared_idx[v] = len(shared)
                    shared.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{shared_idx[v]}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is>'
                    f'<t xml:space="preserve">{_esc(v)}</t></is></c>'
                )
        body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_SSML}"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_SSML}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared
        )
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _PKG_RELS),
            ("xl/workbook.xml", _WORKBOOK),
            ("xl/_rels/workbook.xml.rels", _WB_RELS),
            ("xl/sharedStrings.xml", sst),
            ("xl/worksheets/sheet1.xml", sheet),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8"))
    return buf.getvalue()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _text_of(el) -> str:
    """All <t> descendants joined — handles both plain <t> and the
    rich-text <r><t> runs real writers emit inside si/is elements."""
    parts = []
    for t in el.iter():
        if _local(t.tag) == "t":
            parts.append(t.text or "")
    return "".join(parts)


def _sheet_rows(sheet, shared: list[str]) -> list[list[str]]:
    """One worksheet's grid: one list per row, cells as strings."""
    out: list[list[str]] = []
    for row in sheet.iter():
        if _local(row.tag) != "row":
            continue
        cells: list[str] = []
        for c in row:
            if _local(c.tag) != "c":
                continue
            kind = c.get("t", "n")
            if kind == "inlineStr":
                cells.append(_text_of(c))
                continue
            v = next((ch for ch in c if _local(ch.tag) == "v"), None)
            if v is None:
                cells.append("")
            elif kind == "s":
                try:
                    cells.append(shared[int(v.text or "")])
                except (ValueError, IndexError):
                    cells.append("")
            else:
                cells.append(v.text or "")
        out.append(cells)
    return out


def extract_xlsx_sheets(raw: bytes | zipfile.ZipFile) -> list[list[list[str]]] | None:
    """Every worksheet's grid in ``workbook.xml`` order, or None when the
    bytes are not a readable workbook or no sheet resolves.  Sheet
    resolution goes through the workbook's relationship part (the spec's
    route), not a hardcoded path; a sheet whose part is missing is
    skipped."""
    try:
        with open_package(raw) as z:
            names = set(z.namelist())
            if "xl/workbook.xml" not in names:
                return None
            wb = ET.fromstring(z.read("xl/workbook.xml"))
            rels_name = "xl/_rels/workbook.xml.rels"
            targets: dict[str, str] = {}
            if rels_name in names:
                for rel in ET.fromstring(z.read(rels_name)):
                    targets[rel.get("Id", "")] = rel.get("Target", "")
            parts = []
            for el in wb.iter():
                if _local(el.tag) == "sheet":
                    rid = next(
                        (v for k, v in el.attrib.items() if _local(k) == "id"),
                        None,
                    )
                    if rid in targets:
                        part = posixpath.normpath(posixpath.join("xl", targets[rid]))
                        if part in names:
                            parts.append(part)
            if not parts:
                return None
            shared: list[str] = []
            if "xl/sharedStrings.xml" in names:
                sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
                shared = [
                    _text_of(si) for si in sst if _local(si.tag) == "si"
                ]
            sheets = [ET.fromstring(z.read(p)) for p in parts]
    except (zipfile.BadZipFile, KeyError, OSError, ET.ParseError):
        return None
    return [_sheet_rows(sheet, shared) for sheet in sheets]
