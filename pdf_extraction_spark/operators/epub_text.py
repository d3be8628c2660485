"""EPUB text extraction — the packaged-book container.

Unlike .docx (one fixed part name), EPUB resolves content INDIRECTLY:
``META-INF/container.xml`` names the OPF package file, whose
``<manifest>`` maps ids to hrefs (relative to the OPF's directory) and
whose ``<spine>`` orders the reading sequence.  The extractor follows
exactly that chain — container -> OPF -> spine itemrefs -> manifest
hrefs -> XHTML chapters — and reads each chapter's paragraph text
(namespace-agnostic local-name matching; ``<br/>`` -> newline), one
string per spine document.

The builder emits a real minimal package (mimetype STORED first, as
the spec requires; deterministic zip timestamps) with the chapters in
a subdirectory so href resolution is actually exercised, plus a
non-spine item (a stylesheet) the spine walk must ignore.  The same
XML-1.0 projection as docx applies (sanitize_for_xml), so the entry
shares the analytic sanitize-identity oracle shape.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
import xml.etree.ElementTree as ET

from pdf_extraction_spark.operators.docx_text import _esc, open_package, sanitize_for_xml

_CONTAINER = (
    '<?xml version="1.0"?>'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf"'
    ' media-type="application/oebps-package+xml"/></rootfiles></container>'
)


def _chapter_xhtml(text: str) -> str:
    body = "".join(
        "<br/>" if piece == "\n" else _esc(piece)
        for piece in re.split(r"(\n)", text)
        if piece
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head><title>c</title></head>'
        f"<body><p>{body}</p></body></html>"
    )


def build_epub(chapters: list[str]) -> bytes:
    """A real minimal EPUB: mimetype (STORED, first, per spec),
    container.xml, an OPF whose spine orders the chapters, and one
    XHTML file per chapter under OEBPS/text/ (so manifest hrefs need
    directory resolution); a stylesheet item exists in the manifest
    but not the spine."""
    if not chapters:
        chapters = [""]
    items = []
    refs = []
    files = []
    for i, ch in enumerate(chapters):
        name = f"text/ch{i}.xhtml"
        items.append(
            f'<item id="c{i}" href="{name}" media-type="application/xhtml+xml"/>'
        )
        refs.append(f'<itemref idref="c{i}"/>')
        files.append((f"OEBPS/{name}", _chapter_xhtml(sanitize_for_xml(ch))))
    items.append('<item id="css" href="style.css" media-type="text/css"/>')
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="id">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<dc:identifier id=\"id\">synthetic</dc:identifier><dc:title>t</dc:title>"
        "</metadata>"
        f"<manifest>{''.join(items)}</manifest>"
        f"<spine>{''.join(refs)}</spine></package>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        info = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_STORED
        z.writestr(info, "application/epub+zip")
        for name, data in (
            ("META-INF/container.xml", _CONTAINER),
            ("OEBPS/content.opf", opf),
            ("OEBPS/style.css", "p { margin: 0 }"),
            *files,
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8"))
    return buf.getvalue()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _xhtml_text(xml_bytes: bytes) -> str | None:
    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return None
    parts: list[str] = []

    def walk(el):
        if _local(el.tag) == "br":
            parts.append("\n")
        if el.text:
            parts.append(el.text)
        for child in el:
            walk(child)
            if child.tail:
                parts.append(child.tail)

    for el in root.iter():
        if _local(el.tag) == "body":
            for child in el:
                walk(child)
            break
    return "".join(parts)


def extract_epub_chapters(raw: bytes | zipfile.ZipFile) -> list[str] | None:
    """Follow container.xml -> OPF -> spine -> XHTML; returns one text
    string per spine document, or None if the package is malformed."""
    try:
        package = open_package(raw)
    except (zipfile.BadZipFile, OSError):
        return None
    with package as z:
        try:
            container = ET.fromstring(z.read("META-INF/container.xml"))
        except (KeyError, ET.ParseError):
            return None
        opf_path = None
        for el in container.iter():
            if _local(el.tag) == "rootfile":
                opf_path = el.get("full-path")
                break
        if not opf_path:
            return None
        try:
            opf = ET.fromstring(z.read(opf_path))
        except (KeyError, ET.ParseError):
            return None
        base = posixpath.dirname(opf_path)
        hrefs: dict[str, str] = {}
        order: list[str] = []
        for el in opf.iter():
            name = _local(el.tag)
            if name == "item" and el.get("id") and el.get("href"):
                hrefs[el.get("id")] = el.get("href")
            elif name == "itemref" and el.get("idref"):
                order.append(el.get("idref"))
        out: list[str] = []
        for idref in order:
            href = hrefs.get(idref)
            if href is None:
                return None
            path = posixpath.normpath(posixpath.join(base, href)) if base else href
            try:
                text = _xhtml_text(z.read(path))
            except KeyError:
                return None
            if text is None:
                return None
            out.append(text)
        return out
