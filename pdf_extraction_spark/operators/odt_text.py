"""ODT (OpenDocument Text) extraction — the LibreOffice/OpenOffice
default, the other document package family a crawl carries besides
OOXML.  Both directions, from scratch on stdlib ``zipfile`` +
``xml.etree``:

* :func:`build_odt` emits a real minimal ODF package: the ``mimetype``
  member FIRST and STORED (uncompressed, per ODF 1.2 §3.3 so magic-byte
  sniffers can read the type at a fixed offset), ``META-INF/
  manifest.xml``, and ``content.xml`` whose ``office:text`` body holds
  ``text:p`` paragraphs.  Whitespace is encoded the way ODF requires:
  ``text:tab`` elements for tabs, ``text:line-break`` for newlines,
  and ``text:s text:c="n"`` for runs of 2+ spaces (ODF collapses
  literal whitespace runs), with each paragraph split across two
  ``text:span`` elements so extraction must merge spans.
* :func:`extract_odt_paragraphs` verifies the mimetype, walks
  ``content.xml``'s paragraphs, and inverts that encoding exactly.

Same XML-1.0 projection as docx (``sanitize_for_xml``), so the
round trip in the registry (``__spark_entry__.py``) has an oracle
that replays it analytically.

Reference analogue: pdfextraction.py:33-35 — per-document text
extraction, here for the OpenDocument family.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from pdf_extraction_spark.operators.docx_text import open_package, sanitize_for_xml

ODT_MIME = "application/vnd.oasis.opendocument.text"
_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

_MANIFEST = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">'
    f'<manifest:file-entry manifest:full-path="/" manifest:media-type="{ODT_MIME}"/>'
    '<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>'
    "</manifest:manifest>"
)


def _esc(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _encode_ws(part: str) -> str:
    """Text content with ODF whitespace elements: tabs, line breaks,
    and 2+ space runs become elements (a single space stays literal)."""
    out: list[str] = []
    for piece in re.split(r"(\t|\n| {2,})", part):
        if piece == "\t":
            out.append("<text:tab/>")
        elif piece == "\n":
            out.append("<text:line-break/>")
        elif piece.startswith("  "):
            out.append(f'<text:s text:c="{len(piece)}"/>')
        elif piece:
            out.append(_esc(piece))
    return "".join(out)


def build_odt(paragraphs: list[str]) -> bytes:
    """A real minimal .odt; each paragraph split into two text:span
    elements at its midpoint so extraction must merge spans."""
    if not paragraphs:
        paragraphs = [""]
    body = []
    for p in paragraphs:
        p = sanitize_for_xml(p)
        half = len(p) // 2
        body.append(
            "<text:p>"
            f"<text:span>{_encode_ws(p[:half])}</text:span>"
            f"<text:span>{_encode_ws(p[half:])}</text:span>"
            "</text:p>"
        )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE}" xmlns:text="{_TEXT}" office:version="1.2">'
        "<office:body><office:text>" + "".join(body) + "</office:text></office:body>"
        "</office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        # mimetype FIRST and STORED (ODF 1.2 §3.3)
        info = zipfile.ZipInfo("mimetype", date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_STORED
        z.writestr(info, ODT_MIME.encode("ascii"))
        for name, data in (
            ("META-INF/manifest.xml", _MANIFEST),
            ("content.xml", content),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8"))
    return buf.getvalue()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _para_text(p) -> str:
    parts: list[str] = []

    def walk(el) -> None:
        name = _local(el.tag)
        if name == "tab":
            parts.append("\t")
        elif name == "line-break":
            parts.append("\n")
        elif name == "s":
            count = next(
                (int(v) for k, v in el.attrib.items() if _local(k) == "c"),
                1,
            )
            parts.append(" " * count)
        if el.text:
            parts.append(el.text)
        for ch in el:
            walk(ch)
            if ch.tail:
                parts.append(ch.tail)

    walk(p)
    return "".join(parts)


def extract_odt_paragraphs(raw: bytes | zipfile.ZipFile) -> list[str] | None:
    """One string per text:p, or None when the bytes are not a readable
    OpenDocument Text package."""
    try:
        with open_package(raw) as z:
            names = set(z.namelist())
            if "mimetype" in names and z.read("mimetype") != ODT_MIME.encode(
                "ascii"
            ):
                return None
            if "content.xml" not in names or (
                "mimetype" not in names and "META-INF/manifest.xml" not in names
            ):
                return None
            root = ET.fromstring(z.read("content.xml"))
    except (zipfile.BadZipFile, KeyError, OSError, ET.ParseError):
        return None
    body = None
    for el in root.iter():
        if _local(el.tag) == "text" and el.tag.startswith("{" + _OFFICE):
            body = el
            break
    if body is None:
        return None
    return [_para_text(p) for p in body.iter() if _local(p.tag) == "p"]
