"""DOCX text extraction — the other document container a real
extraction pipeline meets besides PDF/HTML.

A .docx is a ZIP (stdlib ``zipfile``) holding WordprocessingML; the
text layer is ``word/document.xml``: paragraphs ``<w:p>`` of runs
``<w:r>`` of text nodes ``<w:t>``, with ``<w:br/>`` / ``<w:tab/>``
as in-paragraph breaks.  This module provides both directions:

* :func:`build_docx` emits a real, minimal-but-valid package
  ([Content_Types].xml, _rels/.rels, word/document.xml) with
  deterministic ZIP metadata, splitting each paragraph into MULTIPLE
  runs so extraction must reassemble them;
* :func:`extract_docx_paragraphs` opens the zip, parses the XML with
  stdlib ``xml.etree`` (namespace-agnostic local-name matching, so
  files from writers with different prefix conventions still parse),
  and inverts the mapping: runs join, ``<w:br/>`` -> ``\\n``,
  ``<w:tab/>`` -> ``\\t``, one string per paragraph.

XML 1.0 cannot carry most C0 control characters even escaped, so
:func:`build_docx` projects them to ``'?'`` (keeping ``\\n``/``\\t``,
:func:`sanitize_for_xml`).  The registry's ``extract_docx_text`` entry
(``__spark_entry__.py``) runs each document's text through the builder
and back, and its DuckDB oracle replays exactly that projection — the
identity ``extracted == sanitize(text)`` then pins the whole chain.

Reference analogue: the reference extracts per-page text from uploaded
documents (pdfextraction.py:33-35); DOCX is the same job for the other
ubiquitous format.
"""

from __future__ import annotations

import contextlib
import io
import re
import zipfile
import xml.etree.ElementTree as ET

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)

# characters XML 1.0 cannot represent at all (escaped or not): C0
# controls other than tab/newline, and the BMP noncharacters U+FFFE/
# U+FFFF (the Char production ends at #xFFFD in the BMP; astral
# noncharacters ARE in #x10000-#x10FFFF and survive)
_XML_ILLEGAL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]")


def sanitize_for_xml(text: str) -> str:
    """The projection the oracle replays: XML-1.0-invalid characters
    become '?' (\\r is in the illegal-for-round-trip set too: XML
    writers normalize it away, so it cannot survive)."""
    return _XML_ILLEGAL.sub("?", text.replace("\r", "?"))


def _esc(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _runs_xml(part: str) -> str:
    """One run per segment, with <w:br/>/<w:tab/> elements for the
    in-paragraph breaks; xml:space='preserve' keeps edge whitespace."""
    out = []
    for piece in re.split(r"(\n|\t)", part):
        if piece == "\n":
            out.append("<w:r><w:br/></w:r>")
        elif piece == "\t":
            out.append("<w:r><w:tab/></w:r>")
        elif piece:
            out.append(f'<w:r><w:t xml:space="preserve">{_esc(piece)}</w:t></w:r>')
    return "".join(out)


def build_docx(paragraphs: list[str]) -> bytes:
    """A real minimal .docx: deterministic ZIP (fixed timestamps) with
    the three required parts.  Each paragraph is split into two runs at
    its midpoint (when possible) so extraction must join runs; noise
    elements real writers emit (w:pPr, w:proofErr) are included for the
    parser to skip."""
    if not paragraphs:
        paragraphs = [""]
    body = []
    for p in paragraphs:
        p = sanitize_for_xml(p)
        half = len(p) // 2
        # avoid splitting inside nothing: two runs when both halves exist
        runs = _runs_xml(p[:half]) + _runs_xml(p[half:])
        body.append(
            "<w:p><w:pPr><w:jc w:val=\"left\"/></w:pPr>"
            '<w:proofErr w:type="spellStart"/>'
            f"{runs}"
            '<w:proofErr w:type="spellEnd"/>'
            "</w:p>"
        )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(body)
        + "<w:sectPr/></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", document),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8"))
    return buf.getvalue()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def open_package(src: bytes | zipfile.ZipFile):
    """Context manager over the zip package ``src``: bytes are opened
    here and closed on exit; an archive the caller already opened (the
    dispatcher's sniff) is used as it is and left open."""
    if isinstance(src, zipfile.ZipFile):
        return contextlib.nullcontext(src)
    return zipfile.ZipFile(io.BytesIO(src))


def extract_docx_paragraphs(raw: bytes | zipfile.ZipFile) -> list[str] | None:
    """Open the package, parse word/document.xml, and return one string
    per <w:p> (runs joined, <w:br/> -> newline, <w:tab/> -> tab), or
    None if the bytes are not a readable .docx."""
    try:
        with open_package(raw) as z:
            xml_bytes = z.read("word/document.xml")
    except (zipfile.BadZipFile, KeyError, OSError):
        return None
    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return None
    out: list[str] = []

    def walk_runs(p) -> str:
        parts: list[str] = []
        for el in p.iter():
            name = _local(el.tag)
            if name == "t":
                parts.append(el.text or "")
            elif name == "br" or name == "cr":
                parts.append("\n")
            elif name == "tab":
                parts.append("\t")
        return "".join(parts)

    body = None
    for el in root.iter():
        if _local(el.tag) == "body":
            body = el
            break
    if body is None:
        return None
    for el in body:
        if _local(el.tag) == "p":
            out.append(walk_runs(el))
    return out
