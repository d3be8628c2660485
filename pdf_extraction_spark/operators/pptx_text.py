"""PPTX text extraction — slide decks are a large share of the office
documents a crawl carries.  Both directions, from scratch on stdlib
``zipfile`` + ``xml.etree``:

* :func:`build_pptx` emits a real minimal presentation:
  [Content_Types].xml, the package rels, ``ppt/presentation.xml`` whose
  ``sldIdLst`` orders the deck, ``ppt/_rels/presentation.xml.rels``
  mapping each slide id to its part, and one
  ``ppt/slides/slideN.xml`` per slide (a text body of ``<a:p>``
  paragraphs of ``<a:r><a:t>`` runs, split mid-paragraph like real
  writers, with ``<a:br/>`` for in-paragraph breaks).
* :func:`extract_pptx_slides` resolves the deck through
  presentation.xml's ``sldIdLst`` + rels (NOT by sorting file names —
  slide10 sorts before slide2; the rels route is the spec's), then
  walks each slide's paragraphs: runs joined, ``<a:br/>`` -> newline,
  one string per slide with paragraphs newline-joined.

Same XML-1.0 projection as docx (``sanitize_for_xml``), so the
round trip in the registry (``__spark_entry__.py``) has an oracle
that replays it analytically.

Reference analogue: the reference extracts per-page text from uploaded
documents (pdfextraction.py:33-35); slides are pages of a deck.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
import xml.etree.ElementTree as ET

from pdf_extraction_spark.operators.docx_text import open_package, sanitize_for_xml

_DML = "http://schemas.openxmlformats.org/drawingml/2006/main"
_PML = "http://schemas.openxmlformats.org/presentationml/2006/main"
_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"

_CONTENT_TYPES_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
)
_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>'
    "</Relationships>"
)


def _esc(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _runs_xml(part: str) -> str:
    out = []
    for i, piece in enumerate(part.split("\n")):
        if i:  # one <a:br/> per newline, even around empty pieces
            out.append("<a:br/>")
        if piece:
            out.append(f"<a:r><a:t>{_esc(piece)}</a:t></a:r>")
    return "".join(out)


def _slide_xml(text: str) -> str:
    # ONE paragraph of two adjacent runs (split at the midpoint, like
    # the docx builder) so extraction must merge runs; paragraph joins
    # are covered separately (they INSERT a newline, which would break
    # the round trip's exact identity)
    half = len(text) // 2
    paras = f"<a:p>{_runs_xml(text[:half]) + _runs_xml(text[half:])}</a:p>"
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:sld xmlns:p="{_PML}" xmlns:a="{_DML}" xmlns:r="{_REL}">'
        "<p:cSld><p:spTree>"
        "<p:sp><p:txBody>"
        '<a:bodyPr/><a:lstStyle/>'
        + paras
        + "</p:txBody></p:sp>"
        "</p:spTree></p:cSld>"
        "</p:sld>"
    )


def build_pptx(slides: list[str]) -> bytes:
    """A real minimal .pptx: slides ordered by ``sldIdLst`` through the
    rels part.  Slide parts are NAMED in reverse so a name-sorting
    extractor (instead of a rels-resolving one) reads the deck
    backwards and fails the round trip."""
    if not slides:
        slides = [""]
    n = len(slides)
    ct = [_CONTENT_TYPES_HEAD]
    rels = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_REL}">'
    ]
    sldids = []
    parts: list[tuple[str, str]] = []
    for i, text in enumerate(slides):
        # reversed part naming: slide 1 of a 3-slide deck is slide3.xml
        part = f"slides/slide{n - i}.xml"
        ct.append(
            f'<Override PartName="/ppt/{part}" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>'
        )
        rels.append(
            f'<Relationship Id="rSld{i + 1}" Type="{_REL}/slide" Target="{part}"/>'
        )
        sldids.append(f'<p:sldId id="{256 + i}" r:id="rSld{i + 1}"/>')
        parts.append((f"ppt/{part}", _slide_xml(sanitize_for_xml(text))))
    ct.append("</Types>")
    rels.append("</Relationships>")
    presentation = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_PML}" xmlns:r="{_REL}">'
        "<p:sldIdLst>" + "".join(sldids) + "</p:sldIdLst>"
        "</p:presentation>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", "".join(ct)),
            ("_rels/.rels", _PKG_RELS),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", "".join(rels)),
            *parts,
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8"))
    return buf.getvalue()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _slide_text(xml_bytes: bytes) -> str | None:
    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return None
    paras: list[str] = []
    for p in root.iter():
        if _local(p.tag) != "p":
            continue
        parts: list[str] = []
        for el in p.iter():
            name = _local(el.tag)
            if name == "t":
                parts.append(el.text or "")
            elif name == "br":
                parts.append("\n")
        paras.append("".join(parts))
    return "\n".join(paras)


def extract_pptx_slides(raw: bytes | zipfile.ZipFile) -> list[str] | None:
    """One string per slide in DECK order (sldIdLst through the rels
    part), or None when the bytes are not a readable presentation."""
    try:
        with open_package(raw) as z:
            names = set(z.namelist())
            if "ppt/presentation.xml" not in names:
                return None
            pres = ET.fromstring(z.read("ppt/presentation.xml"))
            targets: dict[str, str] = {}
            rels_name = "ppt/_rels/presentation.xml.rels"
            if rels_name in names:
                for rel in ET.fromstring(z.read(rels_name)):
                    targets[rel.get("Id", "")] = rel.get("Target", "")
            out: list[str] = []
            for el in pres.iter():
                if _local(el.tag) != "sldId":
                    continue
                rid = next(
                    (v for k, v in el.attrib.items() if _local(k) == "id" and k != "id"),
                    None,
                )
                part = targets.get(rid or "")
                if not part:
                    continue
                part = posixpath.normpath(posixpath.join("ppt", part))
                if part not in names:
                    continue
                text = _slide_text(z.read(part))
                if text is not None:
                    out.append(text)
    except (zipfile.BadZipFile, KeyError, OSError, ET.ParseError):
        return None
    return out
