"""Universal document-text dispatch: sniff the content type from magic
bytes and route each blob to the matching in-repo extractor, one
document per row.  This module is the engine's ONE dispatcher for
document bytes: ``extract_any_pages`` decides what a blob is for every
caller that holds bytes (this module's ``extract_any_text`` and the
kernel's ``extract_document``, under ``extract_documents``,
``run_extraction`` and streaming), and importing it loads no pyspark.

A real crawl/archive corpus is mixed — a tar of court records holds
PDFs next to DOCX next to HTML next to plain text — and the operator a
100 TB ingest runs first is exactly this: classify by LEADING BYTES
(never by filename, which lies) and extract accordingly.  Generalizes
the reference's single-format assumption (`pdfextraction.py` takes only
PDFs) to the mixed corpus the rest of this engine's sources produce.

Before the sniff, a gzip/bzip2/xz member is unwrapped (type suffixed
".gz"/".bz2"/".xz") and a Unicode BOM is transcoded to UTF-8.  Dispatch
table (first match wins):

  %PDF-            -> pdf_parse.extract_pdf_pages (text layer, fonts,
                      encryption — the full round-5 parser); pages with
                      an EMPTY text layer whose images OCR to text take
                      the OCR text (doc_type "pdf_scanned": decode
                      DCTDecode/CCITTFaxDecode images, template OCR — the
                      reference's per-page no-text-layer fallback, honest
                      scope in _ocr_pdf_pages)
  PK\\x03\\x04     -> docx / xlsx / pptx / epub / odt by package content;
                      other zips -> type "zip", no text
  <, \\s*<         -> html_extract.extract_main_text
  PNG/GIF/JPEG/BMP/TIFF/ICO/RIFF/MP3/MP4 magic -> typed, no text (decode
                      is a separate, deliberate step — see multimodal ops)
  {\\rtf           -> rtf paragraphs
  valid UTF-8      -> plain text as-is, refined to "json"/"jsonl"
  anything else    -> type "binary", no text

``extract_any_pages`` returns ``(doc_type, pages)``; ``pages`` is None
when the type carries no text.  Each caller picks the join: PDF pages
(``pdf``, ``pdf_scanned`` and their compressed wrappers) are the
per-page texts; for every other type the text is the ``"\\n"`` join of
``pages``.  ``extract_any`` joins every type with ``"\\n"``; the kernel
F4-folds PDF pages and runs the OCR-style page fold over them.

Per-document containment (F18): an extractor raising on one blob yields
(doc_type="error", text=NULL, error=<message>) for that row only.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pdf_extraction_spark.html_extract import extract_main_text
from pdf_extraction_spark.operators.docx_text import extract_docx_paragraphs
from pdf_extraction_spark.operators.epub_text import extract_epub_chapters
from pdf_extraction_spark.operators.odt_text import extract_odt_paragraphs
from pdf_extraction_spark.operators.pptx_text import extract_pptx_slides
from pdf_extraction_spark.operators.rtf_text import extract_rtf_paragraphs
from pdf_extraction_spark.operators.xlsx_text import extract_xlsx_sheets

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_IMAGE_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"BM", "bmp"),
    (b"II*\x00", "tiff"),
    (b"MM\x00*", "tiff"),
    (b"\x00\x00\x01\x00", "ico"),
    (b"ID3", "mp3"),
]


_UNICODE_BOMS = (  # UTF-32 first: its LE BOM starts with the UTF-16 LE BOM
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)
_C0_GARBAGE = frozenset(range(0x20)) - {0x09, 0x0A, 0x0C, 0x0D}


def decode_bom_text(raw: bytes) -> str | None:
    """The text behind a Unicode byte-order mark, or None when there is
    no BOM, the decode fails, or the decoded content carries C0 control
    garbage (a real text file doesn't; a binary that happens to start
    with BOM bytes usually does)."""
    for bom, enc in _UNICODE_BOMS:
        if raw.startswith(bom):
            try:
                text = raw[len(bom) :].decode(enc)
            except UnicodeDecodeError:
                return None
            if any(ord(c) in _C0_GARBAGE for c in text):
                return None
            return text
    return None


# zip package layouts, first match wins: a member that marks the type
_ZIP_LAYOUTS = (
    ("word/document.xml", "docx"),
    ("xl/workbook.xml", "xlsx"),
    ("ppt/presentation.xml", "pptx"),
    ("META-INF/container.xml", "epub"),
)


def _sniff_zip(raw: bytes):
    """(type, archive) for a ``PK\\x03\\x04`` blob: the type by package
    layout, and the OPEN archive when the type is an office or e-book
    package (the caller extracts from it and closes it), so one blob's
    central directory is parsed once.  Unreadable zips are type "zip"."""
    import io
    import zipfile

    try:
        z = zipfile.ZipFile(io.BytesIO(raw))
    except Exception:
        return "zip", None
    try:
        names = set(z.namelist())
        mime = z.read("mimetype") if "mimetype" in names else b""
    except Exception:
        z.close()
        return "zip", None
    t = next((t for member, t in _ZIP_LAYOUTS if member in names), None)
    if t is None and mime == b"application/vnd.oasis.opendocument.text":
        t = "odt"
    if t is None:
        z.close()
        return "zip", None
    return t, z


def sniff_doc_type(raw: bytes) -> str:
    """Content type from leading bytes; zip containers are refined to
    docx/xlsx/pptx/epub/odt by their package layout."""
    if raw[:5] == b"%PDF-":
        return "pdf"
    if raw[:4] == b"PK\x03\x04":
        t, z = _sniff_zip(raw)
        if z is not None:
            z.close()
        return t
    for magic, t in _IMAGE_MAGIC:
        if raw[: len(magic)] == magic:
            return t
    if raw[:4] == b"RIFF":
        return "wav" if raw[8:12] == b"WAVE" else "riff"
    if (  # ISO-BMFF: a box size that fits the blob, 'ftyp', printable brand
        raw[4:8] == b"ftyp"
        and len(raw) >= 12
        and 8 <= int.from_bytes(raw[:4], "big") <= len(raw)
        and all(0x20 <= c <= 0x7E for c in raw[8:12])
    ):
        return "mp4"
    if len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xFE) == 0xFA:
        return "mp3"  # bare MPEG-1 Layer III frame sync (no ID3 tag);
        # deliberately narrow — a loose 11-bit sync test would claim
        # UTF-16 BOMs and arbitrary high-byte binaries
    if raw[:5] == b"{\\rtf":
        return "rtf"
    bom_text = decode_bom_text(raw)
    if bom_text is not None:
        return "html" if bom_text.lstrip()[:1] == "<" else "text"
    stripped = raw.lstrip()[:16].lower()
    if stripped[:1] == b"<":
        # markup-leading blobs route through the HTML kernel (which also
        # copes with XML-ish and fragment inputs)
        return "html"
    if b"\x00" in raw[:8192]:
        return "binary"  # the standard NUL heuristic (what git uses)
    try:
        raw.decode("utf-8")
        return "text"
    except UnicodeDecodeError:
        return "binary"


def _ocr_pdf_pages(raw: bytes) -> list[str | None]:
    """Per-page OCR for scanned PDF pages — the reference's scanned-page
    dataflow (pdfextraction.py:16,72-73 rasterizes and OCRs pages with
    no text layer, PAGE BY PAGE).  Decodes each page's embedded images
    (DCTDecode via the in-repo JPEG codec, CCITTFaxDecode across the
    full /K range via the T.4/T.6 codecs) and runs the template OCR;
    returns one recovered string (or None) per page, so the caller can
    merge text-layer pages with OCR'd scanned pages in a mixed
    document.  HONEST SCOPE (same contract as operators/ocr.py): the
    template matcher recognizes the repo's own 8x8 bitmap font on the
    128x64 page grid — the full render->compress->embed->decode->
    recognize dataflow over documents this engine produced; general OCR
    of arbitrary scans remains env-blocked (no tesseract).  Off-grid or
    undecodable images are skipped (``image_text`` gives None)."""
    from pdf_extraction_spark.operators.ocr import image_text
    from pdf_extraction_spark.pdf_parse import extract_pdf_images

    out: list[str | None] = []
    for page in extract_pdf_images(raw):
        texts = [t for t in map(image_text, page) if t]
        out.append("\n".join(texts) if texts else None)
    return out


_MAX_GZ_DEPTH = 3  # a.txt.gz.gz is real; unbounded nesting is a zip bomb
_MAX_GZ_BYTES = 256 << 20  # cap decompressed size per member (bomb guard)


def _unwrap_compressed(raw: bytes) -> tuple[str, bytes] | None:
    """(suffix, decompressed) when the blob is a stdlib-decodable
    compressed member — gzip, bzip2 (Wikipedia dumps), or xz — else
    None.  Decompression is size-capped (bomb guard); bad framing
    returns None so the caller treats the blob as opaque binary."""
    import io

    if raw[:2] == b"\x1f\x8b":
        import gzip

        opener, suffix = (lambda: gzip.GzipFile(fileobj=io.BytesIO(raw))), "gz"
    elif raw[:3] == b"BZh" and len(raw) > 4 and raw[3:4].isdigit():
        import bz2

        opener, suffix = (lambda: bz2.BZ2File(io.BytesIO(raw))), "bz2"
    elif raw[:6] == b"\xfd7zXZ\x00":
        import lzma

        opener, suffix = (lambda: lzma.LZMAFile(io.BytesIO(raw))), "xz"
    else:
        return None
    try:
        with opener() as f:
            inner = f.read(_MAX_GZ_BYTES + 1)
        if len(inner) > _MAX_GZ_BYTES:
            raise ValueError(f"{suffix} member exceeds the decompressed-size cap")
    except ValueError:
        raise
    except Exception:
        return None  # bad framing: opaque bytes
    return suffix, inner


def _xlsx_parts(raw) -> list[str] | None:
    """A workbook as one block: rows tab-joined within a row, rows
    newline-joined within a sheet, sheets joined with ``\\x0c`` in
    workbook order."""
    sheets = extract_xlsx_sheets(raw)
    if sheets is None:
        return None
    return ["\x0c".join("\n".join(map("\t".join, rows)) for rows in sheets)]


# Office and e-book containers: doc_type -> extractor of the text parts
# (None for a package it cannot read).  The zip packages' extractors are
# handed the archive the sniff opened; rtf gets the bytes.
_OFFICE_EXTRACTORS = {
    "docx": extract_docx_paragraphs,
    "xlsx": _xlsx_parts,
    "pptx": extract_pptx_slides,
    "odt": extract_odt_paragraphs,
    "epub": extract_epub_chapters,
    "rtf": extract_rtf_paragraphs,
}


def extract_any_pages(raw: bytes, _depth: int = 0) -> tuple[str, list[str] | None]:
    """(doc_type, pages_or_None) for one blob — the one dispatcher for
    document bytes (module docstring).  Compressed members (crawl dumps
    ship .txt.gz/.html.gz/.json.gz everywhere; Wikipedia dumps ship
    .bz2; log archives ship .xz) decompress transparently and
    re-dispatch, bounded by depth and size guards; the reported type is
    "<inner>.<suffix>" so provenance stays visible."""
    if _depth < _MAX_GZ_DEPTH:
        unwrapped = _unwrap_compressed(raw)
        if unwrapped is not None:
            suffix, inner = unwrapped
            t, pages = extract_any_pages(inner, _depth + 1)
            return f"{t}.{suffix}", pages
        # compression magic with bad framing falls through to the sniffer,
        # which types such bytes "binary" (invalid UTF-8 / NUL heuristic)
    bom_text = decode_bom_text(raw)
    if bom_text is not None:
        # UTF-16/UTF-32/BOM'd-UTF-8 member: transcode once and dispatch
        # the UTF-8 form, so markup routing and JSON refinement see the
        # same bytes they would from an ASCII-compatible file
        raw = bom_text.encode("utf-8")
    if raw[:4] == b"PK\x03\x04":
        t, z = _sniff_zip(raw)
        if z is None:
            return t, None
        with z:  # the extractor reads the archive the sniff opened
            return t, _OFFICE_EXTRACTORS[t](z)
    t = sniff_doc_type(raw)
    if t == "pdf":
        from pdf_extraction_spark.pdf_parse import extract_pdf_pages

        pages = extract_pdf_pages(raw)
        if all(p.strip() for p in pages):  # full text layer: no OCR pass
            return t, pages
        # mixed or image-only document: OCR exactly the textless pages
        # (the reference's per-page fallback, pdfextraction.py:72-73)
        ocr = _ocr_pdf_pages(raw)
        ocr += [None] * (len(pages) - len(ocr))
        swap = [not p.strip() and bool(o) for p, o in zip(pages, ocr)]
        if not any(swap):
            return t, pages
        return "pdf_scanned", [o if s else p for p, o, s in zip(pages, ocr, swap)]
    if t in _OFFICE_EXTRACTORS:
        return t, _OFFICE_EXTRACTORS[t](raw)
    if t == "html":
        return t, [extract_main_text(raw)]
    if t == "text":
        text = raw.decode("utf-8")
        return _refine_json(text) or (t, [text])
    return t, None


def extract_any(raw: bytes) -> tuple[str, str | None]:
    """(doc_type, extracted_text_or_None) for one blob: the dispatcher's
    pages joined with ``"\\n"``."""
    t, pages = extract_any_pages(raw)
    return t, None if pages is None else "\n".join(pages)


_JSON_TEXT_FIELDS = ("text", "content", "body")  # the crawl-corpus convention


def _refine_json(text: str) -> tuple[str, list[str] | None] | None:
    """Refine a UTF-8 blob that is actually JSON/JSONL — the member
    type crawl corpora carry most after HTML.  A blob where EVERY
    non-empty line parses as a JSON object is "jsonl" (its pages = the
    conventional text field of each line); a single JSON object/array
    is "json".  Anything that does not fully parse stays
    plain text (returns None)."""
    stripped = text.lstrip()
    if not stripped or stripped[0] not in "{[":
        return None
    import json

    lines = [ln for ln in text.splitlines() if ln.strip()]
    if stripped[0] == "{" and len(lines) > 1:
        objs = []
        for ln in lines:
            try:
                o = json.loads(ln)
            except ValueError:
                objs = None
                break
            if not isinstance(o, dict):
                objs = None
                break
            objs.append(o)
        if objs is not None:
            parts = []
            for o in objs:
                for f in _JSON_TEXT_FIELDS:
                    if isinstance(o.get(f), str):
                        parts.append(o[f])
                        break
            return "jsonl", parts or None
    try:
        o = json.loads(text)
    except ValueError:
        return None
    if isinstance(o, dict):
        for f in _JSON_TEXT_FIELDS:
            if isinstance(o.get(f), str):
                return "json", [o[f]]
    return "json", None


def _any_text_row(doc_id, raw):
    try:
        t, text = extract_any(bytes(raw))
        err = None
    except Exception as exc:  # containment: one bad doc != job
        t, text, err = "error", None, f"{type(exc).__name__}: {exc}"
    return int(doc_id), t, text, err


def extract_any_text(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    *,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(doc_id, [passthrough...], doc_type, text, error) for a mixed
    binary-document corpus — the sniff-and-dispatch pass described in
    the module docstring, with per-document error containment.

    ``passthrough`` columns ride through the kernel unchanged (strings),
    so provenance needs no join-back — a join against the input would
    re-scan the corpus and shuffle both sides; at 100 TB that doubles
    the job."""
    from pdf_extraction_spark.operators.balance import map_documents

    extra = list(passthrough or [])
    schema = "doc_id long, " + "".join(f"{c} string, " for c in extra) + (
        "doc_type string, text string, error string"
    )
    src = df.select(id_col, *extra, content_col)
    return map_documents(src, _any_text_row, schema, passthrough=extra)
