"""Raster render + OCR round trip over the constrained synthetic
subset — the reference's scanned-PDF path re-created from scratch.

The reference pipeline (/root/reference/pdfextraction.py:16,72-73)
is: PDF bytes -> poppler raster (convert_from_bytes) -> PIL image ->
pytesseract OCR -> text.  None of those binaries exist in this
container, which rounds 1-4 documented as the one genuinely blocked
capability.  This module holds the from-scratch pieces that re-create
the SHAPE of that path over a constrained subset — the bitmap font
(:func:`render_page`), the template OCR (:func:`ocr_page`) and the
decode-and-recognize step for a listed PDF image (:func:`image_text`,
which ``any_text``'s scanned-page fallback calls).  The registry
(``__spark_entry__.py``, the OCR and scanned-PDF rows) assembles the
full chain:

    text -> rasterize with a deterministic 8x8 bitmap font
         -> encode_baseline_jpeg (real JFIF bytes, grayscale)
         -> build_pdf(images=[jpeg]) (a real scanned-style PDF: the
            page is an /XObject /Image /Filter /DCTDecode, no text
            layer)
         -> extract_pdf_images (from-scratch parser, bit-exact JPEG)
         -> image_text: parse_jpeg (real decode), then template-matching
            OCR (exact, with Hamming fallback)
         -> recovered text

Honest scoping, stated plainly: the font is procedural (md5-derived
glyph bitmaps — deterministic and pairwise distinct, not humanly
readable), layout is a fixed character grid, and the OCR is template
matching against the same font — this demonstrates the full
render->compress->decode->recognize dataflow and its failure modes
(binarization after lossy compression), NOT general-purpose OCR of
arbitrary scanned documents, which remains impossible without
poppler/tesseract.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pdf_extraction_spark.operators.ccitt import decode_ccitt_pdf_image
from pdf_extraction_spark.operators.jpeg import parse_jpeg

# Printable ASCII; everything else sanitizes to '?' (mirrored by the
# DuckDB oracle's regexp_replace('[^ -~]', '?', 'g')).
CHARSET = [chr(c) for c in range(0x20, 0x7F)]
GLYPH = 8  # glyph cell is 8x8 pixels — one JPEG block per cell
COLS, ROWS = 16, 8  # one 128x64 page
PAGE_CAP = COLS * ROWS  # 128 characters


def _glyph_bits(ch: str) -> np.ndarray:
    """8x8 boolean ink mask for one character: the first 8 bytes of
    md5('glyph:' + ch), one byte per row, MSB-left.  Deterministic,
    and pairwise-distinct over CHARSET (asserted in tests along with a
    minimum ink count, so no glyph degenerates into the blank padding
    cell)."""
    d = hashlib.md5(f"glyph:{ch}".encode()).digest()[:GLYPH]
    rows = np.frombuffer(d, np.uint8)
    return (rows[:, None] >> np.arange(7, -1, -1)[None, :]) & 1 == 1


_GLYPHS = {ch: _glyph_bits(ch) for ch in CHARSET}
# exact-match index: packed ink mask -> char
_TEMPLATES = {g.tobytes(): ch for ch, g in _GLYPHS.items()}
_TEMPLATE_LIST = [(g, ch) for ch, g in _GLYPHS.items()]


def sanitize_text(text: str, cap: int = PAGE_CAP) -> str:
    """The charset projection the oracle replays: non-printable-ASCII
    code points become '?', truncated to the page capacity."""
    return "".join(c if " " <= c <= "~" else "?" for c in text)[:cap]


def render_page(text: str) -> np.ndarray:
    """Rasterize sanitized text onto a white 64x128 canvas, ink=0, in
    a fixed COLSxROWS character grid (space has a real glyph; cells
    beyond the text stay blank, which is how the OCR pass finds the
    end of the text)."""
    canvas = np.full((ROWS * GLYPH, COLS * GLYPH), 255, np.uint8)
    for i, ch in enumerate(text[:PAGE_CAP]):
        r, c = divmod(i, COLS)
        cell = canvas[r * GLYPH : (r + 1) * GLYPH, c * GLYPH : (c + 1) * GLYPH]
        cell[_GLYPHS.get(ch, _GLYPHS["?"])] = 0
    return canvas


def ocr_page(img: np.ndarray) -> str:
    """Recognize a rendered page: binarize at 128 (q=1 JPEG moves ink
    0 -> <=2 and paper 255 -> >=253, so the threshold is exact), walk
    the cell grid in reading order, stop at the first blank cell, and
    match each ink mask exactly — falling back to nearest-Hamming if a
    lossier channel ever perturbs a pixel across the threshold."""
    ink = img < 128
    out = []
    for i in range(PAGE_CAP):
        r, c = divmod(i, COLS)
        cell = ink[r * GLYPH : (r + 1) * GLYPH, c * GLYPH : (c + 1) * GLYPH]
        if not cell.any():
            break
        ch = _TEMPLATES.get(cell.tobytes())
        if ch is None:
            ch = min(_TEMPLATE_LIST, key=lambda t: np.count_nonzero(t[0] ^ cell))[1]
        out.append(ch)
    return "".join(out)


def image_text(im: dict) -> str | None:
    """OCR one listed PDF image (an ``extract_pdf_images`` entry): decode
    it to the grayscale page — DCTDecode via the in-repo JPEG codec,
    CCITTFaxDecode across the full /K range via the T.4/T.6 codecs — and
    run the template OCR.  None for any other filter, an undecodable
    image (a CCITT ``ValueError`` included) or one off the 64x128
    template grid."""
    gray = None
    if im["filter"] == "DCTDecode":
        decoded = parse_jpeg(im["data"])
        if decoded is not None:
            gray = decoded[3][:, :, 0]
    elif im["filter"] == "CCITTFaxDecode":
        try:
            rows = decode_ccitt_pdf_image(im["data"], im["decode_parms"])
        except ValueError:
            rows = None
        if rows:
            # the codec returns semantic ink=1 regardless of /BlackIs1
            # (which only maps OUTPUT bit values); ink renders as 0
            gray = np.where(
                np.frombuffer(b"".join(rows), np.uint8).reshape(len(rows), -1), 0, 255
            ).astype(np.uint8)
    if gray is None or gray.shape != (ROWS * GLYPH, COLS * GLYPH):
        return None
    return ocr_page(gray)
