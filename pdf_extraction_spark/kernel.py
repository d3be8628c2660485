"""Pure-Python extraction kernels — zero Spark dependencies.

These functions are the byte-identity anchor of the engine: each one
reimplements, exactly, one dataflow operator of the reference
(`ajmal624/Pdf_extraction`, studied at /root/reference).  Fidelity notes
cite the reference as file:line.  The Spark layer (operators/extract.py)
only *vectorizes dispatch* around these kernels, as row functions behind
the one Arrow batch loop in ``operators/balance.py``; the per-document
semantics live here and are unit-tested against a straight-line oracle
(tests/oracle.py).  What a blob of document bytes IS is decided in one
place, ``operators/any_text.extract_any_pages`` (a pyspark-free module);
``extract_document`` only picks the join of the pages it returns.

Key Unicode traps (why this is Python, not Spark SQL expressions):

* ``str.splitlines()`` splits on ALL Unicode line boundaries
  (\\n \\r \\r\\n \\v \\f \\x1c \\x1d \\x1e \\x85 \\u2028 \\u2029) — NOT
  equivalent to ``split(col, '\\n')``.            [pdfextraction.py:44,74]
* ``str.strip()`` strips all Unicode whitespace.  [pdfextraction.py:45,49]
* ``str.isdigit()`` is Unicode ('²', '٣' are digits) — NOT regex \\d.
                                                   [pdfextraction.py:84]
"""

from __future__ import annotations

from pdf_extraction_spark.operators.any_text import extract_any_pages

PAGE_SEP = "\x0c"  # form-feed: page separator used in the fixtures' text layer


# ---------------------------------------------------------------------------
# Page folds (F4 / F5)
# ---------------------------------------------------------------------------

def concat_pages_direct(page_texts) -> str:
    """F4 — page-concat with separator. [pdfextraction.py:31-37]

    Pages with falsy text are skipped; ``"\\n"`` is appended after EVERY
    kept page, including the last (trailing newline is semantic).
    """
    out = []
    for t in page_texts:
        if t:
            out.append(t + "\n")
    return "".join(out)


def concat_pages_llm(page_texts) -> str:
    """F5 — page-concat, NO separator; None -> "". [app.py:50-52]"""
    out = []
    for t in page_texts:
        out.append(t or "")
    return "".join(out)


def truncate_prompt(text: str, limit: int = 3000) -> str:
    """F16 — char (code-point) truncation for the prompt. [app.py:72]"""
    return text[:limit]


def build_prompt(task: str, raw_text: str) -> str:
    """Prompt assembly around the truncate. [app.py:72]"""
    return f"Task: {task}\n\nPDF Content:\n{raw_text[:3000]}"


# ---------------------------------------------------------------------------
# Direct path (F6–F10): Field: Value extraction
# ---------------------------------------------------------------------------

def extract_fields_direct(pdf_text: str):
    """F6–F10 — the 'Direct PDF Extraction' record builder.
    [pdfextraction.py:42-49]

    Returns an ordered list of (field, value) pairs, or ``None`` when the
    document is whitespace-only (the F6 "no data" warning branch,
    pdfextraction.py:64).  An empty list means lines existed but none had
    a colon (the ``if pdf_data`` False branch, pdfextraction.py:63-64).

    Exact semantics:
      * guard: ``pdf_text.strip()`` truthy (Unicode strip)          (F6)
      * ``pdf_text.splitlines()`` (all Unicode boundaries)          (F7)
      * per line: Unicode ``strip()``; skip if ``":" not in line``  (F8)
      * ``line.split(":", 1)`` — FIRST colon only; strip both       (F9)
      * dict upsert: duplicate field -> last value wins, column
        position stays at first occurrence                          (F10)
    """
    if not pdf_text.strip():
        return None
    pdf_data: dict[str, str] = {}
    for line in pdf_text.splitlines():
        line = line.strip()
        if ":" not in line:
            continue
        field, value = line.split(":", 1)
        pdf_data[field.strip()] = value.strip()
    return list(pdf_data.items())


# ---------------------------------------------------------------------------
# OCR-style path (F7, F8, F11–F13): stateful per-page fold
# ---------------------------------------------------------------------------

def _is_field_name(line: str) -> bool:
    """F11 — heuristic line classifier. [pdfextraction.py:84]

    True iff the line has <= 5 whitespace-delimited words AND contains no
    Unicode digit (``str.isdigit`` per char — superscripts/Arabic-Indic
    digits disqualify).
    """
    return len(line.split()) <= 5 and not any(c.isdigit() for c in line)


def extract_fields_ocr(page_texts):
    """F7,F8,F11–F13 — the 'Table Extraction (OCR)' state machine.
    [pdfextraction.py:72-91]

    Input: ordered page texts (what ``pytesseract.image_to_string`` would
    have yielded per page).  Output: one ordered (field, value) pair list
    per page whose dict is non-empty (empty pages dropped, F13).

    Exact semantics per page:
      * ``text.splitlines()``; Unicode ``strip()``; skip empty      (F7,F8)
      * classifier-true line starts a new field with value "" — a
        REPEATED field name RESETS its value, position stays at
        first occurrence                                            (F12)
      * other lines append to the current field with " " iff the
        value is non-empty; lines before the first field DROPPED    (F12)
    """
    pages_out = []
    for text in page_texts:
        page_dict: dict[str, str] = {}
        current_field = None
        for line in (text or "").splitlines():
            line = line.strip()
            if not line:
                continue
            if _is_field_name(line):
                current_field = line
                page_dict[current_field] = ""
            elif current_field:
                page_dict[current_field] += (
                    " " + line if page_dict[current_field] else line
                )
        if page_dict:
            pages_out.append(list(page_dict.items()))
    return pages_out


# ---------------------------------------------------------------------------
# Span labeling (north-star addition: labeled field spans per url)
# ---------------------------------------------------------------------------

import re as _re

_DATE_RE = _re.compile(
    r"\b(?:\d{4}-\d{2}-\d{2}|\d{1,2}/\d{1,2}/\d{2,4}|"
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4})\b"
)


def label_spans(extracted_text: str, fields):
    """Emit labeled (label, start, end) spans into ``extracted_text``.

    Deterministic spec (ours — the reference has no span concept):
      * ``field:<name>`` — first occurrence of each extracted field's
        original ``name:`` prefix at a line start;
      * ``date`` — every match of a small ISO/US/abbrev-month regex;
      * ``body`` — the whole text (0, len).
    Offsets are Python code-point offsets.
    """
    spans = []
    if extracted_text:
        spans.append(("body", 0, len(extracted_text)))
    seen = set()
    if fields:
        for field, _value in fields:
            if field in seen:
                continue
            seen.add(field)
            # find "<field>:" at a line start (post-strip fields may be
            # indented in the original; search leniently)
            idx = extracted_text.find(field + ":")
            if idx >= 0:
                spans.append(("field:" + field, idx, idx + len(field)))
    for m in _DATE_RE.finditer(extracted_text):
        spans.append(("date", m.start(), m.end()))
    return spans


# ---------------------------------------------------------------------------
# Whole-document kernel: one input row -> one output record
# ---------------------------------------------------------------------------

def extract_document(url, html_bytes, text, max_doc_chars=None):
    """Per-document dispatch — the per-row work of ``extract_documents``.

    * Byte rows (``html_bytes`` is not None) go through the engine's one
      dispatcher for document bytes, ``operators.any_text.
      extract_any_pages`` (compressed unwrap, BOM transcode, magic-byte
      sniff, PDF pages with the per-page OCR fallback, office/e-book
      containers, HTML boilerplate strip, JSON refinement); ``doc_kind``
      is its ``doc_type``.  The ``text`` column is IGNORED for these rows
      — when the fixture carries a golden text layer there, byte-equality
      of the outputs is a real cross-check of the parser.  The join is
      this caller's: PDF types (``pdf``, ``pdf_scanned`` and their
      ``.gz``/``.bz2``/``.xz`` wrappers) F4-fold their pages and run the
      OCR-style state machine over them, the pdfplumber dataflow of
      pdfextraction.py:33-35; every other type is one block of text (the
      ``"\\n"`` join of its pages) with ``page_fields`` NULL.  A type
      with no text (images, media, unreadable packages, binary) gets
      NULL text, fields, page fields and spans, and no error.
    * Text rows (PDF-style): ``text`` holds per-page text joined by
      ``\\x0c``; F4-fold the pages, run Direct extraction, and run the
      OCR-style state machine over the same pages.

    ``max_doc_chars`` is a per-document input-size guard: a pathological
    multi-GB document in a 10^12-doc crawl must fail onto the ``error``
    column (F18) instead of stalling or OOMing its Python worker.  The
    raised ValueError is deterministic (message embeds the measured size),
    so the containment path is analytically checkable by the driver oracle.

    Errors are contained per document (F18, pdfextraction.py:32-40): the
    record carries ``error`` instead of failing the task.
    Returns (url, doc_kind, extracted_text, fields, page_fields, spans, error).
    """
    try:
        n_in = len(html_bytes) if html_bytes is not None else len(text or "")
        if max_doc_chars is not None and n_in > max_doc_chars:
            raise ValueError(
                f"document exceeds max_doc_chars={max_doc_chars} ({n_in})"
            )
        if html_bytes is None:
            doc_kind, pages, paged = "text", (text or "").split(PAGE_SEP), True
        else:
            doc_kind, pages = extract_any_pages(bytes(html_bytes))
            if pages is None:
                return (url, doc_kind, None, None, None, None, None)
            paged = doc_kind.split(".")[0] in ("pdf", "pdf_scanned")
        if paged:
            extracted_text = concat_pages_direct(pages)
            page_fields = extract_fields_ocr(pages)
        else:
            extracted_text = "\n".join(pages)
            page_fields = None
        fields = extract_fields_direct(extracted_text)
        spans = label_spans(extracted_text, fields)
        return (url, doc_kind, extracted_text, fields, page_fields, spans, None)
    except Exception as e:  # F18: one bad doc must not kill the job
        return (url, "error", None, None, None, None, f"{type(e).__name__}: {e}")
