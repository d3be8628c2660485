"""One front door for document bytes: the kernel's byte rows and
``extract_any`` share ``operators/any_text.py``'s dispatcher, and no
other module of the package decides what a blob is."""

from __future__ import annotations

import gzip
import io
import json
import os
import pathlib
import subprocess
import sys
import tarfile
import zipfile

import pytest

from pdf_extraction_spark.operators.any_text import extract_any
from pdf_extraction_spark.operators.docx_text import build_docx
from pdf_extraction_spark.operators.epub_text import build_epub
from pdf_extraction_spark.operators.multimodal import synth_png_bytes
from pdf_extraction_spark.operators.odt_text import build_odt
from pdf_extraction_spark.operators.pptx_text import build_pptx
from pdf_extraction_spark.operators.rtf_text import build_rtf
from pdf_extraction_spark.operators.xlsx_text import build_xlsx
from tests.test_ingest_archive import _scanned_pdf

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"

_PAGE = "<html><body><p>" + "Status: open. The body has enough words to score. " * 4 + "</p></body></html>"
_MEMBERS = [
    ("m.docx", build_docx(["Invoice: 7", "docx body"])),
    ("m.xlsx", build_xlsx([["Total:", "42"], ["row", "two"]])),
    ("m.pptx", build_pptx(["Deck: one", "slide two"])),
    ("m.odt", build_odt(["Owner: ann", "odt body"])),
    ("m.rtf", build_rtf(["Date: 2026-01-02", "rtf body"])),
    ("m.epub", build_epub(["Chapter: 1", "epub body"])),
    ("m.html.gz", gzip.compress(_PAGE.encode(), mtime=0)),
    ("m16.html", b"\xff\xfe" + _PAGE.encode("utf-16-le")),
    ("m.txt", "Name: plain ✓\nsecond line".encode()),
    ("m.jsonl", b'{"text": "Key: one"}\n{"text": "two"}\n'),
    ("m.png", synth_png_bytes(3)),
    ("cut.docx", build_docx(["truncated"])[:60]),
    ("scan.pdf", _scanned_pdf("Scanned page 9")),
]


@pytest.mark.parametrize("fmt", ["tar", "zip"])
def test_run_extraction_rows_take_the_dispatchers_type_and_text(spark, tmp_path, fmt):
    """run_extraction over a tar or zip of mixed members: each row's
    doc_kind and text are extract_any's for that member.  Non-PDF types
    are one block with no page fields; the scanned PDF is F4-folded (a
    newline after each page) with page fields; a type with no text is
    NULL, not an error.  Binary members also reach the kernel: the
    archive sources' UTF-8 ``text`` column replaces invalid bytes instead
    of failing the job."""
    from pdf_extraction_spark.plans.pipeline import run_extraction

    d = tmp_path / "corpus"
    d.mkdir()
    if fmt == "tar":
        with tarfile.open(d / "mixed.tar", "w", format=tarfile.PAX_FORMAT) as t:
            for name, data in _MEMBERS:
                info = tarfile.TarInfo(name)
                info.size, info.mtime = len(data), 0
                t.addfile(info, io.BytesIO(data))
    else:
        with zipfile.ZipFile(d / "mixed.zip", "w", zipfile.ZIP_DEFLATED) as z:
            for name, data in _MEMBERS:
                z.writestr(name, data)
    out = str(tmp_path / "out")
    run_extraction(spark, str(d), out, groups=1, input_format=fmt)
    rows = {
        r["url"].rsplit("!", 1)[1]: r
        for r in spark.read.parquet(os.path.join(out, "group=*")).collect()
    }
    assert sorted(rows) == sorted(name for name, _ in _MEMBERS)
    kinds = {}
    for name, data in _MEMBERS:
        r, (t, text) = rows[name], extract_any(data)
        kinds[name] = r["doc_kind"]
        assert r["doc_kind"] == t and r["error"] is None, name
        if text is None:
            assert (r["extracted_text"], r["fields"], r["page_fields"], r["spans"]) == (
                None, None, None, None,
            ), name
        elif t == "pdf_scanned":
            assert r["extracted_text"] == text + "\n"
            assert r["page_fields"] is not None
        else:
            assert r["extracted_text"] == text and r["page_fields"] is None, name
            assert r["spans"][0] == ("body", 0, len(text)), name
    assert kinds == {
        "m.docx": "docx", "m.xlsx": "xlsx", "m.pptx": "pptx", "m.odt": "odt",
        "m.rtf": "rtf", "m.epub": "epub", "m.html.gz": "html.gz", "m16.html": "html",
        "m.txt": "text", "m.jsonl": "jsonl", "m.png": "png", "cut.docx": "zip",
        "scan.pdf": "pdf_scanned",
    }
    assert [tuple(f) for f in rows["m.docx"]["fields"]] == [("Invoice", "7")]
    assert rows["scan.pdf"]["extracted_text"] == "Scanned page 9\n"


def test_byte_dispatch_lives_in_one_module():
    """Only the dispatcher module (and the modules that define them)
    calls the sniff, the compressed unwrap, the HTML strip and the PDF
    page parser; no second PDF-or-HTML branch grows back elsewhere."""
    owners = {
        "sniff_doc_type(": {"operators/any_text.py"},
        "_unwrap_compressed(": {"operators/any_text.py"},
        "extract_main_text(": {"operators/any_text.py", "html_extract.py"},
        "extract_pdf_pages(": {"operators/any_text.py", "pdf_parse.py"},
    }
    offenders = [
        f"{p.relative_to(PACKAGE)}: {call}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for call, allowed in owners.items()
        if str(p.relative_to(PACKAGE)) not in allowed and call in p.read_text()
    ]
    assert offenders == []


def test_dispatcher_and_kernel_import_without_pyspark():
    code = (
        "import json, sys\n"
        "import pdf_extraction_spark.operators.any_text, pdf_extraction_spark.kernel\n"
        "print(json.dumps(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=PACKAGE.parent, capture_output=True,
        text=True, check=True,
    )
    assert json.loads(out.stdout) == []
