"""jobs/ingest_archive.py: mixed archive -> documents parquet."""

from __future__ import annotations

import io
import json
import tarfile
import zipfile

from pdf_extraction_spark.operators.ccitt import g4_encode
from pdf_extraction_spark.operators.docx_text import build_docx
from pdf_extraction_spark.operators.ocr import render_page, sanitize_text
from pdf_extraction_spark.pdf_parse import build_pdf

_HTML = (
    b"<html><body><p>"
    + b"An article body long enough to clear the main-content scorer. " * 4
    + b"</p></body></html>"
)


def _scanned_pdf(text: str) -> bytes:
    raster = render_page(sanitize_text(text))
    rows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(64)]
    return build_pdf([""], images=[("g4", 128, 64, g4_encode(rows, 128))])


_MEMBERS = [
    ("a/report.pdf", build_pdf(["ingested pdf text"])),
    ("a/scan.pdf", _scanned_pdf("Scanned page 9")),
    ("a/memo.docx", build_docx(["ingested docx text"])),
    ("b/page.html", _HTML),
    ("b/notes.txt", "plain notes ✓".encode()),
    ("b/broken.pdf", b"%PDF-1.4 truncated"),
    ("b/blob.bin", b"\x00\x01\x02"),
]


def _check_output(spark, out, capsys):
    rows = {r["name"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == len(_MEMBERS)
    assert rows["a/report.pdf"]["doc_type"] == "pdf"
    assert rows["a/report.pdf"]["text"] == "ingested pdf text"
    # the scanned member came back through the OCR fallback
    assert rows["a/scan.pdf"]["doc_type"] == "pdf_scanned"
    assert rows["a/scan.pdf"]["text"] == "Scanned page 9"
    assert rows["a/memo.docx"]["text"] == "ingested docx text"
    assert "article body" in rows["b/page.html"]["text"]
    assert rows["b/notes.txt"]["text"] == "plain notes ✓"
    assert rows["b/blob.bin"]["doc_type"] == "binary"
    assert rows["b/broken.pdf"]["text"] is None
    # provenance rode through the kernel
    assert all(r["source"] for r in rows.values())
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == len(_MEMBERS)
    assert summary["with_text"] == 5
    assert summary["by_type"] == {
        "binary": 1, "docx": 1, "error": 1, "html": 1, "pdf": 1,
        "pdf_scanned": 1, "text": 1,
    }


def test_ingest_tar(spark, tmp_path, capsys):
    from jobs.ingest_archive import main

    p = str(tmp_path / "corpus.tar")
    with tarfile.open(p, "w", format=tarfile.PAX_FORMAT) as t:
        for name, data in _MEMBERS:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            t.addfile(info, io.BytesIO(data))
    out = str(tmp_path / "docs")
    assert main(["--input", p, "--output", out, "--format", "tar",
                 "--cpus", "8"]) == 0
    _check_output(spark, out, capsys)


def test_ingest_zip(spark, tmp_path, capsys):
    from jobs.ingest_archive import main

    p = str(tmp_path / "corpus.zip")
    with zipfile.ZipFile(p, "w") as z:
        for name, data in _MEMBERS:
            info = zipfile.ZipInfo(name, date_time=(1990, 1, 1, 0, 0, 0))
            z.writestr(info, data)
    out = str(tmp_path / "docs")
    assert main(["--input", p, "--output", out, "--format", "zip",
                 "--cpus", "8"]) == 0
    _check_output(spark, out, capsys)
