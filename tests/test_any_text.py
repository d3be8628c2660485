"""Universal sniff-and-dispatch extraction (operators/any_text.py)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.operators.any_text import (
    extract_any,
    extract_any_text,
    sniff_doc_type,
)
from pdf_extraction_spark.operators.docx_text import build_docx
from pdf_extraction_spark.operators.odt_text import build_odt
from pdf_extraction_spark.operators.pptx_text import build_pptx
from pdf_extraction_spark.operators.xlsx_text import build_xlsx
from pdf_extraction_spark.operators.epub_text import build_epub
from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg
from pdf_extraction_spark.operators.multimodal import synth_png_bytes
from pdf_extraction_spark.pdf_parse import build_pdf


def test_sniff_types():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    cases = [
        (build_pdf(["hello"]), "pdf"),
        (build_pdf(["x"], encrypt="aes-128"), "pdf"),
        (build_docx(["para"]), "docx"),
        (build_xlsx([["cell", "42"]]), "xlsx"),
        (build_pptx(["slide"]), "pptx"),
        (build_odt(["para"]), "odt"),
        (build_epub(["chap"]), "epub"),
        (synth_png_bytes(3), "png"),
        (encode_baseline_jpeg(img), "jpeg"),
        (b"GIF89a\x01\x00\x01\x00", "gif"),
        (b"BM....", "bmp"),
        (b"II*\x00rest", "tiff"),
        (b"MM\x00*rest", "tiff"),
        (b"{\\rtf1\\ansi hello}", "rtf"),
        (b"<html><body>x</body></html>", "html"),
        (b"  <!DOCTYPE html><p>y</p>", "html"),
        (b"plain old text \xe2\x9c\x93", "text"),
        # Unicode BOMs: clean decodes are text/html, not binary
        ("hello utf16".encode("utf-16-le"), "binary"),  # no BOM: NULs
        (b"\xff\xfe" + "hello utf16 ™".encode("utf-16-le"), "text"),
        (b"\xfe\xff" + "big endian".encode("utf-16-be"), "text"),
        (b"\xff\xfe\x00\x00" + "utf32 row".encode("utf-32-le"), "text"),
        (b"\xef\xbb\xbf<html><p>bom'd markup</p>", "html"),
        (b"\xff\xfe" + "<p>utf16 markup</p>".encode("utf-16-le"), "html"),
        (b"\xff\xfetruncated-odd-length\x00", "binary"),  # odd byte count
        (b"\xff\xfe\x01\x00\x00\x00\x02\x00", "binary"),  # C0 garbage
        (b"\xff\xfe\x00\x01 not utf8 not magic", "binary"),  # odd length
        (b"PK\x03\x04 corrupt zip that is not a zip", "zip"),
        (b"RIFF\x24\x00\x00\x00WAVEfmt ", "wav"),
        (b"RIFF\x24\x00\x00\x00AVI LIST", "riff"),
        (b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2", "mp4"),
        (b"abcdftyp is a word here, not an mp4 box", "text"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x00", "mp3"),
        (b"\xff\xfb\x90\x00 frame", "mp3"),
        (b"\xff\xfe\x00\x01 utf16-bom-ish", "text"),  # even length, decodes
    ]
    for raw, expect in cases:
        assert sniff_doc_type(raw) == expect, raw[:8]


def test_extract_any_per_type():
    t, text = extract_any(build_pdf(["page one\nline", "page two"]))
    assert t == "pdf" and text == "page one\nline\npage two"
    t, text = extract_any(build_docx(["alpha", "beta"]))
    assert t == "docx" and text == "alpha\nbeta"
    t, text = extract_any(build_epub(["c1", "c2"]))
    assert t == "epub" and "c1" in text and "c2" in text
    t, text = extract_any(build_xlsx([["name", "qty"], ["bolt", "42"]]))
    assert (t, text) == ("xlsx", "name\tqty\nbolt\t42")
    t, text = extract_any(build_pptx(["deck title", "point one"]))
    assert (t, text) == ("pptx", "deck title\npoint one")
    t, text = extract_any(build_odt(["open  doc", "second\tpara"]))
    assert (t, text) == ("odt", "open  doc\nsecond\tpara")
    t, text = extract_any("déjà vu".encode())
    assert t == "text" and text == "déjà vu"
    from pdf_extraction_spark.operators.rtf_text import build_rtf

    t, text = extract_any(build_rtf(["rich €", "text"]))
    assert t == "rtf" and text == "rich €\ntext"
    # BOM'd members transcode once and take the normal routes
    t, text = extract_any(b"\xff\xfe" + "utf16 body ✓".encode("utf-16-le"))
    assert (t, text) == ("text", "utf16 body ✓")
    t, text = extract_any(b"\xef\xbb\xbf" + '{"text": "bom json"}'.encode())
    assert (t, text) == ("json", "bom json")
    t, text = extract_any(
        b"\xfe\xff"
        + (
            "<html><body><p>"
            + "A big-endian page whose article body has plenty of real sentence text to score well. " * 4
            + "</p></body></html>"
        ).encode("utf-16-be")
    )
    assert t == "html" and "big-endian page" in text
    t, text = extract_any(b"<html><body><p>" + b"This is the main article body with plenty of real sentence text to score well. " * 4 + b"</p></body></html>")
    assert t == "html" and "main article body" in text
    t, text = extract_any(synth_png_bytes(1))
    assert t == "png" and text is None


_doc_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
    min_size=1,
    max_size=120,
).filter(lambda s: s.strip() and not s.lstrip().startswith("<"))


def test_scanned_pdf_ocr_fallback():
    """Image-only PDFs route through the OCR fallback (the reference's
    no-text-layer dataflow): both scanned encodings, incl. encrypted;
    undecodable images and text-layer PDFs keep their plain routing."""
    from pdf_extraction_spark.operators.ccitt import g4_encode
    from pdf_extraction_spark.operators.ocr import render_page, sanitize_text

    text = "Scanned memo 7\nAmount: 12.34"
    want = sanitize_text(text)[:128]
    raster = render_page(sanitize_text(text))
    rows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(64)]

    assert extract_any(build_pdf([""], images=[encode_baseline_jpeg(raster)])) == (
        "pdf_scanned",
        want,
    )
    assert extract_any(
        build_pdf(
            [""], images=[("g4", 128, 64, g4_encode(rows, 128))], encrypt="aes-128"
        )
    ) == ("pdf_scanned", want)
    # text layer present -> no OCR, plain pdf routing
    assert extract_any(build_pdf(["hello world"])) == ("pdf", "hello world")
    # undecodable embedded image -> contained: stays pdf with empty text
    t, out = extract_any(build_pdf([""], images=[("g4", 128, 64, b"\xde\xad")]))
    assert (t, out) == ("pdf", "")
    # off-grid image (not the 128x64 template canvas): honest-scope skip
    small = np.full((16, 16), 255, np.uint8)
    t, out = extract_any(build_pdf([""], images=[encode_baseline_jpeg(small)]))
    assert (t, out) == ("pdf", "")
    # MIXED document — a typed page followed by a scanned page: the
    # fallback is per-page (the reference OCRs page by page), so the
    # text layer survives and only the textless page is OCR'd
    t, out = extract_any(
        build_pdf(
            ["typed page one", ""],
            images=[None, ("g4", 128, 64, g4_encode(rows, 128))],
        )
    )
    assert t == "pdf_scanned" and out == "typed page one\n" + want


def test_json_and_jsonl_members_refined():
    """UTF-8 members that are actually JSON/JSONL get the typed route
    and the conventional text field; anything that does not fully
    parse stays plain text."""
    import gzip

    assert extract_any(b'{"text": "doc one"}\n{"text": "doc two"}\n') == (
        "jsonl",
        "doc one\ndoc two",
    )
    assert extract_any(b'{"content": "c1"}\n{"body": "b2"}') == ("jsonl", "c1\nb2")
    assert extract_any(b'{"text": "single"}') == ("json", "single")
    assert extract_any(b'{"meta": 1}') == ("json", None)
    assert extract_any(b"[1, 2, 3]") == ("json", None)
    assert extract_any(b"{not json at all") == ("text", "{not json at all")
    assert extract_any(b'{"text": "a"}\nnot-json\n')[0] == "text"
    # composes with the gzip unwrap: the commonest crawl member of all
    assert extract_any(gzip.compress(b'{"text": "zipped"}\n{"text": "rows"}')) == (
        "jsonl.gz",
        "zipped\nrows",
    )


def test_gzip_members_dispatch_transparently():
    """Crawl dumps ship .txt.gz/.html.gz members: gzip blobs decompress
    and re-dispatch with the inner type suffixed '.gz'; nesting is
    depth-bounded and corrupt framing is contained as plain binary."""
    import gzip

    assert extract_any(gzip.compress("hello crawl".encode())) == (
        "text.gz",
        "hello crawl",
    )
    assert extract_any(gzip.compress(build_pdf(["pdf in gz"]))) == (
        "pdf.gz",
        "pdf in gz",
    )
    assert extract_any(gzip.compress(gzip.compress(b"double"))) == (
        "text.gz.gz",
        "double",
    )
    deep = b"deep"
    for _ in range(4):
        deep = gzip.compress(deep)
    assert extract_any(deep) == ("binary.gz.gz.gz", None)  # depth bound
    assert extract_any(b"\x1f\x8b\x00\xff garbage") == ("binary", None)
    # bzip2 (Wikipedia dumps) and xz members, incl. mixed nesting
    import bz2
    import lzma

    assert extract_any(bz2.compress(b"wiki dump text")) == ("text.bz2", "wiki dump text")
    assert extract_any(lzma.compress(b'{"text": "xz row"}')) == ("json.xz", "xz row")
    assert extract_any(gzip.compress(bz2.compress(b"nested"))) == (
        "text.bz2.gz",
        "nested",
    )
    assert extract_any(b"BZh9 corrupt bzip stream \x00") == ("binary", None)


@settings(max_examples=60, deadline=None)
@given(
    _doc_text,
    st.sampled_from(["pdf", "docx", "epub", "rtf", "pptx", "odt", "text"]),
)
def test_property_routing_identity(text, fmt):
    """build_<fmt>(text) -> extract_any recovers the format AND (after
    each builder's documented sanitize contract) the text."""
    if fmt == "pdf":
        # extract(build(pages)) is the identity on arbitrary Unicode
        # (pdf_parse module contract)
        t, got = extract_any(build_pdf([text]))
        assert t == "pdf" and got == text
    elif fmt == "docx":
        from pdf_extraction_spark.operators.docx_text import sanitize_for_xml

        t, got = extract_any(build_docx([text]))
        assert t == "docx" and got == sanitize_for_xml(text)
    elif fmt == "epub":
        from pdf_extraction_spark.operators.docx_text import sanitize_for_xml

        t, got = extract_any(build_epub([text]))
        assert t == "epub" and sanitize_for_xml(text).strip() in got
    elif fmt == "rtf":
        from pdf_extraction_spark.operators.rtf_text import build_rtf

        # RTF carries every character: exact identity, no sanitize
        t, got = extract_any(build_rtf([text]))
        assert t == "rtf" and got == text
    elif fmt == "pptx":
        from pdf_extraction_spark.operators.docx_text import sanitize_for_xml

        t, got = extract_any(build_pptx([text]))
        assert t == "pptx" and got == sanitize_for_xml(text)
    elif fmt == "odt":
        from pdf_extraction_spark.operators.docx_text import sanitize_for_xml

        t, got = extract_any(build_odt([text]))
        assert t == "odt" and got == sanitize_for_xml(text)
    else:
        t, got = extract_any(text.encode())
        assert t == "text" and got == text


def test_spark_mixed_corpus_dispatch(spark):
    img = np.full((8, 8, 3), 99, dtype=np.uint8)
    blobs = [
        (0, build_pdf(["pdf body"], font="winansi")),
        (1, build_docx(["docx body"])),
        (2, b"<html><body><p>" + b"The html body paragraph repeats with enough length to pass scoring. " * 4 + b"</p></body></html>"),
        (3, "plain body ✓".encode()),
        (4, encode_baseline_jpeg(img)),
        (5, b"%PDF-1.4 truncated garbage"),  # parser error -> contained
        (6, b"\x00\x01\x02\x03"),
        (7, build_epub(["epub body"])),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, content binary")
    rows = {r["doc_id"]: r for r in extract_any_text(df).collect()}
    assert len(rows) == 8
    assert rows[0]["doc_type"] == "pdf" and rows[0]["text"] == "pdf body"
    assert rows[1]["doc_type"] == "docx" and rows[1]["text"] == "docx body"
    assert rows[2]["doc_type"] == "html" and "html body paragraph" in rows[2]["text"]
    assert rows[3]["doc_type"] == "text" and rows[3]["text"] == "plain body ✓"
    assert rows[4]["doc_type"] == "jpeg" and rows[4]["text"] is None
    assert rows[6]["doc_type"] == "binary" and rows[6]["text"] is None
    assert rows[7]["doc_type"] == "epub" and rows[7]["text"] == "epub body"
    # containment: the truncated PDF yields an error row, job survives
    bad = rows[5]
    assert bad["text"] is None
    assert bad["doc_type"] in ("error", "pdf")
    if bad["doc_type"] == "error":
        assert bad["error"]
    # every non-error row has a NULL error
    assert all(rows[i]["error"] is None for i in (0, 1, 2, 3, 4, 6, 7))


def test_spark_tar_archive_of_mixed_documents(spark, tmp_path):
    """The full mixed-corpus ingest: a tar of PDFs/DOCX/HTML/binary ->
    read_docs_tar -> extract_any_text, correct text per member."""
    import io
    import tarfile

    from pyspark.sql import functions as F

    from pdf_extraction_spark.sources.tarsource import read_docs_tar

    members = [
        ("a/report.pdf", build_pdf(["quarterly figures"])),
        ("a/memo.docx", build_docx(["memo body"])),
        ("b/page.html", b"<html><body><p>"
         + b"The web page body has enough words to clear the scorer. " * 4
         + b"</p></body></html>"),
        ("b/blob.bin", b"\x00\xffopaque"),
    ]
    p = str(tmp_path / "mixed.tar")
    with tarfile.open(p, "w", format=tarfile.PAX_FORMAT) as t:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            t.addfile(info, io.BytesIO(data))
    docs = read_docs_tar(spark, p).select(
        F.xxhash64("name").alias("doc_id"), "name", "content"
    )
    joined = {
        r["name"]: r
        for r in docs.join(extract_any_text(docs), "doc_id").collect()
    }
    assert joined["a/report.pdf"]["doc_type"] == "pdf"
    assert joined["a/report.pdf"]["text"] == "quarterly figures"
    assert joined["a/memo.docx"]["doc_type"] == "docx"
    assert joined["a/memo.docx"]["text"] == "memo body"
    assert joined["b/page.html"]["doc_type"] == "html"
    assert "web page body" in joined["b/page.html"]["text"]
    assert joined["b/blob.bin"]["doc_type"] == "binary"


def test_spark_plan_is_shuffle_free_when_well_split(spark):
    df = spark.createDataFrame(
        [(i, b"plain") for i in range(64)], "doc_id long, content binary"
    ).repartition(8)
    plan = (
        extract_any_text(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan
    # rebalance_if_undersplit is a no-op over >= parallelism inputs only
    # when the input is a scan; over an already-repartitioned in-memory
    # frame the guard still must not add a SECOND exchange
    assert plan.count("Exchange") <= 1


@pytest.mark.parametrize(
    "build, doc_type",
    [
        (lambda: build_docx(["para"]), "docx"),
        (lambda: build_xlsx([["cell", "42"]]), "xlsx"),
        (lambda: build_pptx(["slide"]), "pptx"),
        (lambda: build_odt(["para"]), "odt"),
        (lambda: build_epub(["chap"]), "epub"),
    ],
)
def test_office_blob_opens_its_zip_once(monkeypatch, build, doc_type):
    """The sniff hands the archive it opened to the extractor: one
    ``zipfile.ZipFile`` per blob, with the same type and text."""
    import zipfile

    raw = build()
    want = extract_any(raw)
    opened = []

    class Counting(zipfile.ZipFile):
        def __init__(self, *args, **kwargs):
            opened.append(args[0])
            super().__init__(*args, **kwargs)

    monkeypatch.setattr(zipfile, "ZipFile", Counting)
    assert extract_any(raw) == want and want[0] == doc_type and want[1]
    assert len(opened) == 1
