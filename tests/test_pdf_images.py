"""Image XObjects embedded in PDFs (round-5 verdict ask #5): the
scanned-document layout — a page whose content IS a /DCTDecode JPEG —
must round-trip the image stream bit-exactly through build + parse."""

from __future__ import annotations

import numpy as np
import pytest

from __spark_entry__ import _ocr_row
from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg, parse_jpeg
from pdf_extraction_spark.operators.ocr import render_page
from pdf_extraction_spark.pdf_parse import (
    _jpeg_sof_dims,
    build_pdf,
    extract_pdf_images,
    extract_pdf_pages,
)


def _jpeg():
    return encode_baseline_jpeg(render_page("IMAGE XOBJECT test 42"))


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"xref_stream": True, "use_objstm": True, "predictor": True},
        {"compress": False},
        {"encrypt": "rc4-128"},
        {"encrypt": "aes-128"},
        {"encrypt": "aes-256"},
        {"font": "winansi"},
        {"indirect_length": True},
    ],
)
def test_embedded_jpeg_bit_exact(kw):
    jpeg = _jpeg()
    pages = ["text layer stays intact", "page two no image"]
    blob = build_pdf(pages, images=[jpeg, None], **kw)
    # the text layer is unaffected by the image paint operators
    assert extract_pdf_pages(blob) == pages
    imgs = extract_pdf_images(blob)
    assert [len(pg) for pg in imgs] == [1, 0]
    (im,) = imgs[0]
    assert im["data"] == jpeg  # bit-exact round trip
    assert (im["width"], im["height"]) == (128, 64)
    assert im["filter"] == "DCTDecode"
    assert im["colorspace"] == "DeviceGray"
    assert im["name"] == "Im1"


def test_embedded_jpeg_decodes_to_original_raster():
    raster = render_page("DECODE ME")
    jpeg = encode_baseline_jpeg(raster)
    blob = build_pdf([""], images=[jpeg])
    (im,) = extract_pdf_images(blob)[0]
    decoded = parse_jpeg(im["data"])[3][:, :, 0]
    # q=1 grayscale: binarized ink mask survives exactly
    assert np.array_equal(decoded < 128, raster < 128)


def test_jpeg_sof_dims():
    jpeg = _jpeg()
    assert _jpeg_sof_dims(jpeg) == (128, 64)
    with pytest.raises(ValueError, match="not a JPEG"):
        _jpeg_sof_dims(b"\x89PNG")
    with pytest.raises(ValueError, match="no SOF"):
        _jpeg_sof_dims(b"\xff\xd8\xff\xd9")


def test_pages_without_images_list_empty():
    blob = build_pdf(["no images here"])
    assert extract_pdf_images(blob) == [[]]


def test_ocr_roundtrip_goes_through_scanned_pdf():
    """The OCR chain now starts from a real scanned-style PDF: an
    image-only page (no text layer) whose recovered text still matches
    the sanitize identity."""
    def ocr_roundtrip_one(text):
        return _ocr_row()(0, text)[2]

    assert ocr_roundtrip_one("Scan Me 123!") == "Scan Me 123!"
    assert ocr_roundtrip_one("unicode → becomes ?") == "unicode ? becomes ?"
    assert ocr_roundtrip_one("") == ""
    # and the scanned page itself has NO text layer
    jpeg = encode_baseline_jpeg(render_page("X"))
    blob = build_pdf([""], images=[jpeg])
    assert extract_pdf_pages(blob) == [""]


def test_inline_g4_image_roundtrip_and_ocr():
    """BI..ID..EI inline images: bit-exact payload listing (abbreviated
    keys expanded), text interpreter unconfused by the binary payload,
    and the scanned-OCR dispatcher decodes them like XObjects."""
    from pdf_extraction_spark.operators.any_text import extract_any
    from pdf_extraction_spark.operators.ccitt import g4_encode
    from pdf_extraction_spark.operators.ocr import render_page, sanitize_text
    from pdf_extraction_spark.pdf_parse import (
        build_pdf,
        extract_pdf_images,
        extract_pdf_pages,
    )

    rows = [bytes([(i // 2 + j) % 2 for i in range(30)]) for j in range(12)]
    payload = g4_encode(rows, 30)
    pdf = build_pdf(
        ["typed text survives inline binary"],
        images=[("inline-g4", 30, 12, payload)],
    )
    assert extract_pdf_pages(pdf) == ["typed text survives inline binary"]
    (im,) = extract_pdf_images(pdf)[0]
    assert im["name"] == "Inline1"
    assert (im["width"], im["height"]) == (30, 12)
    assert im["filter"] == "CCITTFaxDecode"
    assert im["colorspace"] == "DeviceGray"
    assert im["decode_parms"]["K"] == -1
    assert im["decode_parms"]["Columns"] == 30
    assert im["data"] == payload

    # a full scanned page inline -> the OCR fallback recovers the text
    text = "Inline scan 9\nTotal: 3.50"
    want = sanitize_text(text)[:128]
    raster = render_page(sanitize_text(text))
    prows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(64)]
    scanned = build_pdf(
        [""], images=[("inline-g4", 128, 64, g4_encode(prows, 128))]
    )
    assert extract_any(scanned) == ("pdf_scanned", want)


def test_inline_dct_image_listing():
    import numpy as np

    from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    img = np.full((16, 24), 200, np.uint8)
    jpg = encode_baseline_jpeg(img)
    pdf = build_pdf(["x"], images=[("inline-dct", 24, 16, jpg)])
    (im,) = extract_pdf_images(pdf)[0]
    assert im["filter"] == "DCTDecode" and im["data"] == jpg
    assert (im["width"], im["height"]) == (24, 16)


def test_inline_image_survives_encryption_and_compression():
    from pdf_extraction_spark.operators.ccitt import g4_encode
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    rows = [bytes([(i + j) % 2 for i in range(16)]) for j in range(8)]
    payload = g4_encode(rows, 16)
    for kw in ({"encrypt": "aes-128"}, {"compress": True}, {"encrypt": "rc4-128", "compress": True}):
        pdf = build_pdf(["t"], images=[("inline-g4", 16, 8, payload)], **kw)
        (im,) = extract_pdf_images(pdf)[0]
        assert im["data"] == payload, kw


def test_inline_unfiltered_exact_length():
    """An UNFILTERED inline image sizes exactly from W/H/BPC — an 'EI'
    byte pair inside the pixels must NOT truncate it."""
    from pdf_extraction_spark.pdf_parse import (
        _Lexer,
        _parse_inline_image,
        extract_pdf_pages,
    )

    pixels = b"EI EI EI "  # 9 bytes == 3x3 gray 8bpc, all delimiters
    content = b"BI /W 3 /H 3 /BPC 8 /CS /G ID " + pixels + b"EI\nBT (ok) Tj ET"
    lex = _Lexer(content)
    assert lex.keyword() == "BI"
    meta, data = _parse_inline_image(lex)
    assert data == pixels[:-1] or data == pixels  # exact 9 bytes
    assert len(data) == 9


def test_inline_filtered_ei_without_preceding_whitespace():
    """PDF 32000-1 allows EI straight after the payload's last byte: with
    no whitespace-delimited EI, the first EI ending at whitespace, a
    delimiter or EOF closes the image; a whitespace-delimited EI still
    wins when one exists."""
    from pdf_extraction_spark.pdf_parse import _Lexer, _parse_inline_image

    payload = b"\xff\xd8EIx\x00\xff\xd9"  # an 'EI' pair inside, not an operator
    for tail in (b"EI Q", b"EI/Im0 Do", b"EI"):
        lex = _Lexer(b"BI /W 2 /H 2 /F /DCT ID " + payload + tail)
        assert lex.keyword() == "BI"
        meta, data = _parse_inline_image(lex)
        assert meta["Filter"] == "DCT" and data == payload, tail
        assert lex.data[lex.pos - 2 : lex.pos] == b"EI"

    lex = _Lexer(b"BI /F /CCF ID \x01EI\x02 EI Q")
    assert lex.keyword() == "BI"
    assert _parse_inline_image(lex)[1] == b"\x01EI\x02"
