"""Raster-render + OCR round trip (operators/ocr.py): the
reference-shaped text -> PDF -> parse -> raster -> JPEG -> decode ->
template-OCR chain over the constrained synthetic subset."""

from __future__ import annotations

import numpy as np
import pytest

from __spark_entry__ import _ocr_row, _round_trip
from pdf_extraction_spark.operators.ocr import (
    CHARSET,
    PAGE_CAP,
    _GLYPHS,
    ocr_page,
    render_page,
    sanitize_text,
)


def ocr_roundtrip_one(text: str) -> str:
    """The registry's OCR round trip for one document: its recovered text."""
    return _ocr_row()(0, text)[2]


def test_glyphs_are_distinct_and_inky():
    masks = [g.tobytes() for g in _GLYPHS.values()]
    assert len(set(masks)) == len(CHARSET) == 95
    # no glyph can be confused with the blank padding cell, and any two
    # glyphs stay apart by enough pixels that a 1-pixel perturbation
    # cannot flip the nearest-Hamming match
    assert min(int(g.sum()) for g in _GLYPHS.values()) >= 8
    glyphs = list(_GLYPHS.values())
    min_d = min(
        int(np.count_nonzero(a ^ b))
        for i, a in enumerate(glyphs)
        for b in glyphs[i + 1 :]
    )
    assert min_d >= 3, min_d


@pytest.mark.parametrize(
    "text",
    [
        "Hello, World! (with) \\escapes\\ and 100% purity",
        "",
        "    leading and trailing    ",
        "ünïcödé → sanitized? ✓",
        "x" * 500,
        "".join(CHARSET),
        "line\nbreaks\tand\rcontrol chars",
    ],
)
def test_full_chain_recovers_sanitized_text(text):
    assert ocr_roundtrip_one(text) == sanitize_text(text)


def test_truncation_is_page_capacity():
    rec = ocr_roundtrip_one("a" * 1000)
    assert rec == "a" * PAGE_CAP


def test_ocr_stops_at_first_blank_cell():
    img = render_page("abc")
    assert ocr_page(img) == "abc"
    # internal spaces are real glyphs, not blanks, so they survive
    img = render_page("a b  c")
    assert ocr_page(img) == "a b  c"


def test_hamming_fallback_survives_single_pixel_damage():
    img = render_page("damaged").copy()
    # flip one ink pixel of the first glyph to paper
    ys, xs = np.nonzero(img[:8, :8] < 128)
    img[ys[0], xs[0]] = 255
    assert ocr_page(img) == "damaged"


def test_spark_ocr_roundtrip(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, "plain ascii text"),
        (2, "café ☕ unicode"),
        (3, None),
        (4, "y" * 300),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = _round_trip(df, _ocr_row(), "doc_id long, n_chars int, recovered_text string")
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["recovered_text"] == "plain ascii text"
    assert got[2]["recovered_text"] == "café ? unicode".replace("é", "?")
    assert got[3]["recovered_text"] == "" and got[3]["n_chars"] == 0
    assert got[4]["recovered_text"] == "y" * PAGE_CAP
