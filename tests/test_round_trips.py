"""Build-then-parse round trips live in the registry, not in the package.

The registry (``__spark_entry__.py``) pushes each document's text through
a builder and back through the production parser with ``_round_trip``;
the package keeps only the builders and parsers.  The row functions it
ships to workers must be closures over package functions: workers cannot
import the registry, whatever module name the driver loaded it under."""

from __future__ import annotations

import ast
import importlib.util
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "pdf_extraction_spark"

# the parsers extract_any dispatches to, plus the OCR pieces: Spark-free
FORMAT_MODULES = (
    "docx_text",
    "pptx_text",
    "odt_text",
    "xlsx_text",
    "epub_text",
    "rtf_text",
    "ocr",
)

ROUND_TRIP_ENTRIES = (
    "extract_pdf_text",
    "extract_pdf_encrypted",
    "ocr_raster_roundtrip",
    "extract_pdf_scanned",
    "extract_docx_text",
    "extract_pptx_text",
    "extract_odt_text",
    "extract_xlsx_text",
    "extract_rtf_text",
    "extract_epub_text",
)
SYNTH_ENTRIES = (
    "multimodal_png_decode",
    "multimodal_png_interlaced",
    "multimodal_gif_decode",
    "multimodal_gif_animated",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_progressive",
    "multimodal_jpeg_meta",
    "multimodal_tiff_decode",
    "multimodal_tiff_g4",
    "multimodal_ico_decode",
    "multimodal_mp3_meta",
    "multimodal_mp4_meta",
)


def test_no_round_trip_operators_in_package():
    roundtrips = [
        f"{p.relative_to(PACKAGE)}:{node.name}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.endswith("_roundtrip")
    ]
    assert roundtrips == []
    spark_imports = re.compile(
        r"\s*(from|import)\s+(pyspark|pdf_extraction_spark\.operators\.balance)\b"
    )
    offenders = [
        f"{name}: {line.strip()}"
        for name in FORMAT_MODULES
        for line in (PACKAGE / "operators" / f"{name}.py").read_text().splitlines()
        if spark_imports.match(line)
    ]
    assert offenders == []


@pytest.fixture
def aliased_registry():
    """``__spark_entry__.py`` loaded under a module name no worker can
    import: a module-level registry function shipped to a worker then
    fails with ModuleNotFoundError."""
    name = "round_trip_registry_alias"
    spec = importlib.util.spec_from_file_location(name, REPO / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
        yield mod
    finally:
        del sys.modules[name]


def test_registry_row_functions_run_on_workers(spark, aliased_registry):
    qs = aliased_registry.queries()
    for name in ROUND_TRIP_ENTRIES + SYNTH_ENTRIES:
        rows = qs[name](spark, aliased_registry.DEFAULT_SF_DIR).limit(4).collect()
        assert len(rows) == 4, name
