"""The query registry's shape: ``queries()`` is the one registry, it fits
the driver's 50-entry snapshot, every entry has a DuckDB oracle, and every
entry reads a document table."""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as entrymod

# entries that once sat outside the driver-facing registry
FORMERLY_OUTSIDE = {
    "extract_pdf_scanned",
    "multimodal_tiff_g4",
    "extract_xlsx_text",
    "extract_pptx_text",
    "extract_odt_text",
    "extract_rtf_text",
    "multimodal_jpeg_progressive",
}


def test_queries_is_the_one_registry():
    qs = entrymod.queries()
    assert set(entrymod.oracle_sql()) == set(qs)
    assert len(qs) <= 50
    assert FORMERLY_OUTSIDE <= set(qs)
    assert not hasattr(entrymod, "all_queries")
    assert not hasattr(entrymod, "all_oracles")


def test_registry_reads_only_document_tables():
    src = Path(entrymod.__file__).read_text()
    calls = re.findall(r"(?<!def )_load\(([^)]*)\)", src)
    tables = [re.fullmatch(r'spark, sf_dir, "(\w+)"', c) for c in calls]
    assert calls and all(tables), calls
    assert {m.group(1) for m in tables} == {"documents", "embeddings"}
