"""The query registry's shape: every entry of ``all_queries()`` outside
``queries()`` is there for a reason named in ``__spark_entry__``."""

from __future__ import annotations

import __spark_entry__ as entrymod

# round-5 newcomers parked at the 50-entry cap of queries()
PARKED = {
    "extract_pdf_scanned",
    "multimodal_tiff_g4",
    "extract_xlsx_text",
    "extract_pptx_text",
    "extract_odt_text",
    "extract_rtf_text",
}


def test_only_parked_entries_sit_outside_queries():
    outside = set(entrymod.all_queries()) - set(entrymod.queries())
    assert outside == PARKED | {"multimodal_jpeg_progressive"}
    assert len(entrymod.queries()) == 50
    assert set(entrymod.all_oracles()) == set(entrymod.all_queries())
