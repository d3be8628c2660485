"""End-to-end: Spark pipeline output must be byte-identical to the
straight-line oracle for every url (FIXTURES.md test matrix rows 2–4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _rows_by_url(df):
    out = {}
    for r in df.collect():
        out[r["url"]] = r
    return out


def _norm_fields(fields):
    if fields is None:
        return None
    return [(p["field"], p["value"]) for p in fields]


def test_pipeline_matches_golden(spark, pages_unit, golden, tmp_path):
    from pdf_extraction_spark.plans.pipeline import read_extractions, run_extraction

    out = str(tmp_path / "out")
    summary = run_extraction(spark, pages_unit, out, groups=4)
    assert sorted(summary["committed"]) == [0, 1, 2, 3]

    result = read_extractions(spark, out)
    rows = _rows_by_url(result)
    assert set(rows) == set(golden)

    for url, g in golden.items():
        r = rows[url]
        assert r["error"] is None, (url, r["error"])
        assert r["doc_kind"] == g["doc_kind"], url
        assert r["extracted_text"] == g["extracted_text"], url  # byte identity
        assert _norm_fields(r["fields"]) == g["fields"], url
        got_pages = (
            None
            if r["page_fields"] is None
            else [_norm_fields(p) for p in r["page_fields"]]
        )
        assert got_pages == g["page_fields"], url
        got_spans = (
            None
            if r["spans"] is None
            else [(s["label"], s["start"], s["end"]) for s in r["spans"]]
        )
        assert got_spans == g["spans"], url


def test_lineage_covers_all_input_files(spark, pages_unit, tmp_path):
    import json

    from pdf_extraction_spark.plans.pipeline import MANIFEST_DIR, run_extraction

    out = str(tmp_path / "out")
    run_extraction(spark, pages_unit, out, groups=3)
    mdir = os.path.join(out, MANIFEST_DIR)
    manifests = [json.load(open(os.path.join(mdir, f))) for f in sorted(os.listdir(mdir))]
    assert len(manifests) == 3
    covered_files = {l["input_file"] for m in manifests for l in m["lineage"]}
    assert len(covered_files) == 1  # single-file fixture: fully covered
    total_rows = sum(m["n_rows"] for m in manifests)
    n_input = spark.read.parquet(pages_unit).count()
    assert total_rows == n_input
    assert sum(l["n_rows"] for m in manifests for l in m["lineage"]) == n_input
    for m in manifests:
        assert isinstance(m["output_checksum"], int)
