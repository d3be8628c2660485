"""jobs/extract.py: the job's summary after a run whose lineage coarsened."""

from __future__ import annotations

import functools
import json
import os


def test_extract_job_totals_with_coarse_lineage(
    spark, pages_unit, tmp_path, capsys, monkeypatch
):
    """Past ``lineage_detail_limit`` the pass writes a lineage-pass-*.json
    beside the group manifests; the job's ``total_rows`` sums the group
    manifests only."""
    from jobs.extract import main
    from pdf_extraction_spark.plans import pipeline

    monkeypatch.setattr(
        pipeline,
        "run_extraction",
        functools.partial(pipeline.run_extraction, lineage_detail_limit=1),
    )
    # main() shares the fixture's session (getOrCreate) and stops it at
    # the end; keep it running for the rest of the suite
    monkeypatch.setattr(spark, "stop", lambda: None)
    out = str(tmp_path / "out")
    assert main(["--input", pages_unit, "--output", out, "--groups", "3",
                 "--cpus", "8"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    names = os.listdir(os.path.join(out, pipeline.MANIFEST_DIR))
    assert any(n.startswith("lineage-pass-") for n in names), names
    assert summary["committed"] == [0, 1, 2]
    assert summary["total_rows"] == spark.read.parquet(pages_unit).count()
