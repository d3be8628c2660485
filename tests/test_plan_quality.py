"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plan, not just in docstrings.

* column pruning: the fat ``html`` binary column must be absent from the
  parquet ReadSchema of any text-only query;
* predicate pushdown: a ``lang``/``warc_ts`` filter must reach the scan as
  PushedFilters;
* the extraction pipeline must keep its Python stage Arrow-batched
  (MapInArrow node, never BatchEvalPython row-UDF).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_drops_html(spark, pages_unit):
    pages = spark.read.parquet(pages_unit)
    q = pages.select("url", F.length("text").alias("n"))
    plan = _formatted_plan(q)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "html" not in scan[0], scan[0]
    assert "warc_ts" not in scan[0], scan[0]


def test_filter_pushdown_reaches_scan(spark, pages_unit):
    pages = spark.read.parquet(pages_unit)
    q = pages.filter(F.col("lang") == "en").select("url")
    plan = _formatted_plan(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "EqualTo(lang,en)" in pushed[0], pushed[0]


def test_extraction_stage_is_arrow_batched(spark, pages_unit):
    from pdf_extraction_spark.operators.extract import extract_documents

    q = extract_documents(spark.read.parquet(pages_unit))
    plan = _formatted_plan(q)
    assert "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_skewed_entry_plan_is_salted_and_arrow_batched(spark):
    """The size-skewed driver entry (extraction_skewed) must shuffle on
    the SALTED key — xxhash64(url, size-bucket), not plain url — so 10x
    size outliers spread across salt buckets, and its kernel stage must
    stay Arrow-batched."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["extraction_skewed"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(q)
    exch = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert exch, plan
    # the salted repartition key hashes (url, length-derived salt) — two
    # arguments inside xxhash64, visible in the partitioning expression
    assert any("xxhash64(url" in l and "%" in l for l in exch), exch
    assert "MapInArrow" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_exact_dedup_has_partial_aggregation(spark, pages_unit):
    """One shuffle, with a map-side partial agg before the exchange."""
    from pdf_extraction_spark.operators.dedup import exact_dedup

    pages = spark.read.parquet(pages_unit)
    q = exact_dedup(pages, "url", F.xxhash64("text"))
    plan = _formatted_plan(q)
    # formatted output shows each node once in the tree ("+- Exchange (5)")
    # and once in the detail section ("(5) Exchange") — count tree lines only
    assert plan.count("+- Exchange") == 1, plan
    # partial agg appears below the exchange in the tree (string min() makes
    # Spark pick SortAggregate — the buffer type is immutable)
    tree = plan.split("\n\n")[0].splitlines()
    exch_idx = next(i for i, l in enumerate(tree) if "Exchange" in l)
    assert any("Aggregate" in l for l in tree[exch_idx + 1:]), plan


def test_codec_entries_are_single_pass_no_shuffle(spark):
    """The codec entries (PDF text round-trip, PNG decode, GIF decode,
    ...) must each plan as scan -> Arrow-batched Python stage(s) ->
    project: a 100 TB decode job is embarrassingly parallel, so a HASH
    shuffle appearing here would be a scale regression.  The one
    Exchange that IS allowed — and, over this fixture, required — is
    the under-split guard (operators/balance.py): the test inputs are
    single-row-group parquet files, so the scan yields one split and
    the guard inserts exactly one ROUND-ROBIN repartition on the INPUT
    side of the kernel.  Over a well-split corpus the guard no-ops and
    the plan is Exchange-free (asserted separately below)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in (
        "extract_pdf_text",
        "multimodal_png_decode",
        "multimodal_gif_decode",
        "multimodal_jpeg_decode",
        "multimodal_jpeg_progressive",
        "multimodal_jpeg_meta",
        "ocr_raster_roundtrip",
        "multimodal_png_interlaced",
        "multimodal_gif_animated",
        "extract_pdf_encrypted",
        "multimodal_tiff_decode",
        "multimodal_tiff_g4",
        "extract_docx_text",
        "multimodal_ico_decode",
        "multimodal_mp4_meta",
        "multimodal_mp3_meta",
        "extract_epub_text",
        "extract_pdf_scanned",
    ):
        plan = _formatted_plan(qs[name](spark, "/root/testdata/sf0.001"))
        assert "MapInArrow" in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "hashpartitioning" not in plan, (name, plan)
        tree = plan.split("\n\n")[0].splitlines()
        exch = [i for i, l in enumerate(tree) if "Exchange" in l]
        assert len(exch) == 1, (name, plan)
        # the tree line carries only the node name; the partitioning
        # detail lives in the detail section of the formatted plan
        assert "RoundRobinPartitioning" in plan, (name, plan)
        # input side: the Exchange must sit BELOW the Python kernel in
        # the tree (deeper = executed earlier)
        kernel = [
            i
            for i, l in enumerate(tree)
            if "MapInArrow" in l
        ]
        assert exch[0] > kernel[0], (name, plan)


def test_undersplit_guard_noops_on_wide_input(spark):
    """The guard is a no-op when the input already has >= cores
    partitions — the 100 TB shape, where the scan provides the splits
    and the codec plan must stay Exchange-free."""
    from pdf_extraction_spark.operators.balance import rebalance_if_undersplit
    from pdf_extraction_spark.operators.multimodal import decode_bmp, synth_bmp

    target = spark.sparkContext.defaultParallelism
    base = spark.range(0, 256, 1, target * 2)
    assert rebalance_if_undersplit(base) is base
    blobs = base.select(
        F.col("id").alias("media_id"), synth_bmp(F.col("id")).alias("blob")
    )
    plan = _formatted_plan(decode_bmp(blobs, "media_id", "blob"))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan
