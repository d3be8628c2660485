"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

The flagship number is extraction throughput (docs/sec): the full kernel
pipeline (page split -> F4 fold -> field extraction -> OCR state machine ->
spans) over a pages table synthesized from `documents` and replicated
deterministically REPLICATION× for volume (BASELINE.md's target metric is
documents/sec extracted).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

REPLICATION = int(os.environ.get("BENCH_REPLICATION", "20"))

# headline queries (subset of __spark_entry__.queries() chosen to cover
# every operator family while keeping the run a few minutes)
HEADLINE = [
    "extract_kv_kernel",
    "extract_ocr_fields",
    "extraction_skewed",
    "quality_filter",
    "lang_id",
    "fingerprint_winnow",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_embedding_cosine",
    "pii_scrub",
    "sample_stratified",
    "token_budget_pack",
    "chunk_documents",
    "similarity_lsh_bucketed",
    "similarity_ivf_topk",
    "multimodal_png_decode",
    "multimodal_gif_decode",
    "multimodal_jpeg_decode",
    "multimodal_tiff_decode",
    "multimodal_tiff_g4",
    "extract_docx_text",
    "extract_xlsx_text",
    "extract_pptx_text",
    "extract_odt_text",
    "extract_rtf_text",
    "extract_pdf_text",
    # NOT in the headline (deliberate slow paths whose cost is the
    # documented point, not a regression): multimodal_jpeg_progressive
    # (~1.7 ms/image multi-scan round trip), multimodal_jpeg_meta (the
    # probe is microseconds; its MIXED synth encodes half the blobs
    # progressively), ocr_raster_roundtrip (~17 ms/doc full chain),
    # extract_pdf_encrypted (pure-Python RC4 over every stream).  All
    # four stay value-checked by scripts/check_oracle.py.
]


def _run(df) -> None:
    """Evaluate the full query without driver collection.

    ``count()`` would let Catalyst prune every projected expression (a
    narrow query 'benchmarked' via count measures only the scan); the noop
    datasource sink materializes every output column and discards it.
    """
    df.write.format("noop").mode("overwrite").save()


def _time(make_df, runs: int, agg) -> float:
    """Time `runs` evaluations of make_df() and aggregate with `agg`.

    The first evaluation of any Arrow-UDF stage spawns the Python worker
    pool (32 processes) and triggers JVM JIT — a one-time session cost that
    is NOT part of steady-state throughput, so callers warm up the session
    once (untimed) before the first _time call.  min-of-2 / median-of-3
    then suppress single-trial noise from VM CPU-steal spikes (see
    BENCH/BASELINE.md methodology)."""
    samples = []
    for _ in range(runs):
        t0 = time.monotonic()
        _run(make_df())
        samples.append(time.monotonic() - t0)
    return agg(samples)


def _median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def _steal_core_s() -> float:
    """Cumulative hypervisor steal time in core-seconds (/proc/stat).

    This VM shows steal bursts of 40-170 core-s per 30 s window (up to
    ~17% of the box) that swing individual query timings 3-10x between
    otherwise identical runs; recording the delta alongside the timings
    lets a reader tell an engine regression from a contended window.
    """
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / 100.0
    except Exception:
        return 0.0


def build_bench_pages(spark, sf_dir: str, replication: int):
    """documents -> pages(url, html, text), replicated deterministically."""
    import __spark_entry__ as entrymod

    d = entrymod._load(spark, sf_dir, "documents")
    rep = d.select(
        "doc_id", "source", "lang", "n_chars", "text",
        F.explode(F.sequence(F.lit(0), F.lit(replication - 1))).alias("copy"),
    )
    return rep.select(
        F.concat(
            F.lit("doc://"), F.col("doc_id").cast("string"),
            F.lit("/"), F.col("copy").cast("string"),
        ).alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            entrymod._page_col(), F.lit("\x0c"),
            F.lit("Second Page Header\n"),
            F.expr("substring(text, 1, 200)"), F.lit(" 42"),
        ).alias("text"),
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from pdf_extraction_spark.operators.extract import (
        extract_documents,
        salted_repartition,
    )
    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app="bench", cpus=cpus, shuffle_partitions=cpus)

    _steal_suite0 = _steal_core_s()

    # --- flagship: extraction throughput -----------------------------------
    pages = build_bench_pages(spark, sf_dir, REPLICATION)
    # many files on disk: small synthetic rows compress so hard that an
    # unpartitioned write yields one file = one scan split, serializing the
    # stage that feeds the extraction shuffle (see scripts/scaling_bench.py)
    pages.repartition(cpus * 4).write.mode("overwrite").parquet(
        "/tmp/bench_pages.parquet"
    )
    pages_on_disk = spark.read.parquet("/tmp/bench_pages.parquet")
    n_docs = pages_on_disk.count()

    # flagship shape = the production bucketed layout: the table is already
    # written as many balanced files (bucket(N, url) on Iceberg), so
    # extraction is map-only — no runtime shuffle (BENCH/BASELINE.md).
    # One untimed warmup evaluation first: it spawns the 32-process Arrow
    # worker pool and JIT-compiles the codegen stages (session setup, not
    # steady-state throughput); then median-of-3 timed runs.
    _run(extract_documents(pages_on_disk))
    _steal_flagship0 = _steal_core_s()
    extract_sec = _time(lambda: extract_documents(pages_on_disk), 3, _median)
    _steal_flagship = _steal_core_s() - _steal_flagship0
    docs_per_sec = n_docs / extract_sec

    # secondary: the skew-hardened path for unbucketed inputs (salted
    # repartition before the kernel) — reported for transparency
    extract_shuffled_sec = _time(
        lambda: extract_documents(
            salted_repartition(pages_on_disk, cpus * 2, salt_buckets=8)
        ),
        3,
        _median,
    )

    # --- headline query timings --------------------------------------------
    qs = entrymod.queries()
    timings = {
        "extraction_pipeline_bulk": round(extract_sec, 3),
        "extraction_pipeline_shuffled": round(extract_shuffled_sec, 3),
    }
    total = extract_sec + extract_shuffled_sec
    steal = {}
    if _steal_flagship >= 1.0:
        steal["extraction_pipeline_bulk"] = round(_steal_flagship, 1)
    for name in HEADLINE:
        s0 = _steal_core_s()
        sec = _time(lambda: qs[name](spark, sf_dir), 2, min)
        timings[name] = round(sec, 3)
        d = _steal_core_s() - s0
        if d >= 1.0:
            steal[name] = round(d, 1)  # contended window, flag it
        total += sec

    result = {
        "metric": "headline_suite_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "extraction_docs": n_docs,
        "docs_per_sec": round(docs_per_sec, 1),
        # hypervisor steal observed during contended queries (core-s);
        # empty dict = clean window, timings are engine numbers
        "steal_core_s": steal,
        # total steal across the whole suite run: one number that says
        # whether the window was clean (≈0) or fully contended
        "steal_total_core_s": round(_steal_core_s() - _steal_suite0, 1),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
