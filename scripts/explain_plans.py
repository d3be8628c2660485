"""Dump formatted physical plans for the key queries -> BENCH/PLANS.md.

The properties each plan must show (asserted by tests/test_plan_quality.py;
this artifact makes them reviewable):
  * ReadSchema pruned to the referenced columns (no fat `html` binary in
    text-only scans);
  * PushedFilters reaching the parquet scan;
  * the Python stage as a single Arrow-batched MapInArrow node (never
    row-at-a-time BatchEvalPython);
  * exchanges only where a shuffle is semantically required, with partial
    aggregation below them.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

PLANS = [
    ("extraction (bucketed map-only)", "pipeline shape: scan -> MapInArrow -> sink; no exchange"),
    ("extraction (salted shuffle)", "unbucketed-input shape: one explicit exchange on xxhash64(url)+size-salt"),
    ("extract_kv_kernel", "F7-F10 through the per-document kernel: one Arrow-batched MapInArrow pass, no hash shuffle"),
    ("dedup_exact", "single hash shuffle with map-side partial agg"),
    ("dedup_minhash_lsh", "single groupBy(band_key) + in-JVM pair expansion + candidate-only hash-set verify"),
    ("similarity_lsh_bucketed", "computed LSH quantizer bucket; broadcast bucket-join prunes candidates"),
    ("extraction_skewed", "size-outlier corpus: exchange keys on xxhash64(url, size-salt); Arrow-batched kernel with oversize-guard containment"),
    ("chunk_documents", "let-bound tokenize + explode: scan-local, zero exchange"),
    ("sample_stratified", "md5-rate predicate: scan-local filter, zero exchange"),
    ("multimodal_jpeg_decode", "codec family shape: scan -> Arrow-batched synth -> Arrow-batched decode -> sink, zero exchange (embarrassingly parallel at 100 TB)"),
    ("extract_pdf_encrypted", "RC4-decrypt + parse inside ONE MapInArrow pass: per-document work, zero exchange"),
]


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> int:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from pdf_extraction_spark.operators.extract import (
        extract_documents,
        salted_repartition,
    )
    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app="explain-plans", cpus=8, shuffle_partitions=8)
    qs = entry.queries()

    pages = entry._load(spark, SF_DIR, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
    )
    dfs = {
        "extraction (bucketed map-only)": extract_documents(pages),
        "extraction (salted shuffle)": extract_documents(
            salted_repartition(pages, 8, salt_buckets=8)
        ),
        "extract_kv_kernel": qs["extract_kv_kernel"](spark, SF_DIR),
        "dedup_exact": qs["dedup_exact"](spark, SF_DIR),
        "dedup_minhash_lsh": qs["dedup_minhash_lsh"](spark, SF_DIR),
        "similarity_lsh_bucketed": qs["similarity_lsh_bucketed"](spark, SF_DIR),
        "extraction_skewed": qs["extraction_skewed"](spark, SF_DIR),
        "chunk_documents": qs["chunk_documents"](spark, SF_DIR),
        "sample_stratified": qs["sample_stratified"](spark, SF_DIR),
        "multimodal_jpeg_decode": qs["multimodal_jpeg_decode"](spark, SF_DIR),
        "extract_pdf_encrypted": qs["extract_pdf_encrypted"](spark, SF_DIR),
    }

    out = ["# Physical plans (generated by scripts/explain_plans.py)\n"]
    for name, note in PLANS:
        out.append(f"## {name}\n\n{note}\n\n```\n{_formatted(dfs[name])}\n```\n")
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
