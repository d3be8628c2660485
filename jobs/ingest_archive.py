"""spark-submit entry point: ingest archives of MIXED documents into a
documents table.

The front door of the training-data lifecycle this repo ships:

    jobs/ingest_archive.py   tar/zip of PDFs/DOCX/EPUB/HTML/text
        -> sniff-dispatch extraction (operators/any_text.py)
        -> documents parquet (doc_id, source, name, doc_type, text, error)
    jobs/curate.py           quality gate -> PII scrub -> dedup
    jobs/shard.py            curated docs -> WebDataset training shards

Archive members are read with the splittable sources (ZIP: one
central-directory read per archive, member reads on executors; TAR:
chain-verified byte-range splits, zero driver reads), typed by LEADING
BYTES (never filename), and extracted by the matching in-repo parser
with per-document error containment — one corrupt PDF yields one error
row, never a failed job.

Sandbox usage:
    python jobs/ingest_archive.py --input '/tmp/corpus/*.tar' \
        --output /tmp/docs --format tar --cpus 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="Ingest mixed-document archives into a documents table"
    )
    p.add_argument("--input", required=True, help="archive path or glob")
    p.add_argument("--output", required=True, help="documents parquet dir")
    p.add_argument("--format", choices=["tar", "zip"], default="tar")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from pdf_extraction_spark.operators.any_text import extract_any_text
    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app="ingest-archive-job", cpus=args.cpus)
    t0 = time.monotonic()
    if args.format == "tar":
        from pdf_extraction_spark.sources.tarsource import read_docs_tar

        docs = read_docs_tar(spark, args.input)
    else:
        from pdf_extraction_spark.sources.zipsource import read_docs_zip

        docs = read_docs_zip(spark, args.input)
    # deterministic id from provenance; archive!name is unique per corpus
    keyed = docs.select(
        F.xxhash64(F.concat_ws("!", "archive", "name")).alias("doc_id"),
        F.col("archive").alias("source"),
        "name",
        "content",
    )
    # provenance rides THROUGH the kernel — no join-back, no second scan
    extracted = extract_any_text(keyed, passthrough=["source", "name"])
    extracted.write.mode("overwrite").parquet(args.output)
    # one aggregate over the written table; totals are summed here
    per_type = (
        spark.read.parquet(args.output)
        .groupBy("doc_type")
        .agg(F.count("*").alias("n"), F.count("text").alias("with_text"))
        .collect()
    )
    summary = {
        "rows": sum(int(r["n"]) for r in per_type),
        "with_text": sum(int(r["with_text"]) for r in per_type),
        "by_type": dict(sorted((r["doc_type"], int(r["n"])) for r in per_type)),
        "total_wall_sec": round(time.monotonic() - t0, 3),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
