"""spark-submit entry point: curate a documents table and export it as
WebDataset training shards.

The full training-data export dataflow in one job: quality gate -> PII
scrub -> exact dedup (plans/curate.py, one shuffle) -> sample assembly
(key = zero-padded doc id; parts = the scrubbed text plus a JSON
metadata sidecar, the standard WebDataset text-corpus layout) -> rolling
tar shards written one-per-task by the from-scratch ustar writer
(sources/webdataset.py, no shuffle, no driver data path).

Cluster usage:
    spark-submit --py-files pdf_extraction_spark.zip jobs/shard.py \
        --input s3://.../documents --output /mnt/shards \
        --samples-per-shard 10000

Sandbox usage:
    python jobs/shard.py --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/shards --samples-per-shard 100 --cpus 8
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
        description="Curate documents and export WebDataset shards"
    )
    p.add_argument("--input", required=True, help="documents table path (parquet)")
    p.add_argument("--output", required=True, help="shard output directory")
    p.add_argument("--samples-per-shard", type=int, default=1000)
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--min-score", type=int, default=50)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from pdf_extraction_spark.plans.curate import curated_docs
    from pdf_extraction_spark.session import get_spark
    from pdf_extraction_spark.sources.webdataset import write_webdataset

    spark = get_spark(app="shard-job", cpus=args.cpus)
    t0 = time.monotonic()
    docs = spark.read.parquet(args.input)
    curated = curated_docs(
        docs, min_tokens=args.min_tokens, min_score=args.min_score
    )
    # sample = scrubbed text + JSON metadata sidecar; the JSON is built
    # JVM-side (to_json over a struct) so the whole plan stays
    # expression-only until the shard writer's mapInArrow
    samples = curated.select(
        F.format_string("docs/%012d", F.col("doc_id")).alias("key"),
        F.map_from_arrays(
            F.array(F.lit("txt"), F.lit("json")),
            F.array(
                F.encode(F.col("scrubbed_text"), "UTF-8"),
                F.encode(
                    F.to_json(
                        F.struct("doc_id", "lang", "source", "fingerprint",
                                 "n_emails", "n_phones")
                    ),
                    "UTF-8",
                ),
            ),
        ).alias("parts"),
    )
    manifest = write_webdataset(
        samples, args.output, samples_per_shard=args.samples_per_shard
    )
    summary = {
        "shards": len(manifest),
        "samples": sum(m["samples"] for m in manifest),
        "total_wall_sec": round(time.monotonic() - t0, 3),
    }
    with open(os.path.join(args.output, "_manifest.json"), "w") as f:
        json.dump({"summary": summary, "shards": manifest}, f, indent=1)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
