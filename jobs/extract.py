"""spark-submit entry point for the extraction pipeline (north_rule).

Cluster usage:
    spark-submit --py-files pdf_extraction_spark.zip jobs/extract.py \
        --input s3://.../pages --output s3://.../extractions \
        --groups 64 --partitions 4096 --salt 16 [--resume]

Sandbox usage (local[N] is picked via SPARK_GRAFT_CPUS or --cpus):
    python jobs/extract.py --input fixtures/pages_unit.parquet --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Distributed main-content extraction")
    p.add_argument("--input", required=True, help="pages table path (parquet)")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--groups", type=int, default=4, help="commit groups (snapshots)")
    p.add_argument("--partitions", type=int, default=None, help="shuffle partitions")
    p.add_argument("--salt", type=int, default=8, help="size-salt buckets for skew")
    p.add_argument("--resume", action="store_true", help="skip committed groups")
    p.add_argument("--groups-per-pass", type=int, default=None,
                   help="groups extracted per input pass (default: all "
                        "uncommitted groups in one pass; lower it to add "
                        "commit barriers on very long jobs)")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    p.add_argument("--format", choices=["parquet", "jsonl", "warc", "zip", "tar"],
                   default="parquet",
                   help="input format (jsonl carries html as base64; warc "
                        "reads Common-Crawl .warc/.warc.gz archives; large "
                        "uncompressed .warc files split into byte-range "
                        "tasks — see sources/warc.py; zip reads members of "
                        ".zip corpora with per-member parallelism via the "
                        "central directory — see sources/zipsource.py; tar "
                        "reads WebDataset-style tarballs with byte-range "
                        "splits on chain-verified 512-block boundaries — "
                        "see sources/tarsource.py)")
    args = p.parse_args(argv)

    from pdf_extraction_spark.session import get_spark

    spark = get_spark(app="extract-job", cpus=args.cpus)
    from pdf_extraction_spark.plans.pipeline import (
        _manifest_path,
        committed_groups,
        run_extraction,
    )

    t0 = time.monotonic()
    summary = run_extraction(
        spark,
        args.input,
        args.output,
        num_partitions=args.partitions,
        salt_buckets=args.salt,
        input_format=args.format,
        groups=args.groups,
        resume=args.resume,
        groups_per_pass=args.groups_per_pass,
    )
    summary["total_wall_sec"] = round(time.monotonic() - t0, 3)
    # group manifests only: a pass whose lineage coarsened also leaves a
    # lineage-pass-*.json there, which has no n_rows
    n = sum(
        json.load(open(_manifest_path(args.output, g)))["n_rows"]
        for g in committed_groups(args.output)
    )
    summary["total_rows"] = n
    summary["docs_per_sec"] = round(n / summary["total_wall_sec"], 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
