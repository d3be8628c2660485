"""End-to-end extraction pipeline with checkpoint/resume + lineage.

Cluster design (north_rule): the input is an Iceberg table of
Common-Crawl-style pages bucketed on url-hash; each *commit group* is one
atomic snapshot commit, so a killed job resumes from the last committed
snapshot.  This sandbox has no Iceberg runtime jar (verified), so groups
commit as  <out>/group=<g>/  parquet directories plus an atomically-renamed
JSON manifest per group — same resume semantics, same lineage content
(input files, row counts, checksums).

Scale notes (100 TB / 10^12 docs):
  * groups = pmod(xxhash64(url), G): all uncommitted groups are extracted
    in ONE input pass (partitionBy(group) staging write + ordered atomic
    per-group rename commits), so plain parquet reads the corpus once for
    any G; on Iceberg the group predicate additionally prunes files via
    the bucket spec.  ``groups_per_pass`` trades extra scans for more
    frequent commit barriers on very long jobs.
  * checksums use bit_xor(xxhash64(...)) — order-independent, overflow-free
    (Spark 4 runs ANSI mode; sum() of hashes would overflow).
  * per-input-file lineage comes from input_file_name() BEFORE the shuffle,
    grouped JVM-side — no Python in the metrics path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extraction_spark.operators.extract import extract_documents
from pdf_extraction_spark.session import local_frame

MANIFEST_DIR = "_manifests"


def _manifest_path(out_path: str, group: int) -> str:
    return os.path.join(out_path, MANIFEST_DIR, f"group-{group}.json")


def _write_manifest_atomic(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX: the commit point


def committed_groups(out_path: str) -> set[int]:
    d = os.path.join(out_path, MANIFEST_DIR)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("group-") and name.endswith(".json"):
            out.add(int(name[len("group-"):-len(".json")]))
    return out


def _row_hash():
    """Per-row xxhash64 over the semantic columns (checksum ingredient)."""
    return F.xxhash64(
        "url",
        F.coalesce("extracted_text", F.lit("\x00null")),
        F.coalesce(F.to_json("fields"), F.lit("\x00null")),
        F.coalesce(F.to_json("page_fields"), F.lit("\x00null")),
        F.coalesce("error", F.lit("\x00null")),
    )


def _lineage_record(r) -> dict:
    """Manifest lineage entry from a lineage aggregate row."""
    return {
        "input_file": r["input_file"],
        "n_rows": int(r["n_rows"]),
        "input_checksum": int(r["chk"] or 0),
    }


def _checksum_exprs():
    """(count, order-independent xxhash64-xor) over the semantic columns."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(_row_hash()).alias("checksum"),
    ]


def result_checksum(result: DataFrame):
    """(row_count, order-independent checksum) over the semantic columns."""
    row = result.agg(*_checksum_exprs()).collect()[0]
    return int(row["n"]), int(row["checksum"] or 0)


def _commit_staged_groups(
    spark,
    staging: str,
    out_path: str,
    batch,
    *,
    empty_schema,
    manifest_for,
    summary: dict,
    committed_count: int,
    fail_after_group: int | None,
) -> int:
    """Ordered, atomic per-group commits of a staged partitionBy(group)
    write — the one commit protocol shared by run_extraction and
    run_curation: rename the group's staged directory into place (a
    zero-row group gets a schema-bearing EMPTY parquet directory instead,
    so direct group reads and compaction keep working), then write its
    manifest — the manifest write is the commit point.  Returns the
    updated committed count; raises the simulated-kill test hook after
    ``fail_after_group`` total commits.
    """
    import shutil

    empty_template = None
    for g in batch:
        src = os.path.join(staging, f"group={g}")
        dst = os.path.join(out_path, f"group={g}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # stale uncommitted leftover
        if os.path.isdir(src):
            os.replace(src, dst)
        else:
            # schema-bearing empty parquet: written ONCE per pass (a
            # sparse pass can have thousands of empty groups; one Spark
            # write job each would serialize pure overhead), then copied
            if empty_template is None:
                empty_template = os.path.join(staging, "_empty-template")
                local_frame(spark, [], empty_schema).write.mode(
                    "overwrite"
                ).parquet(empty_template)
            shutil.copytree(empty_template, dst)
        _write_manifest_atomic(_manifest_path(out_path, g), manifest_for(g))
        summary["committed"].append(g)
        committed_count += 1
        if fail_after_group is not None and committed_count >= fail_after_group:
            raise RuntimeError(
                f"simulated kill after {committed_count} group(s)"
            )
    shutil.rmtree(staging, ignore_errors=True)
    return committed_count


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    *,
    num_partitions: int | None = None,
    salt_buckets: int = 8,
    groups: int = 4,
    resume: bool = False,
    fail_after_group: int | None = None,
    input_format: str = "parquet",
    groups_per_pass: int | None = None,
    lineage_detail_limit: int = 200_000,
) -> dict:
    """Run the pipeline; returns a summary dict (also persisted per group).

    All uncommitted groups are processed in ONE pass by default: the input
    is scanned once, plus ONE column-pruned per-(group, file) lineage
    aggregate over `url` (a second, per-file aggregate runs only when the
    first overflows ``lineage_detail_limit`` rows), extracted, and
    written ``partitionBy(group)`` into a staging directory; groups are
    then COMMITTED in order by an atomic per-group rename +
    manifest write, preserving the per-group resume granularity without
    the per-group input re-scan the previous formulation paid on plain
    parquet (on an Iceberg bucket spec the group predicate was pruned, but
    the sandbox fallback scanned the corpus once per group).

    ``groups_per_pass`` bounds how many groups share one pass: a kill
    mid-pass loses the whole pass's work (nothing of it is committed), so
    a 10-hour crawl job may prefer e.g. 4 passes of G/4 groups — one extra
    scan per pass buys 4 intermediate commit barriers.  Default: all
    uncommitted groups in a single pass.  It also bounds the observe
    node's width (two conditional aggregates per group in the pass), so
    prefer it at G in the thousands.

    ``lineage_detail_limit`` caps the per-(group, file) lineage rows
    collected to the driver per pass; above it (parquet fallback where
    every file feeds every group), lineage coarsens to one per-file
    record set written once per pass and referenced from each group
    manifest via ``lineage_ref``.

    Output contract: the SET of rows in each group (and in each of its
    files), pinned by the manifest's row count and order-insensitive xor
    checksums (``output_checksum``, each lineage ``input_checksum``).
    Row order inside a file follows the order in which shuffle blocks
    arrive, so two runs over one input write the same rows to the same
    files but not byte-identical parquet; compare sorted rows or the
    checksums, never file bytes.

    ``fail_after_group`` is a test hook: raise after committing that many
    groups, simulating a killed job for the resume test.
    ``input_format``: "parquet" (Iceberg/parquet table), "jsonl"
    (crawl-dump interchange; html carried as base64), or "warc"
    (Common Crawl's native archive format, .warc/.warc.gz).
    """
    from pyspark.sql import Observation

    from pdf_extraction_spark.sources.pages import read_pages, read_pages_jsonl
    from pdf_extraction_spark.sources.warc import read_pages_warc

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if input_format == "warc":
        pages = read_pages_warc(spark, pages_path)
    elif input_format == "zip":
        from pdf_extraction_spark.sources.zipsource import read_pages_zip

        pages = read_pages_zip(spark, pages_path)
    elif input_format == "tar":
        from pdf_extraction_spark.sources.tarsource import read_pages_tar

        pages = read_pages_tar(spark, pages_path)
    elif input_format == "jsonl":
        pages = read_pages_jsonl(spark, pages_path)
    else:
        # read_pages enforces the documented fail-fast schema contract on
        # the primary path too (catalog table or parquet)
        pages = read_pages(spark, pages_path)
    done = committed_groups(out_path) if resume else set()
    todo = [g for g in range(groups) if g not in done]
    summary = {"groups": groups, "skipped": sorted(done), "committed": []}
    committed_count = 0
    group_col = F.pmod(F.xxhash64("url"), F.lit(groups))
    if not groups_per_pass:
        groups_per_pass = max(1, len(todo))

    for i in range(0, len(todo), groups_per_pass):
        batch = todo[i : i + groups_per_pass]
        t0 = time.monotonic()
        batch_pages = pages.filter(group_col.isin([int(g) for g in batch]))

        # per-(group, input file) lineage, computed JVM-side pre-shuffle —
        # one aggregate job over the column-pruned `url` scan for the
        # whole batch.  On the parquet fallback every file can feed every
        # group, so the detailed aggregate has up to |files| x |batch|
        # rows; past `lineage_detail_limit` that would swamp the driver
        # (and the manifests), so lineage coarsens to per-FILE totals
        # written once per pass, with manifests carrying a reference.
        # On Iceberg each group reads only its own bucket's files and the
        # detailed path stays |files|-sized.
        lineage: dict[int, list] = {g: [] for g in batch}
        lineage_ref = None
        # provenance column: file-source scans expose input_file_name();
        # the WARC source synthesizes rows off a non-file plan (byte-range
        # splits) where input_file_name() is '', so it carries the archive
        # path as its source_file column.  Gated on the INPUT FORMAT, not
        # on column sniffing — a user parquet table legitimately carrying
        # its own source_file column must not hijack lineage
        file_expr = (
            F.col("source_file")
            if input_format in ("warc", "zip", "tar")
            else F.input_file_name()
        )
        totals = [
            F.count("*").alias("n_rows"),
            F.bit_xor(F.xxhash64("url")).alias("chk"),
        ]
        # collected one row past the limit: a full collect says the
        # detailed cross product fits, and its distinct files give the
        # file count; an overflowing one means coarse lineage for sure
        detail = [
            (int(r["grp"]), _lineage_record(r))
            for r in batch_pages.groupBy(
                group_col.alias("grp"), file_expr.alias("input_file")
            )
            .agg(*totals)
            .limit(lineage_detail_limit + 1)
            .collect()
        ]
        per_file: dict[str, dict] = {}
        if len(detail) <= lineage_detail_limit:
            for _, rec in detail:
                tot = per_file.setdefault(
                    rec["input_file"], dict(rec, n_rows=0, input_checksum=0)
                )
                tot["n_rows"] += rec["n_rows"]
                tot["input_checksum"] ^= rec["input_checksum"]
        else:
            # the cross product overflows: per-file totals JVM-side
            by_file = batch_pages.groupBy(file_expr.alias("input_file"))
            for r in by_file.agg(*totals).collect():
                per_file[r["input_file"]] = _lineage_record(r)
        n_files = len(per_file)
        if n_files * len(batch) <= lineage_detail_limit:
            for g, rec in detail:
                lineage[g].append(rec)
        else:
            lineage_ref = f"lineage-pass-{i}.json"
            _write_manifest_atomic(
                os.path.join(out_path, MANIFEST_DIR, lineage_ref),
                {
                    "groups": [int(g) for g in batch],
                    "n_files": n_files,
                    "lineage": sorted(
                        per_file.values(), key=lambda r: r["input_file"]
                    ),
                },
            )

        # ONE shuffle keyed on (group, salted url-hash): colocates each
        # group's rows so the partitionBy write emits ~salt-many files per
        # group instead of |batch| files from every task, while the salt
        # keeps ~4x num_partitions key-buckets for balance and spreads
        # size-skewed documents like salted_repartition does.  The salt
        # never drops below salt_buckets: with many groups per pass the
        # balance term goes to 1, which would pin every group's giants to
        # one partition — the exact straggler the salt exists to prevent
        salt = max(
            salt_buckets if salt_buckets > 1 else 1,
            (num_partitions * 4) // max(1, len(batch)),
        )
        key = F.xxhash64("url")
        if salt_buckets > 1:
            size_col = F.coalesce(
                F.length("text").cast("long"),
                F.length("html").cast("long"),
                F.lit(0),
            )
            key = F.xxhash64("url", (size_col % salt_buckets).cast("string"))
        spread = batch_pages.repartition(
            num_partitions, group_col, F.pmod(key, F.lit(salt))
        )
        result = extract_documents(spread).withColumn("group", group_col)

        # checksums on the WRITE path via observed metrics — at 100 TB,
        # re-reading the committed output just to checksum it doubles
        # output I/O per commit group; per-group totals come from
        # conditional aggregates on the group column (aggs skip nulls)
        per_group_metrics = []
        for g in batch:
            is_g = F.col("group") == g
            per_group_metrics.append(
                F.count(F.when(is_g, F.lit(1))).alias(f"n_{g}")
            )
            per_group_metrics.append(
                F.bit_xor(F.when(is_g, _row_hash())).alias(f"chk_{g}")
            )
        obs = Observation(f"pass-{i}-checksums")
        result = result.observe(obs, *per_group_metrics)

        staging = os.path.join(out_path, "_staging")
        result.write.mode("overwrite").partitionBy("group").parquet(staging)
        metrics = obs.get  # blocks only until the finished write's metrics land
        pass_wall = round(time.monotonic() - t0, 3)

        def manifest_for(g):
            manifest = {
                "group": g,
                "n_rows": int(metrics[f"n_{g}"]),
                "output_checksum": int(metrics[f"chk_{g}"] or 0),
                "lineage": sorted(
                    lineage[g], key=lambda r: r["input_file"]
                ),
                # wall_sec stays aggregatable across manifests: this
                # group's share of the shared pass.  The pass's full wall
                # is under pass_wall_sec (summing THAT across a batch
                # overcounts by pass_group_count, by construction).
                "wall_sec": round(pass_wall / len(batch), 3),
                "pass_wall_sec": pass_wall,
                "pass_group_count": len(batch),
                "num_partitions": num_partitions,
                "salt_buckets": salt_buckets,
            }
            if lineage_ref is not None:
                manifest["lineage_ref"] = lineage_ref  # coarse per-file totals
            return manifest

        committed_count = _commit_staged_groups(
            spark,
            staging,
            out_path,
            batch,
            empty_schema=result.drop("group").schema,
            manifest_for=manifest_for,
            summary=summary,
            committed_count=committed_count,
            fail_after_group=fail_after_group,
        )
    return summary


def read_extractions(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_path, "group=*"))


def compact_group(
    spark: SparkSession,
    out_path: str,
    group: int,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    checksum_exprs=None,
) -> dict:
    """Rewrite one committed group's parquet into ~target-sized files —
    the small-file compaction a long-running ingest needs (each commit
    writes num_partitions files; thousands of commits make scans
    metadata-bound).

    Safe + verifiable: the rewrite lands in a temp dir first, its
    order-insensitive checksum is computed ON THE WRITE PATH (observe)
    and compared to the committed manifest's ``output_checksum`` BEFORE
    the swap — a corrupted rewrite can never replace good data.  The
    manifest is updated in place (atomic tmp+rename) with the new file
    count; lineage rows are untouched (compaction changes layout, not
    content).

    ``checksum_exprs`` must match whatever produced the manifest's
    ``output_checksum``; default is the extraction pipeline's semantic
    columns — curation outputs pass their fingerprint checksum
    (``plans.curate.compact_curated_group``).
    """
    import shutil

    from pyspark.sql import Observation

    group_dir = os.path.join(out_path, f"group={group}")
    manifest_path = _manifest_path(out_path, group)
    with open(manifest_path) as f:
        manifest = json.load(f)

    df = spark.read.parquet(group_dir)
    total_bytes = sum(
        os.path.getsize(os.path.join(group_dir, f))
        for f in os.listdir(group_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil-div
    obs = Observation(f"compact-{group}")
    exprs = checksum_exprs if checksum_exprs is not None else _checksum_exprs()
    compacted = df.repartition(n_files).observe(obs, *exprs)

    tmp_dir = group_dir + ".compact-tmp"
    compacted.write.mode("overwrite").parquet(tmp_dir)
    metrics = obs.get
    n_rows, checksum = int(metrics["n"]), int(metrics["checksum"] or 0)
    if n_rows != manifest["n_rows"] or checksum != manifest["output_checksum"]:
        shutil.rmtree(tmp_dir)
        raise RuntimeError(
            f"compaction checksum mismatch for group {group}: "
            f"rows {n_rows} vs {manifest['n_rows']}, "
            f"checksum {checksum} vs {manifest['output_checksum']}"
        )
    backup = group_dir + ".pre-compact"
    os.rename(group_dir, backup)
    os.rename(tmp_dir, group_dir)
    shutil.rmtree(backup)
    manifest["compacted_files"] = n_files
    _write_manifest_atomic(manifest_path, manifest)
    return {"group": group, "n_files": n_files, "n_rows": n_rows}
