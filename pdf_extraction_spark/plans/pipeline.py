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
  * a pass is one Python stage, one exchange and the write.  The Python
    stage reads and extracts (an archive's reader and the kernel share
    one row function; a table's scan feeds the kernel directly), so
    each page crosses into Python once, and the stage is as balanced
    as its splits (an archive over an even share of the input's bytes
    is read as byte ranges).  The exchange then moves only the kernel's
    outputs, into exact per-group slots, so each write task holds whole
    groups.
  * per-(group, input file) lineage is counted by the write job itself:
    each row's file (input_file_name() at the scan, or the archive
    reader's source_file) becomes a key index, and one observation
    after the exchange counts and checksums each key and each group —
    no Python in the metrics path and no second decode of the input.
    A pass with more (group, file) keys than _IN_PASS_LINEAGE_KEYS runs
    one pre-pass aggregate over the reader's output for its lineage
    instead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.operators.extract import (
    EXTRACT_SCHEMA,
    extract_documents,
    extract_splits,
)
from pdf_extraction_spark.session import local_frame
from pdf_extraction_spark.xxhash64 import commit_group

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


# Per-row xxhash64 over the semantic columns: the ONE checksum ingredient
# of output_checksum, result_checksum and compact_group.  A null column
# hashes as "\0null", never as a skipped argument.
_ROW_HASH_SQL = (
    "xxhash64(url, coalesce(extracted_text, '\\u0000null'),"
    " coalesce(to_json(fields), '\\u0000null'),"
    " coalesce(to_json(page_fields), '\\u0000null'),"
    " coalesce(error, '\\u0000null'))"
)

# Above this many (group, input file) keys in one pass, lineage comes from
# a pre-pass aggregate over the input instead of the write job's observed
# metrics.  Each key costs two conditional aggregates per written row and
# grows the pass's planning and code generation.  Measured at local[4]
# over 512 WARC pages in 32 archives, the in-pass pass was faster up to
# 128 keys (1.81 s vs 1.93 s) and slower from 256 (2.39 s vs 2.10 s).  At
# 1,024 keys the observation alone cost ~2.5 s per query and ~190 us per
# row: every result task generates the update code of every aggregate.
_IN_PASS_LINEAGE_KEYS = 128

_LINEAGE_KEY = "__lineage_key"  # private: never a user column's name


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
        F.expr(f"bit_xor({_ROW_HASH_SQL})").alias("checksum"),
    ]


def _keyed(agg: str, key_sql: str, keys, value_sql: str):
    """ONE array-valued aggregate, built from SQL text in one py4j call:
    element j is ``agg(value_sql)`` over the rows whose ``key_sql`` equals
    ``keys[j]`` (count gives 0 and bit_xor null for a key with no rows)."""
    return F.expr(
        "array("
        + ", ".join(
            f"{agg}(CASE WHEN {key_sql} = {k} THEN {value_sql} END)" for k in keys
        )
        + ")"
    )


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@contextlib.contextmanager
def _job_description(spark, text: str):
    """Run the block's Spark jobs under ``text`` (the UI's and the status
    store's job description), then restore the caller's, raise or not."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


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


_ARCHIVE_FORMATS = ("warc", "zip", "tar")

# what an archive source's reader gives the pipeline per document
_DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("source_file", StringType()),
    ]
)


def _read_input(spark: SparkSession, pages_path: str, input_format: str):
    """The input of ``pages_path`` and the files it is read from, each
    spelled as the rows' lineage column spells them.

    For warc, zip and tar the input is ``(splits, read_docs)``: the
    source's split table and its reader, which turns one split row into
    (url, html, text, source_file) documents; the files are the reader's
    own listing.  Otherwise it is the pages, and the files the scan's
    ``inputFiles()`` (the rows' ``input_file_name()``).  Neither list
    costs a Spark job beyond the read's own."""
    if input_format == "warc":
        from pdf_extraction_spark.sources.warc import warc_split_docs, warc_splits

        splits, files = warc_splits(spark, pages_path)
        return (splits, warc_split_docs), files
    if input_format == "zip":
        from pdf_extraction_spark.sources.zipsource import zip_split_docs, zip_splits

        splits, files = zip_splits(spark, pages_path)
        return (splits, zip_split_docs), files
    if input_format == "tar":
        from pdf_extraction_spark.sources.tarsource import tar_split_docs, tar_splits

        splits, files = tar_splits(spark, pages_path)
        return (splits, tar_split_docs), files
    from pdf_extraction_spark.sources.pages import read_pages, read_pages_jsonl

    if input_format == "jsonl":
        pages = read_pages_jsonl(spark, pages_path)
    else:
        # read_pages enforces the documented fail-fast schema contract on
        # the primary path too (catalog table or parquet)
        pages = read_pages(spark, pages_path)
    return pages, pages.inputFiles()


def _in_batch(groups: int, batch: frozenset, url) -> bool:
    """Whether ``url``'s commit group is one of ``batch``'s."""
    return commit_group(url, groups) in batch


def _per_file_totals(detail) -> dict[str, dict]:
    """Per-file lineage records folded from (group, record) pairs."""
    per_file: dict[str, dict] = {}
    for _, rec in detail:
        tot = per_file.setdefault(
            rec["input_file"], dict(rec, n_rows=0, input_checksum=0)
        )
        tot["n_rows"] += rec["n_rows"]
        tot["input_checksum"] ^= rec["input_checksum"]
    return per_file


def _lineage_aggregate(batch_pages, group_col, file_col, limit: int):
    """(detail, per_file) lineage from ONE column-pruned per-(group, file)
    aggregate over ``url``, run before the write; a second, per-file
    aggregate runs only when the first overflows ``limit`` rows."""
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
            group_col.alias("grp"), file_col.alias("input_file")
        )
        .agg(*totals)
        .limit(limit + 1)
        .collect()
    ]
    if len(detail) <= limit:
        return detail, _per_file_totals(detail)
    # the cross product overflows: per-file totals JVM-side
    by_file = batch_pages.groupBy(file_col.alias("input_file")).agg(*totals)
    return detail, {r["input_file"]: _lineage_record(r) for r in by_file.collect()}


def _in_pass_lineage(metrics, batch, input_files, n_rows: dict, i: int):
    """(group, record) for every (group, file) key with rows, read from
    the write job's observed lineage arrays (``lineage_n``,
    ``lineage_chk``).  Raises unless each group's
    per-file counts sum to the rows the group wrote: a row whose file the
    file list misses is counted under no key."""
    n_files = len(input_files)
    detail = []
    for b, g in enumerate(batch):
        counted = 0
        for f, name in enumerate(input_files):
            n = int(metrics["lineage_n"][b * n_files + f])
            if n:
                chk = int(metrics["lineage_chk"][b * n_files + f])
                detail.append(
                    (g, {"input_file": name, "n_rows": n, "input_checksum": chk})
                )
                counted += n
        if counted != n_rows[g]:
            raise RuntimeError(
                f"pass {i}: group {g} wrote {n_rows[g]} rows, but its lineage"
                f" over the pass's {n_files} input files counts {counted};"
                " nothing of the pass is committed"
            )
    return detail


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    *,
    num_partitions: int | None = None,
    groups: int = 4,
    resume: bool = False,
    fail_after_group: int | None = None,
    input_format: str = "parquet",
    groups_per_pass: int | None = None,
    lineage_detail_limit: int = 200_000,
) -> dict:
    """Run the pipeline; returns a summary dict (also persisted per group).

    All uncommitted groups are processed in ONE pass by default, and a
    pass is one Python stage, one exchange and the write:

    * the Python stage reads and extracts.  For warc, zip and tar it is
      one ``map_rows`` over the source's split table whose row function
      reads the split and runs the kernel on each page
      (``operators.extract.extract_splits``); for parquet and jsonl the
      kernel runs over the scan (``extract_documents``), each page's
      lineage key riding through it as a passthrough column.  A pass
      that leaves groups out (``resume``, ``groups_per_pass``) has the
      archive stage skip their pages before the kernel, by a Python port
      of the group hash; Spark's group filter after the kernel stays the
      authority on what is written.
    * the exchange, ``repartitionById`` on an exact slot
      ``index_in_batch(group) * s + pmod(hash(url), s)`` with
      ``s = max(1, num_partitions // len(batch))``, moves only the
      kernel's outputs, so each write task holds whole slots of one
      group and the ``partitionBy(group)`` write into a staging
      directory emits ``s`` files per group.
    * one observation after the exchange, in the result stage (a re-run
      shuffle-map task would apply its accumulator updates again, and an
      xor applied twice cancels out), counts and checksums each group's
      rows and, at most ``_IN_PASS_LINEAGE_KEYS`` (group, input file)
      keys per pass, each key's lineage.  A wider pass runs ONE
      column-pruned per-(group, file) aggregate over the reader's output
      (never the kernel's) before the write (plus a per-file aggregate
      when that one overflows ``lineage_detail_limit`` rows).  The input
      files come from the read's own listing; a row whose file that
      list misses fails the pass before anything of it is committed.

    Groups are then COMMITTED in order by an atomic per-group rename +
    manifest write, so the input is scanned once per pass for any number
    of groups while resume keeps per-group granularity.

    ``groups_per_pass`` bounds how many groups share one pass: a kill
    mid-pass loses the whole pass's work (nothing of it is committed), so
    a 10-hour crawl job may prefer e.g. 4 passes of G/4 groups — one extra
    scan per pass buys 4 intermediate commit barriers.  Default: all
    uncommitted groups in a single pass.  It also bounds the observation's
    width (two conditional aggregates per group, and per (group, file)
    pair, in the pass), so prefer it at G in the thousands.

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
    (crawl-dump interchange; html carried as base64), "warc"
    (Common Crawl's native archive format, .warc/.warc.gz), "zip" or
    "tar" (one page per archive member).
    """
    from pyspark.sql import Observation

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    source, input_files = _read_input(spark, pages_path, input_format)
    input_files = sorted(input_files)
    done = committed_groups(out_path) if resume else set()
    todo = [g for g in range(groups) if g not in done]
    summary = {"groups": groups, "skipped": sorted(done), "committed": []}
    committed_count = 0
    group_col = F.pmod(F.xxhash64("url"), F.lit(groups))
    if not groups_per_pass:
        groups_per_pass = max(1, len(todo))
    archive = input_format in _ARCHIVE_FORMATS
    # provenance column: file-source scans expose input_file_name();
    # the archive sources synthesize rows off a non-file plan (byte-range
    # splits) where input_file_name() is '', so their reader emits the
    # archive path as source_file.  Gated on the INPUT FORMAT, not on
    # column sniffing — a user parquet table legitimately carrying its
    # own source_file column must not hijack lineage
    file_sql = "source_file" if archive else "input_file_name()"
    n_files = len(input_files)

    for i in range(0, len(todo), groups_per_pass):
        batch = todo[i : i + groups_per_pass]
        t0 = time.monotonic()
        in_batch = group_col.isin([int(g) for g in batch])

        # per-(group, input file) lineage.  While the pass has at most
        # _IN_PASS_LINEAGE_KEYS (group, file) keys it is counted by the
        # write job's observation (below), so the input is decoded once.
        # Past the cap, ONE column-pruned aggregate over `url` runs before
        # the write.  Either way, on plain parquet every file can feed
        # every group, so the detailed lineage has up to |files| x |batch|
        # records; past `lineage_detail_limit` that would swamp the driver
        # (and the manifests), so lineage coarsens to per-FILE totals
        # written once per pass, with manifests carrying a reference.
        # On Iceberg each group reads only its own bucket's files and the
        # detailed path stays |files|-sized.
        in_pass = 0 < n_files * len(batch) <= _IN_PASS_LINEAGE_KEYS
        if in_pass:
            # (group, file) -> key index; a file the list misses gives a
            # NULL key (the per-group sum check then fails the pass)
            lineage_key = group_col * n_files + F.expr(
                "nullif(array_position(array("
                + ", ".join(map(_sql_string, input_files))
                + f"), {file_sql}), 0) - 1"
            )
        if archive:
            splits, read_docs = source
            if not in_pass:
                read = map_rows(splits, read_docs, _DOCS_SCHEMA).filter(in_batch)
                with _job_description(spark, f"run_extraction pass {i}: lineage"):
                    detail, per_file = _lineage_aggregate(
                        read, group_col, F.col(file_sql), lineage_detail_limit
                    )
            # a pass that leaves groups out spends no kernel on their pages
            keep = (
                None
                if len(batch) == groups
                else functools.partial(_in_batch, groups, frozenset(batch))
            )
            result = extract_splits(splits, read_docs, keep).filter(in_batch)
            if in_pass:
                result = result.withColumn(_LINEAGE_KEY, lineage_key)
            result = result.drop("source_file")
        else:
            batch_pages = source.filter(in_batch)
            if in_pass:
                # the key is taken at the scan, where input_file_name()
                # is known, and rides through the kernel
                batch_pages = batch_pages.withColumn(_LINEAGE_KEY, lineage_key)
            else:
                with _job_description(spark, f"run_extraction pass {i}: lineage"):
                    detail, per_file = _lineage_aggregate(
                        batch_pages, group_col, F.expr(file_sql), lineage_detail_limit
                    )
            result = extract_documents(
                batch_pages, passthrough=(_LINEAGE_KEY,) if in_pass else ()
            )

        # ONE exchange, after the kernel: slot s * (index of the row's
        # group in the batch) + pmod(url-hash, s) colocates each group's
        # rows in s whole partitions, so the partitionBy write emits s
        # files per group instead of |batch| files from every task.  The
        # spread hash is murmur3 `hash`, not the group's xxhash64: within
        # one group xxhash64 mod G is fixed, so xxhash64 mod s would fill
        # only s / gcd(G, s) of the group's slots
        spread_by = max(1, num_partitions // len(batch))
        slot = F.expr(
            f"(array_position(array({', '.join(str(int(g)) for g in batch)}),"
            f" `group`) - 1) * {spread_by} + pmod(hash(url), {spread_by})"
        ).cast("int")
        result = result.withColumn("group", group_col)
        spread = result.repartitionById(len(batch) * spread_by, slot)

        # checksums (and lineage) on the WRITE path via ONE observation
        # after the exchange — at 100 TB, re-reading the committed output
        # just to checksum it doubles output I/O per commit group;
        # per-group totals come from conditional aggregates on the group
        # column (aggs skip nulls)
        metrics = [
            _keyed("count", "`group`", batch, "1").alias("n"),
            _keyed("bit_xor", "`group`", batch, _ROW_HASH_SQL).alias("chk"),
        ]
        if in_pass:
            keys = [g * n_files + f for g in batch for f in range(n_files)]
            metrics += [
                _keyed("count", _LINEAGE_KEY, keys, "1").alias("lineage_n"),
                _keyed("bit_xor", _LINEAGE_KEY, keys, "xxhash64(url)").alias(
                    "lineage_chk"
                ),
            ]
        obs = Observation(f"pass-{i}")
        spread = spread.observe(obs, *metrics).drop(_LINEAGE_KEY)

        staging = os.path.join(out_path, "_staging")
        with _job_description(spark, f"run_extraction pass {i}: write"):
            spread.write.mode("overwrite").partitionBy("group").parquet(staging)
        observed = obs.get  # blocks only until the finished write's metrics land
        n_rows = dict(zip(batch, observed["n"]))
        checksum = dict(zip(batch, observed["chk"]))
        if in_pass:
            detail = _in_pass_lineage(observed, batch, input_files, n_rows, i)
            per_file = _per_file_totals(detail)
        lineage: dict[int, list] = {g: [] for g in batch}
        lineage_ref = None
        if len(per_file) * len(batch) <= lineage_detail_limit:
            for g, rec in detail:
                lineage[g].append(rec)
        else:
            lineage_ref = f"lineage-pass-{i}.json"
            _write_manifest_atomic(
                os.path.join(out_path, MANIFEST_DIR, lineage_ref),
                {
                    "groups": [int(g) for g in batch],
                    "n_files": len(per_file),
                    "lineage": sorted(
                        per_file.values(), key=lambda r: r["input_file"]
                    ),
                },
            )
        pass_wall = round(time.monotonic() - t0, 3)

        def manifest_for(g):
            manifest = {
                "group": g,
                "n_rows": int(n_rows[g]),
                "output_checksum": int(checksum[g] or 0),
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
            }
            if lineage_ref is not None:
                manifest["lineage_ref"] = lineage_ref  # coarse per-file totals
            return manifest

        # the commit step's one Spark job is the empty-group template
        with _job_description(
            spark, f"run_extraction pass {i}: empty-group template"
        ):
            committed_count = _commit_staged_groups(
                spark,
                staging,
                out_path,
                batch,
                empty_schema=EXTRACT_SCHEMA,
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
