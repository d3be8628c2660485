"""Partition invariance, checkpoint/resume, and skew-spread tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _collect_sorted(df):
    return sorted(
        df.select("url", "extracted_text", F.to_json("fields").alias("f"),
                  F.to_json("page_fields").alias("pf"), "error").collect(),
        key=lambda r: r["url"],
    )


def test_partition_invariance(spark, pages_unit):
    """repartition(1) and repartition(64, salted) produce identical output."""
    from pdf_extraction_spark.operators.extract import (
        extract_documents,
        salted_repartition,
    )

    pages = spark.read.parquet(pages_unit)
    one = extract_documents(pages.repartition(1))
    many = extract_documents(salted_repartition(pages, 64, salt_buckets=16))
    assert _collect_sorted(one) == _collect_sorted(many)


def test_resume_skips_committed_groups_and_matches_uninterrupted(
    spark, pages_unit, tmp_path
):
    from pdf_extraction_spark.plans.pipeline import (
        committed_groups,
        read_extractions,
        run_extraction,
    )

    full_out = str(tmp_path / "full")
    run_extraction(spark, pages_unit, full_out, groups=4)

    killed_out = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_extraction(spark, pages_unit, killed_out, groups=4, fail_after_group=2)
    assert committed_groups(killed_out) == {0, 1}

    summary = run_extraction(spark, pages_unit, killed_out, groups=4, resume=True)
    assert summary["skipped"] == [0, 1]
    assert summary["committed"] == [2, 3]

    assert _collect_sorted(read_extractions(spark, killed_out)) == _collect_sorted(
        read_extractions(spark, full_out)
    )


def test_resume_checksums_match_between_runs(spark, pages_unit, tmp_path):
    from pdf_extraction_spark.plans.pipeline import MANIFEST_DIR, run_extraction

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    run_extraction(spark, pages_unit, a, groups=2, num_partitions=2)
    run_extraction(spark, pages_unit, b, groups=2, num_partitions=13)

    def checksums(out):
        d = os.path.join(out, MANIFEST_DIR)
        return {
            m["group"]: (m["n_rows"], m["output_checksum"])
            for m in (json.load(open(os.path.join(d, f))) for f in os.listdir(d))
        }

    assert checksums(a) == checksums(b)  # content invariant to partitioning


def test_two_runs_write_the_same_rows_to_the_same_files(
    spark, pages_unit, tmp_path
):
    """run_extraction's output contract: equal manifests (minus the
    wall-clock fields), the same files per group, and the same row set
    in each file.  Row order inside a file is not part of it."""
    import re

    import pyarrow.parquet as pq

    from pdf_extraction_spark.plans.pipeline import MANIFEST_DIR, run_extraction

    def manifests(out):
        d = os.path.join(out, MANIFEST_DIR)
        clock = ("wall_sec", "pass_wall_sec")
        return {
            name: {k: v for k, v in json.load(open(os.path.join(d, name))).items()
                   if k not in clock}
            for name in os.listdir(d)
        }

    def rows_per_file(out):
        got = {}
        for group in (g for g in os.listdir(out) if g.startswith("group=")):
            for name in os.listdir(os.path.join(out, group)):
                if name.endswith(".parquet"):
                    rows = pq.read_table(os.path.join(out, group, name)).to_pylist()
                    # part files carry a per-write uuid; the part index stays
                    part = re.sub(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "", name)
                    got[group, part] = sorted(json.dumps(r, sort_keys=True) for r in rows)
        return got

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    run_extraction(spark, pages_unit, a, groups=3)
    run_extraction(spark, pages_unit, b, groups=3)
    assert manifests(a) == manifests(b)
    files_a = rows_per_file(a)
    assert len(files_a) >= 3 and sum(map(len, files_a.values())) == 200
    assert files_a == rows_per_file(b)


def test_groups_per_pass_batches_and_matches_single_pass(
    spark, pages_unit, tmp_path
):
    """The batched formulation (one input pass per groups_per_pass groups)
    commits the same per-group rows + checksums as per-group passes, and a
    kill between batches resumes correctly."""
    from pdf_extraction_spark.plans.pipeline import (
        MANIFEST_DIR,
        committed_groups,
        read_extractions,
        run_extraction,
    )

    single = str(tmp_path / "single")  # default: all groups, one pass
    per_group = str(tmp_path / "pergroup")  # old formulation: one pass each
    run_extraction(spark, pages_unit, single, groups=4)
    run_extraction(spark, pages_unit, per_group, groups=4, groups_per_pass=1)

    def manifests(out):
        d = os.path.join(out, MANIFEST_DIR)
        return {
            m["group"]: (m["n_rows"], m["output_checksum"], m["lineage"])
            for m in (json.load(open(os.path.join(d, f))) for f in os.listdir(d))
        }

    assert manifests(single) == manifests(per_group)

    # kill after 3 commits with 2-group batches -> {0,1,2} committed
    killed = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_extraction(
            spark, pages_unit, killed, groups=4,
            groups_per_pass=2, fail_after_group=3,
        )
    assert committed_groups(killed) == {0, 1, 2}
    run_extraction(
        spark, pages_unit, killed, groups=4, groups_per_pass=2, resume=True
    )
    assert manifests(killed) == manifests(single)
    assert _collect_sorted(read_extractions(spark, killed)) == _collect_sorted(
        read_extractions(spark, single)
    )


def test_skew_salted_partitions_balanced(spark, pages_unit):
    """Zipf-skewed hosts: salted repartition keeps rows per partition
    within 4x of the median (FIXTURES.md test matrix)."""
    from pdf_extraction_spark.operators.extract import salted_repartition

    pages = spark.read.parquet(pages_unit)
    parts = (
        salted_repartition(pages, 16, salt_buckets=8)
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in parts)
    median = counts[len(counts) // 2]
    assert counts[-1] <= 4 * max(median, 1), counts


def test_lineage_coarsens_above_detail_limit(spark, pages_unit, tmp_path):
    """With |files| x |groups| above the detail limit, lineage is written
    once per pass as per-FILE totals (driver never holds the cross
    product) and manifests reference it; rows and checksums unchanged."""
    from pdf_extraction_spark.plans.pipeline import MANIFEST_DIR, run_extraction

    fine = str(tmp_path / "fine")
    coarse = str(tmp_path / "coarse")
    run_extraction(spark, pages_unit, fine, groups=3)
    run_extraction(spark, pages_unit, coarse, groups=3, lineage_detail_limit=1)

    def manifests(out):
        d = os.path.join(out, MANIFEST_DIR)
        return {
            m["group"]: m
            for m in (
                json.load(open(os.path.join(d, f)))
                for f in os.listdir(d)
                if f.startswith("group-")
            )
        }

    mf, mc = manifests(fine), manifests(coarse)
    # same groups, rows, checksums either way
    assert {g: (m["n_rows"], m["output_checksum"]) for g, m in mf.items()} == {
        g: (m["n_rows"], m["output_checksum"]) for g, m in mc.items()
    }
    refs = {m["lineage_ref"] for m in mc.values()}
    assert len(refs) == 1 and all(m["lineage"] == [] for m in mc.values())
    pass_lineage = json.load(
        open(os.path.join(coarse, MANIFEST_DIR, refs.pop()))
    )
    # per-file totals cover the whole input once
    detailed_total = sum(
        r["n_rows"] for m in mf.values() for r in m["lineage"]
    )
    assert sum(r["n_rows"] for r in pass_lineage["lineage"]) == detailed_total
    assert pass_lineage["groups"] == [0, 1, 2]


@pytest.mark.parametrize("layout", ["as_written", "one_group_per_file"])
def test_lineage_detail_limit_boundary(spark, pages_unit, tmp_path, layout):
    """At lineage_detail_limit == |files| x |groups| lineage stays
    detailed; one lower it coarsens, and the pass file's per-file totals
    are the detailed run's sums.  ``one_group_per_file`` makes the
    (group, file) aggregate sparse, so the coarse totals are folded from
    it; ``as_written`` overflows it and runs the per-file aggregate."""
    from pdf_extraction_spark.plans.pipeline import (
        MANIFEST_DIR,
        run_extraction,
    )

    groups = 3
    pages = pages_unit
    if layout == "one_group_per_file":
        pages = str(tmp_path / "by_group.parquet")
        src = spark.read.parquet(pages_unit)
        grp = F.pmod(F.xxhash64("url"), F.lit(groups))
        for g in range(groups):
            src.filter(grp == g).coalesce(1).write.mode("append").parquet(pages)
    n_files = (
        spark.read.parquet(pages).select(F.input_file_name()).distinct().count()
    )
    limit = n_files * groups

    def manifests(out):
        d = os.path.join(out, MANIFEST_DIR)
        return [
            json.load(open(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
            if f.startswith("group-")
        ]

    fine = str(tmp_path / "fine")
    run_extraction(spark, pages, fine, groups=groups, lineage_detail_limit=limit)
    mf = manifests(fine)
    assert len(mf) == groups
    assert all("lineage_ref" not in m and m["lineage"] for m in mf)
    sums: dict[str, list] = {}
    for m in mf:
        for r in m["lineage"]:
            tot = sums.setdefault(r["input_file"], [0, 0])
            tot[0] += r["n_rows"]
            tot[1] ^= r["input_checksum"]
    assert len(sums) == n_files
    n_detail = sum(len(m["lineage"]) for m in mf)
    assert n_detail < limit if layout == "one_group_per_file" else n_detail == limit

    coarse = str(tmp_path / "coarse")
    run_extraction(
        spark, pages, coarse, groups=groups, lineage_detail_limit=limit - 1
    )
    mc = manifests(coarse)
    assert [(m["n_rows"], m["output_checksum"]) for m in mc] == [
        (m["n_rows"], m["output_checksum"]) for m in mf
    ]
    assert all(m["lineage"] == [] for m in mc)
    refs = {m["lineage_ref"] for m in mc}
    assert len(refs) == 1
    pass_lineage = json.load(open(os.path.join(coarse, MANIFEST_DIR, refs.pop())))
    assert pass_lineage["n_files"] == n_files
    assert {
        r["input_file"]: [r["n_rows"], r["input_checksum"]]
        for r in pass_lineage["lineage"]
    } == sums


def test_empty_groups_are_readable_and_compactable(spark, tmp_path):
    """A committed group with zero rows must still be a schema-bearing
    parquet directory: direct reads and compaction work (regression — the
    staged-commit path once left a fileless directory)."""
    from pdf_extraction_spark.plans.pipeline import (
        compact_group,
        run_extraction,
    )
    from fixtures.gen import write_pages

    pages = str(tmp_path / "tiny.parquet")
    write_pages(pages, 3)
    out = str(tmp_path / "out")
    summary = run_extraction(spark, pages, out, groups=8)
    assert summary["committed"] == list(range(8))

    import json

    rows_by_group = {}
    for g in range(8):
        gdir = os.path.join(out, f"group={g}")
        df = spark.read.parquet(gdir)  # must not raise, even when empty
        rows_by_group[g] = df.count()
        m = json.load(open(os.path.join(out, "_manifests", f"group-{g}.json")))
        assert m["n_rows"] == rows_by_group[g]
    assert sum(rows_by_group.values()) == 3
    empty = [g for g, n in rows_by_group.items() if n == 0]
    assert empty  # 3 docs over 8 groups guarantee empty groups
    res = compact_group(spark, out, empty[0])
    assert res["n_rows"] == 0
    assert spark.read.parquet(os.path.join(out, f"group={empty[0]}")).count() == 0
