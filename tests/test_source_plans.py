"""The file-splitting sources plan their split table as a JVM
LocalTableScan: no Python task runs before the source's own read, and
each source keeps its partition count.  The archive page adapters carry
each member's bytes once."""

from __future__ import annotations

import datetime
import math
import os
import zipfile

import pytest

from pdf_extraction_spark.sources.tarsource import (
    read_docs_tar,
    read_pages_tar,
    write_tar_members,
)
from pdf_extraction_spark.sources.warc import read_pages_warc, write_pages_warc
from pdf_extraction_spark.sources.webdataset import read_webdataset
from pdf_extraction_spark.sources.zipsource import read_docs_zip, read_pages_zip


def _assert_local_scan(df, partitions=None):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    if partitions is not None:
        assert f"RoundRobinPartitioning({partitions})" in plan, plan


def _write_tar(path, members):
    with open(path, "wb") as f:
        write_tar_members(f, iter(members))


def test_warc_split_table_is_a_local_scan(spark, tmp_path):
    ts = datetime.datetime(2026, 3, 1, 12, 0, 0)
    html = b"<html><body><p>" + b"warc page words " * 8 + b"</p></body></html>"
    for k in range(2):
        write_pages_warc(
            [(f"http://{k}.example/{j}", ts, html) for j in range(3)],
            str(tmp_path / f"seg-{k}.warc.gz"),
        )
    write_pages_warc(
        [(f"http://big.example/{j}", ts, html) for j in range(6)],
        str(tmp_path / "big.warc"),
        compress=False,
    )
    split = 512
    # every archive over split_bytes fans out into byte ranges, .gz ones too
    n = sum(max(1, math.ceil(os.path.getsize(p) / split)) for p in tmp_path.iterdir())
    pages = read_pages_warc(spark, str(tmp_path / "*.warc*"), split_bytes=split)
    _assert_local_scan(pages, n)
    assert pages.count() == 12


def test_zip_entry_table_is_a_local_scan(spark, tmp_path):
    with zipfile.ZipFile(tmp_path / "a.zip", "w") as z:
        for i in range(12):
            z.writestr(f"d{i}.txt", f"doc {i}")
    docs = read_docs_zip(spark, str(tmp_path / "a.zip"))
    _assert_local_scan(docs, min(12, spark.sparkContext.defaultParallelism))
    assert docs.count() == 12


@pytest.mark.parametrize("exact_index", [False, True])
def test_tar_split_table_is_a_local_scan(spark, tmp_path, exact_index):
    path = tmp_path / "a.tar"
    _write_tar(path, [(f"m{i}.txt", b"member body " * 40) for i in range(12)])
    split = 2048
    if exact_index:
        n = min(12, spark.sparkContext.defaultParallelism)
    else:
        n = math.ceil(os.path.getsize(path) / split)
    docs = read_docs_tar(spark, str(path), split_bytes=split, exact_index=exact_index)
    _assert_local_scan(docs, n)
    assert docs.count() == 12


def test_webdataset_shard_table_is_a_local_scan(spark, tmp_path):
    for s in range(3):
        _write_tar(
            tmp_path / f"shard-{s}.tar",
            [(f"k{s}-{i}.{ext}", b"x") for i in range(2) for ext in ("txt", "json")],
        )
    samples = read_webdataset(spark, str(tmp_path / "*.tar"))
    _assert_local_scan(samples, 3)
    assert samples.count() == 6


@pytest.mark.parametrize(
    "read",
    [
        read_pages_warc,
        read_docs_zip,
        read_docs_tar,
        lambda spark, path: read_docs_tar(spark, path, exact_index=True),
        read_webdataset,
    ],
    ids=["warc", "zip", "tar", "tar_exact", "webdataset"],
)
def test_empty_listing_is_a_local_scan(spark, tmp_path, read):
    empty = read(spark, str(tmp_path))
    _assert_local_scan(empty)
    assert empty.collect() == []


@pytest.mark.parametrize("fmt", ["zip", "tar"])
def test_archive_pages_carry_member_bytes_once(spark, tmp_path, fmt):
    """``html`` holds each member's bytes and ``text`` is a NULL string:
    the kernel reads ``html`` whenever it is set, so no UTF-8 copy of the
    member is built or shipped to the Python stage."""
    members = [(f"m{i}.html", b"<p>member body</p>" * 8) for i in range(4)]
    path = str(tmp_path / f"a.{fmt}")
    if fmt == "zip":
        with zipfile.ZipFile(path, "w") as z:
            for name, body in members:
                z.writestr(name, body)
        pages = read_pages_zip(spark, path)
    else:
        _write_tar(path, members)
        pages = read_pages_tar(spark, path)
    plan = pages._jdf.queryExecution().optimizedPlan().toString()
    assert "makevalid" not in plan.lower().replace("_", ""), plan
    rows = pages.collect()
    assert sorted(bytes(r["html"]) for r in rows) == [b for _, b in members]
    assert {r["text"] for r in rows} == {None}
