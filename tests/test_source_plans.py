"""The file-splitting sources plan their split table in the JVM: the
warc, zip, tar and webdataset tables as a sliced ``Range`` whose
partition i holds split i (no exchange, no job before the read), empty
listings as a LocalTableScan; no Python task runs before the source's
own read.  The archive split readers carry each member's bytes once."""

from __future__ import annotations

import datetime
import math
import os
import random
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.session import split_table
from pdf_extraction_spark.sources.pages import DOCS_SCHEMA
from pdf_extraction_spark.sources.tarsource import (
    read_docs_tar,
    tar_split_docs,
    tar_splits,
    write_tar_members,
)
from pdf_extraction_spark.sources.warc import (
    read_pages_warc,
    warc_split_docs,
    warc_splits,
    write_pages_warc,
)
from pdf_extraction_spark.sources.webdataset import read_webdataset
from pdf_extraction_spark.sources.zipsource import (
    read_docs_zip,
    zip_split_docs,
    zip_splits,
)


def _assert_local_scan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _assert_split_range(df, partitions):
    """``df`` reads a split table planned as a sliced ``Range`` with no
    exchange, in ``partitions`` tasks."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Range (0, " in plan, plan
    assert "Exchange" not in plan and "LocalTableScan" not in plan, plan
    assert qe.toRdd().getNumPartitions() == partitions


def _splits_by_partition(splits):
    return [
        tuple(r)
        for r in splits.select("*", F.spark_partition_id().alias("_p"))
        .orderBy("_p")
        .collect()
    ]


def _write_tar(path, members):
    with open(path, "wb") as f:
        write_tar_members(f, iter(members))


def test_split_table_puts_row_i_in_partition_i(spark):
    """Any string survives the JSON literal (quotes, backslashes, NUL,
    newlines, non-BMP), longs keep 64 bits, NULL stays NULL, and slices
    are contiguous when there are fewer partitions than rows."""
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("start", LongType()),
            StructField("n", IntegerType()),
        ]
    )
    rows = [
        ("a'b\\c\x00d\n\u2028é😀", 1 << 40, 7),
        (None, None, None),
        ("file:/x/%20[*].warc", -1, 0),
    ]
    splits = split_table(spark, rows, schema)
    _assert_split_range(splits, 3)
    assert splits.schema == schema
    assert _splits_by_partition(splits) == [r + (i,) for i, r in enumerate(rows)]
    wide = [(f"p{i}", i, i) for i in range(10)]
    got = _splits_by_partition(split_table(spark, wide, schema, 4))
    assert [r[:3] for r in got] == wide
    assert [r[3] for r in got] == sorted(r[3] for r in got)
    assert len({r[3] for r in got}) == 4


def test_warc_split_table_is_one_split_per_task(spark, tmp_path):
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
    glob = str(tmp_path / "*.warc*")
    pages = read_pages_warc(spark, glob, split_bytes=split)
    _assert_split_range(pages, n)
    assert pages.count() == 12
    splits, archives = warc_splits(spark, glob, split_bytes=split)
    got = _splits_by_partition(splits)
    assert [r[3] for r in got] == list(range(n))
    assert {r[0] for r in got} == set(archives) and len(archives) == 3


def test_zip_entry_table_balances_member_bytes_without_exchange(spark, tmp_path):
    """The four giant members lead the archive, yet no task gets two of
    them; each task keeps archive order."""
    with zipfile.ZipFile(tmp_path / "a.zip", "w") as z:
        for i in range(12):
            z.writestr(f"d{i:02d}.txt", ("giant " * 500 if i < 4 else "") + f"doc {i}")
    docs = read_docs_zip(spark, str(tmp_path / "a.zip"))
    n = min(12, spark.sparkContext.defaultParallelism)
    assert n >= 4
    _assert_split_range(docs, n)
    assert docs.count() == 12
    splits, _ = zip_splits(spark, str(tmp_path / "a.zip"))
    got = _splits_by_partition(splits)
    assert sorted(r[1] for r in got) == [f"d{i:02d}.txt" for i in range(12)]
    assert len({r[-1] for r in got}) == n
    by_task: dict[int, list[str]] = {}
    for r in got:
        by_task.setdefault(r[-1], []).append(r[1])
    assert all(names == sorted(names) for names in by_task.values())
    giants = {f"d{i:02d}.txt" for i in range(4)}
    assert all(len(giants.intersection(names)) <= 1 for names in by_task.values())


def test_split_table_weights_share_out_evenly(spark):
    schema = StructType([StructField("w", LongType())])
    weights = [90, 80, 70, 60] + [1] * 8
    got = _splits_by_partition(
        split_table(spark, [(w,) for w in weights], schema, 4, weights=weights)
    )
    assert sorted(r[0] for r in got) == sorted(weights)
    load = [0] * 4
    for w, p in got:
        load[p] += w
    assert sorted(load) == [62, 72, 82, 92]


def test_giant_archive_spreads_over_the_pipeline_split_table(spark, tmp_path):
    """An archive holding most of the input's bytes is cut into byte
    ranges for the read-and-extract stage; archives at or under an even
    share stay whole."""
    ts = datetime.datetime(2026, 3, 1, 12, 0, 0)
    rng = random.Random(7)
    giant = [
        (f"http://g.example/{j}", ts, rng.randbytes(100_000))
        for j in range(8)
    ]
    write_pages_warc(giant, str(tmp_path / "giant.warc.gz"))
    write_pages_warc(
        [(f"http://s.example/{j}", ts, b"<p>small</p>") for j in range(3)],
        str(tmp_path / "small.warc.gz"),
    )
    splits, _ = warc_splits(spark, str(tmp_path / "*.warc.gz"))
    rows = splits.collect()
    small = [r for r in rows if r["path"].endswith("small.warc.gz")]
    assert [(r["start"], r["end"]) for r in small] == [(0, -1)]
    big = [r for r in rows if r["path"].endswith("giant.warc.gz")]
    assert len(big) >= spark.sparkContext.defaultParallelism
    docs = map_rows(splits, warc_split_docs, DOCS_SCHEMA).collect()
    assert sorted(d["url"] for d in docs) == sorted(u for u, _, _ in giant) + [
        f"http://s.example/{j}" for j in range(3)
    ]


@pytest.mark.parametrize("exact_index", [False, True])
def test_tar_split_table_is_one_split_per_task(spark, tmp_path, exact_index):
    path = tmp_path / "a.tar"
    _write_tar(path, [(f"m{i}.txt", b"member body " * 40) for i in range(12)])
    split = 2048
    if exact_index:
        n = min(12, spark.sparkContext.defaultParallelism)
    else:
        n = math.ceil(os.path.getsize(path) / split)
    docs = read_docs_tar(spark, str(path), split_bytes=split, exact_index=exact_index)
    _assert_split_range(docs, n)
    assert docs.count() == 12


def test_tar_pipeline_split_table_is_one_split_per_task(spark, tmp_path):
    for k in range(3):
        _write_tar(tmp_path / f"p{k}.tar", [(f"m{k}.txt", b"member body")])
    splits, archives = tar_splits(spark, str(tmp_path / "*.tar"))
    got = _splits_by_partition(splits)
    assert [(r[1], r[2], r[3]) for r in got] == [(0, -1, i) for i in range(3)]
    assert sorted(r[0] for r in got) == sorted(archives)


def test_webdataset_shard_table_is_one_shard_per_task(spark, tmp_path):
    for s in range(3):
        _write_tar(
            tmp_path / f"shard-{s}.tar",
            [(f"k{s}-{i}.{ext}", b"x") for i in range(2) for ext in ("txt", "json")],
        )
    samples = read_webdataset(spark, str(tmp_path / "*.tar"))
    _assert_split_range(samples, 3)
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
        pages = map_rows(zip_splits(spark, path)[0], zip_split_docs, DOCS_SCHEMA)
    else:
        _write_tar(path, members)
        pages = map_rows(tar_splits(spark, path)[0], tar_split_docs, DOCS_SCHEMA)
    plan = pages._jdf.queryExecution().optimizedPlan().toString()
    assert "makevalid" not in plan.lower().replace("_", ""), plan
    rows = pages.collect()
    assert sorted(bytes(r["html"]) for r in rows) == [b for _, b in members]
    assert {r["text"] for r in rows} == {None}
