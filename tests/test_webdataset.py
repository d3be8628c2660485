"""WebDataset sample reader (sources/webdataset.py): shard-per-task
grouping of adjacent tar members into samples."""

from __future__ import annotations

import io
import os
import tarfile

import numpy as np
import pytest

from pdf_extraction_spark.sources.webdataset import (
    iter_wds_samples,
    read_webdataset,
    split_wds_key,
)


def _make_shard(path, samples):
    """samples: [(key, {ext: bytes})] written in order, parts adjacent."""
    with tarfile.open(path, "w", format=tarfile.PAX_FORMAT) as t:
        for key, parts in samples:
            for ext, data in parts.items():
                name = key if not ext else f"{key}.{ext}"
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                t.addfile(info, io.BytesIO(data))


@pytest.mark.parametrize(
    "name,key,ext",
    [
        ("train/00042.jpg", "train/00042", "jpg"),
        ("train/00042.seg.png", "train/00042", "seg.png"),
        ("dir.v1/sample.01.jpg", "dir.v1/sample", "01.jpg"),
        ("plain", "plain", ""),
        ("a/b/c.tar.gz", "a/b/c", "tar.gz"),
    ],
)
def test_split_wds_key(name, key, ext):
    assert split_wds_key(name) == (key, ext)


def test_iter_wds_samples_groups_adjacent():
    recs = [
        ("s/0.jpg", b"j0"), ("s/0.cls", b"c0"), ("s/0.json", b"m0"),
        ("s/1.jpg", b"j1"), ("s/1.cls", b"c1"),
    ]
    got = list(iter_wds_samples(iter(recs), "shard"))
    assert got == [
        ("s/0", {"jpg": b"j0", "cls": b"c0", "json": b"m0"}),
        ("s/1", {"jpg": b"j1", "cls": b"c1"}),
    ]


def test_iter_wds_samples_rejects_nonadjacent_key():
    recs = [("a.jpg", b"1"), ("b.jpg", b"2"), ("a.cls", b"3")]
    with pytest.raises(ValueError, match="non-adjacent"):
        list(iter_wds_samples(iter(recs), "shard"))


def test_iter_wds_samples_rejects_duplicate_ext():
    recs = [("a.jpg", b"1"), ("a.jpg", b"2")]
    with pytest.raises(ValueError, match="duplicate part"):
        list(iter_wds_samples(iter(recs), "shard"))


def test_spark_read_webdataset_two_shards(spark, tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    shard0 = [
        ("train/0", {"jpg": b"img0", "cls": b"7", "json": b"{}"}),
        ("train/1", {"jpg": b"img1", "cls": b"3"}),
    ]
    shard1 = [("train/2", {"jpg": b"img2", "txt": b"caption two"})]
    _make_shard(str(d / "shard-000.tar"), shard0)
    _make_shard(str(d / "shard-001.tar"), shard1)
    df = read_webdataset(spark, str(d))
    rows = {
        r["key"]: (os.path.basename(r["archive"]),
                   {k: bytes(v) for k, v in r["parts"].items()})
        for r in df.collect()
    }
    assert rows == {
        "train/0": ("shard-000.tar", shard0[0][1]),
        "train/1": ("shard-000.tar", shard0[1][1]),
        "train/2": ("shard-001.tar", shard1[0][1]),
    }
    # shard = task: the read fans across partitions without a shuffle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInArrow")[0]


def test_write_tar_members_roundtrip_and_tarfile_compat(tmp_path):
    from pdf_extraction_spark.sources.tarsource import write_tar_members

    members = [
        ("short.txt", b"hello"),
        ("empty.bin", b""),
        ("deep/" + "n" * 150 + "/padded.dat", bytes(range(256))),
        ("unicode ✓.md", "content ✓".encode()),
    ]
    p = str(tmp_path / "out.tar")
    with open(p, "wb") as f:
        assert write_tar_members(f, iter(members)) == len(members)
    # stdlib tarfile must read our bytes back exactly (PAX longname incl.)
    with tarfile.open(p) as t:
        got = [(m.name, t.extractfile(m).read()) for m in t if m.isfile()]
    assert got == members
    # and so must our own range reader
    from tests.test_tarsource import _read_range_all

    ln = os.path.getsize(p)
    assert _read_range_all(p, ln, split_bytes=1024) == members


def test_spark_write_webdataset_roundtrip(spark, tmp_path):
    from pdf_extraction_spark.sources.webdataset import write_webdataset

    samples = [
        (f"train/{i:04d}", {"jpg": bytes([i]) * (i + 1), "cls": str(i).encode()})
        for i in range(17)
    ]
    df = spark.createDataFrame(
        [(k, p) for k, p in samples], "key string, parts map<string,binary>"
    ).repartition(3)
    out = str(tmp_path / "shards")
    manifest = write_webdataset(df, out, samples_per_shard=4)
    assert sum(m["samples"] for m in manifest) == 17
    assert all(m["members"] == 2 * m["samples"] for m in manifest)
    # rolling: no shard exceeds the cap
    assert max(m["samples"] for m in manifest) <= 4
    back = read_webdataset(spark, out)
    got = sorted(
        (r["key"], {k: bytes(v) for k, v in r["parts"].items()})
        for r in back.collect()
    )
    assert got == sorted(samples)


def test_spark_webdataset_stream_matches_batch(spark, tmp_path):
    """Streaming shard ingest == batch read, exactly-once across a
    restart (second availableNow drain admits only the NEW shard)."""
    from pdf_extraction_spark.sources.webdataset import (
        read_webdataset_stream,
    )

    d = tmp_path / "shards"
    d.mkdir()
    _make_shard(str(d / "s0.tar"), [("a/0", {"txt": b"zero"}),
                                    ("a/1", {"txt": b"one"})])
    _make_shard(str(d / "s1.tar"), [("a/2", {"txt": b"two"})])
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _drain():
        q = (
            read_webdataset_stream(spark, str(d), max_files_per_trigger=1)
            .selectExpr("archive", "key", "parts['txt'] as txt")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    _drain()
    got = {(r["key"], bytes(r["txt"])) for r in spark.read.parquet(out).collect()}
    assert got == {("a/0", b"zero"), ("a/1", b"one"), ("a/2", b"two")}
    # restart with one new shard: only its samples are appended
    _make_shard(str(d / "s2.tar"), [("a/3", {"txt": b"three"})])
    _drain()
    got2 = sorted(r["key"] for r in spark.read.parquet(out).collect())
    assert got2 == ["a/0", "a/1", "a/2", "a/3"]


def test_spark_webdataset_decode_pipeline(spark, tmp_path):
    """The full multimodal training dataflow: wds shard of REAL JPEGs ->
    sample rows -> per-part decode with the from-scratch codec."""
    from pdf_extraction_spark.operators.jpeg import (
        encode_baseline_jpeg,
        parse_jpeg,
    )

    d = tmp_path / "shards"
    d.mkdir()
    samples = []
    for i in range(4):
        img = np.full((16, 16, 3), [(i * 40) % 256, 80, 160], dtype=np.uint8)
        samples.append(
            (f"s/{i}", {"jpg": encode_baseline_jpeg(img), "cls": str(i).encode()})
        )
    _make_shard(str(d / "imgs.tar"), samples)
    df = read_webdataset(spark, str(d))
    got = sorted(
        (r["key"], parse_jpeg(bytes(r["parts"]["jpg"]))[:3],
         int(r["parts"]["cls"]))
        for r in df.collect()
    )
    assert got == [(f"s/{i}", (16, 16, 3), i) for i in range(4)]
