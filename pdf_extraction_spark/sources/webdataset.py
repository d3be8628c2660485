"""WebDataset-style sample reader over tar shards.

WebDataset (the de-facto sharded-tar layout for multimodal training
data) stores each SAMPLE as a run of adjacent tar members sharing a key:
``train/00042.jpg`` + ``train/00042.cls`` + ``train/00042.json`` is one
sample with parts {jpg, cls, json}.  The key is the member path up to
the FIRST dot after the last slash, so multi-suffix parts
(``sample.seg.png``) keep their full extension (``seg.png``).

Scale design: the SHARD is the parallelism unit — that is WebDataset's
own contract (shards are written at ~100 MB–1 GiB precisely so a fleet
parallelizes over them), so this reader reads each shard whole in one
task and streams its members sequentially, grouping adjacent runs by
key.  No shuffle: sample assembly is a per-task linear pass, and a
100 TB corpus is just more shards.  For a monolithic non-WebDataset
tarball, use ``read_docs_tar`` byte-range splits instead and group
downstream.

Integrity: adjacency is load-bearing (it is what makes grouping
shuffle-free), so a key that REAPPEARS non-adjacently in a shard raises
— that shard was mis-written and silently merging or dropping parts
would corrupt training samples.  Raising at the source matches the ZIP
source's posture; per-document containment belongs to the pipeline
layer (F18), not the source.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.session import arrow_batch, split_table
from pdf_extraction_spark.sources.tarsource import iter_tar_bytes
from pdf_extraction_spark.sources.warc import (
    _gunzip,
    _read_whole,
    list_archives,
    read_splits,
)

WDS_SAMPLE_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("key", StringType()),
        StructField("parts", MapType(StringType(), BinaryType())),
    ]
)

_PATH_SCHEMA = StructType([StructField("path", StringType())])


def split_wds_key(name: str) -> tuple[str, str]:
    """(key, ext) per the WebDataset rule: split at the first dot after
    the last slash; a dotless member is all key, empty ext."""
    slash = name.rfind("/")
    dot = name.find(".", slash + 1)
    if dot < 0:
        return name, ""
    return name[:dot], name[dot + 1 :]


def iter_wds_samples(
    records: Iterator[tuple[str, bytes]], archive: str
) -> Iterator[tuple[str, dict[str, bytes]]]:
    """Group an ordered member stream into (key, {ext: content}) samples;
    raises on non-adjacent key reappearance or duplicate ext in a
    sample."""
    seen: set[str] = set()
    cur_key: str | None = None
    cur: dict[str, bytes] = {}
    for name, content in records:
        key, ext = split_wds_key(name)
        if key != cur_key:
            if cur_key is not None:
                yield cur_key, cur
            if key in seen:
                raise ValueError(
                    f"webdataset: key {key!r} reappears non-adjacently in"
                    f" {archive} — corrupt shard"
                )
            seen.add(key)
            cur_key, cur = key, {}
        if ext in cur:
            raise ValueError(
                f"webdataset: duplicate part {ext!r} for key {key!r} in"
                f" {archive}"
            )
        cur[ext] = content
    if cur_key is not None:
        yield cur_key, cur


def _shard_samples(path: str, raw: bytes) -> list[tuple]:
    """The (archive, key, parts) sample rows of the shard ``path`` whose
    (inflated) tar bytes are ``raw``."""
    records = iter_tar_bytes(raw)
    return [(path, key, parts) for key, parts in iter_wds_samples(records, path)]


def read_webdataset_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming shard ingest: new ``.tar`` files landing under ``path``
    become sample rows — the continuous-training shape where an upstream
    job keeps publishing shards.  Built on the binaryFile STREAM source
    (checkpointable, exactly-once per shard file); each shard's bytes
    arrive in the stream row and parse in-memory with the same record
    iterator and grouping as the batch reader, so batch and stream
    results are identical per shard.  maxFilesPerTrigger bounds shards
    (and therefore executor memory) per micro-batch."""
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(path).select("path", "content")
    return map_rows(
        files, lambda shard, raw: _shard_samples(shard, _gunzip(raw)), WDS_SAMPLE_SCHEMA
    )


def write_webdataset(
    df: DataFrame, out_dir: str, *, samples_per_shard: int = 1000
) -> list[dict]:
    """Write (key, parts map<ext,binary>) rows as WebDataset tar shards
    under ``out_dir`` — each task streams its partition into
    ``shard-{partition:05d}-{seq:03d}.tar`` files, rolling to a new
    shard every ``samples_per_shard`` samples.  No shuffle, no driver
    data movement: the returned manifest (shard path, sample count) is
    the only thing collected.  Part extensions are written sorted for
    deterministic bytes.

    Shards are written with plain ``open()`` — a POSIX path visible to
    every executor (local mode, NFS, or a FUSE-mounted object store); an
    object-store-native writer would swap in an fsspec handle here."""
    import os

    from pyspark import TaskContext
    from pdf_extraction_spark.sources.tarsource import write_tar_members

    os.makedirs(out_dir, exist_ok=True)
    manifest_schema = StructType.fromDDL("shard string, members long, samples long")

    def _write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        rows: list[tuple[str, int, int]] = []  # (shard, members, samples)
        buf: list[tuple[str, list]] = []

        def _flush():
            shard = os.path.join(out_dir, f"shard-{pid:05d}-{len(rows):03d}.tar")
            with open(shard, "wb") as f:
                n = write_tar_members(
                    f,
                    (
                        (f"{key}.{ext}" if ext else key, bytes(content))
                        for key, parts in buf
                        for ext, content in sorted(parts)
                    ),
                )
            rows.append((shard, n, len(buf)))
            buf.clear()

        for batch in batches:
            for key, parts in zip(*[batch.column(c).to_pylist() for c in ("key", "parts")]):
                buf.append((str(key), parts))
                if len(buf) >= samples_per_shard:
                    _flush()
        if buf:
            _flush()
        if rows:
            yield arrow_batch(list(zip(*rows)), manifest_schema)

    manifest = df.select("key", "parts").mapInArrow(_write, manifest_schema)
    return [r.asDict() for r in manifest.collect()]


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """(archive, key, parts map<ext, binary>) — one row per sample, each
    shard read whole by one task, in at most default-parallelism tasks
    that share the shards' bytes about evenly.  Listing is binaryFile
    metadata only, and the shard table has no exchange."""
    shards = list_archives(spark, path)
    splits = split_table(
        spark,
        [(p,) for p, _ in shards],
        _PATH_SCHEMA,
        min(len(shards), spark.sparkContext.defaultParallelism),
        weights=[ln for _, ln in shards],
    )
    return read_splits(
        (splits, [p for p, _ in shards]),
        lambda shard: _shard_samples(shard, _read_whole(shard)),
        WDS_SAMPLE_SCHEMA,
    )
