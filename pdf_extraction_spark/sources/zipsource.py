"""Splittable ZIP-archive source: read documents out of .zip corpora
with per-member parallelism.

Document corpora regularly ship as ZIP archives (doc dumps, court
records, Enron-style mail exports).  A naive reader maps one archive
to one task; this source reads the CENTRAL DIRECTORY on the driver
(EOCD scan in the tail + one directory read — a few KB regardless of
archive size) and fans the members out across the fleet: every task
opens the archive, seeks straight to its members' local headers, and
inflates only its slice.  That is the same listing-is-cheap /
reads-are-distributed shape as every file source Spark ships, and the
same byte-range pattern as this repo's WARC splitting.

Scope: classic AND Zip64 archives (EOCD64 locator + record, 0x0001
extended-information extra fields) with STORED and DEFLATED members —
at the 100 TB design point >4 GiB archives are the norm, and those are
exactly the archives that most need member-level splitting.  Encrypted
members and unknown compression methods raise ValueError at listing
time (fail fast on the driver, not per task).  The central directory
is authoritative; a local header that disagrees with it raises, and
every member's bytes are CRC32-verified against the central-directory
crc field after inflation (the anti-decoy posture the WARC source
established — a corrupted STORED member would otherwise pass the
length cross-check silently).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.session import local_frame, split_table
from pdf_extraction_spark.sources.warc import _open_binary

_EOCD_SIG = b"PK\x05\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_EOCD64_SIG = b"PK\x06\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"

ZIP_DOC_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("name", StringType()),
        StructField("size", LongType()),
        StructField("content", BinaryType()),
    ]
)

# one row per member: where its local header sits and what the central
# directory says about it
_ENTRY_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("name", StringType()),
        StructField("local_off", LongType()),
        StructField("comp_size", LongType()),
        StructField("uncomp_size", LongType()),
        StructField("method", IntegerType()),
        StructField("crc", LongType()),
    ]
)


def _zip64_extra(
    extra: bytes, uncomp: int, comp: int, off: int, path: str, name: str
) -> tuple[int, int, int]:
    """Resolve 0xFFFFFFFF sentinels from the member's 0x0001 Zip64
    extended-information extra field.  Per APPNOTE 4.5.3 only the
    sentinel-valued fields appear, in fixed order: uncompressed size,
    compressed size, local header offset, (disk number)."""
    p = 0
    while p + 4 <= len(extra):
        hid, sz = struct.unpack("<HH", extra[p : p + 4])
        data = extra[p + 4 : p + 4 + sz]
        if hid == 0x0001:
            q = 0
            out = []
            for v in (uncomp, comp, off):
                if v == 0xFFFFFFFF:
                    if q + 8 > len(data):
                        raise ValueError(
                            f"zip source: short Zip64 extra for {name!r} in {path}"
                        )
                    v = struct.unpack("<Q", data[q : q + 8])[0]
                    q += 8
                out.append(v)
            return out[0], out[1], out[2]
        p += 4 + sz
    raise ValueError(
        f"zip source: Zip64 sentinel sizes without 0x0001 extra for"
        f" {name!r} in {path}"
    )


def list_zip_entries(
    path: str, file_length: int
) -> list[tuple[str, int, int, int, int, int]]:
    """Parse one archive's central directory (driver-side, tail reads
    only): returns (name, local_header_offset, comp_size, uncomp_size,
    method, crc32) per member.  Directories (trailing '/') are skipped.
    Zip64 archives resolve via the EOCD64 locator + record; Zip64
    members via their 0x0001 extra fields."""
    with _open_binary(path) as f:
        # EOCD lives in the last 22..22+65535 bytes (the comment field);
        # +20 keeps a Zip64 EOCD locator, which directly precedes it,
        # inside the same tail read
        tail_len = min(file_length, 22 + 65535 + 20)
        f.seek(file_length - tail_len)
        tail = f.read(tail_len)
        # the full EOCD record is 22 bytes; a signature closer to EOF
        # than that is not a record (search bounded so at + 22 fits)
        at = tail.rfind(_EOCD_SIG, 0, len(tail) - 18)
        if at < 0:
            raise ValueError(f"zip source: no end-of-central-directory in {path}")
        (
            _disk,
            _cd_disk,
            _n_disk,
            n_total,
            cd_size,
            cd_offset,
            _comment_len,
        ) = struct.unpack("<HHHHIIH", tail[at + 4 : at + 22])
        if n_total == 0xFFFF or cd_offset == 0xFFFFFFFF or cd_size == 0xFFFFFFFF:
            # Zip64: the 20-byte EOCD64 locator sits immediately before
            # the EOCD record
            loc = tail[max(0, at - 20) : at]
            if len(loc) != 20 or loc[:4] != _EOCD64_LOC_SIG:
                raise ValueError(
                    f"zip source: Zip64 markers without EOCD64 locator in {path}"
                )
            _ldisk, eocd64_off, _ndisks = struct.unpack("<IQI", loc[4:20])
            f.seek(eocd64_off)
            rec = f.read(56)
            if len(rec) != 56 or rec[:4] != _EOCD64_SIG:
                raise ValueError(f"zip source: bad EOCD64 record in {path}")
            (
                _rec_size,
                _ver_made64,
                _ver_need64,
                _disk64,
                _cd_disk64,
                _n_disk64,
                n_total,
                cd_size,
                cd_offset,
            ) = struct.unpack("<QHHIIQQQQ", rec[4:56])
        f.seek(cd_offset)
        cdir = f.read(cd_size)
    entries: list[tuple[str, int, int, int, int, int]] = []
    pos = 0
    for _ in range(n_total):
        if cdir[pos : pos + 4] != _CDIR_SIG:
            raise ValueError(f"zip source: corrupt central directory in {path}")
        (
            _ver_made,
            _ver_need,
            flags,
            method,
            _mtime,
            _mdate,
            crc,
            comp_size,
            uncomp_size,
            name_len,
            extra_len,
            comment_len,
            _disk_no,
            _int_attr,
            _ext_attr,
            local_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", cdir[pos + 4 : pos + 46])
        name = cdir[pos + 46 : pos + 46 + name_len].decode("utf-8", "replace")
        extra = cdir[pos + 46 + name_len : pos + 46 + name_len + extra_len]
        pos += 46 + name_len + extra_len + comment_len
        if flags & 0x1:
            raise ValueError(f"zip source: encrypted member {name!r} in {path}")
        if method not in (0, 8):
            raise ValueError(
                f"zip source: unsupported compression {method} for {name!r}"
            )
        if 0xFFFFFFFF in (comp_size, uncomp_size, local_off):
            uncomp_size, comp_size, local_off = _zip64_extra(
                extra, uncomp_size, comp_size, local_off, path, name
            )
        if name.endswith("/"):
            continue  # directory entry
        entries.append((name, local_off, comp_size, uncomp_size, method, crc))
    return entries


def read_zip_member(path: str, local_off: int, comp_size: int, method: int) -> bytes:
    """Executor-side: seek to the member's local header, validate it,
    and read + inflate exactly this member's bytes."""
    with _open_binary(path) as f:
        f.seek(local_off)
        hdr = f.read(30)
        if hdr[:4] != _LOCAL_SIG:
            raise ValueError(f"zip source: bad local header at {local_off} in {path}")
        name_len, extra_len = struct.unpack("<HH", hdr[26:30])
        f.seek(local_off + 30 + name_len + extra_len)
        raw = f.read(comp_size)
    if len(raw) != comp_size:
        raise ValueError(f"zip source: truncated member at {local_off} in {path}")
    if method == 0:
        return raw
    return zlib.decompressobj(-15).decompress(raw) + b""


def _read_member(
    archive: str, name: str, off: int, csize: int, usize: int, method: int, crc: int
) -> tuple:
    """The (archive, name, size, content) row of one central-directory
    entry, its inflated length and CRC32 checked against the entry."""
    data = read_zip_member(archive, off, csize, method)
    if len(data) != usize:
        raise ValueError(
            f"zip source: member {name!r} inflated to {len(data)} bytes,"
            f" central directory says {usize}"
        )
    if zlib.crc32(data) != crc:
        raise ValueError(
            f"zip source: crc mismatch for member {name!r}:"
            f" got {zlib.crc32(data):#010x},"
            f" central directory says {crc:#010x}"
        )
    return archive, name, len(data), data


def _zip_entry_rows(spark: SparkSession, path: str) -> tuple[list[tuple], list[str]]:
    """One ``_ENTRY_SCHEMA`` row per member of every archive matching
    ``path``, and the archive paths the listing found."""
    meta = (
        spark.read.format("binaryFile").load(path).select("path", "length").collect()
    )
    rows = []
    for r in meta:
        for name, off, csize, usize, method, crc in list_zip_entries(
            r["path"], int(r["length"])
        ):
            rows.append((r["path"], name, off, csize, usize, method, crc))
    return rows, [r["path"] for r in meta]


def _entry_table(spark: SparkSession, rows: list[tuple], parallelism: int | None):
    """The member table: one run of members per task, the runs sharing
    the members' uncompressed bytes about evenly, so a run of giant
    members in one archive still spreads over the tasks."""
    n = parallelism or spark.sparkContext.defaultParallelism
    return split_table(
        spark, rows, _ENTRY_SCHEMA, min(len(rows), n), weights=[r[4] for r in rows]
    )


def read_docs_zip(
    spark: SparkSession, path: str, parallelism: int | None = None
) -> DataFrame:
    """(archive, name, size, content) for every member of every archive
    matching ``path``.  The driver reads only EOCD + central directory
    per archive; member bytes are read and inflated on executors, one
    seek per member."""
    rows, _ = _zip_entry_rows(spark, path)
    if not rows:
        return local_frame(spark, [], ZIP_DOC_SCHEMA)
    return map_rows(_entry_table(spark, rows, parallelism), _read_member, ZIP_DOC_SCHEMA)


def zip_splits(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """``read_docs_zip``'s member table and the archive paths its listing
    found, spelled as the pages' ``source_file`` column spells them."""
    rows, archives = _zip_entry_rows(spark, path)
    return _entry_table(spark, rows, None), archives


def zip_split_docs(
    archive: str, name: str, off: int, csize: int, usize: int, method: int, crc: int
) -> list[tuple]:
    """(url, html, text, source_file) of one member-table row, as
    ``read_pages_zip`` spells them: the reader half of a stage that reads
    and extracts in one Python call per member."""
    _, _, _, data = _read_member(archive, name, off, csize, usize, method, crc)
    return [(f"zip://{archive}!{name}", data, None, archive)]


def read_pages_zip(spark: SparkSession, path: str) -> DataFrame:
    """Adapt ZIP members to the pages contract (url/html/text): url is
    ``zip://<archive>!<member>``, html carries the raw bytes and text is
    NULL, as for WARC pages: the kernel reads ``html`` whenever it is set,
    so a decoded copy would only double each member's bytes."""
    return read_docs_zip(spark, path).select(
        F.concat(F.lit("zip://"), F.col("archive"), F.lit("!"), F.col("name")).alias(
            "url"
        ),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        # lineage provenance: like the WARC source, rows come off a
        # non-file plan where input_file_name() is empty, so the archive
        # path rides along explicitly
        F.col("archive").alias("source_file"),
    )
