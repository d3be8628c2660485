"""Splittable ZIP source (sources/zipsource.py): central-directory
listing on the driver, per-member reads on executors."""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.sources.pages import DOCS_SCHEMA
from pdf_extraction_spark.sources.zipsource import (
    list_zip_entries,
    read_docs_zip,
    read_zip_member,
    zip_split_docs,
    zip_splits,
)


def _make_zip(path, members, comment=b""):
    with zipfile.ZipFile(path, "w") as z:
        for name, data, method in members:
            info = zipfile.ZipInfo(name, date_time=(1990, 1, 1, 0, 0, 0))
            info.compress_type = method
            z.writestr(info, data)
        if comment:
            z.comment = comment
    return os.path.getsize(path)


_MEMBERS = [
    ("docs/a.txt", b"alpha document body " * 50, zipfile.ZIP_DEFLATED),
    ("docs/b with space.txt", b"beta", zipfile.ZIP_STORED),
    ("unicode é✓.md", "unicode ✓ content".encode(), zipfile.ZIP_DEFLATED),
    ("empty.bin", b"", zipfile.ZIP_STORED),
    ("bin.dat", bytes(range(256)) * 40, zipfile.ZIP_DEFLATED),
]


def test_listing_and_member_reads_match_zipfile(tmp_path):
    p = str(tmp_path / "corpus.zip")
    # an archive COMMENT shifts the EOCD away from the file tail — the
    # backward scan must still find it
    ln = _make_zip(p, _MEMBERS, comment=b"x" * 1000)
    entries = list_zip_entries(p, ln)
    assert [e[0] for e in entries] == [m[0] for m in _MEMBERS]
    import zlib

    with zipfile.ZipFile(p) as z:
        for name, off, csize, usize, method, crc in entries:
            got = read_zip_member(p, off, csize, method)
            assert got == z.read(name)
            assert len(got) == usize
            assert zlib.crc32(got) == crc


def test_directory_entries_skipped(tmp_path):
    p = str(tmp_path / "dirs.zip")
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("folder/", b"")
        z.writestr("folder/file.txt", b"content")
    entries = list_zip_entries(p, os.path.getsize(p))
    assert [e[0] for e in entries] == ["folder/file.txt"]


def test_encrypted_and_corrupt_rejected(tmp_path):
    p = str(tmp_path / "x.zip")
    ln = _make_zip(p, _MEMBERS[:2])
    blob = bytearray(open(p, "rb").read())
    # set the encryption flag bit in the central directory entry
    at = blob.find(b"PK\x01\x02")
    blob[at + 8] |= 0x01
    p2 = str(tmp_path / "enc.zip")
    open(p2, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="encrypted"):
        list_zip_entries(p2, len(blob))
    # garbage: no EOCD at all
    p3 = str(tmp_path / "junk.zip")
    open(p3, "wb").write(b"not a zip" * 10)
    with pytest.raises(ValueError, match="end-of-central-directory"):
        list_zip_entries(p3, 90)
    # review regression: an EOCD signature too close to EOF for a full
    # 22-byte record must raise the documented ValueError, not a
    # struct.error from a short unpack
    p3b = str(tmp_path / "shortsig.zip")
    open(p3b, "wb").write(b"x" * 40 + b"PK\x05\x06" + b"\x00" * 5)
    with pytest.raises(ValueError, match="end-of-central-directory"):
        list_zip_entries(p3b, 49)
    # a local header that disagrees with the central directory
    entries = list_zip_entries(p, ln)
    name, off, csize, usize, method, _crc = entries[0]
    blob = bytearray(open(p, "rb").read())
    blob[off] ^= 0xFF
    p4 = str(tmp_path / "baddecoy.zip")
    open(p4, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="bad local header"):
        read_zip_member(p4, off, csize, method)


def test_spark_read_docs_zip(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    _make_zip(str(d / "one.zip"), _MEMBERS)
    _make_zip(str(d / "two.zip"), [("solo.txt", b"second archive", zipfile.ZIP_STORED)])
    df = read_docs_zip(spark, str(d))
    rows = {(os.path.basename(r["archive"]), r["name"]): bytes(r["content"]) for r in df.collect()}
    assert len(rows) == len(_MEMBERS) + 1
    assert rows[("two.zip", "solo.txt")] == b"second archive"
    for name, data, _m in _MEMBERS:
        assert rows[("one.zip", name)] == data
    # the read stage must fan members across partitions, not one task
    assert df.rdd.getNumPartitions() > 1


def test_pipeline_zip_format_end_to_end(spark, tmp_path):
    """jobs/extract --format zip equivalent: run_extraction over a zip
    corpus — byte-identity vs the oracle kernel, and lineage manifests
    carry the ARCHIVE path (input_file_name() is empty on the
    synthesized-rows plan, like the WARC source)."""
    import json

    from pdf_extraction_spark.plans.pipeline import run_extraction
    from tests.oracle import oracle_document

    d = tmp_path / "corpus"
    d.mkdir()
    html_a = "<html><body><p>zip doc alpha</p></body></html>"
    html_b = "<html><body><p>zip doc beta</p></body></html>"
    _make_zip(
        str(d / "c.zip"),
        [
            ("a.html", html_a.encode(), zipfile.ZIP_DEFLATED),
            ("b.html", html_b.encode(), zipfile.ZIP_STORED),
        ],
    )
    out = str(tmp_path / "out")
    run_extraction(spark, str(d), out, groups=1, input_format="zip")
    m = json.load(open(os.path.join(out, "_manifests", "group-0.json")))
    assert m["lineage"] and all(
        r["input_file"].endswith("c.zip") for r in m["lineage"]
    )
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(os.path.join(out, "group=*")).collect()
    }
    assert len(got) == 2
    for name, html in [("a.html", html_a), ("b.html", html_b)]:
        url = next(u for u in got if u.endswith("!" + name))
        assert got[url] == oracle_document(url, html.encode(), html)["extracted_text"]


def test_spark_pages_contract(spark, tmp_path):
    from pdf_extraction_spark.sources.pages import validate_pages_schema

    d = tmp_path / "pages"
    d.mkdir()
    _make_zip(
        str(d / "p.zip"),
        [("doc1.txt", "hello zip world".encode(), zipfile.ZIP_DEFLATED)],
    )
    pages = map_rows(zip_splits(spark, str(d))[0], zip_split_docs, DOCS_SCHEMA)
    validate_pages_schema(pages)
    row = pages.collect()[0]
    assert row["url"].startswith("zip://") and row["url"].endswith("!doc1.txt")
    assert bytes(row["html"]) == b"hello zip world"
    assert row["text"] is None


def _build_zip64(path, payloads):
    """Hand-synthesize a spec-correct Zip64 archive: every size/offset in
    the central directory is a 0xFFFFFFFF sentinel resolved via a 0x0001
    extra field, and the EOCD carries sentinels resolved via the EOCD64
    record + locator.  zipfile only emits EOCD64 when a real >4 GiB /
    >65535-member threshold is crossed, which a unit test cannot afford —
    so the fixture is built by hand and CROSS-VALIDATED with zipfile
    (which reads Zip64) before our parser touches it."""
    import struct
    import zlib

    blob = bytearray()
    cd = bytearray()
    n = 0
    for i, (name, data) in enumerate(payloads.items()):
        nameb = name.encode()
        if i % 2:
            c = zlib.compressobj(wbits=-15)
            comp = c.compress(data) + c.flush()
            method = 8
        else:
            comp, method = data, 0
        crc = zlib.crc32(data)
        local_off = len(blob)
        extra_local = struct.pack("<HHQQ", 1, 16, len(data), len(comp))
        blob += struct.pack(
            "<4sHHHHHIIIHH", b"PK\x03\x04", 45, 0, method, 0, 0,
            crc, 0xFFFFFFFF, 0xFFFFFFFF, len(nameb), len(extra_local),
        )
        blob += nameb + extra_local + comp
        extra_cd = struct.pack("<HHQQQ", 1, 24, len(data), len(comp), local_off)
        cd += struct.pack(
            "<4sHHHHHHIIIHHHHHII", b"PK\x01\x02", 45, 45, 0, method, 0, 0,
            crc, 0xFFFFFFFF, 0xFFFFFFFF, len(nameb), len(extra_cd),
            0, 0, 0, 0, 0xFFFFFFFF,
        )
        cd += nameb + extra_cd
        n += 1
    cd_off = len(blob)
    blob += cd
    eocd64_off = len(blob)
    blob += struct.pack(
        "<4sQHHIIQQQQ", b"PK\x06\x06", 44, 45, 45, 0, 0, n, n, len(cd), cd_off
    )
    blob += struct.pack("<4sIQI", b"PK\x06\x07", 0, eocd64_off, 1)
    blob += struct.pack(
        "<4sHHHHIIH", b"PK\x05\x06", 0, 0, 0xFFFF, 0xFFFF,
        0xFFFFFFFF, 0xFFFFFFFF, 0,
    )
    open(path, "wb").write(bytes(blob))
    return len(blob)


def test_zip64_archive_listing_and_reads(tmp_path):
    """Zip64 (round-5 verdict ask #4): listing must resolve the 64-bit
    central-directory offset/count via EOCD64 locator + record and the
    per-member 0x0001 sentinels, and the splittable read path must return
    the exact member bytes."""
    import zlib

    p = str(tmp_path / "big64.zip")
    payloads = {
        f"m{i}.bin": (f"zip64 member {i} ".encode() * (11 * i + 3))
        for i in range(5)
    }
    ln = _build_zip64(p, payloads)
    # fixture sanity: stdlib zipfile (an independent Zip64 reader) agrees
    with zipfile.ZipFile(p) as z:
        assert {nm: z.read(nm) for nm in z.namelist()} == payloads
    entries = list_zip_entries(p, ln)
    assert [e[0] for e in entries] == list(payloads)
    for name, off, csize, usize, method, crc in entries:
        got = read_zip_member(p, off, csize, method)
        assert got == payloads[name]
        assert len(got) == usize and zlib.crc32(got) == crc


def test_zip64_spark_read_matches_zipfile(spark, tmp_path):
    d = tmp_path / "corpus64"
    d.mkdir()
    p = str(d / "a64.zip")
    payloads = {f"doc{i}.html": f"<p>zip64 doc {i}</p>".encode() for i in range(4)}
    _build_zip64(p, payloads)
    df = read_docs_zip(spark, str(d))
    rows = {r["name"]: bytes(r["content"]) for r in df.collect()}
    assert rows == payloads


def test_crc_mismatch_raises(tmp_path):
    """Round-5 ADVICE: a corrupted STORED member passes the length
    cross-check; the CRC32 check against the central directory must
    catch it (pure-Python drive of the executor row reader)."""
    import pytest as _pytest

    from pdf_extraction_spark.sources.zipsource import _read_member

    p = str(tmp_path / "c.zip")
    ln = _make_zip(p, [("s.txt", b"stored member payload", zipfile.ZIP_STORED)])
    (name, off, csize, usize, method, crc), = list_zip_entries(p, ln)
    # flip one byte INSIDE the stored payload (length unchanged)
    blob = bytearray(open(p, "rb").read())
    hdr_name_len, hdr_extra_len = (
        int.from_bytes(blob[off + 26 : off + 28], "little"),
        int.from_bytes(blob[off + 28 : off + 30], "little"),
    )
    data_at = off + 30 + hdr_name_len + hdr_extra_len
    blob[data_at + 3] ^= 0xFF
    open(p, "wb").write(bytes(blob))

    entry = (p, name, off, csize, usize, method, crc)
    with _pytest.raises(ValueError, match="crc mismatch"):
        _read_member(*entry)
    # same drive with intact bytes succeeds (control)
    blob[data_at + 3] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    row = _read_member(*entry)
    assert bytes(row[3]) == b"stored member payload"
