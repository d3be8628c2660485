"""Source contract tests: fail-fast schema validation (SURVEY §4.3).

A schema mismatch discovered inside a Python worker at 10^12-doc scale
wastes a cluster-hour; read_pages must reject it driver-side, and a
contract violation must surface as ValueError — never be silently retried
against another source format.
"""

from __future__ import annotations

import pytest


def test_read_pages_validates_parquet(spark, tmp_path):
    from pdf_extraction_spark.sources.pages import read_pages

    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [(1, "x")], "doc_id long, text string"  # no url/html columns
    ).write.parquet(bad)
    with pytest.raises(ValueError, match="schema mismatch"):
        read_pages(spark, bad)


def test_read_pages_validates_catalog_table(spark):
    """A catalog table with the wrong schema raises ValueError — it is NOT
    retried as a parquet path (which would bury the contract violation
    under an unrelated read error)."""
    from pdf_extraction_spark.sources.pages import read_pages

    spark.createDataFrame([(1, "x")], "doc_id long, text string").createOrReplaceTempView(
        "bad_pages_view"
    )
    try:
        with pytest.raises(ValueError, match="schema mismatch"):
            read_pages(spark, "bad_pages_view")
    finally:
        spark.catalog.dropTempView("bad_pages_view")


def test_read_pages_missing_table_falls_back_with_parquet_error(spark):
    """No such catalog table AND no such path -> the parquet error surfaces
    (the fallback itself still works for genuinely-missing tables)."""
    from pdf_extraction_spark.sources.pages import read_pages

    with pytest.raises(Exception) as ei:
        read_pages(spark, "no_such_table_anywhere")
    assert not isinstance(ei.value, ValueError)


def test_pipeline_parquet_branch_validates(spark, tmp_path):
    from pdf_extraction_spark.plans.pipeline import run_extraction

    bad = str(tmp_path / "bad2.parquet")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(bad)
    with pytest.raises(ValueError, match="schema mismatch"):
        run_extraction(spark, bad, str(tmp_path / "out"), groups=1)


def test_warc_source_end_to_end(spark, tmp_path):
    """WARC records (gzip multi-member, HTTP envelopes, non-response
    records skipped) land in the pages schema and run byte-identically
    through the extraction pipeline."""
    import datetime as dt
    import gzip
    import io
    import os

    from pdf_extraction_spark.sources.warc import (
        read_pages_warc,
        write_pages_warc,
    )
    from tests.oracle import oracle_document

    html_a = b"<html><body><p>" + b"warc body one with several words here " * 8 + b"</p></body></html>"
    html_b = b"<html><body><nav><a href=x>l</a></nav><p>" + b"second doc main text content words " * 9 + b"</p></body></html>"
    ts = dt.datetime(2026, 3, 1, 12, 0, 0)
    wpath = str(tmp_path / "seg-00000.warc.gz")
    write_pages_warc(
        [("http://a.example/x", ts, html_a), ("http://b.example/y", ts, html_b)],
        wpath,
    )
    # splice in a request record (must be skipped) as an extra gzip member
    req = (
        "WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: http://a.example/x\r\n"
        "WARC-Date: 2026-03-01T12:00:00Z\r\nContent-Length: 4\r\n\r\n"
    ).encode() + b"GET " + b"\r\n\r\n"
    with open(wpath, "ab") as f:
        f.write(gzip.compress(req))

    pages = read_pages_warc(spark, wpath)
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {"http://a.example/x", "http://b.example/y"}
    assert bytes(rows["http://a.example/x"]["html"]) == html_a
    assert rows["http://a.example/x"]["warc_ts"] == ts

    # full pipeline over the WARC input, byte-identity vs the oracle
    from pdf_extraction_spark.plans.pipeline import run_extraction

    out = str(tmp_path / "out")
    run_extraction(spark, wpath, out, groups=1, input_format="warc")
    # lineage provenance must carry the archive path (the WARC source's
    # source_file column), never input_file_name()'s empty string
    import json

    m = json.load(open(os.path.join(out, "_manifests", "group-0.json")))
    assert m["lineage"] and all(
        r["input_file"].endswith(".warc.gz") for r in m["lineage"]
    )
    assert sum(r["n_rows"] for r in m["lineage"]) == 2
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(os.path.join(out, "group=*")).collect()
    }
    for url, html in [("http://a.example/x", html_a), ("http://b.example/y", html_b)]:
        assert got[url] == oracle_document(url, html, None)["extracted_text"]


def test_orc_pages_source_round_trip(spark, tmp_path):
    """Pages written as ORC read back through read_pages (extension
    dispatch) with identical content and pass the schema contract."""
    from pdf_extraction_spark.sources.pages import read_pages

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F

    pages = src.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    path = str(tmp_path / "pages.orc")
    pages.write.mode("overwrite").orc(path)
    back = read_pages(spark, path)
    a = {r["url"]: r["text"] for r in pages.collect()}
    b = {r["url"]: r["text"] for r in back.collect()}
    assert a == b


def test_orc_dispatch_does_not_misroute_orc_prefixed_names(spark, tmp_path):
    """A parquet directory whose last segment merely STARTS with 'orc'
    (e.g. .../orchard) must use the parquet reader — regression for a
    substring-based extension heuristic."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.sources.pages import read_pages

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = src.limit(5).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    path = str(tmp_path / "orchard")
    pages.write.mode("overwrite").parquet(path)
    assert read_pages(spark, path).count() == 5


def test_warc_split_reader_matches_whole_file(spark, tmp_path):
    """Byte-range splitting of a large uncompressed .warc: many small
    splits must yield exactly the whole-file read's records, including a
    payload containing a decoy record separator + WARC magic (header
    validation must skip it) and a record far larger than the split size
    (owned by the split containing its start; inner splits yield
    nothing)."""
    import datetime as dt
    import os
    import random

    from pdf_extraction_spark.sources.warc import (
        read_pages_warc,
        write_pages_warc,
    )

    rng = random.Random(7)
    rows = []
    for i in range(120):
        body = (
            f"<html><body><p>doc {i} " + "x" * rng.randrange(50, 400)
            + "</p></body></html>"
        ).encode()
        if i == 17:
            body = (
                b"<p>decoy\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
                b"not a real record</p>" + b"y" * 9000
            )
        if i == 40:
            body = b"<p>" + b"z" * 40000 + b"</p>"
        rows.append((f"http://ex.org/{i}", dt.datetime(2026, 1, 1, 0, 0, i % 60), body))
    path = str(tmp_path / "big.warc")
    write_pages_warc(rows, path, compress=False)
    assert os.path.getsize(path) // 8192 > 6  # the small split size bites

    whole = read_pages_warc(spark, path, split_bytes=1 << 30)
    split = read_pages_warc(spark, path, split_bytes=8192)
    a = {r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in whole.collect()}
    b = {r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in split.collect()}
    assert len(a) == 120
    assert a == b
    assert a["http://ex.org/17"][0].startswith(b"<p>decoy")


def test_warc_range_iterator_boundary_sweep():
    """Exhaustive split-boundary sweep, pure Python: for many split sizes
    (boundaries landing mid-magic, mid-header, mid-payload, between
    records), the union of per-range records must equal the whole-file
    parse — no record lost or duplicated at any alignment."""
    import datetime as dt
    import io

    from pdf_extraction_spark.sources.warc import (
        _iter_warc_records_range,
        write_pages_warc,
    )

    rows = [
        (
            f"http://s.example/{i}",
            dt.datetime(2026, 2, 1, 0, 0, i % 60),
            (f"<p>rec {i} " + "b" * (17 * i % 211) + "</p>").encode(),
        )
        for i in range(30)
    ]
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "sweep.warc")
        write_pages_warc(rows, path, compress=False)
        raw = open(path, "rb").read()
    size = len(raw)

    def parse_ranges(split_bytes):
        got = []
        for s in range(0, size, split_bytes):
            f = io.BytesIO(raw)
            for headers, payload in _iter_warc_records_range(
                f, s, min(s + split_bytes, size), read_chunk=256
            ):
                got.append((headers["warc-target-uri"], payload))
        return got

    whole = parse_ranges(size)  # one range = reference parse
    assert len(whole) == 30
    for split_bytes in range(64, 600, 7):
        got = parse_ranges(split_bytes)
        assert sorted(u for u, _ in got) == sorted(u for u, _ in whole), split_bytes
        assert sorted(got) == sorted(whole), split_bytes


def test_warc_split_reader_handles_paths_with_spaces(spark, tmp_path):
    """binaryFile reports percent-encoded file: URIs; the split reader
    must decode them before open()."""
    import datetime as dt

    from pdf_extraction_spark.sources.warc import (
        read_pages_warc,
        write_pages_warc,
    )

    d = tmp_path / "seg dir"
    d.mkdir()
    path = str(d / "arc one.warc")
    rows = [
        (f"http://sp.example/{i}", dt.datetime(2026, 6, 1), b"<p>" + b"q" * 600 + b"</p>")
        for i in range(20)
    ]
    write_pages_warc(rows, path, compress=False)
    got = read_pages_warc(spark, str(d), split_bytes=2048)
    assert got.count() == 20


def test_warc_range_iterator_rejects_embedded_fake_record():
    """A COMPLETE valid-looking record (magic + parseable header +
    content-length + terminator) embedded mid-payload must not
    desynchronize splits that start inside it: the chain check rejects it
    because its length lands on junk, not on a record boundary."""
    import datetime as dt
    import io
    import os
    import tempfile

    from pdf_extraction_spark.sources.warc import (
        _iter_warc_records_range,
        write_pages_warc,
    )

    fake = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://fake.example/phantom\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 40\r\n\r\n"
        + b"F" * 40
        + b"\r\n\r\n"
    )
    rows = []
    for i in range(12):
        body = (f"<p>real {i} " + "r" * 300 + "</p>").encode()
        if i == 4:
            # decoy surrounded by junk on both sides -> cannot chain
            body = b"<p>archived warc:\r\n\r\n" + fake + b"junk tail " * 30 + b"</p>"
        if i == 7:
            # decoy with a LYING huge Content-Length: must be rejected by
            # the bounded peek, not by buffering the rest of the archive
            liar = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: http://fake.example/liar\r\n"
                b"Content-Length: 999999999\r\n\r\n"
            )
            body = b"<p>big lie:\r\n\r\n" + liar + b"tail " * 40 + b"</p>"
        rows.append((f"http://real.example/{i}", dt.datetime(2026, 7, 1), body))
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "decoy.warc")
        write_pages_warc(rows, path, compress=False)
        raw = open(path, "rb").read()

    def parse(split_bytes):
        got = []
        for s in range(0, len(raw), split_bytes):
            for headers, _ in _iter_warc_records_range(
                io.BytesIO(raw), s, min(s + split_bytes, len(raw)), read_chunk=128
            ):
                got.append(headers["warc-target-uri"])
        return sorted(got)

    whole = parse(len(raw))
    assert len(whole) == 12
    assert not any("fake.example" in u for u in whole)
    for split_bytes in (97, 256, 512, 1024):
        assert parse(split_bytes) == whole, split_bytes


def test_warc_truncated_tail_consistent_between_whole_and_split():
    """An archive truncated mid-final-record: BOTH the whole-file parser
    and the byte-range parser drop the partial tail, so results stay
    invariant to split_bytes even on corrupt input."""
    import datetime as dt
    import io
    import os
    import tempfile

    from pdf_extraction_spark.sources.warc import (
        _iter_warc_records,
        _iter_warc_records_range,
        write_pages_warc,
    )

    rows = [
        (f"http://t.example/{i}", dt.datetime(2026, 8, 1), b"<p>" + b"t" * 200 + b"</p>")
        for i in range(6)
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "trunc.warc")
        write_pages_warc(rows, path, compress=False)
        raw = open(path, "rb").read()[:-60]  # chop into the last payload

    whole = [h["warc-target-uri"] for h, _ in _iter_warc_records(raw)]
    assert len(whole) == 5  # the truncated 6th record is dropped

    for split_bytes in (128, 300, 1024, len(raw)):
        got = []
        for s in range(0, len(raw), split_bytes):
            for h, _ in _iter_warc_records_range(
                io.BytesIO(raw), s, min(s + split_bytes, len(raw)), read_chunk=128
            ):
                got.append(h["warc-target-uri"])
        assert sorted(got) == sorted(whole), split_bytes


def test_warc_gz_member_split_matches_whole_file(spark, tmp_path):
    """Member-per-record .warc.gz (real Common Crawl layout) read as
    byte-range splits must equal the whole-file read — members are found
    by gzip-magic scan + full-member inflate + WARC-prefix + chain
    verification, never an index."""
    import datetime as dt
    import os
    import random

    from pdf_extraction_spark.sources.warc import (
        read_pages_warc,
        write_pages_warc,
    )

    rng = random.Random(13)
    rows = [
        (
            f"http://gz.example/{i}",
            dt.datetime(2026, 3, 1, 0, 0, i % 60),
            (
                f"<html><body><p>doc {i} "
                + "w" * rng.randrange(100, 900)
                + "</p></body></html>"
            ).encode(),
        )
        for i in range(150)
    ]
    path = str(tmp_path / "big.warc.gz")
    write_pages_warc(rows, path, compress=True)  # one gzip member per record
    assert os.path.getsize(path) // 2048 > 6  # the small split size bites

    whole = read_pages_warc(spark, path, split_bytes=1 << 30)
    split = read_pages_warc(spark, path, split_bytes=2048)
    a = {r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in whole.collect()}
    b = {r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in split.collect()}
    assert len(a) == 150
    assert a == b


def test_warc_gz_range_iterator_boundary_sweep():
    """Pure-Python sweep over many split sizes for the gz-member path:
    boundaries landing mid-magic, mid-member, and between members must
    never lose or duplicate a record."""
    import datetime as dt
    import gzip
    import io
    import os
    import tempfile

    from pdf_extraction_spark.sources.warc import (
        _iter_warc_gz_records_range,
        write_pages_warc,
    )

    rows = [
        (
            f"http://gzs.example/{i}",
            dt.datetime(2026, 4, 1, 0, 0, i % 60),
            (f"<p>rec {i} " + "q" * (13 * i % 301) + "</p>").encode(),
        )
        for i in range(40)
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "sweep.warc.gz")
        write_pages_warc(rows, path, compress=True)
        raw = open(path, "rb").read()
    size = len(raw)

    def parse_ranges(split_bytes):
        got = []
        for s in range(0, size, split_bytes):
            for headers, payload in _iter_warc_gz_records_range(
                io.BytesIO(raw), s, min(s + split_bytes, size), read_chunk=256
            ):
                got.append((headers["warc-target-uri"], payload))
        return got

    whole = parse_ranges(size)
    assert len(whole) == 40
    for split_bytes in range(128, 1200, 31):
        got = parse_ranges(split_bytes)
        assert sorted(got) == sorted(whole), split_bytes


def test_warc_gz_range_walk_reads_each_member_about_once():
    """The member walk reads about each member's own bytes, not a fixed
    read chunk per member: a 2,000-member archive of ~200-byte members
    costs at most 4x its size in one pass."""
    import datetime as dt
    import io
    import os
    import tempfile

    from pdf_extraction_spark.sources.warc import (
        _iter_warc_gz_records_range,
        write_pages_warc,
    )

    class CountingReader(io.BytesIO):
        n_read = 0

        def read(self, size=-1):
            data = super().read(size)
            self.n_read += len(data)
            return data

    rows = [
        (f"http://n.example/{i}", dt.datetime(2026, 5, 1), f"<p>{i}</p>".encode())
        for i in range(2000)
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "many.warc.gz")
        write_pages_warc(rows, path, compress=True)
        raw = open(path, "rb").read()
    f = CountingReader(raw)
    n_records = sum(1 for _ in _iter_warc_gz_records_range(f, 0, len(raw)))
    assert n_records == 2000
    assert f.n_read <= 4 * len(raw), (f.n_read, len(raw))


def test_warc_gz_alignment_magic_straddles_read_chunk_boundary():
    """Regression (round-5 ADVICE): a gzip magic whose first 1-2 bytes sit
    at the very end of an alignment-scan read window must still be found.

    The old no-match branch set search = len(window); after the window was
    compacted to a len(_GZ_MAGIC)-1 tail the adjusted search resumed at
    offset 2, so a member starting at split_start + read_chunk - 1 or - 2
    was skipped and the aligner locked onto a LATER member, silently
    dropping every record of the missed member(s) from that split."""
    import datetime as dt
    import io
    import os
    import tempfile

    from pdf_extraction_spark.sources.warc import (
        _GZ_MAGIC,
        _iter_warc_gz_records_range,
        write_pages_warc,
    )

    rows = [
        (
            f"http://gzb.example/{i}",
            dt.datetime(2026, 5, 1, 0, 0, i % 60),
            (f"<p>boundary rec {i} " + "z" * (7 * i % 97) + "</p>").encode(),
        )
        for i in range(6)
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "straddle.warc.gz")
        write_pages_warc(rows, path, compress=True)  # one member per record
        raw = open(path, "rb").read()
    size = len(raw)

    # member offsets: every gzip magic in a member-per-record archive
    offsets = []
    p = raw.find(_GZ_MAGIC)
    while p >= 0:
        offsets.append(p)
        p = raw.find(_GZ_MAGIC, p + 1)
    m1 = offsets[1]  # first member a start>0 split must align to
    assert m1 > 4

    def urls_in_range(start, end, read_chunk):
        return [
            h["warc-target-uri"]
            for h, _ in _iter_warc_gz_records_range(
                io.BytesIO(raw), start, end, read_chunk=read_chunk
            )
        ]

    expect_tail = [f"http://gzb.example/{i}" for i in range(1, 6)]
    # place the window edge so the magic at m1 straddles it: the first
    # window is [start, start + read_chunk), and the magic's first 1 or 2
    # bytes are the window's last bytes
    for short_by in (1, 2):
        start = 1
        read_chunk = m1 - start + short_by  # magic begins short_by before edge
        assert start + read_chunk - short_by == m1
        assert urls_in_range(start, size, read_chunk) == expect_tail, short_by
    # control: edge exactly on / past the magic still works
    for read_chunk in (m1 - 1 + 3, m1 + 40):
        assert urls_in_range(1, size, read_chunk) == expect_tail


def test_warc_gz_split_rejects_embedded_decoy_member(spark, tmp_path):
    """A VERBATIM gzip member of a valid WARC record embedded inside
    another record's payload (outer member stored with compresslevel=0,
    so the decoy bytes appear literally in the file) must not
    desynchronize any split: the decoy fails the chain check (the bytes
    after it are mid-stream garbage, not a member boundary or EOF)."""
    import datetime as dt
    import gzip

    from pdf_extraction_spark.sources.warc import read_pages_warc

    def member(url, body, level=6):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        head = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            "WARC-Date: 2026-05-01T00:00:00Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        return gzip.compress(head + http + b"\r\n\r\n", level)

    decoy = member("http://decoy.example/phantom", b"<p>phantom</p>")
    rows = []
    for i in range(60):
        body = (f"<p>real {i} " + "m" * (19 * i % 257) + "</p>").encode()
        if i == 25:
            # decoy mid-payload; stored (level 0) so its bytes are verbatim
            body = b"<p>carrier " + decoy + b" tail tail tail</p>"
            rows.append(member(f"http://gzd.example/{i}", body, level=0))
        else:
            rows.append(member(f"http://gzd.example/{i}", body))
    path = str(tmp_path / "decoy.warc.gz")
    with open(path, "wb") as f:
        f.write(b"".join(rows))

    whole = {r["url"] for r in read_pages_warc(spark, path, split_bytes=1 << 30).collect()}
    split_df = read_pages_warc(spark, path, split_bytes=1024)
    split_rows = split_df.collect()
    split = {r["url"] for r in split_rows}
    assert len(split_rows) == 60  # no phantom duplicate rows either
    assert "http://decoy.example/phantom" not in split
    assert split == whole
    carrier = next(
        bytes(r["html"]) for r in split_rows if r["url"].endswith("/25")
    )
    assert decoy in carrier  # payload byte-identical, decoy intact inside


def test_warc_gz_range_reads_fail_like_the_whole_file():
    """A corrupt or truncated member-per-record .warc.gz: every byte-range
    layout gives the whole-file outcome, which is the same records or a
    ValueError naming the path and the member offset, and never a record
    set that is silently short.  The cases flip a byte in each member
    (magic, method, deflate body, CRC, ISIZE) and cut the archive at
    every 7th byte."""
    import datetime as dt
    import os
    import re
    import tempfile
    import zlib

    from pdf_extraction_spark.sources.warc import _warc_split_pages, write_pages_warc

    rows = [
        (
            f"http://gzc.example/{i}",
            dt.datetime(2026, 6, 1, 0, 0, i),
            (f"<p>member {i} " + "c" * (11 * i % 90) + "</p>").encode(),
        )
        for i in range(6)
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "corrupt.warc.gz")
        write_pages_warc(rows, path, compress=True)
        raw = open(path, "rb").read()
        offsets, pos = [], 0
        while pos < len(raw):  # member starts, from the members themselves
            offsets.append(pos)
            member = zlib.decompressobj(31)
            member.decompress(raw[pos:])
            pos = len(raw) - len(member.unused_data)
        assert len(offsets) == 6
        cases = []
        for a, b in zip(offsets, offsets[1:] + [len(raw)]):
            for pos in (a, a + 2, (a + b) // 2, b - 8, b - 1):
                bad = bytearray(raw)
                bad[pos] ^= 0xFF
                cases.append((f"flip@{pos}", bytes(bad)))
        cases += [(f"cut@{n}", raw[:n]) for n in range(1, len(raw), 7)]
        # NUL padding between members and at the end, which gzip skips:
        # short, longer than a range, and longer than the first read
        pads = {offsets[1]: 8, offsets[3]: 700, len(raw): 5}
        padded = b"".join(
            raw[a:b] + b"\0" * pads.get(b, 0)
            for a, b in zip(offsets, offsets[1:] + [len(raw)])
        )
        cases.append(("nul-padded", padded))

        def whole_file(data):
            with open(path, "wb") as f:
                f.write(data)
            try:
                return sorted(r[0] for r in _warc_split_pages(path, 0, -1)), False
            except (OSError, EOFError, zlib.error):
                return None, True

        def ranges(split):
            urls, errors = [], []
            for s in range(0, os.path.getsize(path), split):
                end = min(s + split, os.path.getsize(path))
                try:
                    urls += [r[0] for r in _warc_split_pages(path, s, end)]
                except ValueError as e:
                    errors.append(str(e))
            return sorted(urls), errors

        n_failing = 0
        for name, data in cases:
            whole, failed = whole_file(data)
            n_failing += failed
            for split in (64, 150, 333, len(data)):
                urls, errors = ranges(split)
                if not failed:
                    assert (urls, errors) == (whole, []), (name, split)
                    continue
                assert errors, (name, split, urls)
                for e in errors:
                    assert e.startswith(f"{path}: "), e
                    assert re.search(r"gzip member at offset \d+$", e), e
        assert n_failing > len(cases) // 2  # most cases are corrupt
