"""Splittable TAR source (sources/tarsource.py): executor-side
chain-verified 512-block alignment, no driver reads at all.

Ground truth is the stdlib ``tarfile`` module (used only here, never in
the engine) plus hand-built archives for the split-boundary and decoy
cases."""

from __future__ import annotations

import gzip
import io
import os
import re
import tarfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.sources.pages import DOCS_SCHEMA
from pdf_extraction_spark.sources.tarsource import (
    BLOCK,
    _BlockReader,
    _iter_tar_records,
    _parse_header,
    list_tar_entries,
    read_docs_tar,
    tar_split_docs,
    tar_splits,
)


def _make_tar(path, members, fmt=tarfile.PAX_FORMAT):
    with tarfile.open(path, "w", format=fmt) as t:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            t.addfile(info, io.BytesIO(data))
    return os.path.getsize(path)


_MEMBERS = [
    ("docs/a.txt", b"alpha document body " * 50),
    ("docs/b with space.txt", b"beta"),
    ("unicode é✓.md", "unicode ✓ content".encode()),
    ("empty.bin", b""),
    ("deep/" + "d" * 150 + "/long-name-member.dat", bytes(range(256)) * 40),
    ("tail.txt", b"last member"),
]


def _read_range_all(path, length, split_bytes):
    """Drive the range iterator directly over consecutive splits —
    exactly what the executors do — and return [(name, content)]."""
    out = []
    with open(path, "rb") as f:
        for s in range(0, length, split_bytes):
            rd = _BlockReader(f)
            out.extend(
                _iter_tar_records(
                    rd, s, min(s + split_bytes, length), length,
                    aligned_at_zero=(s == 0),
                )
            )
    return out


@pytest.mark.parametrize("fmt", [tarfile.USTAR_FORMAT, tarfile.GNU_FORMAT,
                                 tarfile.PAX_FORMAT])
def test_whole_file_matches_tarfile(tmp_path, fmt):
    members = [m for m in _MEMBERS if fmt != tarfile.USTAR_FORMAT or
               len(m[0]) < 100]
    p = str(tmp_path / "corpus.tar")
    ln = _make_tar(p, members, fmt=fmt)
    got = _read_range_all(p, ln, split_bytes=ln)  # one split == whole file
    assert [(n, c) for n, c in got] == members


@pytest.mark.parametrize("split_bytes", [512, 1024, 4096, 10_000])
def test_split_vs_whole_identity(tmp_path, split_bytes):
    # members larger than the split force records to straddle boundaries
    members = _MEMBERS + [("big.bin", bytes(range(256)) * 64)]
    p = str(tmp_path / "big.tar")
    ln = _make_tar(p, members)
    whole = _read_range_all(p, ln, split_bytes=ln)
    split = _read_range_all(p, ln, split_bytes=split_bytes)
    assert split == whole == members


def test_split_start_on_pax_file_header(tmp_path):
    """A split whose start lands exactly on the FILE header of a PAX'd
    record (its 'x' meta header before the boundary) must not emit the
    record twice: ownership is the logical start."""
    members = [("first.txt", b"x" * 600),
               ("unicode ✓ näme.txt", b"owned by split 0"),
               ("after.txt", b"tail")]
    p = str(tmp_path / "pax.tar")
    ln = _make_tar(p, members, fmt=tarfile.PAX_FORMAT)
    # locate the pax'd record's file header: logical start + pax blocks
    entries = list_tar_entries(p, ln)
    logical = dict((n, off) for n, off, _ in entries)
    rec_start = logical["unicode ✓ näme.txt"]
    with open(p, "rb") as f:
        rd = _BlockReader(f)
        hdr = _parse_header(rd.block(rec_start))
        assert hdr is not None and hdr["typeflag"] == b"x"
        pax_blocks = 1 + (hdr["size"] + BLOCK - 1) // BLOCK
    file_hdr = rec_start + pax_blocks * BLOCK
    # split boundary exactly at the file header: split 1 aligns there,
    # snaps back to the 'x' header, sees logical_start < start, skips
    split = []
    with open(p, "rb") as f:
        rd = _BlockReader(f)
        split.extend(_iter_tar_records(rd, 0, file_hdr, ln,
                                       aligned_at_zero=True))
        split.extend(_iter_tar_records(rd, file_hdr, ln, ln,
                                       aligned_at_zero=False))
    whole = _read_range_all(p, ln, split_bytes=ln)
    assert split == whole == members


def test_meta_header_past_back_probe_never_emits_twice(spark, tmp_path):
    """A PAX header longer than the backward probe's reach, cut by a
    split boundary: the next split's scan lands on the file header and
    cannot see the 'x' header behind it.  The byte-range read must
    raise (naming the archive and offset) rather than emit the record
    from both splits; whole-file and exact-index reads emit it once."""
    from pdf_extraction_spark.sources.tarsource import _BACK_BLOCKS, _tar_split_members

    p = str(tmp_path / "long_pax.tar")
    with tarfile.open(p, "w", format=tarfile.PAX_FORMAT) as t:
        for name, data, pax in [
            ("first.txt", b"x" * 600, {}),
            ("long_meta.txt", b"owned by split 0", {"comment": "c" * (_BACK_BLOCKS * BLOCK + 4000)}),
            ("after.txt", b"tail", {}),
        ]:
            info = tarfile.TarInfo(name)
            info.size, info.mtime, info.pax_headers = len(data), 0, pax
            t.addfile(info, io.BytesIO(data))
    ln = os.path.getsize(p)
    rec_start = dict((n, off) for n, off, _ in list_tar_entries(p, ln))["long_meta.txt"]
    split_bytes = rec_start + 8 * BLOCK  # inside the 'x' payload
    ranges = [(p, s, min(s + split_bytes, ln)) for s in range(0, ln, split_bytes)]
    with pytest.raises(ValueError, match=rf"{p}: .* at offset {rec_start} "):
        for path, start, end in ranges:
            _tar_split_members(path, start, end)

    expect = ["after.txt", "first.txt", "long_meta.txt"]
    assert sorted(n for n, _ in _read_range_all(p, ln, split_bytes=ln)) == expect
    exact = read_docs_tar(spark, p, exact_index=True).collect()
    assert sorted(r["name"] for r in exact) == expect


def test_truncated_tar_read_whole_names_the_archive(spark, tmp_path):
    """A tar cut inside a header fails the same way read whole-file as
    read as a byte range: the error names the archive and the offset."""
    p = str(tmp_path / "cut_short.tar")
    _make_tar(p, [(f"m{i}.txt", b"m" * 600) for i in range(3)])
    third = list_tar_entries(p, os.path.getsize(p))[2][1]
    with open(p, "r+b") as f:
        f.truncate(third + 200)
    with pytest.raises(Exception) as whole:
        read_docs_tar(spark, p).collect()
    assert f"cut_short.tar: tar source: corrupt header at offset {third}" in str(whole.value)
    with pytest.raises(Exception) as ranged:
        read_docs_tar(spark, p, split_bytes=third + 100).collect()
    assert f"cut_short.tar: tar source: corrupt header at offset {third}" in str(ranged.value)


def test_truncated_tar_range_reads_match_whole_read_at_every_cut(tmp_path):
    """A tar cut anywhere reads the same through 1,024-byte ranges as
    whole-file: the same members, or the whole-file error raised by the
    one range that owns the offset it names.  A real header whose chain
    ends in the file's short last block must still align, and the range
    holding that block must see that a header was cut short there."""
    from pdf_extraction_spark.sources.tarsource import _tar_split_members

    src = str(tmp_path / "full.tar")
    _make_tar(src, [(f"m{i}.txt", bytes([65 + i]) * 600) for i in range(3)], tarfile.USTAR_FORMAT)
    with open(src, "rb") as f:
        raw = f.read()
    p = str(tmp_path / "cut.tar")
    for cut in range(97, len(raw), 97):
        with open(p, "wb") as f:
            f.write(raw[:cut])
        try:
            whole, error = [r[1] for r in _tar_split_members(p, 0, -1)], None
        except ValueError as e:
            whole, error = None, str(e)
        names, errors = [], []
        for start in range(0, cut, 1024):
            try:
                names += [r[1] for r in _tar_split_members(p, start, min(start + 1024, cut))]
            except ValueError as e:
                errors.append((start, str(e)))
        if error is None:
            assert (names, errors) == (whole, []), cut
        else:
            owner = int(re.search(r"offset (\d+)", error).group(1)) // 1024 * 1024
            assert errors == [(owner, error)], (cut, names)


def test_decoy_header_in_member_content(tmp_path):
    """A checksum-valid fake header inside member CONTENT whose chain
    does not verify must be skipped by the alignment scan."""
    fake = bytearray(BLOCK)
    fake[0:9] = b"decoy.txt"
    fake[124:136] = b"00000000000\x00"      # size 0 -> next block is garbage
    fake[156:157] = b"0"
    fake[257:265] = b"ustar\x0000"
    chk = sum(fake[:148]) + 8 * 0x20 + sum(fake[156:])
    fake[148:156] = b"%06o\x00 " % chk
    assert _parse_header(bytes(fake)) is not None
    payload = bytes(fake) + b"\x01" * BLOCK + b"\x02" * (BLOCK * 2)
    members = [("filler.bin", b"f" * 100), ("trap.bin", payload),
               ("real.txt", b"the real next member")]
    p = str(tmp_path / "decoy.tar")
    ln = _make_tar(p, members)
    entries = dict((n, off) for n, off, _ in list_tar_entries(p, ln))
    # split starts exactly at the decoy header (inside trap.bin's data)
    decoy_at = entries["trap.bin"] + BLOCK
    with open(p, "rb") as f:
        rd = _BlockReader(f)
        got = list(_iter_tar_records(rd, decoy_at, ln, ln,
                                     aligned_at_zero=False))
    assert got == [("real.txt", b"the real next member")]


def test_non_regular_members_skipped(tmp_path):
    p = str(tmp_path / "mixed.tar")
    with tarfile.open(p, "w", format=tarfile.PAX_FORMAT) as t:
        d = tarfile.TarInfo("a-dir")
        d.type = tarfile.DIRTYPE
        t.addfile(d)
        s = tarfile.TarInfo("a-link")
        s.type = tarfile.SYMTYPE
        s.linkname = "target"
        t.addfile(s)
        f1 = tarfile.TarInfo("real.txt")
        f1.size = 4
        t.addfile(f1, io.BytesIO(b"data"))
    ln = os.path.getsize(p)
    assert _read_range_all(p, ln, split_bytes=ln) == [("real.txt", b"data")]
    assert [n for n, _, _ in list_tar_entries(p, ln)] == ["real.txt"]


def test_empty_archive(tmp_path):
    p = str(tmp_path / "empty.tar")
    with tarfile.open(p, "w"):
        pass
    ln = os.path.getsize(p)
    assert _read_range_all(p, ln, split_bytes=ln) == []
    assert list_tar_entries(p, ln) == []


def test_base256_size_field():
    """GNU base-256 size encoding (members > 8 GiB) parses; synthetic
    header only — no multi-GiB fixture."""
    blk = bytearray(BLOCK)
    blk[0:5] = b"big.b"
    blk[156:157] = b"0"
    blk[257:265] = b"ustar\x0000"
    size = 9 << 30  # 9 GiB, overflows the 11-digit octal field
    enc = bytearray(12)
    enc[0] = 0x80
    v = size
    for i in range(11, 0, -1):
        enc[i] = v & 0xFF
        v >>= 8
    blk[124:136] = bytes(enc)
    chk = sum(blk[:148]) + 8 * 0x20 + sum(blk[156:])
    blk[148:156] = b"%06o\x00 " % chk
    hdr = _parse_header(bytes(blk))
    assert hdr is not None and hdr["size"] == size


_name_chars = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="\x00/",
        exclude_categories=("Cs",),
    ),
    min_size=1,
    max_size=40,
)
_member = st.tuples(
    st.lists(_name_chars, min_size=1, max_size=4).map("/".join),
    st.binary(min_size=0, max_size=2000),
)
_archive = st.lists(
    _member, min_size=0, max_size=12,
    unique_by=lambda m: m[0],
)


@settings(max_examples=150, deadline=None)
@given(_archive, st.integers(min_value=1, max_value=20))
def test_property_writer_reader_roundtrip_under_splits(members, nsplit):
    """Fuzz: write members with the in-repo ustar writer, read them back
    through consecutive byte-range splits at an arbitrary granularity —
    exact multiset identity, every time."""
    from pdf_extraction_spark.sources.tarsource import write_tar_members

    buf = io.BytesIO()
    write_tar_members(buf, iter(members))
    raw = buf.getvalue()
    ln = len(raw)
    split_bytes = max(BLOCK, (ln // nsplit // BLOCK) * BLOCK or BLOCK)
    got = []
    f = io.BytesIO(raw)
    for s in range(0, ln, split_bytes):
        rd = _BlockReader(f)
        got.extend(
            _iter_tar_records(rd, s, min(s + split_bytes, ln), ln,
                              aligned_at_zero=(s == 0))
        )
    assert got == members


def test_spark_read_docs_tar_split_and_exact(spark, tmp_path):
    members = _MEMBERS + [("big.bin", bytes(range(256)) * 64)]
    p = str(tmp_path / "corpus.tar")
    _make_tar(p, members)
    expect = sorted((n, c) for n, c in members)
    for kw in ({"split_bytes": 2048}, {"exact_index": True}):
        df = read_docs_tar(spark, p, **kw)
        rows = sorted((r["name"], bytes(r["content"])) for r in df.collect())
        assert rows == expect, kw
    # the split reader's documents, as the pipeline reads them
    pages = map_rows(tar_splits(spark, p, split_bytes=2048)[0], tar_split_docs, DOCS_SCHEMA)
    assert set(pages.columns) == {"url", "html", "text", "source_file"}
    one = pages.filter(pages.url.endswith("tail.txt")).collect()
    assert len(one) == 1 and bytes(one[0]["html"]) == b"last member"


def test_pipeline_tar_format_end_to_end(spark, tmp_path):
    """jobs/extract --format tar equivalent: run_extraction over a tar
    corpus — byte-identity vs the oracle kernel, and lineage manifests
    carry the ARCHIVE path (input_file_name() is empty on the
    synthesized-rows plan, like the WARC and ZIP sources)."""
    import json

    from pdf_extraction_spark.plans.pipeline import run_extraction
    from tests.oracle import oracle_document

    d = tmp_path / "corpus"
    d.mkdir()
    html_a = "<html><body><p>tar doc alpha</p></body></html>"
    html_b = "<html><body><p>tar doc beta</p></body></html>"
    _make_tar(str(d / "c.tar"),
              [("a.html", html_a.encode()), ("b.html", html_b.encode())])
    out = str(tmp_path / "out")
    run_extraction(spark, str(d), out, groups=1, input_format="tar")
    m = json.load(open(os.path.join(out, "_manifests", "group-0.json")))
    assert m["lineage"] and all(
        r["input_file"].endswith("c.tar") for r in m["lineage"]
    )
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(os.path.join(out, "group=*")).collect()
    }
    assert len(got) == 2
    for name, html in [("a.html", html_a), ("b.html", html_b)]:
        url = next(u for u in got if u.endswith("!" + name))
        assert got[url] == oracle_document(url, html.encode(), html)["extracted_text"]


def test_spark_read_docs_tar_gz_whole_file(spark, tmp_path):
    p = str(tmp_path / "corpus.tar")
    _make_tar(p, _MEMBERS[:3])
    gz = str(tmp_path / "corpus.tar.gz")
    with open(p, "rb") as f, open(gz, "wb") as raw:
        with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as g:
            g.write(f.read())
    os.remove(p)
    df = read_docs_tar(spark, gz)
    rows = sorted((r["name"], bytes(r["content"])) for r in df.collect())
    assert rows == sorted((n, c) for n, c in _MEMBERS[:3])
