"""WARC source: Common Crawl's native archive format (ISO 28500) read
directly into the pages schema — no external warc library (stdlib gzip +
a from-scratch record parser).

Layout facts the parser honors:
  * a .warc.gz is a MULTI-MEMBER gzip stream (one member per record in
    CC practice); stdlib GzipFile reads through all members;
  * each record = header block (CRLF lines, terminated by CRLFCRLF) +
    exactly Content-Length payload bytes + CRLFCRLF;
  * only ``WARC-Type: response`` records carry pages; their payload is a
    full HTTP response — the html bytes start after the HTTP header's
    own CRLFCRLF.

Scale shape: BOTH layouts are splittable without an index.  Real CC
``.warc.gz`` files are member-per-record gzip, so a large one splits on
verified gzip-member boundaries (magic + full-member inflate + WARC
prefix + chain check — see _iter_warc_gz_records_range); a large
UNCOMPRESSED ``.warc`` is split into ``split_bytes`` byte ranges,
Hadoop-style: each task seeks
to its range, scans forward to the first valid record boundary
(``\\r\\n\\r\\n`` + ``WARC/1.`` magic + a parseable header block — the
magic alone can appear inside an archived payload), and parses every
record STARTING inside its range, reading past the range end for the
tail record only.  That bounds task size by split_bytes regardless of
archive size — the pathological one-giant-file case no longer serializes
onto one core.  Each split-table row is parsed by one row function
behind ``operators/balance.py:map_rows``; emitted rows carry only the
pages columns, so the fat archive bytes never outlive the task.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pdf_extraction_spark.operators.balance import map_rows
from pdf_extraction_spark.session import local_frame, split_table
from pdf_extraction_spark.sources.pages import PAGES_SCHEMA

# pages schema + provenance: rows from the byte-range split path are built
# off a non-file plan where input_file_name() is empty, so the WARC source
# carries the archive path as an explicit column (the extraction pipeline's
# lineage prefers `source_file` when present)
WARC_PAGES_SCHEMA = StructType(
    list(PAGES_SCHEMA.fields) + [StructField("source_file", StringType())]
)

# one row per read task of the file-splitting sources: a whole file is
# (path, 0, -1), a byte-range split (path, start, end)
SPLIT_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
    ]
)


def _iter_warc_records(raw: bytes):
    """Yield (headers: dict, payload: bytes) per WARC record."""
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and raw[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = raw.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        head = raw[pos:head_end].decode("utf-8", "replace").split("\r\n")
        if not head or not head[0].startswith("WARC/"):
            return
        headers = {}
        for line in head[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = head_end + 4
        if body_start + length > n:
            return  # truncated tail record: no full payload -> drop
        payload = raw[body_start : body_start + length]
        yield headers, payload
        pos = body_start + length


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a WARC response payload."""
    sep = payload.find(b"\r\n\r\n")
    return payload[sep + 4 :] if sep >= 0 else payload


def _parse_warc_ts(v: str):
    try:
        return dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        return None


def _page_row(headers: dict, payload: bytes, source_file: str) -> tuple | None:
    """The pages row of a WARC response record, None for any other
    record (shared by the whole-file and byte-range readers)."""
    url = headers.get("warc-target-uri")
    if headers.get("warc-type") != "response" or not url:
        return None
    return (
        url,
        _parse_warc_ts(headers.get("warc-date", "")),
        _http_body(payload),
        None,
        None,
        source_file,
    )


# --- byte-range splitting of uncompressed .warc files -----------------------

_WARC_MAGIC = b"WARC/1."


def _open_binary(path: str):
    """Open a binaryFile-style path for random-access reads.  Local
    ``file:`` URIs use plain open(); other schemes go through pyarrow.fs
    (S3/HDFS/GCS on a real cluster).  binaryFile emits percent-encoded
    URIs (spaces etc.), so ``file:`` paths are unquoted first."""
    if path.startswith("file:"):
        from urllib.parse import unquote

        local = re.sub("^/+", "/", unquote(path[len("file:"):]))
        return open(local, "rb")
    if "://" in path:
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        return filesystem.open_input_file(p)
    return open(path, "rb")


def _gunzip(raw: bytes) -> bytes:
    """``raw`` inflated (every member of a multi-member stream) when it
    starts with the gzip magic, else ``raw`` itself."""
    if raw[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
    return raw


def _read_whole(path: str) -> bytes:
    """The whole file at ``path``, gunzipped when it is gzip."""
    with _open_binary(path) as f:
        return _gunzip(f.read())


def _parse_header_block(block: bytes):
    """(headers dict, content_length) from a CRLF header block, or None
    when it is not a plausible WARC record header."""
    lines = block.decode("utf-8", "replace").split("\r\n")
    if not lines or not lines[0].startswith("WARC/"):
        return None
    headers = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()
    try:
        return headers, int(headers.get("content-length", ""))
    except ValueError:
        return None


def _iter_warc_records_range(f, start: int, end: int, read_chunk: int = 1 << 22):
    """Yield (headers, payload) for every record STARTING in [start, end).

    Hadoop-split semantics: a record straddling ``start`` belongs to the
    previous split; the tail record may be read past ``end``.  Boundary
    detection requires the ``WARC/1.`` magic preceded by the record
    separator CRLFCRLF (or file offset 0), a parseable header with a
    WARC-Type, AND the chain property (the candidate's Content-Length
    lands on EOF or another record boundary) — so even a COMPLETE fake
    record embedded mid-payload (a WARC archived inside a WARC) cannot
    desynchronize a split.  Residual ambiguity: a fake record positioned
    as the exact SUFFIX of its enclosing payload chains onto the real
    next boundary and is emitted as one phantom record by the split that
    starts inside it — locally indistinguishable without an offset index
    (.gz archives resolve it structurally via gzip members).

    The file is read lazily in ``read_chunk`` increments (never the whole
    range upfront) and the consumed prefix of the buffer is compacted once
    it exceeds 2x read_chunk, so memory — and total memcpy — is bounded by
    ~2x read_chunk + one record regardless of split size.
    """
    f.seek(0, 2)
    file_size = f.tell()
    pre = 4 if start > 0 else 0
    f.seek(start - pre)
    base = start - pre  # file offset of buf[0]
    buf = f.read(read_chunk)

    def _extend(n=read_chunk):
        nonlocal buf
        more = f.read(n)
        buf += more
        return bool(more)

    def _complete_header(p):
        """head_end offset for the record at p, extending as needed."""
        while True:
            he = buf.find(b"\r\n\r\n", p)
            if he >= 0:
                return he
            if not _extend():
                return -1

    def _chains(p) -> bool:
        """True iff a plausible record at p is FOLLOWED by EOF or another
        record boundary — the decisive check against a fully valid-looking
        fake record embedded in a payload (e.g. a WARC archived inside a
        WARC): a fake's content-length almost never lands exactly on the
        next true boundary, while every real record's always does.

        The follow-position is PEEKED via seek/read (position restored),
        never by extending ``buf`` — a lying Content-Length must not pull
        the rest of the archive into memory just to be rejected.
        """
        he = _complete_header(p)
        if he < 0:
            return False
        parsed = _parse_header_block(buf[p:he])
        if parsed is None or "warc-type" not in parsed[0]:
            return False
        abs_q = base + he + 4 + parsed[1]
        if abs_q > file_size:
            return False  # claimed payload runs past EOF (lie/truncation)
        if abs_q == file_size:
            return True
        peek = b""
        if abs_q < base + len(buf):
            peek = buf[abs_q - base : abs_q - base + 64]
        if len(peek) < 64 and abs_q + len(peek) < file_size:
            # follow-position (or its tail) lies past the buffer: peek it
            # from the file and restore the sequential read position
            f.seek(abs_q)
            peek = f.read(64)
            f.seek(base + len(buf))
        consumed = 0
        while peek.startswith(b"\r\n", consumed):
            consumed += 2
        if not peek[consumed:]:
            return abs_q + consumed == file_size
        return peek.startswith(_WARC_MAGIC, consumed)

    # align to the first valid record boundary at global offset >= start;
    # the scan window is compacted too, so a split landing deep inside one
    # giant payload never accumulates the whole range in memory
    pos = -1
    search = 0
    while True:
        p = buf.find(_WARC_MAGIC, search)
        if p >= 0 and base + p >= end:
            return  # next candidate starts in the following split
        if p < 0:
            # any unseen magic would have to START at or past `end`?
            if base + len(buf) - (len(_WARC_MAGIC) - 1) >= end:
                return
            if len(buf) > 2 * read_chunk:
                # keep 4 separator bytes + a possibly-straddling magic tail;
                # everything before was already searched and rejected
                keep = 4 + len(_WARC_MAGIC) - 1
                cut = len(buf) - keep
                buf = buf[cut:]
                base += cut
            search = max(0, len(buf) - (len(_WARC_MAGIC) - 1))
            if not _extend():
                return
            continue
        boundary_ok = (base + p == 0) or (
            p >= 4 and buf[p - 4 : p] == b"\r\n\r\n"
        )
        if boundary_ok and base + p >= start and _chains(p):
            pos = p
            break
        search = p + 1
    # parse records sequentially from the aligned boundary; `pos` is a
    # cursor into buf — the consumed prefix is compacted only when it
    # exceeds 2x read_chunk (never a per-record slice copy)
    while True:
        if pos > 2 * read_chunk:
            buf = buf[pos:]
            base += pos
            pos = 0
        he = _complete_header(pos)
        if he < 0:
            return
        parsed = _parse_header_block(buf[pos:he])
        if parsed is None:
            return  # corrupt stream past a valid prefix — stop, don't guess
        headers, length = parsed
        body_start = he + 4
        need = body_start + length
        while len(buf) < need and _extend(max(read_chunk, need - len(buf))):
            pass
        if len(buf) < need:
            return  # truncated tail record (matches _iter_warc_records)
        payload = buf[body_start:need]
        yield headers, payload
        pos = need
        while True:
            if pos + 2 > len(buf) and not _extend():
                return
            if buf[pos : pos + 2] == b"\r\n":
                pos += 2
            else:
                break
        if base + pos >= end:
            return
        while len(buf) - pos < len(_WARC_MAGIC) and _extend():
            pass  # magic may straddle the buffer end
        if not buf.startswith(_WARC_MAGIC, pos):
            return


# --- member-aligned byte-range splitting of .warc.gz files ------------------
#
# Real Common Crawl WARCs are MEMBER-PER-RECORD gzip: each record is its
# own gzip member, so the archive is splittable without an index by
# scanning for the gzip magic at candidate offsets and verifying
# structurally — the same anti-decoy discipline as the uncompressed path,
# but stronger, because gzip members are self-delimiting (CRC32 + ISIZE
# trailer): a candidate is a boundary iff one whole member inflates from
# it, its content starts with the WARC magic, AND the member ends exactly
# at EOF or at another gzip magic, NUL padding skipped (chain check).

_GZ_MAGIC = b"\x1f\x8b\x08"
_FIRST_READ = 256  # a CC member is a few KiB; a small first read wastes little


def _inflate_member_at(f, offset: int, read_chunk: int):
    """Inflate exactly ONE gzip member starting at ``offset``.

    Returns (content, next_offset) or None if no valid member starts
    there (bad header, corrupt deflate stream, CRC/length mismatch, or
    truncation).  ``next_offset`` is past any NUL padding after the
    member, which the whole-file ``gzip`` read skips too.  Reads in
    chunks that double from ``_FIRST_READ`` up to ``read_chunk`` and
    stops at the member's end, so a walk reads about each member's own
    bytes; memory is bounded by one member's content + one chunk.
    Leaves the file position unspecified — callers seek."""
    import zlib

    d = zlib.decompressobj(31)  # 31 = gzip wrapper
    f.seek(offset)
    out = bytearray()
    pos, n = offset, min(_FIRST_READ, read_chunk)
    while not d.eof:
        chunk = f.read(n)
        if not chunk:
            return None  # EOF mid-member: truncated
        try:
            out += d.decompress(chunk)
        except zlib.error:
            return None
        pos += len(chunk)
        n = min(2 * n, read_chunk)
    tail = d.unused_data
    while not tail.lstrip(b"\0"):  # NUL padding up to here: read on
        tail = f.read(n)
        if not tail:
            return bytes(out), pos
        pos += len(tail)
    return bytes(out), pos - len(tail.lstrip(b"\0"))


def _iter_warc_gz_records_range(f, start: int, end: int, read_chunk: int = 1 << 22):
    """Yield (headers, payload) for every record in gzip members STARTING
    in [start, end) of a member-per-record .warc.gz.

    Hadoop-split semantics mirror _iter_warc_records_range: a member
    straddling ``start`` belongs to the previous split; the tail member
    is read past ``end``.  Alignment scans [start, end) for the gzip
    magic and accepts a candidate only if (a) one complete member
    inflates from it, (b) the inflated content begins with ``WARC/``,
    and (c) the member is chained — followed, past any NUL padding, by
    EOF or another gzip magic.  A verbatim decoy member embedded inside a stored-block outer
    payload fails (c) unless it is the exact suffix of its enclosing
    member — the same residual ambiguity (and the same odds) as the
    uncompressed path, resolvable only with an offset index.  Raises
    ValueError, naming the member offset, when a member the walk reaches
    does not verify: one that does not inflate, or the first member at or
    past ``end`` failing (a)-(c)."""
    f.seek(0, 2)
    file_size = f.tell()
    if start >= file_size:
        return

    def _member_chained(p):
        res = _inflate_member_at(f, p, read_chunk)
        if res is None:
            return None
        content, nxt = res
        if not content.startswith(b"WARC/"):
            return None
        if nxt != file_size:
            f.seek(nxt)
            if f.read(3) != _GZ_MAGIC:
                return None
        return res

    # ---- align to the first verified member boundary >= start ----
    aligned = None
    if start == 0:
        aligned = 0
    else:
        scan_base = start
        window = b""
        search = 0
        while aligned is None:
            if search + len(_GZ_MAGIC) > len(window):
                if scan_base + len(window) >= end + len(_GZ_MAGIC) - 1:
                    return  # every later candidate starts past end
                f.seek(scan_base + len(window))
                more = f.read(read_chunk)
                if not more:
                    return
                # drop the searched prefix, keep a possibly-straddling tail
                keep = len(_GZ_MAGIC) - 1
                if len(window) > keep:
                    cut = len(window) - keep
                    window = window[cut:]
                    scan_base += cut
                    search = max(0, search - cut)
                window += more
                continue
            p = window.find(_GZ_MAGIC, search)
            if p < 0:
                # resume where a magic could still straddle the window edge
                # (mirrors the uncompressed path): search = len(window) would
                # land at offset len(_GZ_MAGIC)-1 after compaction, skipping
                # a candidate whose first 1-2 bytes sit in the kept tail
                search = max(0, len(window) - (len(_GZ_MAGIC) - 1))
                continue
            if scan_base + p >= end:
                return  # next member belongs to the following split
            if _member_chained(scan_base + p) is not None:
                aligned = scan_base + p
            else:
                search = p + 1
    # ---- sequential member walk from the aligned boundary ----
    # A member on the chain that does not inflate is corruption, not a
    # decoy: the whole-file read fails on it, so the split fails too.  The
    # member reached at or past ``end`` must verify as well, because the
    # next split's alignment scan skips a member it cannot verify.
    off = aligned
    while off < file_size:
        past_end = off >= end
        res = _member_chained(off) if past_end else _inflate_member_at(f, off, read_chunk)
        if res is None:
            raise ValueError(f"corrupt or truncated gzip member at offset {off}")
        if past_end:
            return
        content, nxt = res
        yield from _iter_warc_records(content)
        off = nxt


def _warc_split_pages(path: str, start: int, end: int) -> list[tuple]:
    """The pages of one split-table row (path, start, end).

    end >= 0  -> records starting in [start, end) of the archive
                 (byte-range split; uncompressed or member-per-record gz).
    end == -1 -> every record of the whole file (gzip-sniffed).

    Paths are binaryFile-listing URIs opened via _open_binary (which
    unquotes percent-encoding) — never fed back through a Hadoop glob, so
    filenames containing glob metacharacters (* [ { %) are safe."""

    def pages(records) -> list[tuple]:
        rows = (_page_row(headers, payload, path) for headers, payload in records)
        return [row for row in rows if row is not None]

    if end < 0:
        return pages(_iter_warc_records(_read_whole(path)))
    with _open_binary(path) as f:
        # the gzip sniff _gunzip applies to the whole-file read
        if f.read(2) == _GZ_MAGIC[:2]:
            try:
                return pages(_iter_warc_gz_records_range(f, start, end))
            except ValueError as e:
                raise ValueError(f"{path}: {e}") from e
        return pages(_iter_warc_records_range(f, start, end))


_MIN_SPREAD_BYTES = 64 << 10


def spread_split_bytes(spark: SparkSession, lengths: list[int], split_bytes: int) -> int:
    """``split_bytes``, lowered to the archives' total bytes over the
    cluster's default parallelism (never below 64 KiB): an archive that
    holds most of the input, e.g. one full of giant pages, still runs in
    about that many tasks, while archives at or under an even share of
    the input stay whole."""
    share = -(-sum(lengths) // spark.sparkContext.defaultParallelism)
    return min(split_bytes, max(_MIN_SPREAD_BYTES, share))


def byte_ranges(path: str, length: int, split_bytes: int | None) -> list[tuple]:
    """The split-table rows of one archive: the whole file as
    (path, 0, -1), or its (path, start, end) ranges of ``split_bytes``
    each when it is longer than that."""
    if split_bytes is None or length <= split_bytes:
        return [(path, 0, -1)]
    return [(path, s, min(s + split_bytes, length)) for s in range(0, length, split_bytes)]


def list_archives(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, length) of every file matching ``path`` (glob or
    directory): the one listing of the archive sources.  It reads
    binaryFile METADATA only (the content column is pruned out of the
    listing scan); the listed URIs are opened with :func:`_open_binary`
    and never fed back through a second Hadoop glob, so filenames
    containing glob metacharacters or literal % resolve correctly."""
    meta = spark.read.format("binaryFile").load(path).select("path", "length")
    return [(r["path"], int(r["length"])) for r in meta.collect()]


def read_splits(listing: tuple[DataFrame, list[str]], reader, schema: StructType):
    """``map_rows(splits, reader, schema)`` over a split lister's
    ``(splits, archives)``; a listing that found no archive gives an
    empty LocalTableScan, with no Python stage."""
    splits, archives = listing
    if not archives:
        return local_frame(splits.sparkSession, [], schema)
    return map_rows(splits, reader, schema)


def warc_splits(
    spark: SparkSession, path: str, *, split_bytes: int = 256 << 20
) -> tuple[DataFrame, list[str]]:
    """The split table of ``path``'s WARC archives (one split per
    partition) and the archive paths the listing found, spelled as the
    readers' ``source_file`` column spells them.

    Whole files are (path, 0, -1).  An archive larger than
    ``split_bytes`` (lowered to an even share of the input's bytes, see
    :func:`spread_split_bytes`) fans out into (path, start, end) byte
    ranges: uncompressed .warc on verified record boundaries, .warc.gz
    on verified gzip-member boundaries (a single-member .gz degrades
    gracefully: the split holding offset 0 reads the whole member, the
    others find no boundary and emit nothing)."""
    archives = list_archives(spark, path)
    split_bytes = spread_split_bytes(spark, [ln for _, ln in archives], split_bytes)
    rows = [r for p, ln in archives for r in byte_ranges(p, ln, split_bytes)]
    return split_table(spark, rows, SPLIT_SCHEMA), [p for p, _ in archives]


def read_pages_warc(
    spark: SparkSession, path: str, *, split_bytes: int = 256 << 20
) -> DataFrame:
    """Pages from WARC/WARC.GZ files (glob or directory), one task per
    split of :func:`warc_splits`, so one giant archive parallelizes
    across the fleet while smaller files map one file to one task."""
    listing = warc_splits(spark, path, split_bytes=split_bytes)
    return read_splits(listing, _warc_split_pages, WARC_PAGES_SCHEMA)


def warc_split_docs(path: str, start: int, end: int) -> list[tuple]:
    """(url, html, text, source_file) of every page of one split-table
    row: the reader half of a stage that reads and extracts in one
    Python call per split."""
    return [(r[0], r[2], r[3], r[5]) for r in _warc_split_pages(path, start, end)]


def write_pages_warc(rows, path: str, *, compress: bool = True) -> None:
    """Build a .warc(.gz) from (url, warc_ts, html_bytes) triples —
    fixture/export helper; compressed output is one gzip member per
    record, CC-style."""
    out = io.BytesIO()
    for url, ts, html in rows:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: " + str(len(html)).encode() + b"\r\n\r\n" + html
        )
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Length: {len(http)}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "\r\n"
        ).encode()
        record = head + http + b"\r\n\r\n"
        out.write(gzip.compress(record) if compress else record)
    with open(path, "wb") as f:
        f.write(out.getvalue())
