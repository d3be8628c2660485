"""Splittable TAR source: read documents out of .tar corpora with
byte-range parallelism.

Web-scale corpora ship as tarballs at least as often as ZIPs (WebDataset
shards are literally tar files; so are arXiv bulk dumps and most dataset
mirrors).  Unlike ZIP there is no central directory — headers are chained
sequentially — but tar has a property ZIP lacks: every header sits on a
512-byte block boundary and carries its own checksum.  That makes tar
byte-range splittable the same way this repo splits .warc.gz on verified
gzip-member boundaries (sources/warc.py): each task scans forward from
its split start over 512-aligned offsets for a checksum-valid ustar
header whose CHAIN also verifies (the next logical header parses too, or
is the end-of-archive zero block, or lands past EOF), then iterates
records until the first logical record that starts at or past its split
end.  The driver reads NOTHING — listing is binaryFile metadata only —
which is an even better shape at 100 TB than the ZIP source's one
central-directory read per archive.

Record ownership under splitting: a logical record includes any PAX
('x') or GNU longname/longlink ('L'/'K') meta headers that precede the
file header, so ownership is pinned to the FIRST block of the logical
record.  A task whose alignment lands on a file header walks back over
contiguous meta headers; if that walk crosses below its split start the
record belongs to the previous task (which reads past its own end to
finish it) and is skipped here — no record is ever emitted twice or
dropped.  The walk back is bounded (``_BACK_BLOCKS``); a meta header too
long for it that straddles a split end makes the owning task raise.

Format scope: POSIX ustar + PAX extended headers (path/size overrides)
+ GNU longname/longlink + GNU base-256 numeric fields (members > 8 GiB).
Regular files ('0', '\\0', '7', and unknown typeflags per POSIX) are
emitted; directories, links, and device nodes are skipped.  ``.tar.gz``
is a single gzip stream — not splittable — and is read whole-file.
Global PAX defaults ('g') apply in whole-file mode; byte-range mode
raises on 'g' rather than silently dropping defaults another task
cannot see.

Anti-decoy posture: a data block that happens to checksum like a header
is rejected by the chain check (its implied next header will not
verify).  The residual ambiguity — an embedded tar-within-a-tar whose
inner headers chain perfectly — is fundamental to any scan-based
aligner; for adversarial archives ``exact_index=True`` switches to a
driver-side header walk (seek-per-member, like the ZIP source's
central-directory listing) that is exact by construction.
"""

from __future__ import annotations

import io
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_extraction_spark.session import split_table
from pdf_extraction_spark.sources.warc import (
    SPLIT_SCHEMA,
    _open_binary,
    _read_whole,
    byte_ranges,
    list_archives,
    read_splits,
    spread_split_bytes,
)

BLOCK = 512
_META = (b"x", b"L", b"K")
_SKIP = (b"1", b"2", b"3", b"4", b"5", b"6")

TAR_DOC_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("name", StringType()),
        StructField("size", LongType()),
        StructField("content", BinaryType()),
    ]
)


def _num(field: bytes) -> int:
    """Tar numeric field: NUL/space-terminated octal, or GNU base-256
    (first byte has the high bit set) for values that overflow octal."""
    if field and field[0] & 0x80:
        val = field[0] & 0x7F
        for b in field[1:]:
            val = (val << 8) | b
        return val
    s = field.split(b"\x00", 1)[0].strip()
    return int(s, 8) if s else 0


def _parse_header(block: bytes) -> dict | None:
    """Parse one 512-byte block as a ustar header; None if the checksum
    or magic does not verify (data block, or garbage)."""
    if len(block) < BLOCK:
        return None
    magic = block[257:262]
    if magic != b"ustar":  # covers POSIX "ustar\0" and GNU "ustar "
        return None
    try:
        stored = int(block[148:156].split(b"\x00", 1)[0].strip() or b"-1", 8)
    except ValueError:
        return None
    # checksum = sum of header bytes with the checksum field as spaces
    unsigned = sum(block[:148]) + 8 * 0x20 + sum(block[156:BLOCK])
    if stored != unsigned:
        # some ancient writers summed signed bytes; accept that too
        signed = sum(b - 256 if b > 127 else b for b in block[:148])
        signed += 8 * 0x20
        signed += sum(b - 256 if b > 127 else b for b in block[156:BLOCK])
        if stored != signed:
            return None
    name = block[0:100].split(b"\x00", 1)[0]
    prefix = block[345:500].split(b"\x00", 1)[0]
    if prefix:
        name = prefix + b"/" + name
    try:
        size = _num(block[124:136])
    except ValueError:
        return None
    return {
        "name": name.decode("utf-8", "replace"),
        "size": size,
        "typeflag": block[156:157],
    }


def _data_blocks(size: int) -> int:
    return (size + BLOCK - 1) // BLOCK


def _parse_pax(data: bytes) -> dict[str, str]:
    """PAX extended-header payload: repeated '<len> <key>=<value>\\n'
    records where <len> counts the whole record including itself."""
    out: dict[str, str] = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            break
        try:
            rec_len = int(data[pos:sp])
        except ValueError:
            break
        rec = data[sp + 1 : pos + rec_len]
        pos += rec_len
        if rec.endswith(b"\n"):
            rec = rec[:-1]
        k, _, v = rec.partition(b"=")
        out[k.decode("utf-8", "replace")] = v.decode("utf-8", "replace")
    return out


def _is_zero_block(block: bytes) -> bool:
    return len(block) == BLOCK and block.count(0) == BLOCK


class _BlockReader:
    """Chunked 512-block reader over a seekable file: one buffered read
    per chunk, ahead when reading forward and behind when probing back."""

    def __init__(self, f, chunk: int = 1 << 22):
        self._f = f
        self._chunk = chunk
        self._buf = b""
        self._buf_at = 0  # file offset of buf[0]

    def block(self, off: int) -> bytes:
        if not (self._buf_at <= off and off + BLOCK <= self._buf_at + len(self._buf)):
            at = off if off >= self._buf_at else max(0, off + BLOCK - self._chunk)
            self._f.seek(at)
            self._buf = self._f.read(max(self._chunk, BLOCK))
            self._buf_at = at
        rel = off - self._buf_at
        return self._buf[rel : rel + BLOCK]

    def data(self, off: int, size: int) -> bytes:
        if self._buf_at <= off and off + size <= self._buf_at + len(self._buf):
            rel = off - self._buf_at
            return self._buf[rel : rel + size]
        self._f.seek(off)
        return self._f.read(size)


def _chain_verifies(rd: _BlockReader, off: int, file_length: int, depth: int = 2) -> bool:
    """A candidate header at ``off`` verifies if following its size
    chain for ``depth`` steps keeps landing on parseable headers, the
    end-of-archive zero block, or the end of the file (past EOF, or the
    short block a truncated file ends in)."""
    for _ in range(depth):
        blk = rd.block(off)
        hdr = _parse_header(blk)
        if hdr is None:
            return False
        off += BLOCK + _data_blocks(hdr["size"]) * BLOCK
        if off + BLOCK > file_length:
            return True
        if _is_zero_block(rd.block(off)):
            return True
    return True


def _is_header(rd: _BlockReader, off: int, file_length: int) -> bool:
    return not _is_zero_block(rd.block(off)) and _chain_verifies(rd, off, file_length)


# Backward-probe bound for locating the true logical-record start from
# an aligned file-header candidate.  Meta payloads are small (PAX records
# are a few lines; GNU longnames are path-length), so 64 blocks = 32 KiB
# of preceding metadata is a generous ceiling.  A longer meta header that
# straddles a split boundary is out of the next task's reach, so the task
# owning it raises (see _iter_tar_records) rather than let both emit it.
_BACK_BLOCKS = 64


def _logical_start(rd: _BlockReader, off: int) -> int:
    """Earliest offset of a contiguous meta-header chain ('x'/'L'/'K')
    that walks forward to land exactly on ``off``; ``off`` itself when no
    such chain exists.  Bounded probe — see _BACK_BLOCKS."""
    best = off
    for k in range(1, _BACK_BLOCKS + 1):
        cand = off - k * BLOCK
        if cand < 0:
            break
        h = _parse_header(rd.block(cand))
        if h is None or h["typeflag"] not in _META:
            continue
        p = cand
        while p < off:
            hh = _parse_header(rd.block(p))
            if hh is None or hh["typeflag"] not in _META:
                break
            p += BLOCK + _data_blocks(hh["size"]) * BLOCK
        if p == off:
            best = cand  # k grows, so later hits are always earlier
    return best


def _iter_tar_records(
    rd: _BlockReader,
    start: int,
    end: int,
    file_length: int,
    *,
    aligned_at_zero: bool,
    allow_global: bool = False,
) -> Iterator[tuple[str, bytes]]:
    """Yield (name, content) for every regular-file record whose logical
    record (including PAX/longname meta headers) starts in [start, end).

    ``aligned_at_zero``: offset 0 of a tar file is a header by
    definition; splits starting elsewhere scan + chain-verify, then snap
    back to the record's true logical start (its meta chain) so that a
    record straddling ``start`` parses completely but is emitted only by
    the task that owns its first block.  A scan that reaches a truncated
    file's short last block walks onto it from the nearest header below,
    so a header cut short there raises in the task owning its offset."""
    globals_pax: dict[str, str] = {}
    # --- align ---------------------------------------------------------
    off = start if start % BLOCK == 0 else start + (BLOCK - start % BLOCK)
    if not aligned_at_zero:
        while off < end and off + BLOCK <= file_length and not _is_header(rd, off, file_length):
            off += BLOCK
        if off >= end:
            return
        if off + BLOCK <= file_length:
            off = _logical_start(rd, off)
        else:  # records below this split are walked, not emitted
            off -= BLOCK
            while off >= 0 and not _is_header(rd, off, file_length):
                off -= BLOCK
            if off < 0:
                return
    # --- iterate logical records --------------------------------------
    while off < file_length:
        blk = rd.block(off)
        if _is_zero_block(blk):
            return  # end-of-archive padding
        logical_start = off
        if logical_start >= end:
            return
        hdr = _parse_header(blk)
        if hdr is None:
            raise ValueError(f"tar source: corrupt header at offset {off}")
        pax: dict[str, str] = dict(globals_pax)
        longname: bytes | None = None
        while hdr["typeflag"] in _META or hdr["typeflag"] == b"g":
            size = hdr["size"]
            data = rd.data(off + BLOCK, size)
            if hdr["typeflag"] == b"x":
                pax.update(_parse_pax(data))
            elif hdr["typeflag"] == b"g":
                if not allow_global:
                    raise ValueError(
                        "tar source: global PAX defaults ('g') are not"
                        " supported in byte-range splits — read whole-file"
                    )
                globals_pax.update(_parse_pax(data))
                pax.update(globals_pax)
            elif hdr["typeflag"] == b"L":
                longname = data.split(b"\x00", 1)[0]
            # 'K' (longlink) parsed and skipped: links are skipped anyway
            next_off = off + BLOCK + _data_blocks(size) * BLOCK
            if off < end <= next_off < file_length and next_off - off > _BACK_BLOCKS * BLOCK:
                # the next split's scan lands on next_off and its backward
                # probe cannot see this header: it would emit the record too
                raise ValueError(
                    f"tar source: meta header at offset {off} spans"
                    f" {next_off - off} bytes across the split boundary at"
                    f" {end}, past the {_BACK_BLOCKS * BLOCK}-byte backward"
                    " probe; read this archive with"
                    " read_docs_tar(..., exact_index=True) or"
                    " tar_splits(..., exact_index=True)"
                )
            off = next_off
            hdr = _parse_header(rd.block(off))
            if hdr is None:
                if logical_start < start:
                    return  # the earlier task owning this record raises
                raise ValueError(
                    f"tar source: meta header at {logical_start} not followed"
                    f" by a file header (offset {off})"
                )
        size = int(pax["size"]) if "size" in pax else hdr["size"]
        name = hdr["name"]
        if longname is not None:
            name = longname.decode("utf-8", "replace")
        if "path" in pax:
            name = pax["path"]
        next_off = off + BLOCK + _data_blocks(size) * BLOCK
        if hdr["typeflag"] not in _SKIP and logical_start >= start:
            content = rd.data(off + BLOCK, size)
            if len(content) != size:
                raise ValueError(
                    f"tar source: member {name!r} truncated at offset {off}"
                )
            yield name, content
        off = next_off


def list_tar_entries(path: str, file_length: int) -> list[tuple[str, int, int]]:
    """Driver-side exact index: walk the header chain with seeks only
    (512 bytes read per member + meta payloads), returning
    (name, logical_record_offset, size) per regular file.  O(members)
    seeks — the adversarial-archive fallback; the default byte-range
    scan reads nothing on the driver at all."""
    out: list[tuple[str, int, int]] = []
    with _open_binary(path) as f:
        rd = _BlockReader(f)
        off = 0
        while off < file_length:
            blk = rd.block(off)
            if _is_zero_block(blk):
                break
            hdr = _parse_header(blk)
            if hdr is None:
                raise ValueError(f"tar source: corrupt header at offset {off}")
            logical_start = off
            pax: dict[str, str] = {}
            longname: bytes | None = None
            while hdr["typeflag"] in _META or hdr["typeflag"] == b"g":
                size = hdr["size"]
                data = rd.data(off + BLOCK, size)
                if hdr["typeflag"] in (b"x", b"g"):
                    pax.update(_parse_pax(data))
                elif hdr["typeflag"] == b"L":
                    longname = data.split(b"\x00", 1)[0]
                off += BLOCK + _data_blocks(size) * BLOCK
                hdr = _parse_header(rd.block(off))
                if hdr is None:
                    raise ValueError(
                        f"tar source: dangling meta header at {logical_start}"
                    )
            size = int(pax["size"]) if "size" in pax else hdr["size"]
            name = hdr["name"]
            if longname is not None:
                name = longname.decode("utf-8", "replace")
            if "path" in pax:
                name = pax["path"]
            if hdr["typeflag"] not in _SKIP:
                out.append((name, logical_start, size))
            off += BLOCK + _data_blocks(size) * BLOCK
    return out


def iter_tar_bytes(raw: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield (name, content) for every regular-file member of the whole
    tar archive ``raw`` held in memory (global PAX defaults apply)."""
    rd = _BlockReader(io.BytesIO(raw))
    rd._buf, rd._buf_at = raw, 0  # whole file already in memory
    return _iter_tar_records(
        rd, 0, len(raw), len(raw), aligned_at_zero=True, allow_global=True
    )


def _tar_split_members(path: str, start: int, end: int) -> list[tuple]:
    """The (archive, name, size, content) rows of one split-table row
    (path, start, end); end == -1 reads the whole file (gzip-sniffed).
    A corrupt archive raises ValueError naming ``path`` on either path."""
    try:
        if end < 0:
            records = iter_tar_bytes(_read_whole(path))
            return [(path, name, len(content), content) for name, content in records]
        with _open_binary(path) as f:
            f.seek(0, 2)
            records = _iter_tar_records(
                _BlockReader(f), start, end, f.tell(), aligned_at_zero=(start == 0)
            )
            return [(path, name, len(content), content) for name, content in records]
    except ValueError as e:
        raise ValueError(f"{path}: {e}") from e


def tar_splits(
    spark: SparkSession,
    path: str,
    *,
    split_bytes: int | None = 256 << 20,
    exact_index: bool = False,
) -> tuple[DataFrame, list[str]]:
    """The split table of ``path``'s tars and the archive paths the
    listing found, spelled as the readers' ``source_file`` column spells
    them.

    Default: one split per partition.  A tar larger than ``split_bytes``
    (lowered to an even share of the input's bytes, as for WARC) is cut
    into byte ranges whose tasks align on chain-verified headers, so the
    driver reads metadata only; ``.tar.gz`` and smaller files read
    whole-file, and ``split_bytes=None`` never splits.
    ``exact_index=True`` walks every header on the driver
    (seek-per-member, :func:`list_tar_entries`) and fans the members out
    individually, one range per member tiled at logical record starts,
    in at most default-parallelism tasks that share the members' bytes
    about evenly: exact even for embedded-tar decoys."""
    archives = list_archives(spark, path)
    tasks = None
    weights = None
    if exact_index:
        rows = []
        for p, ln in archives:
            offs = [off for _, off, _ in list_tar_entries(p, ln)]
            # [off, next member's off) holds exactly the record at off,
            # and no meta chain crosses a range end
            rows += [(p, a, b) for a, b in zip(offs, offs[1:] + [ln])]
        tasks = min(len(rows), spark.sparkContext.defaultParallelism)
        weights = [b - a for _, a, b in rows]
    else:
        if split_bytes is not None:
            split_bytes = spread_split_bytes(
                spark, [ln for _, ln in archives], split_bytes
            )
        rows = [
            r
            for p, ln in archives
            for r in byte_ranges(
                p, ln, None if p.endswith((".gz", ".tgz")) else split_bytes
            )
        ]
    splits = split_table(spark, rows, SPLIT_SCHEMA, tasks, weights=weights)
    return splits, [p for p, _ in archives]


def read_docs_tar(spark: SparkSession, path: str, **kw) -> DataFrame:
    """(archive, name, size, content) for every regular-file member of
    every tar matching ``path``, one task per split of
    :func:`tar_splits` (``kw``: its ``split_bytes`` and
    ``exact_index``)."""
    return read_splits(tar_splits(spark, path, **kw), _tar_split_members, TAR_DOC_SCHEMA)


def tar_split_docs(path: str, start: int, end: int) -> list[tuple]:
    """(url, html, text, source_file) of every member of one split-table
    row, the url spelled ``tar://<archive>!<member>``: the reader half of
    a stage that reads and extracts in one Python call per split.
    ``html`` holds the member's bytes and ``text`` is NULL: the kernel
    reads ``html`` whenever it is set."""
    return [
        (f"tar://{archive}!{name}", content, None, archive)
        for archive, name, _, content in _tar_split_members(path, start, end)
    ]


def write_tar_members(out, members: Iterator[tuple[str, bytes]]) -> int:
    """Write (name, content) members as a POSIX ustar stream to the
    binary file object ``out``; returns the member count.  Names longer
    than 100 bytes (or non-ASCII-splittable) ride a PAX 'x' header with
    a ``path`` record — exactly the layout the reader's logical-record
    grouping handles.  Deterministic output: zero mtime, root ownership,
    0644 mode."""

    def _hdr(name_b: bytes, size: int, typeflag: bytes) -> bytes:
        blk = bytearray(BLOCK)
        blk[0 : len(name_b)] = name_b
        blk[100:108] = b"0000644\x00"
        blk[108:116] = b"0000000\x00"
        blk[116:124] = b"0000000\x00"
        blk[124:136] = b"%011o\x00" % size
        blk[136:148] = b"%011o\x00" % 0  # mtime
        blk[156:157] = typeflag
        blk[257:263] = b"ustar\x00"
        blk[263:265] = b"00"
        chk = sum(blk[:148]) + 8 * 0x20 + sum(blk[156:])
        blk[148:156] = b"%06o\x00 " % chk
        return bytes(blk)

    def _pad(n: int) -> bytes:
        r = n % BLOCK
        return b"\x00" * (BLOCK - r) if r else b""

    count = 0
    for name, content in members:
        name_b = name.encode("utf-8")
        if len(name_b) > 100:
            pax = b"path=%s\n" % name_b
            # record length counts itself: fixed-point the digit width
            ln = len(pax) + 3
            while len(b"%d " % ln) + len(pax) != ln:
                ln = len(b"%d " % ln) + len(pax)
            rec = b"%d " % ln + pax
            out.write(_hdr(b"PaxHeader/" + name_b[:89], len(rec), b"x"))
            out.write(rec + _pad(len(rec)))
            name_b = name_b[:100]
        out.write(_hdr(name_b, len(content), b"0"))
        out.write(content + _pad(len(content)))
        count += 1
    out.write(b"\x00" * (BLOCK * 2))  # end-of-archive
    return count
