"""Deterministic input generation for the three workloads.

Everything here runs in the benchmark process (no Spark job), is driven by
one ``random.Random(seed)``, and yields byte-identical files for the same
seed: pyarrow writes the same parquet bytes for the same table, and the
WARC archives are gzip members with ``mtime=0``.  The engine sees only the
staged files.

Each ``build_*`` returns a ``Staged`` with the files' bytes (not yet on
disk), the per-document expectations the correctness check needs, and a
short description (docs, bytes, doc_type mix) for the run's output.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2025, 1, 1)

_WORDS = (
    "invoice total amount due vendor customer address city state zip "
    "order shipment tracking carrier weight description quantity unit "
    "price subtotal tax notes reference contact phone email status "
    "report market quarter region growth annual revenue policy board"
).split()

_FIELDS = [
    "Invoice Number", "Date", "Customer Name", "Address", "Total Amount",
    "Tax", "Payment Terms", "PO Number", "Contact", "Status",
]


@dataclass
class Staged:
    """One workload's generated input: file name -> bytes, plus what the
    correctness check compares against."""

    files: dict[str, bytes]
    docs: int
    doc_bytes: int
    doc_types: Counter
    expect: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.files):
            h.update(name.encode() + b"\0" + self.files[name])
        return h.hexdigest()

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, data in self.files.items():
            with open(os.path.join(directory, name), "wb") as f:
                f.write(data)

    def describe(self) -> dict:
        return {
            "docs_per_pass": self.docs,
            "files": len(self.files),
            "input_bytes": sum(len(b) for b in self.files.values()),
            "mean_doc_bytes": round(self.doc_bytes / self.docs, 1),
            "doc_type_mix": dict(sorted(self.doc_types.items())),
            "sha256": self.digest(),
        }


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _parquet_bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue()


def _split(n: int, parts: int) -> list[range]:
    step = -(-n // parts)
    return [range(s, min(s + step, n)) for s in range(0, n, step)]


# --- text_pages --------------------------------------------------------------

def build_text_pages(seed: int, docs: int, files: int) -> Staged:
    """Pages table carrying only the text layer (``html`` is null): the
    fixture generator's Field:Value (D) and OCR (O) grammars, alternating,
    two draws per document (pages joined by the form feed), in ``files``
    equal-size parquet files."""
    from fixtures.gen import PAGE_SEP, _grammar_d, _grammar_o

    rng = random.Random(seed)
    urls, texts = [], []
    for i in range(docs):
        kind, grammar = ("direct", _grammar_d) if i % 2 == 0 else ("ocr", _grammar_o)
        urls.append(f"https://host{i % 17}.example/{kind}/{seed}/{i}")
        texts.append(grammar(rng, i) + PAGE_SEP + grammar(rng, i + 1))
    out = {}
    for k, idx in enumerate(_split(docs, files)):
        table = pa.table(
            {
                "url": pa.array([urls[i] for i in idx], pa.string()),
                "warc_ts": pa.array(
                    [EPOCH + dt.timedelta(seconds=i) for i in idx], pa.timestamp("us")
                ),
                "html": pa.array([None] * len(idx), pa.binary()),
                "text": pa.array([texts[i] for i in idx], pa.string()),
                "lang": pa.array(["en"] * len(idx), pa.string()),
            }
        )
        out[f"part-{k:04d}.parquet"] = _parquet_bytes(table)
    return Staged(
        files=out,
        docs=docs,
        doc_bytes=sum(len(t.encode()) for t in texts),
        doc_types=Counter({"text": docs}),
        expect={"rows": list(zip(urls, texts))},
    )


# --- mixed_bytes -------------------------------------------------------------

# doc_type cycle; every 16th document is replaced by a corrupt blob
MIXED_TYPES = ("pdf", "docx", "xlsx", "pptx", "odt", "rtf", "html.gz")
CORRUPT_EVERY = 16


def _paragraphs(rng: random.Random, n: int) -> list[str]:
    return [
        f"{rng.choice(_FIELDS)}: {_words(rng, 3 + rng.randrange(10))}"
        for _ in range(n)
    ]


def _html_page(rng: random.Random, i: int, paras: int, words: tuple[int, int]) -> tuple[bytes, list[str]]:
    body = [_words(rng, words[0] + rng.randrange(words[1])) + "." for _ in range(paras)]
    kv = [f"{rng.choice(_FIELDS)}: {_words(rng, 3)}" for _ in range(4)]
    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in rng.sample(_WORDS, 8))
    html = (
        f"<!DOCTYPE html><html><head><title>Page {i}</title>"
        "<meta charset='utf-8'><script>var t = 1;</script>"
        "<style>p {color: #333}</style></head><body>"
        f"<nav>{nav}</nav><div class='sidebar ad'>Buy now "
        "<a href='/buy'>click</a></div><article>"
        f"<h1>Report {i}</h1>"
        + "".join(f"<p>{p}</p>" for p in body)
        + "".join(f"<p>{p}</p>" for p in kv)
        + "</article><footer><a href='/tos'>Terms</a></footer></body></html>"
    )
    return html.encode("utf-8"), body + kv


def _mixed_doc(rng: random.Random, i: int, kind: str) -> tuple[bytes, str]:
    """(blob, expected text) for one valid document of ``kind``, built by
    the engine's own builders from the paragraphs it is given."""
    if kind == "pdf":
        from pdf_extraction_spark.pdf_parse import build_pdf

        pages = ["\n".join(_paragraphs(rng, 4)) for _ in range(1 + rng.randrange(3))]
        return build_pdf(pages), "\n".join(pages)
    if kind == "docx":
        from pdf_extraction_spark.operators.docx_text import build_docx

        paras = _paragraphs(rng, 6)
        return build_docx(paras), "\n".join(paras)
    if kind == "xlsx":
        from pdf_extraction_spark.operators.xlsx_text import build_xlsx

        rows = [[rng.choice(_FIELDS), _words(rng, 2), str(rng.randrange(10000))]
                for _ in range(6)]
        return build_xlsx(rows), "\n".join("\t".join(r) for r in rows)
    if kind == "pptx":
        from pdf_extraction_spark.operators.pptx_text import build_pptx

        slides = _paragraphs(rng, 4)
        return build_pptx(slides), "\n".join(slides)
    if kind == "odt":
        from pdf_extraction_spark.operators.odt_text import build_odt

        paras = _paragraphs(rng, 6)
        return build_odt(paras), "\n".join(paras)
    if kind == "rtf":
        from pdf_extraction_spark.operators.rtf_text import build_rtf

        paras = _paragraphs(rng, 6)
        return build_rtf(paras), "\n".join(paras)
    html, paras = _html_page(rng, i, 6, (10, 20))
    # extract_main_text emits the title, the h1, then one line per block
    expect = f"Page {i}\nReport {i}\n" + "".join(p + "\n" for p in paras)
    return gzip.compress(html, mtime=0), expect


def build_mixed_bytes(seed: int, docs: int, files: int) -> Staged:
    """Binary documents of seven types plus a planted share of truncated
    blobs (every ``CORRUPT_EVERY``-th document: a valid blob of the cycle's
    type cut to a seeded fraction of its length)."""
    rng = random.Random(seed)
    ids, urls, blobs = [], [], []
    expect: dict[int, tuple[str, str | None]] = {}
    types = Counter()
    for i in range(docs):
        kind = MIXED_TYPES[i % len(MIXED_TYPES)]
        blob, text = _mixed_doc(rng, i, kind)
        if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            blob = blob[: max(8, int(len(blob) * (0.2 + 0.6 * rng.random())))]
            kind, text = "corrupt", None
        ids.append(i)
        urls.append(f"https://files{i % 13}.example/{kind}/{seed}/{i}")
        blobs.append(blob)
        expect[i] = (kind, text)
        types[kind] += 1
    out = {}
    for k, idx in enumerate(_split(docs, files)):
        table = pa.table(
            {
                "doc_id": pa.array([ids[i] for i in idx], pa.int64()),
                "url": pa.array([urls[i] for i in idx], pa.string()),
                "content": pa.array([blobs[i] for i in idx], pa.binary()),
            }
        )
        out[f"part-{k:04d}.parquet"] = _parquet_bytes(table)
    return Staged(
        files=out,
        docs=docs,
        doc_bytes=sum(len(b) for b in blobs),
        doc_types=types,
        expect={"by_id": expect, "urls": urls, "blobs": blobs},
    )


# --- crawl_warc_commit -------------------------------------------------------

def _warc_record(url: str, ts: dt.datetime, html: bytes) -> bytes:
    """One CC-style gzip member: the same record layout as
    ``sources.warc.write_pages_warc``, with a fixed gzip mtime so archives
    are byte-identical across generations."""
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
    return gzip.compress(head + http + b"\r\n\r\n", mtime=0)


def build_crawl_warc(seed: int, docs: int, files: int) -> Staged:
    """``files`` .warc.gz archives of ~15-25 KB HTML pages, one gzip
    member per record."""
    rng = random.Random(seed)
    pages = []
    for i in range(docs):
        html, _ = _html_page(rng, i, 60 + rng.randrange(40), (25, 15))
        url = f"https://site{i % 23}.example/{seed}/page/{i}"
        pages.append((url, EPOCH + dt.timedelta(minutes=i), html))
    out, by_file = {}, {}
    for k, idx in enumerate(_split(docs, files)):
        name = f"crawl-{k:04d}.warc.gz"
        out[name] = b"".join(_warc_record(*pages[i]) for i in idx)
        by_file[name] = [pages[i][0] for i in idx]
    return Staged(
        files=out,
        docs=docs,
        doc_bytes=sum(len(p[2]) for p in pages),
        doc_types=Counter({"html": docs}),
        expect={"pages": [(u, h) for u, _, h in pages], "urls_by_file": by_file},
    )


BUILDERS = {
    "text_pages": build_text_pages,
    "mixed_bytes": build_mixed_bytes,
    "crawl_warc_commit": build_crawl_warc,
}
