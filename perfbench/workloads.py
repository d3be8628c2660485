"""The three workloads: one end-to-end pass each, its correctness check, and
the layer probes of the traced run.

Every probe calls the engine's public entry points (``sources``,
``operators.extract``, ``operators.any_text``, ``kernel``,
``plans.pipeline``) and times the call from outside.  Probe names are
layer roles shared by all workloads (``source.scan_s``, ``operator.pass_s``
...); ``ALIASES`` maps them onto the module each workload actually calls,
for the ledger.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.dataset as ds

from perfbench import bare
from perfbench.inputs import Staged
from perfbench.ledger import timed

PROBE_REPS = 3


@dataclass
class Check:
    attempted: int
    ok: int
    bad_urls: list = field(default_factory=list)
    notes: list = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _median_s(fn, reps: int = PROBE_REPS) -> float:
    return statistics.median(timed(fn)[0] for _ in range(reps))


def _pairs(items):
    return None if items is None else [(d["field"], d["value"]) for d in items]


def _dir_bytes(path: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return n_files, n_bytes


class Workload:
    name = ""
    docs = 0
    files = 0
    kernel = "extract_document"
    kernel_cols: tuple = ()
    one_core_docs = 0  # rows timed by the single-core kernel probe
    # untimed passes before the window: the first spawns every Python
    # worker, the rest let the JVM's JIT reach its steady state (a pass
    # keeps getting faster for about six passes)
    warmup_passes = 6
    ALIASES: dict[str, str] = {}

    def __init__(self, spark, work_dir: str, staged: Staged, cpus: int):
        self.spark = spark
        self.staged = staged
        self.cpus = cpus
        self.input_dir = os.path.join(work_dir, "input")
        self.out_root = os.path.join(work_dir, "out")
        self.last_out: str | None = None

    # --- the end-to-end pass ---------------------------------------------

    def source(self):
        raise NotImplementedError

    def operator(self, df):
        raise NotImplementedError

    def run_pass(self, k: int, tracer) -> None:
        """source -> operator -> parquet, into a directory rewritten each pass."""
        self.last_out = os.path.join(self.out_root, "pass")
        with tracer.span("source"):
            df = self.source()
        with tracer.span("operator"):
            out = self.operator(df)
        with tracer.span("sink"):
            out.write.mode("overwrite").parquet(self.last_out)

    def check(self) -> Check:
        raise NotImplementedError

    def kernel_rows(self) -> list:
        raise NotImplementedError

    # --- the traced run's layer probes -------------------------------------

    def probes(self, docs_per_s: float, pass_s: float) -> dict:
        """Role-named layer metrics; medians of PROBE_REPS repetitions."""
        m: dict[str, float] = {}
        m["source.plan_ms"] = 1e3 * statistics.median(
            timed(self.source)[0] for _ in range(PROBE_REPS)
        )
        m["source.scan_s"] = _median_s(lambda: _noop(self.source()))

        def roundtrip():
            src = self.source().select(*self.kernel_cols)
            _noop(src.mapInPandas(_identity, schema=src.schema))

        m["spark.arrow_roundtrip_s"] = _median_s(roundtrip)
        plan_s = []

        def operator_pass():
            t, out = timed(self.operator, self.source())
            plan_s.append(t)
            _noop(out)

        m["operator.pass_s"] = _median_s(operator_pass)
        m["operator.plan_ms"] = 1e3 * statistics.median(plan_s)
        rows = self.kernel_rows()
        sample = rows[: self.one_core_docs]
        m["kernel.us_per_doc"] = 1e6 * statistics.median(
            bare.one_core_s(self.kernel, sample) for _ in range(PROBE_REPS)
        ) / len(sample)
        m["kernel.ceiling_docs_per_s"] = statistics.median(
            bare.ceiling(self.kernel, rows, self.cpus) for _ in range(PROBE_REPS)
        )
        m["operator.ceiling_share"] = docs_per_s / m["kernel.ceiling_docs_per_s"]
        m["pass.run_s"] = pass_s
        m["pass.overhead_s"] = pass_s - m["operator.pass_s"]
        n_files, n_bytes = _dir_bytes(self.last_out)
        in_bytes = sum(len(b) for b in self.staged.files.values())
        m["sink.output_mb"] = n_bytes / 1e6
        m["sink.files_written"] = n_files
        m["sink.bytes_written_per_input_byte"] = n_bytes / in_bytes
        return m

    def ledger(self, roles: dict) -> dict:
        """The role metrics under the names of the modules this workload
        calls, plus any workload-only figures."""
        return {self.ALIASES.get(k, k): v for k, v in roles.items()}


# --- text_pages --------------------------------------------------------------

class TextPages(Workload):
    name = "text_pages"
    docs = 12_000
    files = 16
    kernel_cols = ("url", "html", "text")
    one_core_docs = 4_000
    ALIASES = {
        "source.plan_ms": "sources.plan_ms",
        "source.scan_s": "sources.scan_s",
        "operator.plan_ms": "operators.extract.plan_ms",
        "operator.pass_s": "operators.extract.pass_s",
        "operator.ceiling_share": "operators.extract.ceiling_share",
    }

    def source(self):
        from pdf_extraction_spark.sources.pages import read_pages

        return read_pages(self.spark, self.input_dir)

    def operator(self, df):
        from pdf_extraction_spark.operators.extract import extract_documents

        return extract_documents(df)

    def kernel_rows(self):
        return [(u, None, t) for u, t in self.staged.expect["rows"]]

    def check(self) -> Check:
        from tests.oracle import oracle_document

        table = ds.dataset(self.last_out, format="parquet").to_table()
        got = {}
        dup = set()
        for r in table.to_pylist():
            if r["url"] in got:
                dup.add(r["url"])
            got[r["url"]] = r
        c = Check(attempted=len(self.staged.expect["rows"]), ok=0)
        for url, text in self.staged.expect["rows"]:
            want = oracle_document(url, None, text)
            r = got.get(url)
            if r is not None and url not in dup and (
                r["doc_kind"] == want["doc_kind"]
                and r["extracted_text"] == want["extracted_text"]
                and _pairs(r["fields"]) == want["fields"]
                and (
                    None if r["page_fields"] is None
                    else [_pairs(p) for p in r["page_fields"]]
                ) == want["page_fields"]
                and (
                    None if r["spans"] is None
                    else [(s["label"], s["start"], s["end"]) for s in r["spans"]]
                ) == want["spans"]
                and r["error"] is None
            ):
                c.ok += 1
            else:
                c.bad_urls.append(url)
        return c


# --- mixed_bytes -------------------------------------------------------------

class MixedBytes(Workload):
    name = "mixed_bytes"
    docs = 3_200
    files = 16
    kernel = "extract_any"
    kernel_cols = ("doc_id", "url", "content")
    one_core_docs = 1_600
    ALIASES = {
        "source.plan_ms": "sources.parquet.plan_ms",
        "source.scan_s": "sources.parquet.scan_s",
        "operator.plan_ms": "operators.any_text.plan_ms",
        "operator.pass_s": "operators.any_text.pass_s",
        "operator.ceiling_share": "operators.any_text.ceiling_share",
        "kernel.us_per_doc": "any_text.us_per_doc",
        "kernel.ceiling_docs_per_s": "any_text.ceiling_docs_per_s",
    }

    def source(self):
        return self.spark.read.parquet(self.input_dir)

    def operator(self, df):
        from pdf_extraction_spark.operators.any_text import extract_any_text

        return extract_any_text(df, "doc_id", "content", passthrough=["url"])

    def _blobs_by_type(self) -> dict[str, list[bytes]]:
        out: dict[str, list[bytes]] = {}
        for (kind, _), blob in zip(self.staged.expect["by_id"].values(), self.staged.expect["blobs"]):
            out.setdefault(kind, []).append(blob)
        return out

    def kernel_rows(self):
        return self.staged.expect["blobs"]  # input order: the type cycle

    def check(self) -> Check:
        t = ds.dataset(self.last_out, format="parquet").to_table()
        got = Counter(t["doc_id"].to_pylist())
        rows = {r["doc_id"]: r for r in t.to_pylist()}
        self.output_types = Counter(t["doc_type"].to_pylist())
        self.output_errors = Counter(
            ty for ty, err in zip(t["doc_type"].to_pylist(), t["error"].to_pylist())
            if err is not None
        )
        by_id = self.staged.expect["by_id"]
        c = Check(attempted=len(by_id), ok=0)
        for doc_id, (kind, text) in by_id.items():
            r = rows.get(doc_id)
            if r is None or got[doc_id] != 1:
                good = False
            elif kind == "corrupt":
                good = True  # contained: its row is present
            else:
                good = (r["doc_type"], r["text"], r["error"]) == (kind, text, None)
            if good:
                c.ok += 1
            else:
                c.bad_urls.append(self.staged.expect["urls"][doc_id])
        return c

    def ledger(self, roles: dict) -> dict:
        out = super().ledger(roles)
        for kind, blobs in sorted(self._blobs_by_type().items()):
            out[f"any_text.us_per_doc.{kind}"] = 1e6 * statistics.median(
                bare.one_core_s("extract_any", blobs) for _ in range(PROBE_REPS)
            ) / len(blobs)
        for kind, n in sorted(self.output_types.items()):
            out[f"any_text.docs.{kind}"] = n
        for kind in sorted(self.output_types):
            out[f"any_text.errors.{kind}"] = self.output_errors.get(kind, 0)
        return out


# --- crawl_warc_commit -------------------------------------------------------

GROUPS = 4


class CrawlWarcCommit(Workload):
    name = "crawl_warc_commit"
    docs = 480
    files = 8
    warmup_passes = 2  # a pass runs a dozen Spark jobs, so the JIT warms faster
    kernel_cols = ("url", "html", "text")
    one_core_docs = 120
    ALIASES = {
        "source.plan_ms": "sources.warc.plan_ms",
        "source.scan_s": "sources.warc.scan_s",
        "operator.plan_ms": "operators.extract.plan_ms",
        "operator.pass_s": "operators.extract.pass_s",
        "operator.ceiling_share": "operators.extract.ceiling_share",
        "kernel.us_per_doc": "html_extract.us_per_doc",
        "pass.run_s": "plans.pipeline.run_s",
        "pass.overhead_s": "plans.pipeline.overhead_s",
        "sink.output_mb": "plans.pipeline.output_mb",
        "sink.files_written": "plans.pipeline.files_written",
        "sink.bytes_written_per_input_byte": "plans.pipeline.bytes_written_per_input_byte",
    }

    def source(self):
        from pdf_extraction_spark.sources.warc import read_pages_warc

        return read_pages_warc(self.spark, self.input_dir)

    def operator(self, df):
        from pdf_extraction_spark.operators.extract import extract_documents

        return extract_documents(df)

    def run_pass(self, k: int, tracer) -> None:
        """run_extraction into a fresh output directory per pass."""
        from pdf_extraction_spark.plans.pipeline import run_extraction

        out = os.path.join(self.out_root, f"pass-{k}")
        with tracer.span("plans.pipeline.run_extraction"):
            run_extraction(self.spark, self.input_dir, out, input_format="warc", groups=GROUPS)
        self.last_out = out

    def kernel_rows(self):
        return [(u, h, None) for u, h in self.staged.expect["pages"]]

    def check(self) -> Check:
        from pyspark.sql import functions as F

        from pdf_extraction_spark.kernel import extract_document
        from pdf_extraction_spark.operators.extract import EXTRACT_SCHEMA
        from pdf_extraction_spark.plans.pipeline import result_checksum

        pages = self.staged.expect["pages"]
        want = {u: extract_document(u, h, None) for u, h in pages}
        c = Check(attempted=len(pages), ok=0)

        # 1. every committed row against the bare kernel's output
        t = ds.dataset(self.last_out, format="parquet", partitioning="hive").to_table()
        got = Counter(t["url"].to_pylist())
        bad = set()
        for r in t.to_pylist():
            w = want.get(r["url"])
            spans = None if r["spans"] is None else [
                (s["label"], s["start"], s["end"]) for s in r["spans"]
            ]
            page_fields = None if r["page_fields"] is None else [
                _pairs(p) for p in r["page_fields"]
            ]
            if w is None or got[r["url"]] != 1 or (
                r["doc_kind"], r["extracted_text"], _pairs(r["fields"]), page_fields,
                spans, r["error"],
            ) != tuple(w[1:]):
                bad.add(r["url"])
        bad |= {u for u in want if u not in got}

        # 2. manifests: per-group row counts and output checksums, and
        #    per-file lineage counts and input checksums, against the input
        manifests = {}
        for path in glob.glob(os.path.join(self.last_out, "_manifests", "group-*.json")):
            with open(path) as f:
                m = json.load(f)
            manifests[m["group"]] = m
        exp = self.spark.createDataFrame(list(want.values()), EXTRACT_SCHEMA).withColumn(
            "grp", F.pmod(F.xxhash64("url"), F.lit(GROUPS))
        )
        group_of = {r["url"]: r["grp"] for r in exp.select("url", "grp").collect()}
        for g in range(GROUPS):
            n, chk = result_checksum(exp.filter(F.col("grp") == g))
            m = manifests.get(g)
            if m is None or (m["n_rows"], m["output_checksum"]) != (n, chk):
                c.notes.append(f"group {g}: manifest {m and (m['n_rows'], m['output_checksum'])} != input ({n}, {chk})")
                bad |= {u for u, gg in group_of.items() if gg == g}
        by_file = self.staged.expect["urls_by_file"]
        lineage: dict[str, list[int]] = {}
        for m in manifests.values():
            for e in m["lineage"]:
                acc = lineage.setdefault(os.path.basename(e["input_file"]), [0, 0])
                acc[0] += e["n_rows"]
                acc[1] ^= e["input_checksum"]
        files_df = self.spark.createDataFrame(
            [(name, u) for name, urls in by_file.items() for u in urls], "file string, url string"
        )
        for r in files_df.groupBy("file").agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("url")).alias("chk")
        ).collect():
            if lineage.get(r["file"]) != [r["n"], r["chk"]]:
                c.notes.append(f"{r['file']}: lineage {lineage.get(r['file'])} != input [{r['n']}, {r['chk']}]")
                bad |= set(by_file[r["file"]])
        c.ok = len(pages) - len(bad)
        c.bad_urls = sorted(bad)
        return c


WORKLOADS = {w.name: w for w in (TextPages, MixedBytes, CrawlWarcCommit)}
