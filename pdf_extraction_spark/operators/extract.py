"""Spark-side extraction operator: the pure-Python kernels
(pdf_extraction_spark.kernel) behind ``balance.map_documents``.

Design (SURVEY §1.4, §3): one row = one document end-to-end through the
UDF — pages/lines of a document never cross a partition boundary, because
the F10/F12 semantics are order-sensitive *within* a document and the
per-document function is pure, so partitioning can never change content.
The Spark plan around this node is fully declarative (scan → prune →
MapInArrow → sink) and Catalyst prunes the fat `html` binary column out
of the parquet scan whenever a caller selects only text-layer columns.
Over an archive source's split table, :func:`extract_splits` makes the
reader and the kernel one MapInArrow, so a page crosses into Python once;
a commit pass (plans/pipeline.py) shuffles only the kernel's outputs,
to colocate each group for its write.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_extraction_spark.kernel import extract_document, extract_fields_direct
from pdf_extraction_spark.operators.balance import map_documents, map_rows

FIELD_PAIR = StructType(
    [StructField("field", StringType()), StructField("value", StringType())]
)
SPAN = StructType(
    [
        StructField("label", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ]
)
EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("doc_kind", StringType()),
        StructField("extracted_text", StringType()),
        StructField("fields", ArrayType(FIELD_PAIR)),
        StructField("page_fields", ArrayType(ArrayType(FIELD_PAIR))),
        StructField("spans", ArrayType(SPAN)),
        StructField("error", StringType()),
    ]
)


# EXTRACT_SCHEMA + the archive each document was read from
SPLIT_EXTRACT_SCHEMA = StructType(
    list(EXTRACT_SCHEMA.fields) + [StructField("source_file", StringType())]
)


def extract_documents(
    pages: DataFrame, max_doc_chars: int | None = None, *, passthrough=()
) -> DataFrame:
    """pages(url, html, text, ...) -> extraction records (EXTRACT_SCHEMA,
    then each ``passthrough`` column copied unchanged from its page).

    Selects only the columns the kernel needs, so Catalyst prunes
    everything else (incl. `warc_ts`/`lang`) out of the source scan.
    ``max_doc_chars``: per-document input-size cap; oversize documents land
    on the ``error`` column (F18) instead of stalling a worker.
    """
    fn = functools.partial(extract_document, max_doc_chars=max_doc_chars)
    src = pages.select("url", "html", "text", *passthrough)
    schema = StructType(
        list(EXTRACT_SCHEMA.fields) + [src.schema[c] for c in passthrough]
    )
    return map_documents(src, fn, schema, passthrough=passthrough)


def _read_and_extract(read_docs, keep, *split) -> list[tuple]:
    out = []
    for url, html, text, source_file in read_docs(*split):
        if keep is None or keep(url):
            out.append(extract_document(url, html, text) + (source_file,))
    return out


def extract_splits(splits: DataFrame, read_docs, keep=None) -> DataFrame:
    """A source's split table -> extraction records (SPLIT_EXTRACT_SCHEMA)
    in ONE Python stage: ``read_docs(*split_row)`` returns the split's
    (url, html, text, source_file) documents, and each one ``keep(url)``
    accepts (default: all) goes straight through the kernel, so no page
    is shipped back to the JVM between reading and extracting."""
    fn = functools.partial(_read_and_extract, read_docs, keep)
    return map_rows(splits, fn, SPLIT_EXTRACT_SCHEMA)


KV_LONG_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("field", StringType()),
        StructField("value", StringType()),
        StructField("ord", IntegerType()),
    ]
)


def _kv_long_rows(doc_id, text):
    pairs = extract_fields_direct(text or "") or ()
    return [(doc_id, f, v, i) for i, (f, v) in enumerate(pairs)]


def extract_fields_long(df: DataFrame, id_col, text_col) -> DataFrame:
    """Kernel-backed KV extraction to long format: (doc_id, field, value, ord).

    ``ord`` is the field's first-occurrence position (F10 column order).
    The id rides through the Arrow exchange as a string and is restored by
    the caller if needed.
    """
    src = df.select(
        F.col(id_col).cast("string").alias("doc_id"), F.col(text_col).alias("text")
    )
    return map_documents(src, _kv_long_rows, KV_LONG_SCHEMA)


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 0) -> DataFrame:
    """Explicit skew-aware repartition (north_rule requirement).

    Key = xxhash64(url) — uniform over documents regardless of host skew
    (Zipf hosts share no key because the full url is unique).  When rows
    are *size*-skewed (a handful of huge documents), add a deterministic
    secondary salt derived from the document size so giant docs spread
    across `salt_buckets` extra partitions instead of stacking up.
    """
    key = F.xxhash64("url")
    if salt_buckets > 1:
        size_col = F.coalesce(
            F.length("text").cast("long"), F.length("html").cast("long"), F.lit(0)
        )
        key = F.xxhash64("url", (size_col % salt_buckets).cast("string"))
    return df.repartition(num_partitions, key)
