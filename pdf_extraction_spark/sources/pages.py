"""Pages-table source: Iceberg catalog table first, parquet path fallback.

The north_rule input is an Iceberg table of Common-Crawl-style pages with
the fixed schema from BASELINE.json's ``input_hint``:

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

On a real cluster the table is Iceberg, bucketed on url-hash
(``bucket(N, url)`` in the table spec), so group predicates and ``warc_ts``
range filters prune files via Iceberg metadata before any scan.  This
sandbox's pyspark 4.1.2 has no Iceberg runtime jar (verified), so the same
code path falls back to a parquet directory: row-group statistics still
serve predicate pushdown, and bucketing is emulated by the pipeline's
explicit ``repartition(xxhash64(url))`` (operators/extract.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# what every input format gives the extraction pipeline per document: the
# kernel's columns and the file the document was read from
DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("source_file", StringType()),
    ]
)

# columns the extraction kernel itself requires; the rest are optional
# metadata that sources may or may not carry
REQUIRED_COLS = {"url": StringType(), "html": BinaryType(), "text": StringType()}


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Load the pages table from an Iceberg table name or a parquet path.

    ``source`` containing a ``/`` is treated as a filesystem path (parquet);
    otherwise it is tried as a catalog (Iceberg) table first, falling back
    to parquet so local tests and cluster runs share one entry point.
    """
    if "/" not in source:
        from pyspark.errors import AnalysisException

        df = None
        try:
            df = spark.read.table(source)
        except AnalysisException:
            # no such catalog table -> try the parquet path below; a real
            # schema-contract violation (ValueError from validation) must
            # NOT be silently retried as parquet
            pass
        if df is not None:
            validate_pages_schema(df)
            return df
    # columnar path: pick the reader by extension (parquet default; ORC is
    # the other splittable columnar format crawls ship in).  Only an exact
    # `.orc` extension or a directory literally named `orc` selects the
    # ORC reader — substring matching would misroute paths like .../orchard
    import os as _os

    base = _os.path.basename(source.rstrip("/"))
    if base.endswith(".orc") or base == "orc":
        df = spark.read.orc(source)
    else:
        df = spark.read.parquet(source)
    validate_pages_schema(df)
    return df


def validate_pages_schema(df: DataFrame) -> None:
    """Fail fast (driver-side, pre-job) when the contract columns are off.

    A schema mismatch discovered inside a Python worker at 10^12-doc scale
    wastes a cluster-hour before the first task error surfaces; checking
    the resolved schema here costs nothing.
    """
    by_name = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for name, expected in REQUIRED_COLS.items():
        if name not in by_name:
            problems.append(f"missing required column {name!r} ({expected.simpleString()})")
        elif by_name[name] != expected:
            problems.append(
                f"column {name!r} has type {by_name[name].simpleString()}, "
                f"expected {expected.simpleString()}"
            )
    if problems:
        raise ValueError("pages table schema mismatch: " + "; ".join(problems))


_JSONL_READ_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html_b64", StringType()),  # binary travels as base64
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Pages from JSONL (the common crawl-dump interchange format).

    JSON has no binary type, so `html` is carried as base64 in `html_b64`
    and decoded JVM-side; the result has the standard pages schema.  The
    explicit read schema keeps Spark from a sampling pass over the data to
    infer types (at 100 TB, schema inference is a full extra scan).
    """
    from pyspark.sql import functions as F

    raw = spark.read.schema(_JSONL_READ_SCHEMA).json(path)
    df = raw.select(
        "url",
        "warc_ts",
        F.unbase64("html_b64").alias("html"),
        "text",
        "lang",
    )
    validate_pages_schema(df)
    return df


def write_pages_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Inverse of read_pages_jsonl (fixtures/exports)."""
    from pyspark.sql import functions as F

    df.select(
        "url", "warc_ts", F.base64("html").alias("html_b64"), "text", "lang"
    ).write.mode(mode).json(path)


def write_pages(df: DataFrame, target: str, *, mode: str = "overwrite") -> None:
    """Write a pages table: Iceberg ``writeTo`` when the target is a catalog
    table, parquet otherwise (sandbox path)."""
    if "/" not in target:
        try:
            df.writeTo(target).createOrReplace()
            return
        except Exception:
            pass
    df.write.mode(mode).parquet(target)
