"""balance.map_documents — the one per-document operator shape — and the
structure guard that keeps the batch loop in that one place."""

from __future__ import annotations

import datetime
import inspect
import pathlib

from pyspark.sql import functions as F

from pdf_extraction_spark.operators.any_text import extract_any_text
from pdf_extraction_spark.operators.balance import (
    map_documents,
    map_rows,
    rebalance_if_undersplit,
)
from pdf_extraction_spark.operators.docx_text import build_docx
from pdf_extraction_spark.pdf_parse import build_pdf

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdf_extraction_spark"


def test_passthrough_columns_keep_position_and_values(spark):
    blobs = [build_pdf(["pdf body"]), build_docx(["docx body"]), b"plain words"]
    df = spark.createDataFrame(
        [(i, f"src-{i}", f"s3://bucket/{i}", b) for i, b in enumerate(blobs)],
        "doc_id long, source string, uri string, content binary",
    )
    out = extract_any_text(df, passthrough=["source", "uri"])
    assert out.columns == ["doc_id", "source", "uri", "doc_type", "text", "error"]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [
        (0, "src-0", "s3://bucket/0", "pdf", "pdf body", None),
        (1, "src-1", "s3://bucket/1", "docx", "docx body", None),
        (2, "src-2", "s3://bucket/2", "text", "plain words", None),
    ]


def test_passthrough_between_row_fields(spark):
    """A passthrough column lands in its schema position even when the
    row function's fields surround it."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "tag string, n long")
    out = map_documents(
        df, lambda n: (n * 10, -n), "ten long, tag string, neg long", passthrough=("tag",)
    )
    assert out.columns == ["ten", "tag", "neg"]
    assert sorted(tuple(r) for r in out.collect()) == [(10, "a", -1), (20, "b", -2)]


def test_empty_partition_yields_empty_frame_with_declared_schema(spark):
    schema = "doc_id long, n_chars int, text string"
    # 4 partitions over 2 rows: two partitions are empty
    sparse = spark.range(0, 2, 1, 4).select(
        F.col("id").alias("doc_id"), F.lit("abc").alias("text")
    )
    out = map_documents(sparse, lambda text: (len(text), text), schema, passthrough=("doc_id",))
    assert out.schema.simpleString() == "struct<doc_id:bigint,n_chars:int,text:string>"
    assert sorted(tuple(r) for r in out.collect()) == [(0, 3, "abc"), (1, 3, "abc")]

    empty = spark.range(0, 0, 1, 2).select(
        F.col("id").alias("doc_id"), F.lit("abc").alias("text")
    )
    pdf = map_documents(empty, lambda text: (len(text), text), schema, passthrough=("doc_id",)).toPandas()
    assert len(pdf) == 0
    assert list(pdf.columns) == ["doc_id", "n_chars", "text"]


def test_batch_without_output_rows_under_timestamp_schema(spark):
    """A batch whose rows all return ``[]`` still yields output of the
    declared types: an empty pandas frame could not be cast to a
    ``timestamp`` field, and that failed the whole task."""
    schema = "url string, warc_ts timestamp, html binary"
    ts = datetime.datetime(2026, 3, 1, 12, 0, 0)
    df = spark.range(0, 8, 1, 2).select(F.col("id").alias("n"))
    assert map_documents(df, lambda n: [], schema).collect() == []
    some = map_documents(df, lambda n: [(f"u{n}", ts, b"x")] if n == 3 else [], schema)
    rows = some.collect()
    assert [(r["url"], r["warc_ts"] is not None, bytes(r["html"])) for r in rows] == [
        ("u3", True, b"x")
    ]


def test_row_function_receives_plain_python_values(spark):
    """Row functions see plain Python values: in one batch, a ``long``
    column holding a null arrives as ``int`` 1 and ``None`` (never
    ``float`` 1.0 and ``nan``), a string column as ``str`` and ``None``."""
    df = spark.createDataFrame([(1, "a"), (None, None)], "n long, s string").coalesce(1)
    out = map_rows(
        df,
        lambda n, s: (type(n).__name__, repr(n), type(s).__name__, s),
        "n_type string, n string, s_type string, s string",
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("NoneType", "None", "NoneType", None),
        ("int", "1", "str", "a"),
    ]


def test_one_to_many_rows_keep_input_order(spark):
    """A row function returning a list fans one input row out to many
    (an empty list drops the row); rows come out in input order.  The
    input is already split wide, so no rebalance reorders it."""
    wide = spark.sparkContext.defaultParallelism
    df = spark.range(0, 40, 1, wide).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("k")
    )
    out = map_documents(
        df, lambda doc_id, k: [(doc_id, j) for j in range(k)], "doc_id long, j long"
    )
    got = [tuple(r) for r in out.collect()]
    assert got == [(i, j) for i in range(40) for j in range(i % 4)]


def _jobs_run(spark, action) -> int:
    """Number of Spark jobs started while ``action()`` runs."""
    sc = spark.sparkContext
    tag = f"guard-probe-{id(action)}"
    sc.addJobTag(tag)
    try:
        action()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_undersplit_guard_runs_no_job_on_exchange_topped_input(spark, tmp_path):
    """The guard reads the partition count from the plan: over input
    topped by a shuffle exchange (a user repartition, the WARC source's
    own repartition) it decides without executing the upstream."""
    from pdf_extraction_spark.sources.warc import read_pages_warc, write_pages_warc

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 64).repartition(target)
    # the probe sees jobs: an action under the same tag is counted
    assert _jobs_run(spark, wide.count) >= 1

    out = []
    assert _jobs_run(spark, lambda: out.append(rebalance_if_undersplit(wide))) == 0
    assert out[0] is wide  # exactly target partitions: not under-split

    ts = datetime.datetime(2026, 3, 1, 12, 0, 0)
    html = b"<html><body><p>" + b"warc page words " * 8 + b"</p></body></html>"
    for k in range(2):
        write_pages_warc(
            [(f"http://{k}.example/{j}", ts, html) for j in range(3)],
            str(tmp_path / f"seg-{k}.warc.gz"),
        )
    pages = read_pages_warc(spark, str(tmp_path / "*.warc.gz"))
    out.clear()
    assert _jobs_run(spark, lambda: out.append(rebalance_if_undersplit(pages))) == 0
    # two archives plan two partitions: under-split, so rebalanced
    assert out[0] is not pages


def test_undersplit_guard_sums_union_children(spark):
    """A union of repartitioned inputs has as many partitions as its
    children together; when that reaches the cluster's parallelism the
    guard adds no round-robin exchange of its own."""
    target = spark.sparkContext.defaultParallelism
    half = -(-target // 2)
    parts = [
        spark.range(lo, lo + 32).repartition(half).select(F.col("id").alias("n"))
        for lo in (0, 100)
    ]
    union = parts[0].union(parts[1])
    assert union.rdd.getNumPartitions() == 2 * half
    out = map_documents(union, lambda n: (n + 1,), "m long")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 2, plan
    assert sorted(r["m"] for r in out.collect()) == list(range(1, 33)) + list(range(101, 133))


def test_mapinpandas_only_in_balance():
    """One Python batch loop in the package, Arrow in and Arrow out: no
    module calls ``mapInPandas(``; ``mapInArrow(`` appears in
    operators/balance.py and, as the one named exception, in the
    ``write_webdataset`` sink (a per-partition writer holding a shard
    counter, not a per-row map); every operator and source reader runs
    through ``map_rows``.  pandas is imported only where its semantics
    are the point: the F15 ``to_csv`` export.  No module but balance.py
    builds the under-split guard; no module anywhere in the package asks a
    DataFrame's RDD for its partition count — on an adaptive plan that
    runs the whole upstream (operators/balance.py reads the count from
    the plan instead) — and none but session.py (``local_frame``), in
    the package or in the entry points beside it, calls
    ``createDataFrame(``: a Python list there plans a Python stage where
    a local scan costs none."""
    from pdf_extraction_spark.sources.webdataset import write_webdataset

    package = sorted(PACKAGE.rglob("*.py"))
    texts = {str(p.relative_to(PACKAGE)): p.read_text() for p in package}
    offenders = [f"{name}: mapInPandas(" for name, t in texts.items() if "mapInPandas(" in t]
    allowed = {"operators/balance.py": 1, "sources/webdataset.py": 1}
    offenders += [
        f"{name}: mapInArrow("
        for name, t in texts.items()
        if t.count("mapInArrow(") != allowed.get(name, 0)
    ]
    assert "mapInArrow(" in inspect.getsource(write_webdataset)
    pandas_users = {"plans/csv_export.py"}
    offenders += [
        f"{name}: import pandas"
        for name, t in texts.items()
        if name not in pandas_users and "import pandas" in t
    ]
    offenders += [
        str(p.relative_to(PACKAGE))
        for p in package
        if p.name != "balance.py" and "rebalance_if_undersplit(" in p.read_text()
    ]
    offenders += [
        str(p.relative_to(PACKAGE)) for p in package if ".rdd.getNumPartitions(" in p.read_text()
    ]
    repo = PACKAGE.parent
    entry_points = [repo / "__spark_entry__.py", repo / "bench.py"] + sorted(
        [*repo.glob("jobs/*.py"), *repo.glob("scripts/*.py")]
    )
    offenders += [
        str(p.relative_to(repo))
        for p in package + entry_points
        if p.name != "session.py" and "createDataFrame(" in p.read_text()
    ]
    assert offenders == []
