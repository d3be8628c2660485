"""The one Python batch loop of the package, and the operator shape
built on it.

Every codec/extraction operator in this engine is an embarrassingly
parallel per-document kernel: one input row through one pure Python
function, no shuffle.  The file sources are the same shape one level
down: one split-table row (a file, a byte range, an archive member)
through one reader function that returns that row's documents.
:func:`map_rows` is that shape, written once: a caller selects its input
columns, hands over a per-row function and the output schema, and gets
back the ``mapInArrow`` node.  The batch loop — Arrow batch in, plain
Python values per column, one Arrow batch of the declared types out
(``session.arrow_batch``) — lives here and nowhere else; per-document
error containment stays in each row function (a decoder's
``is_valid=0`` row, the mixed corpus dispatcher's ``error`` column).

:func:`map_documents` is ``map_rows`` behind the under-split guard, for
operators over input whose partitioning they do not control.  The
sources call ``map_rows`` directly: each sets its own task count when it
repartitions its split table, and the guard must not add a second
exchange on top of it.

Under-split guard: ``mapInArrow`` can never run wider than its input
partitioning, and a small parquet file with a single row group (or any
unsplittable input: one gzip member, one tiny file) yields ONE split,
serializing the whole kernel onto one core while the rest of the
cluster idles.  ``rebalance_if_undersplit`` is the standard Spark remedy
("repartition before an expensive UDF when the scan under-splits"):
when — and only when — the input's partition count is below the
cluster's default parallelism, insert one round-robin Exchange ahead of
the kernel.  The data moved is the operator's (small) input rows, never
the kernel's output.  At 100 TB the scan provides >= cores splits and
the guard is a no-op: no Exchange appears in the plan, preserving the
shuffle-free scale shape (asserted both ways in
tests/test_plan_quality.py).

The guard reads the partition count from the physical plan and runs no
Spark job.  Asking the input's RDD would: when the plan holds an
exchange, AQE wraps it in ``AdaptiveSparkPlanExec``, and building its
RDD executes every shuffle map stage below it — the whole upstream runs
once for the count and again for the real job.  So:

* an exchange-free plan is not adaptive, and its RDD is built without
  running anything (a scan's split count, a ``range``'s slices);
* an adaptive plan whose every exchange is a user ``repartition(n[,
  cols])`` shuffle (origin ``REPARTITION_BY_NUM``, which AQE never
  coalesces) reports its exact count as the pre-AQE plan's
  ``outputPartitioning``;
* a union of such plans reports the sum of its children's counts, as
  the union's RDD concatenates its children's partitions;
* any other adaptive plan — an aggregate, join or broadcast exchange
  AQE may coalesce or rewrite, or a partitioning the plan cannot name
  (``UnknownPartitioning(0)``) — counts as under-split: the guard
  inserts its round-robin exchange rather than execute the upstream to
  find out.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructType

from pdf_extraction_spark.session import arrow_batch


def _planned_partitions(df: DataFrame) -> int:
    """``df``'s partition count as its physical plan states it, without
    running a job; 0 where an adaptive plan cannot state it exactly."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return qe.toRdd().getNumPartitions()
    return _stated_partitions(plan.inputPlan())


def _stated_partitions(plan) -> int:
    """The partition count a pre-AQE physical plan states: its
    ``outputPartitioning`` when every exchange in it is a
    ``REPARTITION_BY_NUM`` shuffle, the sum over a union's children when
    each of them states one, else 0."""
    if plan.getClass().getSimpleName() == "UnionExec":
        children = plan.children()
        counts = [_stated_partitions(children.apply(i)) for i in range(children.size())]
        return sum(counts) if all(counts) else 0
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        kind = node.getClass().getSimpleName()
        if "Exchange" in kind and not (
            kind == "ShuffleExchangeExec"
            and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            return 0
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return plan.outputPartitioning().numPartitions()


def rebalance_if_undersplit(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the cluster's default
    parallelism iff its planned partitioning is narrower, or cannot be
    read from the plan without running it.  Streaming DataFrames and
    anything whose plan cannot be probed are returned unchanged."""
    try:
        if df.isStreaming:
            return df
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        if _planned_partitions(df) < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def map_rows(
    df: DataFrame,
    fn: Callable,
    schema: StructType | str,
    *,
    passthrough=(),
) -> DataFrame:
    """Run ``fn`` once per row of ``df`` and collect its output rows
    under ``schema`` (a StructType or DDL string), in ``df``'s own
    partitioning.

    ``fn`` is called with the row's values of every ``df`` column not
    named in ``passthrough``, in ``df``'s column order, as plain Python
    values: ``int`` (``None`` for null, never ``float``/``nan``),
    ``bytes``, ``str``, ``datetime``, lists for arrays and
    ``(key, value)`` pair lists for maps.  It returns one
    output row as a tuple, or a list of row tuples (one input row to
    many; an empty list drops the row).  A row tuple holds the values of
    the schema's fields minus the ``passthrough`` ones, in schema order;
    each ``passthrough`` column is copied unchanged from the input row
    into the field of the same name, wherever the schema places it.
    Output rows keep input order within each Arrow batch."""
    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    names = struct.fieldNames()
    kept = list(passthrough)
    inputs = [c for c in df.columns if c not in kept] + kept
    n_args = len(inputs) - len(kept)
    # output column of each value of ``row + kept_values``
    order = [i for i, name in enumerate(names) if name not in kept] + [
        names.index(c) for c in kept
    ]

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            cols = [[] for _ in names]
            adds = [cols[i].append for i in order]
            for values in zip(*[batch.column(c).to_pylist() for c in inputs]):
                out = fn(*values[:n_args])
                kept_values = values[n_args:]
                for row in out if out.__class__ is list else (out,):
                    for add, v in zip(adds, row + kept_values):
                        add(v)
            yield arrow_batch(cols, struct)

    return df.mapInArrow(batches, struct)


def map_documents(
    df: DataFrame,
    fn: Callable,
    schema: StructType | str,
    *,
    passthrough=(),
) -> DataFrame:
    """:func:`map_rows` over ``df`` after the under-split guard: the
    per-document operator shape."""
    return map_rows(rebalance_if_undersplit(df), fn, schema, passthrough=passthrough)
