"""The one operator shape for per-document Arrow kernels.

Every codec/extraction operator in this engine is an embarrassingly
parallel per-document kernel: one input row through one pure Python
function, no shuffle.  :func:`map_documents` is that shape, written
once: an operator selects its input columns, hands over a per-row
function and the output schema, and gets back the ``mapInPandas`` node.
The batch loop — Arrow batch in, per-column lists, one pandas frame out
per batch — lives here and nowhere else; per-document error containment
stays in each row function (a decoder's ``is_valid=0`` row, the mixed
corpus dispatcher's ``error`` column).

Under-split guard: ``mapInPandas`` can never run wider than its input
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
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructType


def rebalance_if_undersplit(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the cluster's default
    parallelism iff its current partitioning is narrower.  Streaming
    DataFrames and anything whose partition count cannot be probed are
    returned unchanged."""
    try:
        if df.isStreaming:
            return df
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def map_documents(
    df: DataFrame,
    fn: Callable,
    schema: StructType | str,
    *,
    passthrough=(),
) -> DataFrame:
    """Run ``fn`` once per row of ``df`` and collect its output rows
    under ``schema`` (a StructType or DDL string).

    ``fn`` is called with the row's values of every ``df`` column not
    named in ``passthrough``, in ``df``'s column order.  It returns one
    output row as a tuple, or a list of row tuples (one input row to
    many; an empty list drops the row).  A row tuple holds the values of
    the schema's fields minus the ``passthrough`` ones, in schema order;
    each ``passthrough`` column is copied unchanged from the input row
    into the field of the same name, wherever the schema places it.
    Output rows keep input order within each Arrow batch."""
    names = (DataType.fromDDL(schema) if isinstance(schema, str) else schema).fieldNames()
    kept = list(passthrough)
    inputs = [c for c in df.columns if c not in kept] + kept
    n_args = len(inputs) - len(kept)
    # output column of each value of ``row + kept_values``
    order = [i for i, name in enumerate(names) if name not in kept] + [
        names.index(c) for c in kept
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = [[] for _ in names]
            adds = [cols[i].append for i in order]
            for values in zip(*[pdf[c] for c in inputs]):
                out = fn(*values[:n_args])
                kept_values = values[n_args:]
                for row in out if out.__class__ is list else (out,):
                    for add, v in zip(adds, row + kept_values):
                        add(v)
            yield pd.DataFrame(dict(zip(names, cols)), columns=names)

    return rebalance_if_undersplit(df).mapInPandas(batches, schema=schema)
