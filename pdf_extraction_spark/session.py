"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime shuffle re-planning + skew splitting), UTC session timezone
(oracle comparability), Arrow everywhere, and a bounded Arrow batch size —
the `html` column is fat binary (~KBs/row); at the default 10k rows/batch
a single Arrow batch could exceed Python-worker memory at 100 TB-scale
row widths (SURVEY §4.3).

:func:`local_frame` is the one way the package turns driver-side rows
into a DataFrame (:func:`split_table` when each row is a read task of a
source), and :func:`arrow_batch` the one way it turns Python values into
Arrow (driver-side rows and every Python task's output).
"""

from __future__ import annotations

import heapq
import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, StructType


def get_spark(
    app: str = "pdf-extraction-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_batch(columns: list, schema: StructType) -> pa.RecordBatch:
    """``columns`` (plain Python values, one sequence per field) as an
    Arrow batch of ``schema``'s declared types: nothing is inferred."""
    arrow_schema = to_arrow_schema(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order)
    that plans as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(<python list>)`` plans a ``Scan ExistingRDD``
    over pickled rows, which runs a Python task per default-parallelism
    slice even for an empty list.  A ``pyarrow.Table`` with the declared
    schema is turned into a local relation in the JVM instead, so source
    split tables and empty frames cost no Python stage."""
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_batches([arrow_batch(columns, schema)])
    return spark.createDataFrame(table, schema)


def split_table(
    spark: SparkSession,
    rows: list[tuple],
    schema: StructType,
    num_partitions: int | None = None,
    *,
    weights: list[int] | None = None,
) -> DataFrame:
    """A source's split table: ``rows`` (tuples of ``schema``'s string and
    integer fields) in exactly ``num_partitions`` partitions, one row per
    partition by default, row i in the i-th id of a sliced
    ``spark.range`` (so partition k holds a contiguous slice); no rows
    give an empty :func:`local_frame`.  With ``weights`` (one per row,
    e.g. its bytes) the rows are first reordered so the slices share the
    total weight about evenly (:func:`_balanced`).

    Each id is mapped onto its row through one JSON literal of every row,
    which the optimizer parses into an array once, at planning.  The plan
    is ``Range`` + ``Project``: no exchange, and no Spark job before the
    source's own read (a ``LocalTableScan`` has at most default
    parallelism partitions, and widening it costs a shuffle job)."""
    if not rows:
        return local_frame(spark, [], schema)
    n = len(rows)
    num_partitions = num_partitions or n
    if weights is not None:
        rows = _balanced(rows, weights, num_partitions)
    names = schema.fieldNames()
    text = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(0, n, 1, num_partitions).select(
        F.from_json(F.lit(text), ArrayType(schema))[F.col("id").cast("int")].alias(
            "split"
        )
    ).select("split.*")


def _balanced(rows: list[tuple], weights: list[int], n: int) -> list[tuple]:
    """``rows`` reordered so that the ``n`` slices of a sliced range over
    them share ``weights`` about evenly: heaviest row first, each to the
    lightest slice with room left (a range gives slice k exactly
    ``(k+1)*len//n - k*len//n`` rows), in input order within a slice."""
    total = len(rows)
    room = [(k + 1) * total // n - k * total // n for k in range(n)]
    lightest = [(0, k) for k in range(n) if room[k]]
    slices: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(total), key=lambda i: -weights[i]):
        load, k = heapq.heappop(lightest)
        slices[k].append(i)
        room[k] -= 1
        if room[k]:
            heapq.heappush(lightest, (load + weights[i], k))
    return [rows[i] for s in slices for i in sorted(s)]
