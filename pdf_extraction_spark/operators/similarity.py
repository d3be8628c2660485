"""Approximate-nearest-neighbor search over an embedding column.

* bucketed_topk — the scale path: restrict candidates to a coarse bucket
  (IVF cell id, LSH bucket, or any precomputed partition key).  At 10^12
  rows the bucket join prunes candidate sets by orders of magnitude; the
  query side is small by construction, so Spark broadcasts it and
  candidates stream through a single projection + window.
* lsh_bucket — deterministic random-hyperplane LSH bucket id, derived from
  md5-seeded ±1 projections (no model state to ship, reproducible across
  engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_extraction_spark.functions.vectors import cosine


def bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Top-k within the query's coarse bucket (IVF-style candidate pruning)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(bucket_col).alias("bucket"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        F.col(bucket_col).alias("bucket"),
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("n_vec")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_centroids(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
) -> list[tuple[int, list[float]]]:
    """Deterministic, training-free IVF coarse quantizer: the centroid set
    is the ``n_cells`` vectors with the smallest md5 of their id — a
    reproducible pseudo-random sample needing no k-means state.  Both the
    Spark plan and the DuckDB oracle re-derive the IDENTICAL centroid set
    from the data, so the quantizer ships no model; swapping in trained
    k-means centroids is a drop-in (same (cell, vector) list shape).

    Driver-side collect is n_cells rows (tiny by construction) — the
    centroids become plan literals, exactly like the LSH plane matrix.
    """
    rows = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    return [(i, [float(x) for x in r["_v"]]) for i, r in enumerate(rows)]


def ivf_cell(vec_col, centroids: list[tuple[int, list[float]]]):
    """Nearest-centroid cell id: argmax cosine over the centroid list,
    FIRST index wins ties (strict ``>`` fold in ascending cell order —
    the DuckDB twin's ``ORDER BY cos DESC, cell ASC`` picks the same
    cell because both engines compute bit-identical left-fold doubles).

    The n_cells cosines are let-bound as ONE array and the argmax is a
    linear fold over it — a naive when-chain fold nests each cosine
    expression into every later comparison (2^n_cells expression growth
    after CollapseProject inlining).  Per-row work: n_cells zip_with/fold
    passes, no runtime hashing.
    """
    from pdf_extraction_spark.functions.text import let_bound

    cos_arr = F.array(
        *[
            cosine(vec_col, F.array(*[F.lit(float(x)) for x in cv]))
            for _, cv in centroids
        ]
    )
    n = len(centroids)

    def argmax(arr):
        fold = F.aggregate(
            F.sequence(F.lit(0), F.lit(n - 1)),
            F.struct(
                F.lit(0).cast("int").alias("i"),
                F.element_at(arr, 1).alias("v"),
            ),
            lambda acc, j: F.when(
                F.element_at(arr, j + 1) > acc["v"],
                F.struct(j.cast("int").alias("i"), F.element_at(arr, j + 1).alias("v")),
            ).otherwise(acc),
        )
        return fold["i"]

    return let_bound(cos_arr, argmax)


def plane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplane weights, derived from md5 at plan-build time.

    Plane p's weight for dimension d is +1 if bit 0 of the 60-bit
    md5-prefix hash of 'p|<p>|d|<d>' (== functions.text.hash60 semantics),
    else -1 — deterministic and engine-portable with no stored model: the
    DuckDB oracle re-derives the same matrix from md5 in SQL, proving the
    quantizer is reproducible across engines from its seed string alone.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"p|{p}|d|{d}".encode()).hexdigest()[:15], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket(vec_col, num_planes: int = 8, dim: int = 64):
    """Random-hyperplane LSH bucket id (0 .. 2^num_planes - 1).

    Bucket bit p = (dot(vec, plane_p) > 0).  The ±1 plane matrix is a
    compile-time constant (see plane_weights), so the per-row work is
    num_planes zip_with/fold passes of plain double arithmetic — no
    runtime hashing (the naive form pays num_planes*dim md5 calls PER ROW).
    Float determinism: the fold is left-to-right from 0.0, which matches
    DuckDB's list_reduce element order bit-for-bit.
    """
    bucket = F.lit(0)
    for p, row in enumerate(plane_weights(num_planes, dim)):
        dot = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in row]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket
