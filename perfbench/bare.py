"""Bare kernels with no Spark: the ceiling the Spark passes are read against.

``ceiling`` starts one spawned process per core, hands each its shard when
it starts, lines them up on a barrier and times only the kernel loop, so
process start, imports and argument transfer stay outside the figure.
"""

from __future__ import annotations

import multiprocessing as mp
import time


def _run_kernel(kind: str, rows: list) -> int:
    if kind == "extract_document":
        from pdf_extraction_spark.kernel import extract_document

        for url, html, text in rows:
            extract_document(url, html, text)
    else:
        from pdf_extraction_spark.operators.any_text import extract_any

        for blob in rows:
            try:
                extract_any(blob)
            except Exception:  # the operator contains these per document too
                pass
    return len(rows)


def _shard_main(kind, rows, barrier, results):
    _run_kernel(kind, rows[:8])  # imports and first-call paths, untimed
    barrier.wait()
    t = time.perf_counter()
    n = _run_kernel(kind, rows)
    results.put((n, time.perf_counter() - t))


def one_core_s(kind: str, rows: list) -> float:
    """Seconds for one pass of the kernel over ``rows`` in this process."""
    _run_kernel(kind, rows[:8])
    t = time.perf_counter()
    _run_kernel(kind, rows)
    return time.perf_counter() - t


def ceiling(kind: str, rows: list, procs: int) -> float:
    """Documents per second of the kernel over ``rows`` split across
    ``procs`` processes: all documents over the slowest shard's time."""
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(procs)
    results = ctx.Queue()
    shards = [rows[i::procs] for i in range(procs)]
    workers = [
        ctx.Process(target=_shard_main, args=(kind, shard, barrier, results))
        for shard in shards
    ]
    for w in workers:
        w.start()
    try:
        got = [results.get(timeout=300) for _ in workers]
    finally:
        for w in workers:
            w.join(timeout=30)
            if w.is_alive():
                w.kill()
                w.join()
    return sum(n for n, _ in got) / max(s for _, s in got)
