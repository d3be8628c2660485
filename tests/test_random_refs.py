"""Seeded randomized cross-check: the distributed connected components are
compared against a brute-force union-find on a randomized (but
deterministic, seed=7) edge set.

One Spark job (hypothesis-per-example would pay Spark's job-launch latency
hundreds of times for the same coverage).
"""

from __future__ import annotations

import random


def test_components_vs_union_find(spark):
    rng = random.Random(7)
    pairs = set()
    while len(pairs) < 120:
        a, b = rng.randrange(80), rng.randrange(80)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs = sorted(pairs)

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    from pdf_extraction_spark.operators.dedup import dedup_components

    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_components(pdf).collect()}
    assert got == want
