"""The pure-Python port of Spark's ``xxhash64`` agrees with Spark's own
expression on every URL, and so does the commit group derived from it."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pdf_extraction_spark.xxhash64 import commit_group, xxh64

_GROUPS = (1, 2, 3, 4, 7, 64, 1000)


def _urls(n: int) -> list[str]:
    """Lengths 0-199 over ASCII, URL punctuation, Latin-1, CJK, emoji,
    NUL and whitespace (1-4 UTF-8 bytes per character), so every tail
    path of the hash (32-byte stripes, 8-, 4- and 1-byte steps) is hit."""
    rng = random.Random(16)
    alphabet = "abcXYZ09/:._-?=&%#~ é日本😀\x00\n"
    return ["", "http://example.com/"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(200)))
        for _ in range(n)
    ]


def test_port_matches_spark_xxhash64_and_pmod(spark):
    urls = _urls(10_000)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = df.select(
        "url",
        F.xxhash64("url").alias("h"),
        *[F.pmod(F.xxhash64("url"), F.lit(g)).alias(f"g{g}") for g in _GROUPS],
    ).collect()
    assert len(got) == len(urls)
    for r in got:
        assert xxh64(r["url"].encode("utf-8")) == r["h"], r["url"]
        for g in _GROUPS:
            assert commit_group(r["url"], g) == r[f"g{g}"], (r["url"], g)


def test_null_url_keeps_the_seed(spark):
    row = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(None).cast("string")), F.lit(5)).alias("g")
    ).first()
    assert commit_group(None, 5) == row["g"] == 42 % 5
