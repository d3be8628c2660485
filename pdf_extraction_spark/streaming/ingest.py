"""Structured Streaming ingest: continuous extraction over arriving pages.

The core pipeline is batch-with-resume (SURVEY §7 — the reference is
one-shot per document and the north_rule asks for snapshot-based resume),
but a crawl is naturally a stream of page files, so the engine also
exposes the same extraction operator as a checkpointed stream:

    readStream(parquet dir) → extract_documents (mapInArrow) → writeStream

Properties that matter at scale:

* **Stateless, zero-shuffle.** Extraction is a pure per-row map, so the
  streaming plan has no state store and no exchange — each micro-batch is
  scan → MapInArrow → sink, trivially parallel across executors.
* **Exactly-once.** The file-source offset log + parquet sink commit log
  live in the checkpoint directory; a killed job resumes at the last
  committed micro-batch, and files that were already processed are never
  re-emitted (tested in tests/test_streaming.py).
* **Backpressure.** ``maxFilesPerTrigger`` bounds micro-batch size so one
  trigger never admits more bytes than the executors can hold in Arrow
  batches (the `html` column is the fat one).
* ``availableNow`` trigger drains everything present then stops — the
  batch-catchup mode; omit it for a long-running continuous job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from pdf_extraction_spark.operators.extract import extract_documents
from pdf_extraction_spark.sources.pages import PAGES_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming extraction job; returns the StreamingQuery.

    The caller owns the lifecycle: ``q.awaitTermination()`` for availableNow
    (drain-and-stop), or ``q.stop()`` for continuous mode.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    out = extract_documents(pages)

    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    *,
    watermark_seconds: int = 3600,
    max_files_per_trigger: int | None = None,
):
    """Streaming exact dedup on the content fingerprint, state bounded by
    an event-time horizon: a page whose normalized-text fingerprint was
    already seen within ``watermark_seconds`` (by ``warc_ts``) is dropped;
    fingerprints older than the horizon are EVICTED from the state store
    (``dropDuplicatesWithinWatermark``), so state size is O(pages per
    horizon), independent of stream length — the property that makes
    streaming dedup viable on an unbounded crawl.

    This is the in-stream half of the dedup story: cross-horizon
    duplicates (a page recrawled next week) are the batch side's job —
    ``incremental_new_docs`` against the accumulated fingerprint corpus
    (bucketed; see ``write_fingerprint_corpus``).  The fingerprint
    expression is the same in all three places, so the layers compose.

    Returns the streaming DataFrame (caller attaches the sink).
    """
    from pdf_extraction_spark.functions.text import content_fingerprint

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)
    fp = pages.withColumn("fingerprint", content_fingerprint("text"))
    return fp.withWatermark(
        "warc_ts", f"{watermark_seconds} seconds"
    ).dropDuplicatesWithinWatermark(["fingerprint"])
