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


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    *,
    events_schema: str = "event_id long, ts timestamp, user_id long, "
    "event_type string, value double",
    window_seconds: int = 60,
    watermark_seconds: int = 120,
    max_files_per_trigger: int | None = 1,
):
    """Event-time tumbling-window aggregation with a watermark (late-data
    handling): counts + value sums per (window, event_type).

    Returns the streaming DataFrame (caller attaches the sink).  At
    scale: ONE shuffle per micro-batch (the window/event_type aggregate);
    the watermark bounds state — windows older than the watermark are
    evicted, so state size is O(active windows), independent of stream
    length.  A row whose window was already finalized/evicted in an
    earlier micro-batch is DROPPED (surfaced in the
    ``numRowsDroppedByWatermark`` metric); a late row landing in the same
    micro-batch that finalizes its window still merges — the exact
    boundary tests/test_streaming_stateful.py pins down.
    """
    from pyspark.sql import functions as F

    reader = spark.readStream.schema(events_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = reader.parquet(input_dir)
    return (
        ev.withWatermark("ts", f"{watermark_seconds} seconds")
        .groupBy(
            F.window("ts", f"{window_seconds} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


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


# per-user session state: [last_ts_epoch, session_start_epoch, n_events]
_SESSION_STATE_SCHEMA = "last_ts long, start_ts long, n long"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    *,
    gap_seconds: int = 1800,
    events_schema: str = "event_id long, ts timestamp, user_id long, "
    "event_type string, value double",
    max_files_per_trigger: int | None = 1,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user session assembly with a ``gap_seconds`` inactivity timeout.

    Emits one row per CLOSED session (a new event more than the gap after
    the previous one closes the running session; a processing-time state
    timeout flushes sessions idled past the gap).  State per user is three
    longs — bounded, keyed, store-managed; this is the shape any custom
    stateful operator (CDC folds, dedup-within-horizon, enrichment
    caches) takes in this engine.

    Lifecycle caveat: with ``availableNow`` + ProcessingTimeTimeout the
    query does NOT self-terminate after draining — Spark keeps running
    no-data micro-batches to service pending state timeouts.  Continuous
    jobs want exactly that (idle sessions flush); drain-and-stop callers
    must poll the sink and ``stop()`` explicitly
    (tests/test_streaming_stateful.py shows the pattern).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        closed = []
        if state.hasTimedOut:
            if state.exists:
                last, start, n = state.get
                closed.append((user_id, start, last, n))
                state.remove()
        else:
            ts_all = []
            for pdf in pdfs:
                ts_all.extend(int(t.timestamp()) for t in pdf["ts"])
            ts_all.sort()
            if state.exists:
                last, start, n = state.get
            else:
                last = start = n = None
            for t in ts_all:
                if last is None:
                    last, start, n = t, t, 1
                elif t - last > gap_seconds:
                    closed.append((user_id, start, last, n))
                    last, start, n = t, t, 1
                else:
                    last, n = t, n + 1
            if last is not None:
                state.update((last, start, n))
                state.setTimeoutDuration(gap_seconds * 1000)
        out = pd.DataFrame(
            closed, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        if not closed:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "session_start": pd.Series(dtype="int64"),
                    "session_end": pd.Series(dtype="int64"),
                    "n_events": pd.Series(dtype="int64"),
                }
            )
            return
        yield out

    from pyspark.sql import functions as F

    reader = spark.readStream.schema(events_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = reader.parquet(input_dir).select("user_id", "ts")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, session_start long, session_end long, n_events long",
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return sessions.select(
        "user_id",
        F.to_timestamp(F.from_unixtime("session_start")).alias("session_start"),
        F.to_timestamp(F.from_unixtime("session_end")).alias("session_end"),
        "n_events",
    )
