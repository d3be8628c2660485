"""F17 — external-inference enrichment, as a deterministic stub.

The reference posts each document's truncated text to a hosted LLM
(`app.py:12-30,66-88`: prompt assembly at :72, HTTP POST at :26-30,
response field ``output[0]["generated_text"]`` at :88; note `app.py:12`
assigns a list literal instead of reading the secret, so the call as
written never authenticates).  A remote GPU model is non-deterministic and
out of scope for a byte-identical engine (SURVEY §2 F17), so this operator
keeps the exact dataflow shape — one `generated_text` per document from
inside the per-document operator — behind a pure function of the
prompt.  The production counterpart is
``operators/llm_client.enrich_llm_http`` (real batched HTTP with
timeout/retry/rate-limit and an injectable transport); both share
LLM_SCHEMA and the F16 prompt assembly, so they are interchangeable
behind one operator contract.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pdf_extraction_spark.kernel import build_prompt, truncate_prompt
from pdf_extraction_spark.operators.balance import map_documents

LLM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("prompt", StringType()),
        StructField("generated_text", StringType()),
        StructField("error", StringType()),
    ]
)


def _stub_generate(task: str, prompt: str, truncated: str) -> str:
    """Deterministic stand-in for the model response: tagged with an
    md5 fingerprint of the prompt so tests can detect any prompt drift."""
    tag = hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8]
    return f"[stub:{tag}] {task}: {truncated[:64]}"


def enrich_with(
    df: DataFrame, id_col: str, text_col: str, task: str, max_input_chars, generate
) -> DataFrame:
    """The enrichment shape the stub and the HTTP client share: F16
    prompt assembly, then ``generate(prompt, raw) -> (generated_text,
    error)`` per document.

    Error-dict branch of the reference (app.py:80-81): a failed
    generation yields output["error"], not text.  Prompts above
    ``max_input_chars`` are rejected locally — the hosted model's
    context budget — without calling ``generate``."""

    def row(raw):
        raw = raw or ""
        prompt = build_prompt(task, raw)
        if max_input_chars is not None and len(prompt) > max_input_chars:
            return prompt, None, f"input too long: {len(prompt)} > {max_input_chars} chars"
        return (prompt, *generate(prompt, raw))

    src = df.select(
        F.col(id_col).cast("string").alias("doc_id"), F.col(text_col).alias("text")
    )
    return map_documents(src, row, LLM_SCHEMA, passthrough=("doc_id",))


def enrich_llm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    task: str = "summarize",
    max_input_chars: int | None = None,
) -> DataFrame:
    """(id, prompt, generated_text, error) per document via the stub.

    On a real cluster the generation becomes an HTTP request per
    document (``llm_client.enrich_llm_http``) — bounded fan-out to the
    inference service, retries contained per document.  ``error``
    mirrors the reference's API error-dict branch (app.py:80-81):
    exactly one of (generated_text, error) is non-null per document.
    """
    return enrich_with(
        df,
        id_col,
        text_col,
        task,
        max_input_chars,
        lambda prompt, raw: (_stub_generate(task, prompt, truncate_prompt(raw)), None),
    )
