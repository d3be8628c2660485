"""F17 — external-inference enrichment over real batched HTTP.

The reference posts one request per document to a hosted LLM endpoint
(`app.py:26-30`): payload ``{"inputs": prompt, "parameters":
{"max_new_tokens": 500}}``, success read as
``output[0]["generated_text"]`` (`app.py:88`), failure surfaced as a JSON
error dict (`app.py:80-81`).  This operator productionizes that dataflow
for a cluster: requests run inside the per-document operator (one
Python worker dispatch per Arrow batch, not per row), with

* per-request timeout + bounded exponential-backoff retries on 429/5xx
  and transport failures (a flaky inference service must not fail a
  4-hour job),
* a per-worker rate limiter (cluster-wide QPS = requests_per_sec x
  active workers — size it to the service's quota),
* per-document error containment: exactly one of
  ``(generated_text, error)`` is non-null per row, mirroring the
  reference's error-dict branch — one dead document never kills a task.

The transport is INJECTABLE: ``transport(endpoint, payload, timeout_sec)
-> (status_code, parsed_json)``.  Production uses ``urllib_transport``
(stdlib, no extra deps); tests inject deterministic fakes, so the suite
is hermetic.  ``operators/llm_stub.enrich_llm`` shares the exact output
schema (LLM_SCHEMA) and prompt assembly — the stub and this client are
interchangeable behind one operator contract.

Auth: the reference never authenticates successfully (`app.py:12` assigns
a list literal instead of reading the secret), so no credential handling
is built in; a deployment wraps the transport, e.g.
``functools.partial(urllib_transport, headers={"authorization": ...})``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from pdf_extraction_spark.operators.llm_stub import enrich_with


class TransportError(Exception):
    """A request that never produced an HTTP response (DNS, connect,
    timeout, reset) — always retryable."""


def urllib_transport(endpoint, payload, timeout_sec, headers=None):
    """Default transport: stdlib urllib POST with a JSON body.

    Returns ``(status_code, parsed_json)`` for any HTTP response
    (including 4xx/5xx — their bodies often carry the service's error
    dict); raises TransportError when no response arrived at all.
    """
    import json as _json
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        endpoint,
        data=_json.dumps(payload).encode("utf-8"),
        headers={"content-type": "application/json", **(headers or {})},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
            return resp.status, _json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        try:
            body = _json.loads(e.read().decode("utf-8"))
        except Exception:
            body = {"error": str(e)}
        return e.code, body
    except Exception as e:
        raise TransportError(str(e)) from e


class _RateLimiter:
    """Per-worker min-interval limiter (None/0 -> unlimited)."""

    def __init__(self, requests_per_sec):
        self.min_interval = 1.0 / requests_per_sec if requests_per_sec else 0.0
        self._next = 0.0

    def wait(self):
        if not self.min_interval:
            return
        now = time.monotonic()
        if now < self._next:
            time.sleep(self._next - now)
            now = self._next
        self._next = now + self.min_interval


def _call_with_policy(
    transport, endpoint, payload, *, timeout_sec, max_retries, backoff_sec, limiter
):
    """One document's request under the retry/containment policy.

    Returns ``(generated_text, error)`` — exactly one is non-None.
    Retryable: transport failures, 429, and 5xx.  NOT retried: a 200
    carrying the service's error dict (the reference's `app.py:80-81`
    branch — a model-side rejection is deterministic) and other 4xx.
    """
    attempt = 0
    delay = backoff_sec
    while True:
        limiter.wait()
        err = None
        try:
            status, out = transport(endpoint, payload, timeout_sec)
        except TransportError as e:
            err = f"transport error: {e}"
        else:
            if status == 200:
                if isinstance(out, dict) and "error" in out:
                    return None, f"api error: {out['error']}"
                try:
                    return out[0]["generated_text"], None
                except (KeyError, IndexError, TypeError):
                    return None, f"malformed response: {str(out)[:200]}"
            err = f"http {status}: {str(out)[:200]}"
            if not (status == 429 or status >= 500):
                return None, err
        attempt += 1
        if attempt > max_retries:
            return None, f"{err} (after {attempt} attempts)"
        time.sleep(delay)
        delay *= 2


def enrich_llm_http(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    endpoint: str,
    task: str = "summarize",
    max_new_tokens: int = 500,
    timeout_sec: float = 30.0,
    max_retries: int = 3,
    backoff_sec: float = 0.5,
    requests_per_sec: float | None = None,
    max_input_chars: int | None = None,
    transport=None,
) -> DataFrame:
    """(id, prompt, generated_text, error) per document via batched HTTP.

    Same contract as ``llm_stub.enrich_llm``: prompt assembly is the
    reference's F16 build_prompt; ``max_input_chars`` rejects oversize
    prompts locally (no request spent); exactly one of
    ``(generated_text, error)`` is non-null per row.
    """
    transport = transport or urllib_transport
    limiter = _RateLimiter(requests_per_sec)  # pickled: each task gets its own

    def generate(prompt, raw):
        payload = {"inputs": prompt, "parameters": {"max_new_tokens": max_new_tokens}}
        return _call_with_policy(
            transport,
            endpoint,
            payload,
            timeout_sec=timeout_sec,
            max_retries=max_retries,
            backoff_sec=backoff_sec,
            limiter=limiter,
        )

    return enrich_with(df, id_col, text_col, task, max_input_chars, generate)
