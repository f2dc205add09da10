"""LLM transport stage (reference op X1-X3).

The reference runs the semantic transform remotely via the OpenAI Batch API
(upload JSONL → create batch → poll → download; batch_submitter.py:48-118,
status_checker.py:39-94). Two idiomatic Spark shapes are provided:

1. **Synchronous pandas-UDF path** (``respond``): an ``mapInPandas`` stage
   calling a transport per Arrow batch — connection reuse per partition,
   bounded retry with linear backoff exactly like the reference's
   ``max_retries=3`` / ``sleep(1+attempt)`` (batch_submitter.py:54-64).
   This is the BASELINE-prescribed "DataFrame + UDF for OpenAI calls" route.
2. **Driver-side batch orchestration** (see orchestrator.py): faithful to
   the reference's async submit/poll/download lifecycle.

CI/bench always use :class:`StubTransport` — deterministic, no network
(SURVEY §5: LLM stages tested with a mock transport). The real OpenAI
transport is gated behind an import-try.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Iterator
from typing import Callable, Protocol

import pandas as pd
from pyspark.sql import DataFrame


class Transport(Protocol):
    """Minimal contract: one request JSON in, one response record out."""

    def complete(self, custom_id: str, body: dict) -> dict: ...


class StubTransport:
    """Deterministic fake LLM (no network, stable across runs).

    Replies with the quirks the parse stage must survive (P3-P5): fenced
    JSON, arrays, loose JSON, or plain text — selected by a stable hash of
    the user content, so tests and bench are reproducible.
    """

    def complete(self, custom_id: str, body: dict) -> dict:
        user = next(
            (m["content"] for m in body.get("messages", []) if m.get("role") == "user"), ""
        )
        h = int(hashlib.sha256(user.encode("utf-8")).hexdigest(), 16)
        sentiment = ["bullish", "bearish", "neutral"][h % 3]
        score = (h % 1000) / 1000.0
        payload = {"sentiment": sentiment, "score": score, "n_chars": len(user)}
        variant = h % 4
        if variant == 0:
            content = json.dumps(payload)
        elif variant == 1:
            content = "```json\n" + json.dumps(payload) + "\n```"
        elif variant == 2:
            content = json.dumps(payload)[:-1] + ",}"  # trailing comma → repair path
        else:
            content = json.dumps([payload, payload])  # array reply → explode path
        return {
            "id": f"stub-{h % 10_000_000}",
            "custom_id": custom_id,
            "response": {
                "status_code": 200,
                "body": {"choices": [{"message": {"role": "assistant", "content": content}}]},
            },
        }


class RetryingTransport:
    """X3 semantics: 3 attempts, linear ``sleep(1+attempt)`` backoff."""

    def __init__(self, inner: Transport, max_retries: int = 3, sleep: Callable = time.sleep):
        self.inner, self.max_retries, self._sleep = inner, max_retries, sleep

    def complete(self, custom_id: str, body: dict) -> dict:
        last: Exception | None = None
        for attempt in range(self.max_retries):
            try:
                return self.inner.complete(custom_id, body)
            except Exception as exc:  # noqa: BLE001 — mirror blanket retry
                last = exc
                self._sleep(1 + attempt)
        raise last  # type: ignore[misc]


def openai_transport(**client_kwargs):  # pragma: no cover - needs network+key
    """Real synchronous OpenAI transport (import-gated; not used in CI)."""
    try:
        from openai import OpenAI  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "openai SDK not installed in this environment; use StubTransport"
        ) from exc

    client = OpenAI(**client_kwargs)

    class _T:
        def complete(self, custom_id: str, body: dict) -> dict:
            resp = client.chat.completions.create(**body)
            return {
                "id": resp.id,
                "custom_id": custom_id,
                "response": {
                    "status_code": 200,
                    "body": {
                        "choices": [
                            {"message": {"role": "assistant", "content": c.message.content}}
                            for c in resp.choices
                        ]
                    },
                },
            }

    return _T()


def respond(
    requests: DataFrame,
    transport_factory: Callable[[], Transport] = StubTransport,
) -> DataFrame:
    """Synchronous LLM stage: request records → raw output records.

    ``mapInPandas`` so each task builds ONE transport (connection reuse) and
    answers one output frame per input Arrow batch, one transport call per
    request. Output schema matches the batch-output file format, so
    ``parse_batch_output`` consumes either path identically.
    """
    from batch_public_spark.util import ensure_workers_can_import

    ensure_workers_can_import(requests.sparkSession)

    out_schema = (
        "id string, custom_id string, "
        "response struct<status_code int, body struct<"
        "choices array<struct<message struct<role string, content string>>>>>"
    )
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = RetryingTransport(transport_factory(), sleep=lambda _s: None)
        for pdf in batches:
            rows = []
            for custom_id, body in zip(pdf["custom_id"], pdf["body"]):
                if isinstance(body, str):
                    body = json.loads(body)
                elif not isinstance(body, dict):
                    body = dict(body)  # Arrow struct → mapping
                rec = transport.complete(custom_id, body)
                rows.append(
                    {
                        "id": rec["id"],
                        "custom_id": rec["custom_id"],
                        "response": rec["response"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return requests.select("custom_id", "body").mapInPandas(run, out_schema)
