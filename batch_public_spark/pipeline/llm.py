"""LLM transport stage (reference op X1-X3).

The reference runs the semantic transform remotely via the OpenAI Batch API
(upload JSONL → create batch → poll → download; batch_submitter.py:48-118,
status_checker.py:39-94). Two idiomatic Spark shapes are provided:

1. **Synchronous pandas-UDF path** (``respond``): an ``mapInPandas`` stage
   calling a transport per Arrow batch — connection reuse per partition,
   each request retried by the one retry policy the provider calls use
   (``batch_api.with_retries``, reference batch_submitter.py:54-64);
   inside a task the attempts run back to back, without the sleeps.
   This is the BASELINE-prescribed "DataFrame + UDF for OpenAI calls" route.
2. **Driver-side batch orchestration** (see orchestrator.py): faithful to
   the reference's async submit/poll/download lifecycle.

CI/bench always use :class:`StubTransport` — deterministic, no network
(SURVEY §5: LLM stages tested with a mock transport). The real OpenAI
transport is gated behind an import-try.
"""

from __future__ import annotations

import functools
import hashlib
import json
from collections.abc import Iterator
from typing import Callable, Protocol

import pandas as pd
from pyspark.sql import DataFrame

from batch_public_spark.pipeline.batch_api import with_retries
from batch_public_spark.pipeline.parser import OUTPUT_SCHEMA


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
    request (up to three when it raises). Output schema matches the batch-output file format, so
    ``parse_batch_output`` consumes either path identically.
    """
    from batch_public_spark.util import ensure_workers_can_import

    ensure_workers_can_import(requests.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            rows = []
            for custom_id, body in zip(pdf["custom_id"], pdf["body"]):
                if isinstance(body, str):
                    body = json.loads(body)
                elif not isinstance(body, dict):
                    body = dict(body)  # Arrow struct → mapping
                rec = with_retries(
                    functools.partial(transport.complete, custom_id, body),
                    f"LLM request {custom_id}",
                    sleep=lambda _s: None,
                )
                rows.append(
                    {
                        "id": rec["id"],
                        "custom_id": rec["custom_id"],
                        "response": rec["response"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return requests.select("custom_id", "body").mapInPandas(run, OUTPUT_SCHEMA)
