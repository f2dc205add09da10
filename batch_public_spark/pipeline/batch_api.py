"""OpenAI Batch-API driver lifecycle (reference X1/X2).

Reference semantics reproduced exactly (batch_submitter.py:48-118,
status_checker.py:39-94):

- ``upload``: JSONL file → file_id, 3 attempts, linear ``sleep(1+attempt)``
  backoff (batch_submitter.py:52-64); ``with_retries`` is the one retry
  policy, also used per request by the LLM stage (llm.respond).
- ``create``: batch over the uploaded file with ``endpoint`` +
  ``completion_window="24h"`` — the model travels inside each JSONL line,
  never in the create call (batch_submitter.py:67-118).
- ``poll``: retrieve status every ``poll_every`` (60 s) until one of
  ``{completed, failed, expired, cancelled}`` (status_checker.py:39-67).
- ``download``: result file bytes → ``batch_output_<utc-ts>.jsonl`` on disk
  (status_checker.py:70-94).

This is DRIVER-side transport IO — a handful of HTTP calls gating a
distributed job — so it is plain Python by design, not a Spark stage. The
distributed work stays in DataFrames: requests are written by the JSONL
sink (formatter.write_jsonl), and downloaded result files re-enter Spark
through parser.read_batch_outputs.

The real client is import-gated behind the ``openai`` SDK
(``openai_batch_client``). :class:`MockBatchClient` runs the identical
lifecycle in-memory with REAL state transitions (validating → in_progress →
… → completed, output file materialized only at completion) so tests and CI
exercise the genuine poll loop rather than an always-done shortcut.

Scale note: the JSONL sink writes a directory of part files, each capped at
the provider's 50k requests per file (formatter._REQUESTS_PER_FILE);
``submit_jsonl_dir`` maps one uploaded file + one provider batch per part
file, which is how the OpenAI per-batch limits (50k requests / 200 MB per
file) are respected at 100 TB.
"""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime, timezone
from itertools import count
from typing import Any, Callable, Protocol

from batch_public_spark.pipeline.state import JobLedger

# Single source of truth shared with the ledger's pending/terminal logic
# (state.py) — the poll loop and the ledger must never disagree on what
# "terminal" means.
TERMINAL_STATES = JobLedger.TERMINAL

ENDPOINT = "/v1/chat/completions"

_ATTEMPTS = 3


class BatchClient(Protocol):
    """Minimal provider contract for the batch lifecycle."""

    def upload_file(self, path: str, *, purpose: str = "batch") -> str: ...

    def create_batch(
        self, input_file_id: str, *, endpoint: str = ENDPOINT, completion_window: str = "24h"
    ) -> dict: ...

    def retrieve(self, batch_id: str) -> dict: ...

    def download(self, file_id: str) -> bytes: ...


def with_retries(fn: Callable[[], Any], what: str, *, sleep=time.sleep):
    """The one retry policy, for the provider calls and the LLM stage alike
    (reference batch_submitter.py:52-64, 83-118): ``_ATTEMPTS`` attempts
    with a linear ``sleep(1+attempt)`` between them; when all fail, a
    ``RuntimeError`` chained to the last attempt's exception, which its
    message repeats (PySpark's simplified worker traceback drops the chain,
    so a failed task would not otherwise name the cause)."""
    for attempt in range(1, _ATTEMPTS + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — mirror the reference's blanket retry
            if attempt == _ATTEMPTS:
                raise RuntimeError(f"{what} failed after {_ATTEMPTS} attempts: {exc!r}") from exc
            sleep(1 + attempt)


def submit_jsonl_dir(
    client: BatchClient,
    path: str,
    *,
    endpoint: str = ENDPOINT,
    completion_window: str = "24h",
    sleep=time.sleep,
) -> list[dict]:
    """Upload every JSONL part file under ``path`` (or ``path`` itself if it
    is a file) and create one provider batch per file.

    Returns one entry per provider batch:
    ``{"input_file_id", "batch_id", "status", "source_path"}``.
    """
    if os.path.isdir(path):
        files = sorted(
            f
            for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
        )
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no JSONL part files under {path}")

    out: list[dict] = []
    for f in files:
        file_id = with_retries(
            lambda f=f: client.upload_file(f, purpose="batch"), f"upload {f}", sleep=sleep
        )
        batch = with_retries(
            lambda file_id=file_id: client.create_batch(
                file_id, endpoint=endpoint, completion_window=completion_window
            ),
            f"batch create for {file_id}",
            sleep=sleep,
        )
        out.append(
            {
                "input_file_id": file_id,
                "batch_id": batch["id"],
                "status": batch["status"],
                "source_path": f,
            }
        )
    return out


def wait_for_completion(
    client: BatchClient,
    batch_id: str,
    *,
    poll_every: int = 60,
    sleep=time.sleep,
    max_polls: int | None = None,
) -> dict:
    """X2: block until the batch reaches a terminal state; return its final
    snapshot (status_checker.py:39-67, poll_every=60).

    ``max_polls`` bounds the loop for tests/cron guards; exceeding it raises
    ``TimeoutError`` rather than returning a non-terminal snapshot as if
    finished.
    """
    polls = 0
    while True:
        batch = client.retrieve(batch_id)
        if batch["status"] in TERMINAL_STATES:
            return batch
        polls += 1
        if max_polls is not None and polls >= max_polls:
            raise TimeoutError(
                f"batch {batch_id} still {batch['status']} after {polls} polls"
            )
        sleep(poll_every)


def download_results(
    client: BatchClient,
    output_file_id: str,
    output_dir: str,
    *,
    now: datetime | None = None,
) -> str:
    """Download a result file to ``output_dir/batch_output_<ts>.jsonl``
    (status_checker.py:70-94 — bytes on disk, UTC-stamped name)."""
    os.makedirs(output_dir, exist_ok=True)
    content = client.download(output_file_id)
    if isinstance(content, str):  # older-SDK compat path, status_checker.py:81-86
        content = content.encode("utf-8")
    stamp = (now or datetime.now(timezone.utc)).strftime("%Y%m%d_%H%M%S")
    path = os.path.join(output_dir, f"batch_output_{stamp}_{output_file_id}.jsonl")
    with open(path, "wb") as fh:
        fh.write(content)
    return path


def openai_batch_client(**client_kwargs) -> BatchClient:  # pragma: no cover - needs network+key
    """Real OpenAI batch client (import-gated; never used in CI/bench)."""
    try:
        from openai import OpenAI  # type: ignore[import-not-found]
    except ImportError as exc:
        raise NotImplementedError(
            "openai SDK not installed in this environment; use MockBatchClient"
        ) from exc

    client = OpenAI(**client_kwargs)

    def _snap(b) -> dict:
        return {
            "id": b.id,
            "status": b.status,
            "input_file_id": getattr(b, "input_file_id", None),
            "output_file_id": getattr(b, "output_file_id", None),
            "error_file_id": getattr(b, "error_file_id", None),
        }

    class _C:
        def upload_file(self, path: str, *, purpose: str = "batch") -> str:
            with open(path, "rb") as fh:
                return client.files.create(file=fh, purpose=purpose).id

        def create_batch(
            self,
            input_file_id: str,
            *,
            endpoint: str = ENDPOINT,
            completion_window: str = "24h",
        ) -> dict:
            return _snap(
                client.batches.create(
                    input_file_id=input_file_id,
                    endpoint=endpoint,
                    completion_window=completion_window,
                )
            )

        def retrieve(self, batch_id: str) -> dict:
            return _snap(client.batches.retrieve(batch_id))

        def download(self, file_id: str) -> bytes:
            return client.files.content(file_id).read()

    return _C()


class MockBatchClient:
    """In-memory provider with REAL lifecycle semantics.

    Every ``retrieve`` advances the batch one step along ``states`` until a
    terminal state; the output file exists only once the batch completes —
    so a caller that skips the poll loop or downloads early fails loudly,
    exactly like production. Replies are produced by ``transport_factory``
    (default :class:`~batch_public_spark.pipeline.llm.StubTransport`) over
    the uploaded request lines, in OpenAI batch-output record shape.

    ``states`` ending in ``failed``/``expired``/``cancelled`` exercises the
    failure paths (no output file is materialized).

    ``state_dir`` makes the provider durable (files + batch state persisted
    to disk), so the submit-and-exit → later-process resume cycle — the
    CLI's ``--async`` / ``--resume`` cadence — works across process
    boundaries exactly like a real provider.
    """

    def __init__(
        self,
        *,
        states: tuple[str, ...] = ("validating", "in_progress", "finalizing", "completed"),
        transport_factory=None,
        state_dir: str | None = None,
    ):
        if states[-1] not in TERMINAL_STATES:
            raise ValueError(f"last state must be terminal, got {states!r}")
        if any(s in TERMINAL_STATES for s in states[:-1]):
            raise ValueError(f"only the last state may be terminal, got {states!r}")
        from batch_public_spark.pipeline.llm import StubTransport

        self.states = states
        self._transport = (transport_factory or StubTransport)()
        self._files: dict[str, bytes] = {}
        self._batches: dict[str, dict] = {}
        self._state_dir = state_dir
        self.retrieve_calls = 0
        if state_dir:
            os.makedirs(os.path.join(state_dir, "files"), exist_ok=True)
            meta_path = os.path.join(state_dir, "batches.json")
            if os.path.exists(meta_path):
                import json

                with open(meta_path, encoding="utf-8") as fh:
                    self._batches = json.load(fh)
            for f in os.listdir(os.path.join(state_dir, "files")):
                with open(os.path.join(state_dir, "files", f), "rb") as fh:
                    self._files[f] = fh.read()
        start = 1 + max(
            (int(k.rsplit("-", 1)[-1]) for k in (*self._files, *self._batches)),
            default=0,
        )
        self._seq = count(start)

    def _persist(self) -> None:
        if not self._state_dir:
            return
        import json

        for fid, data in self._files.items():
            p = os.path.join(self._state_dir, "files", fid)
            if not os.path.exists(p):
                with open(p, "wb") as fh:
                    fh.write(data)
        tmp = os.path.join(self._state_dir, "batches.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self._batches, fh)
        os.replace(tmp, os.path.join(self._state_dir, "batches.json"))

    def upload_file(self, path: str, *, purpose: str = "batch") -> str:
        with open(path, "rb") as fh:
            data = fh.read()
        file_id = f"file-mock-{next(self._seq)}"
        self._files[file_id] = data
        self._persist()
        return file_id

    def create_batch(
        self, input_file_id: str, *, endpoint: str = ENDPOINT, completion_window: str = "24h"
    ) -> dict:
        if input_file_id not in self._files:
            raise KeyError(f"unknown input file {input_file_id}")
        batch_id = f"batch-mock-{next(self._seq)}"
        self._batches[batch_id] = {
            "id": batch_id,
            "step": 0,
            # The lifecycle is pinned per batch at creation and persisted,
            # so a later process resuming with a differently-configured
            # client replays THIS batch's sequence (no IndexError / state
            # teleport from a shorter/different ``states`` tuple).
            "states": list(self.states),
            "input_file_id": input_file_id,
            "endpoint": endpoint,
            "completion_window": completion_window,
            "output_file_id": None,
            "error_file_id": None,
        }
        self._persist()
        return self._snapshot(batch_id)

    def _batch_states(self, b: dict) -> list[str]:
        # Batches persisted before the per-batch pin fall back to the
        # client's states, step-clamped so a shorter sequence can never
        # IndexError on resume.
        states = b.get("states") or list(self.states)
        b["step"] = min(b["step"], len(states) - 1)
        return states

    def retrieve(self, batch_id: str) -> dict:
        self.retrieve_calls += 1
        b = self._batches[batch_id]
        states = self._batch_states(b)
        if b["step"] < len(states) - 1:
            b["step"] += 1
        if states[b["step"]] == "completed" and b["output_file_id"] is None:
            b["output_file_id"] = self._materialize_output(b["input_file_id"])
        self._persist()
        return self._snapshot(batch_id)

    def download(self, file_id: str) -> bytes:
        return self._files[file_id]

    def _snapshot(self, batch_id: str) -> dict:
        b = self._batches[batch_id]
        return {
            "id": b["id"],
            "status": self._batch_states(b)[b["step"]],
            "input_file_id": b["input_file_id"],
            "output_file_id": b["output_file_id"],
            "error_file_id": b["error_file_id"],
        }

    def _materialize_output(self, input_file_id: str) -> str:
        import json

        lines = []
        for raw in self._files[input_file_id].decode("utf-8").splitlines():
            if not raw.strip():
                continue
            req = json.loads(raw)
            rec = self._transport.complete(req["custom_id"], req["body"])
            lines.append(json.dumps({**rec, "error": None}))
        out_id = f"file-mock-{next(self._seq)}"
        self._files[out_id] = ("\n".join(lines) + "\n").encode("utf-8")
        return out_id
