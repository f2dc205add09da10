"""Persistent pipeline state: watermark store + job ledger (reference's
"catalog", SURVEY §1).

Reference stores (main.py:62-135): ``batch_watermark.json`` ({table →
last_epoch_seconds}), ``batch_status.json`` (per-batch ledger), and a
best-effort DynamoDB mirror. Both JSON files are written atomically via
tmp-file + ``os.replace`` — reproduced here exactly, because this state is
*driver* state: a handful of rows that gate incremental runs. Putting it
through a distributed write would add latency and give nothing.

At cluster scale the upgrade path is a Delta/Iceberg ledger table keyed by
``batch_id`` and written with ``MERGE INTO`` (ACID upsert, like the
reference's update-or-insert fallback at main.py:350-362).

Commit-order semantics (SURVEY §4): the reference persists the watermark
*before* submitting (at-most-once; duplicates impossible, loss possible,
main.py:257-274). The orchestrator here defaults to the same order for
parity but exposes ``persist_before_submit=False`` to flip to
commit-after-success with idempotency keys recorded in the ledger.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any, Optional


def _atomic_write_json(path: str, payload: dict) -> None:
    """tmp-file + os.replace (reference main.py:131-135)."""
    directory = os.path.dirname(os.path.abspath(path))
    os.makedirs(directory, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=directory, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=2, sort_keys=True)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # pragma: no cover - only on failure
            os.unlink(tmp)


def _read_json(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except (json.JSONDecodeError, OSError):
        # Corrupt state → full look-back reprocessing, same recovery story
        # as deleting batch_watermark.json (reference main.py:69-84).
        return {}


class WatermarkStore:
    """High-water-mark per table (reference main.py:102-128).

    Monotonic: ``advance`` never lowers a persisted watermark."""

    def __init__(self, path: str):
        self.path = path

    def last(self, table: str) -> Optional[int]:
        v = _read_json(self.path).get(table)
        return int(v) if v is not None else None

    def advance(self, table: str, ts: int) -> int:
        state = _read_json(self.path)
        current = int(state.get(table, 0))
        state[table] = max(current, int(ts))
        _atomic_write_json(self.path, state)
        return state[table]

    def clear(self, table: str) -> None:
        state = _read_json(self.path)
        state.pop(table, None)
        _atomic_write_json(self.path, state)


class JobLedger:
    """Per-batch-run ledger (reference main.py:283-293, 329-335, 472-474).

    Record shape: batch_id → {created_utc, status, model, input_jsonl,
    input_file_id, table_name, record_count, final_status?, output_file_id?,
    output_path?}. ``final_status`` absent ⇒ pending (drives auto-resume,
    main.py:446-523)."""

    TERMINAL = {"completed", "failed", "expired", "cancelled"}

    def __init__(self, path: str):
        self.path = path

    def record(self, batch_id: str, **fields: Any) -> dict:
        state = _read_json(self.path)
        entry = state.get(batch_id, {})
        entry.update(fields)
        entry.setdefault("created_utc", time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        state[batch_id] = entry
        _atomic_write_json(self.path, state)
        return entry

    def get(self, batch_id: str) -> Optional[dict]:
        return _read_json(self.path).get(batch_id)

    def all(self) -> dict[str, dict]:
        return _read_json(self.path)

    def pending(self) -> dict[str, dict]:
        """Batches lacking a final_status (reference pending = no
        ``final_status`` key, main.py:462-470)."""
        return {k: v for k, v in _read_json(self.path).items() if "final_status" not in v}

