"""OpenAI Batch-API lifecycle tests (reference X1/X2: upload → create →
poll-until-terminal → download; batch_submitter.py:48-118,
status_checker.py:39-94). The mock exercises REAL poll-state transitions —
a ledger entry passes through ≥2 non-terminal states before the download."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from batch_public_spark.pipeline import JobLedger, Orchestrator, WatermarkStore
from batch_public_spark.pipeline.batch_api import (
    MockBatchClient,
    download_results,
    submit_jsonl_dir,
    wait_for_completion,
    with_retries,
)

NOW = 1_715_000_000


@pytest.fixture()
def source(spark):
    rows = [
        Row(id="1", url="http://x/A", timestamp=str(NOW - 100), summary="first copy"),
        Row(id="3", url=None, timestamp=f"{NOW - 200}", summary="id keyed"),
    ]
    # Single partition ⇒ the JSONL sink writes exactly one part file, so the
    # single-provider-batch assertions below are deterministic.
    return spark.createDataFrame(rows).coalesce(1)


def _orch(tmp_path, client, **kw):
    return Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        ledger=JobLedger(str(tmp_path / "ledger.json")),
        output_dir=str(tmp_path / "out"),
        batch_client=client,
        **kw,
    )


def _write_request_file(tmp_path, n=2):
    p = tmp_path / "reqs.jsonl"
    lines = [
        json.dumps(
            {
                "custom_id": f"row_{i}",
                "method": "POST",
                "url": "/v1/chat/completions",
                "body": {"messages": [{"role": "user", "content": f"doc {i}"}], "model": "m"},
            }
        )
        for i in range(n)
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


class TestMockLifecycle:
    def test_states_advance_per_retrieve_and_output_only_at_completion(self, tmp_path):
        client = MockBatchClient()
        path = _write_request_file(tmp_path)
        [prov] = submit_jsonl_dir(client, path)
        assert prov["status"] == "validating"
        # output file must not exist before completion
        assert client.retrieve(prov["batch_id"])["status"] == "in_progress"
        assert client.retrieve(prov["batch_id"])["status"] == "finalizing"
        snap = client.retrieve(prov["batch_id"])
        assert snap["status"] == "completed" and snap["output_file_id"]
        out = client.download(snap["output_file_id"]).decode("utf-8").splitlines()
        recs = [json.loads(line) for line in out]
        assert [r["custom_id"] for r in recs] == ["row_0", "row_1"]
        assert all(r["response"]["status_code"] == 200 for r in recs)

    def test_wait_for_completion_polls_until_terminal(self, tmp_path):
        client = MockBatchClient()
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        sleeps = []
        final = wait_for_completion(
            client, prov["batch_id"], poll_every=60, sleep=sleeps.append
        )
        assert final["status"] == "completed"
        assert sleeps == [60, 60]  # in_progress, finalizing → two waits

    def test_wait_for_completion_times_out(self, tmp_path):
        client = MockBatchClient(
            states=("validating",) * 10 + ("completed",)
        )
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        with pytest.raises(TimeoutError):
            wait_for_completion(
                client, prov["batch_id"], sleep=lambda _s: None, max_polls=3
            )

    def test_failed_terminal_state_has_no_output_file(self, tmp_path):
        client = MockBatchClient(states=("validating", "in_progress", "failed"))
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        final = wait_for_completion(client, prov["batch_id"], sleep=lambda _s: None)
        assert final["status"] == "failed" and final["output_file_id"] is None

    def test_durable_resume_replays_creating_clients_states(self, tmp_path):
        """A batch's lifecycle is pinned at creation and persisted: a later
        process resuming with a SHORTER states sequence must replay the
        original sequence, not IndexError or teleport (advice r3)."""
        sd = str(tmp_path / "state")
        long_states = ("validating", "in_progress", "in_progress", "finalizing", "completed")
        client = MockBatchClient(states=long_states, state_dir=sd)
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        assert client.retrieve(prov["batch_id"])["status"] == "in_progress"

        resumed = MockBatchClient(states=("validating", "completed"), state_dir=sd)
        seen = [resumed.retrieve(prov["batch_id"])["status"] for _ in range(4)]
        assert seen == ["in_progress", "finalizing", "completed", "completed"]

    def test_durable_resume_clamps_legacy_batches_without_states(self, tmp_path):
        """Batches persisted before the per-batch pin (no 'states' key)
        fall back to the resuming client's states, step-clamped so a
        shorter sequence can never IndexError."""
        import json as _json
        import os as _os

        sd = str(tmp_path / "state")
        client = MockBatchClient(state_dir=sd)
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        client.retrieve(prov["batch_id"])  # step -> 1
        meta = _os.path.join(sd, "batches.json")
        batches = _json.load(open(meta))
        for b in batches.values():
            b.pop("states", None)
            b["step"] = 3  # beyond a 2-state sequence
        _json.dump(batches, open(meta, "w"))

        resumed = MockBatchClient(states=("validating", "completed"), state_dir=sd)
        snap = resumed.retrieve(prov["batch_id"])
        assert snap["status"] == "completed" and snap["output_file_id"]

    def test_download_results_writes_bytes(self, tmp_path):
        client = MockBatchClient()
        [prov] = submit_jsonl_dir(client, _write_request_file(tmp_path))
        final = wait_for_completion(client, prov["batch_id"], sleep=lambda _s: None)
        path = download_results(client, final["output_file_id"], str(tmp_path / "dl"))
        assert path.endswith(".jsonl")
        assert json.loads(open(path).readline())["custom_id"] == "row_0"

    def test_retry_linear_backoff(self):
        calls, sleeps = [], []

        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise RuntimeError("transient")
            return "ok"

        assert with_retries(flaky, "op", sleep=sleeps.append) == "ok"
        assert sleeps == [2, 3]  # reference sleep(1+attempt)

        with pytest.raises(RuntimeError, match="after 3 attempts") as info:
            with_retries(
                lambda: (_ for _ in ()).throw(ValueError("always")),
                "op",
                sleep=lambda _s: None,
            )
        # the retry error is chained to, and names, the last attempt's error
        assert isinstance(info.value.__cause__, ValueError)
        assert "ValueError('always')" in str(info.value)


class TestOrchestratorAsyncLifecycle:
    def test_resume_through_poll_states_then_download_and_parse(
        self, spark, source, tmp_path
    ):
        """The headline X1/X2 test: a ledger entry resumes through two
        non-terminal poll states, then downloads and parses the JSONL."""
        client = MockBatchClient()
        orch = _orch(tmp_path, client, persist_before_submit=False)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        entry = orch.ledger.get(res.batch_id)
        [prov] = entry["provider_batches"]
        assert prov["status"] == "validating"
        assert entry["input_file_id"] == prov["input_file_id"]

        e1 = orch.resume(res.batch_id)  # → in_progress
        assert e1["provider_batches"][0]["status"] == "in_progress"
        assert "final_status" not in e1
        assert orch.watermarks.last("news") is None  # still uncommitted

        e2 = orch.resume(res.batch_id)  # → finalizing
        assert e2["provider_batches"][0]["status"] == "finalizing"
        assert "final_status" not in e2

        e3 = orch.resume(res.batch_id)  # → completed: download + close
        assert e3["final_status"] == "completed"
        entry = orch.ledger.get(res.batch_id)
        assert len(entry["output_paths"]) == 1
        # deferred watermark committed exactly at close
        assert orch.watermarks.last("news") == NOW - 100

        parsed = orch.parsed_outputs(spark, res.batch_id)
        got = {r["_source_custom_id"] for r in parsed.collect()}
        assert got == {"row_1", "row_3"}

    def test_failed_batch_closes_without_watermark(self, spark, source, tmp_path):
        client = MockBatchClient(states=("validating", "in_progress", "failed"))
        orch = _orch(tmp_path, client, persist_before_submit=False)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        orch.resume(res.batch_id)  # in_progress
        closed = orch.resume(res.batch_id)  # failed
        assert closed["final_status"] == "failed"
        # at-least-once: the watermark must NOT advance on failure
        assert orch.watermarks.last("news") is None
        # and the rows are re-sent on the next cycle
        again = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        assert again.n_requests == res.n_requests

    def test_wait_blocks_to_terminal_then_closes(self, spark, source, tmp_path):
        client = MockBatchClient()
        orch = _orch(tmp_path, client)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        sleeps = []
        entry = orch.wait(res.batch_id, sleep=sleeps.append)
        assert entry["final_status"] == "completed"
        assert sleeps == [60, 60]

    def test_auto_resume_sweep_closes_completed_only(self, spark, source, tmp_path):
        client = MockBatchClient(states=("validating", "completed"))
        orch = _orch(tmp_path, client)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        swept = orch.auto_resume_pending()
        assert swept[res.batch_id]["final_status"] == "completed"
        assert orch.ledger.pending() == {}

    def test_multi_part_jsonl_maps_to_multiple_provider_batches(
        self, spark, source, tmp_path, monkeypatch
    ):
        """Per-file request cap ⇒ several part files ⇒ one provider batch per
        file (the OpenAI per-batch limit mapping at scale); the cap is
        patched down from the provider's 50k to 1."""
        from batch_public_spark.pipeline import formatter
        from batch_public_spark.pipeline.formatter import build_requests, write_jsonl

        monkeypatch.setattr(formatter, "_REQUESTS_PER_FILE", 1)

        client = MockBatchClient(states=("validating", "completed"))
        reqs = build_requests(
            source.withColumn("text", source["summary"]), text_col="text", id_col="id"
        )
        path = str(tmp_path / "multi")
        write_jsonl(reqs.repartition(1), path)
        provider = submit_jsonl_dir(client, path)
        assert len(provider) == 2
        for pb in provider:
            final = wait_for_completion(client, pb["batch_id"], sleep=lambda _s: None)
            assert final["status"] == "completed"


class TestResumeEdgeCases:
    def test_mid_submit_crash_closes_failed_not_completed(self, spark, source, tmp_path):
        """A ledger entry marked for provider transport whose upload/create
        never recorded provider_batches (crash mid-submit) must close as
        FAILED — never 'completed' with a watermark advance (review r3)."""

        class ExplodingClient(MockBatchClient):
            def upload_file(self, path, *, purpose="batch"):
                raise RuntimeError("network down")

        orch = _orch(tmp_path, ExplodingClient(), persist_before_submit=False)
        with pytest.raises(RuntimeError):
            orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        [(bid, entry)] = orch.ledger.pending().items()
        assert entry["transport"] == "provider" and "provider_batches" not in entry
        closed = orch.resume(bid)
        assert closed["final_status"] == "failed"
        assert orch.watermarks.last("news") is None  # rows will re-send

    def test_sweep_without_client_leaves_provider_entries_pending(
        self, spark, source, tmp_path
    ):
        """A cron process constructed WITHOUT a batch client must not close
        provider-submitted entries (nothing was downloaded)."""
        from batch_public_spark.pipeline import JobLedger, Orchestrator, WatermarkStore

        client = MockBatchClient()
        orch = _orch(tmp_path, client)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)

        clientless = Orchestrator(
            watermarks=WatermarkStore(str(tmp_path / "wm.json")),
            ledger=JobLedger(str(tmp_path / "ledger.json")),
            output_dir=str(tmp_path / "out"),
        )
        swept = clientless.auto_resume_pending()
        assert "final_status" not in swept[res.batch_id]
        assert res.batch_id in clientless.ledger.pending()

    def test_instant_terminal_batch_still_downloads(self, spark, source, tmp_path):
        """A batch already 'completed' at create time has no output_file_id
        in the submit record; resume must refresh it, not KeyError."""
        client = MockBatchClient(states=("completed",))
        orch = _orch(tmp_path, client)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
        closed = orch.resume(res.batch_id)
        assert closed["final_status"] == "completed"
        assert orch.ledger.get(res.batch_id)["output_paths"]

    def test_blocking_run_with_client_uses_real_lifecycle(self, spark, source, tmp_path):
        """run_batch WITHOUT submit_only + a configured client must run the
        provider lifecycle (submit→poll→download→parse), never silently
        fall back to the in-process stub transport."""
        client = MockBatchClient(states=("validating", "completed"))
        orch = _orch(tmp_path, client, poll_every=0)
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
        entry = orch.ledger.get(res.batch_id)
        assert entry["final_status"] == "completed"
        assert entry["provider_batches"] and entry["output_paths"]
        got = {r["_source_custom_id"] for r in res.parsed.collect()}
        assert got == {"row_1", "row_3"}
