"""CLI + agent-façade tests (reference main.py:526-702, agent_api.py)."""

from __future__ import annotations

import json
import os
import uuid

import pytest

from batch_public_spark import agent_api
from batch_public_spark.cli import main, orchestrator, run_table
from batch_public_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _run(capsys, *argv):
    rc = main(list(argv))
    out = capsys.readouterr().out
    return rc, out


def test_list_tables(capsys):
    rc, out = _run(capsys, "--list-tables", "--data-dir", SF)
    assert rc == 0
    names = out.split()
    assert "lineitem" in names and "events" in names


def test_list_models(capsys):
    rc, out = _run(capsys, "--list-models")
    assert rc == 0
    assert "nano -> gpt-4.1-nano-2025-04-14" in out


def test_dry_run_writes_jsonl_and_stops(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "out")
    rc, out = _run(
        capsys,
        "--table", "documents", "--hours", "1e9", "--test",
        "--data-dir", SF, "--output-dir", out_dir,
    )
    assert rc == 0
    info = json.loads(out.strip().splitlines()[-1])
    assert info["n_requests"] > 0
    assert info["batch_id"] is None  # dry run: no submission
    assert "jsonl_test" in info["jsonl_path"]
    # the printed drop counts reconcile: rows in = requests + every drop class
    counts = info["counts"]
    drops = ("no_ts", "outside_window", "below_watermark", "no_text", "dup_dropped")
    assert counts["requests"] == info["n_requests"]
    assert counts["rows_in"] == counts["requests"] + sum(counts[k] for k in drops)
    assert all(counts[k] >= 0 for k in drops)
    # no watermark was persisted (dry-run never advances state)
    assert not os.path.exists(os.path.join(out_dir, "batch_watermark.json"))


def test_blocking_run_writes_parsed_output(spark, tmp_path, capsys):
    """A single-table blocking run does its LLM and parse work: the parsed
    rows land under output_dir/parsed and their count is printed."""
    out_dir = str(tmp_path / "out")
    rc, out = _run(
        capsys,
        "--table", "documents", "--hours", "1e9",
        "--data-dir", SF, "--output-dir", out_dir,
    )
    assert rc == 0
    info = json.loads(out.strip().splitlines()[-1])
    assert not info["async"] and info["batch_id"]
    parsed = spark.read.parquet(os.path.join(out_dir, "parsed", f"documents_{info['batch_id']}"))
    assert info["n_parsed"] == parsed.count() >= info["n_requests"] > 0
    ids = {r["_source_custom_id"] for r in parsed.select("_source_custom_id").collect()}
    assert len(ids) == info["n_requests"]
    assert parsed.filter("is_raw").count() == 0


def test_run_table_counts_parsed_rows_in_the_write_job(spark, tmp_path):
    """A blocking run_table launches exactly its two writes (the JSONL
    and the parsed parquet): n_parsed is observed on the parsed write, so
    no read-back of the parsed output (schema job + count jobs) follows."""
    load_table(spark, SF, "documents")  # resolve the source outside the group
    sc = spark.sparkContext
    group = f"run_table_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "run_table")
    try:
        orch = orchestrator(str(tmp_path / "out"))
        info = run_table(spark, orch, "documents", data_dir=SF, hours=1e9)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags the jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    path = tmp_path / "out" / "parsed" / f"documents_{info['batch_id']}"
    assert info["n_parsed"] == spark.read.parquet(str(path)).count() > 0


def test_multi_table_forces_async_and_resume_closes(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "out")
    rc, out = _run(
        capsys,
        "--table", "documents,events", "--hours", "1e9",
        "--data-dir", SF, "--output-dir", out_dir,
    )
    assert rc == 0
    lines = [json.loads(line) for line in out.strip().splitlines()]
    assert len(lines) == 2
    assert all(line["async"] for line in lines)
    batch_ids = [line["batch_id"] for line in lines if line["batch_id"]]
    assert batch_ids

    # pending in the ledger until --check-outputs sweeps them (X4)
    with open(os.path.join(out_dir, "batch_status.json"), encoding="utf-8") as fh:
        ledger = json.load(fh)
    assert all("final_status" not in ledger[b] for b in batch_ids)

    rc, out = _run(capsys, "--check-outputs", "--output-dir", out_dir)
    assert rc == 0
    swept = json.loads(out)
    assert all(swept[b]["final_status"] == "completed" for b in batch_ids)


def test_agent_api_roundtrip(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    res = agent_api.run_batch(
        "documents", hours=1e9, test_only=False, data_dir=SF, output_dir=out_dir, spark=spark
    )
    assert res["batch_id"] and res["n_requests"] > 0
    # the blocking run did its LLM and parse work, not only the JSONL write
    parsed = os.path.join(out_dir, "parsed", f"documents_{res['batch_id']}")
    assert os.path.isdir(parsed)
    assert res["n_parsed"] >= res["n_requests"] > 0
    entry = agent_api.resume_batch(res["batch_id"], output_dir=out_dir)
    assert entry["final_status"] == "completed"


def test_get_spark_returns_the_active_session_unchanged(spark):
    """A second get_spark() hands back the running session without
    rewriting its conf (the CLI and the agent façade both call it)."""
    from batch_public_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert get_spark().conf.get(key) == "7"
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)


def test_no_tables_selected_errors(tmp_path, capsys):
    rc = main(["--config", str(tmp_path / "missing.json"), "--data-dir", SF])
    assert rc == 2


def test_template_module_dry_run(spark, tmp_path, capsys):
    """The copyable per-table template (reference templates/news_table.py)
    runs --test end-to-end: JSONL written, no LLM call, summary on stdout."""
    from batch_public_spark.templates import documents_table

    rc = documents_table.main(
        [
            "--hours", "1000000",
            "--test",
            "--data-dir", SF,
            "--output-dir", str(tmp_path / "out"),
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_requests"] > 0
    assert "jsonl_test" in summary["jsonl_path"]  # X7 quarantined dir
    assert summary["batch_id"] is None  # dry-run: nothing submitted


def test_rotating_logger_configuration(tmp_path, monkeypatch):
    """Reference logger.py:13-15 parity: 10 MB x 5 rotating file handler +
    console echo, configured once per logger name."""
    import logging
    from logging.handlers import RotatingFileHandler

    from batch_public_spark.logger import LOG_FILE_NAME, get_logger

    monkeypatch.setenv("BPS_LOG_DIR", str(tmp_path / "logs"))
    log = get_logger("bps.test.rotating")
    rotating = [h for h in log.handlers if isinstance(h, RotatingFileHandler)]
    assert len(rotating) == 1
    assert rotating[0].maxBytes == 10 * 1024 * 1024
    assert rotating[0].backupCount == 5
    assert any(
        isinstance(h, logging.StreamHandler) and not isinstance(h, RotatingFileHandler)
        for h in log.handlers
    )
    assert log.propagate is False

    log.info("hello rotation")
    rotating[0].flush()
    assert "hello rotation" in (tmp_path / "logs" / LOG_FILE_NAME).read_text()

    # configure-once: a second call must not duplicate handlers
    assert get_logger("bps.test.rotating").handlers == log.handlers


def test_cli_batch_mock_async_resume_across_processes(spark, tmp_path, capsys):
    """--batch-mock + --async submits through the durable mock provider;
    a LATER orchestrator (fresh mock instance over the same state_dir)
    resumes the entry through its poll states to download + close —
    the CLI's cron cadence across process boundaries."""
    out_dir = str(tmp_path / "out")
    rc, out = _run(
        capsys, "--table", "documents", "--hours", "1000000", "--async",
        "--batch-mock", "--data-dir", SF, "--output-dir", out_dir,
    )
    assert rc == 0
    bid = json.loads(out.strip().splitlines()[-1])["batch_id"]
    with open(os.path.join(out_dir, "batch_status.json"), encoding="utf-8") as fh:
        entry = json.load(fh)[bid]
    assert entry["transport"] == "provider"
    [prov] = entry["provider_batches"]
    assert prov["status"] == "validating"

    # later cron cycles: each --resume is one poll (validating → … → completed)
    for _ in range(4):
        rc, out = _run(
            capsys, "--resume", bid, "--batch-mock",
            "--data-dir", SF, "--output-dir", out_dir,
        )
        assert rc == 0
        entry = json.loads(out)[bid]
        if entry.get("final_status"):
            break
    assert entry["final_status"] == "completed"
    assert entry["output_paths"]
    # the downloaded JSONL parses through the shared parse stage
    from batch_public_spark.pipeline import parse_batch_output, read_batch_outputs

    parsed = parse_batch_output(read_batch_outputs(spark, entry["output_dir"]))
    assert parsed.count() >= entry["record_count"]
