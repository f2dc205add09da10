"""End-to-end pipeline tests (reference EP1/EP3 parity: golden fixture rows
per FIXTURES.md §B, property checks per SURVEY §5)."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import urlparse

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from batch_public_spark.pipeline import (
    JobLedger,
    Orchestrator,
    StubTransport,
    WatermarkStore,
    build_requests,
    join_outputs_to_inputs,
    parse_batch_output,
    read_batch_outputs,
    resolve,
    respond,
)

NOW = 1_715_000_000  # fixed "now" so look-back windows are deterministic


@pytest.fixture()
def source(spark):
    """Dynamo-ish heterogeneous rows (FIXTURES.md §B1)."""
    rows = [
        # fresh, duplicate urls differing in case/whitespace → dedup to one
        Row(id="1", url="http://x/A", timestamp=str(NOW - 100), summary="first copy"),
        Row(id="2", url=" HTTP://X/a ", timestamp=str(NOW - 50), summary="second copy"),
        # fresh, id-keyed (no url)
        Row(id="3", url=None, timestamp=f"{NOW - 200}", summary="id keyed"),
        # too old (outside 12 h look-back)
        Row(id="4", url="http://x/old", timestamp=str(NOW - 13 * 3600), summary="stale"),
        # missing ts → dropped (table not in NO_TS_FILTER)
        Row(id="5", url="http://x/nots", timestamp=None, summary="no ts"),
        # fresh but no usable text → dropped
        Row(id="6", url="http://x/notext", timestamp=str(NOW - 10), summary="   "),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def orch(tmp_path):
    return Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        ledger=JobLedger(str(tmp_path / "ledger.json")),
        transport_factory=StubTransport,
        output_dir=str(tmp_path / "out"),
    )


def test_run_batch_end_to_end(spark, source, orch):
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    # rows 1+2 dedup to one (first-wins by id), row 3 kept, 4/5/6 dropped
    assert res.n_input == 2
    assert res.n_requests == 2
    reqs = {r["custom_id"]: r for r in res.requests.collect()}
    assert set(reqs) == {"row_1", "row_3"}  # first-wins kept id=1, not id=2
    body = reqs["row_1"]["body"]
    assert body["model"] == resolve("nano")
    assert body["messages"][0]["role"] == "system"
    assert body["messages"][1]["content"] == "first copy"
    assert body["user"] == "1"
    # parse stage produced provenance-joined rows
    parsed = res.parsed.collect()
    assert {p["_source_custom_id"] for p in parsed} == {"row_1", "row_3"}
    assert all(p["parsed"] is not None for p in parsed)
    # watermark advanced to max ts among SUBMITTED rows (id=1 at NOW-100;
    # the NOW-50 duplicate was deduped away, so it does not advance the mark
    # — same as the reference's max over post-dedup items, main.py:264-274)
    assert orch.watermarks.last("news") == NOW - 100
    # ledger closed out
    entry = orch.ledger.get(res.batch_id)
    assert entry["final_status"] == "completed"
    assert entry["record_count"] == 2


def test_watermark_convergence_over_reruns(spark, source, orch):
    """Property (SURVEY §5): repeated runs over the same input converge to
    empty. Faithful wrinkle: the dedup seen-set is per-invocation (reference
    dynamo_fetcher.py:200-203), so the newer duplicate (id=2, NOW-50) that
    lost first-wins in run 1 is re-considered in run 2 — it sits above the
    run-1 watermark (NOW-100) and goes out alone. Run 3 is empty."""
    first = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert first.n_requests == 2
    second = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert second.n_requests == 1
    assert [r["custom_id"] for r in second.requests.collect()] == ["row_2"]
    assert orch.watermarks.last("news") == NOW - 50
    written = sorted(os.listdir(os.path.join(orch.output_dir, "jsonl")))
    third = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    assert third.skipped_reason == "no new rows"
    assert orch.watermarks.last("news") == NOW - 50
    # the empty cycle's write leaves no JSONL directory behind
    assert sorted(os.listdir(os.path.join(orch.output_dir, "jsonl"))) == written


def test_run_batch_counts_reconcile(spark, source, orch):
    """Per-stage counts observed in the write job: rows in = requests + the
    drop classes, on the ledger's submitted entry and the result."""
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    counts = res.extra["counts"]
    assert counts == {
        "rows_in": 6, "no_ts": 1, "outside_window": 1, "below_watermark": 0,
        "no_text": 1, "dup_dropped": 1, "requests": 2,
    }
    drops = ("no_ts", "outside_window", "below_watermark", "no_text", "dup_dropped")
    assert counts["rows_in"] == counts["requests"] + sum(counts[k] for k in drops)
    assert orch.ledger.get(res.batch_id)["counts"] == counts
    # a static table skips the time filters: only text and dedup drop rows
    orch.no_ts_filter = {"static"}
    static = orch.run_batch(source, table_name="static", hours=12, now=NOW)
    assert static.extra["counts"] == {
        "rows_in": 6, "no_ts": 0, "outside_window": 0, "below_watermark": 0,
        "no_text": 1, "dup_dropped": 1, "requests": 4,
    }
    # no text column at all: the folded-away text filter must not prune the
    # observed scan, and the empty cycle still reports its counts
    bare = spark.createDataFrame([Row(id="7", timestamp=str(NOW - 5))])
    empty = orch.run_batch(bare, table_name="news", hours=12, now=NOW)
    assert empty.skipped_reason == "no new rows"
    assert empty.extra["counts"]["no_text"] == empty.extra["counts"]["rows_in"] == 1


def test_run_batch_one_pass(spark, source, orch):
    """A blocking cycle runs the dedup shuffle and the JSONL write and
    nothing else (the LLM stage stays lazy), and caches nothing."""
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet())  # noqa: SLF001

    before = persisted()
    sc.setJobGroup("one_pass", "one_pass")
    try:
        res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("one_pass")) <= 2
    assert res.n_requests == 2
    # no new persistent RDD; the context cleaner may unpersist earlier
    # tests' RDDs meanwhile, so the count alone can drop
    assert persisted() <= before


def test_requests_read_the_written_jsonl(spark, source, orch):
    """The LLM stage reads the JSONL artifact, as a provider reads the
    uploaded file, not a recomputation of the source."""
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW)
    root = os.path.realpath(res.jsonl_path)
    files = res.requests.inputFiles()
    assert files
    for f in files:
        assert os.path.realpath(urlparse(f).path).startswith(root + os.sep), f


def test_dry_run_writes_jsonl_only(spark, source, orch, tmp_path):
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW, test_only=True)
    assert res.batch_id is None
    assert "jsonl_test" in res.jsonl_path
    # valid one-object-per-line JSONL on disk
    files = [
        os.path.join(res.jsonl_path, f)
        for f in os.listdir(res.jsonl_path)
        if f.endswith(".txt") or f.startswith("part-")
    ]
    lines = []
    for f in files:
        if os.path.isfile(f):
            with open(f) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
    assert len(lines) == 2
    assert {l["custom_id"] for l in lines} == {"row_1", "row_3"}
    assert all(l["method"] == "POST" and l["url"] == "/v1/chat/completions" for l in lines)
    # no OpenAI call, no ledger entry, no watermark movement (X7)
    assert orch.ledger.all() == {}
    assert orch.watermarks.last("news") is None


def test_hours_zero_short_circuit(spark, source, orch):
    res = orch.run_batch(source, table_name="news", hours=0, now=NOW)
    assert res.skipped_reason == "hours<=0"


def test_auto_resume_pending(spark, source, orch):
    orch.ledger.record("batch_stale", status="submitted", table_name="news")
    swept = orch.auto_resume_pending()
    assert swept["batch_stale"]["final_status"] == "completed"
    assert orch.ledger.pending() == {}


def test_parse_handles_all_stub_variants(spark):
    """StubTransport emits clean/fenced/trailing-comma/array replies; the
    parse stage must land every one as structured data (never raw)."""
    docs = spark.range(40).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("text"),
    )
    requests = build_requests(docs, text_col="text", id_col="id")
    parsed = parse_batch_output(respond(requests))
    rows = parsed.collect()
    assert len(rows) >= 40  # arrays explode into >1 row
    assert all(not r["is_raw"] for r in rows)
    assert all("sentiment" in r["parsed"] for r in rows)
    # array replies carry their element index, scalars -1
    idx = {r["_source_list_index"] for r in rows}
    assert -1 in idx
    assert any(i >= 0 for i in idx)


def test_respond_retries_failing_transport(spark):
    """The LLM stage retries each request by the one retry policy: a
    transport that fails twice and then answers gives the stub's rows, and
    one that always fails fails the action with its own error in the
    message (PySpark's simplified worker traceback drops ``__cause__``)."""
    docs = spark.createDataFrame(
        [("1", "first text"), ("2", "second text")], "id string, text string"
    )
    requests = build_requests(docs, text_col="text", id_col="id")

    class FailsTwice(StubTransport):
        def __init__(self):
            self.calls = 0

        def complete(self, custom_id, body):
            self.calls += 1
            if self.calls <= 2:
                raise ConnectionError("transient provider hiccup")
            return super().complete(custom_id, body)

    class AlwaysFails(StubTransport):
        def complete(self, custom_id, body):
            raise ConnectionError("provider is down")

    def rows(df):
        return sorted(tuple(r) for r in df.select("custom_id", "response.body").collect())

    assert rows(respond(requests, FailsTwice)) == rows(respond(requests, StubTransport))
    with pytest.raises(Exception) as info:
        respond(requests, AlwaysFails).collect()
    msg = str(info.value)
    assert "failed after 3 attempts" in msg, msg
    assert "ConnectionError('provider is down')" in msg, msg


def test_parse_reads_llm_stage_once(spark):
    """Scalar and array replies share one posexplode, so the plan runs the
    LLM stage's MapInPandas once (a union of two branches ran it twice)."""
    docs = spark.range(4).select(
        F.col("id").cast("string").alias("id"), F.lit("some text").alias("text")
    )
    parsed = parse_batch_output(respond(build_requests(docs, text_col="text", id_col="id")))
    p = parsed._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        parsed._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "Union" not in p, p


def test_parse_reply_shapes(spark, tmp_path):
    """Per reply shape: scalar → index -1; array → one row per element;
    empty array → no rows; unparseable → raw_content, is_raw only there."""

    def rec(cid, content):
        return {
            "id": cid,
            "custom_id": cid,
            "response": {
                "status_code": 200,
                "body": {"choices": [{"message": {"role": "assistant", "content": content}}]},
            },
        }

    p = tmp_path / "out.jsonl"
    recs = [
        rec("obj", '{"a": 1}'),
        rec("fixed", '```json\n{"a": 2,}\n```'),
        rec("arr", '[{"a": 3}, {"a": 4}]'),
        rec("empty", "[]"),
        rec("raw", "not json at all"),
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    rows = parse_batch_output(read_batch_outputs(spark, str(p))).collect()
    got = sorted(
        (r["_source_custom_id"], r["_source_list_index"], dict(r["parsed"]), r["is_raw"])
        for r in rows
    )
    assert got == [
        ("arr", 0, {"a": "3"}, False),
        ("arr", 1, {"a": "4"}, False),
        ("fixed", -1, {"a": "2"}, False),
        ("obj", -1, {"a": "1"}, False),
        ("raw", -1, {"raw_content": "not json at all"}, True),
    ]


def test_join_outputs_to_inputs(spark):
    docs = spark.range(10).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    requests = build_requests(docs, text_col="text", id_col="id")
    parsed = parse_batch_output(respond(requests))
    joined = join_outputs_to_inputs(parsed, requests)
    assert joined.filter(F.col("body").isNull()).count() == 0


def test_read_batch_outputs_tolerates_malformed(spark, tmp_path):
    p = tmp_path / "out.jsonl"
    good = {
        "id": "x",
        "custom_id": "row_1",
        "response": {
            "status_code": 200,
            "body": {"choices": [{"message": {"role": "assistant", "content": '{"a": 1}'}}]},
        },
    }
    bad_status = {"id": "y", "custom_id": "row_2", "response": {"status_code": 500, "body": None}}
    p.write_text(json.dumps(good) + "\n" + "NOT JSON AT ALL\n" + json.dumps(bad_status) + "\n")
    df = read_batch_outputs(spark, str(p))
    parsed = parse_batch_output(df)
    rows = parsed.collect()
    # malformed line quarantined, 500 filtered (F6), good row parsed
    assert len(rows) == 1
    assert rows[0]["parsed"]["a"] == "1"


def test_async_commit_after_success_advances_watermark_on_resume(spark, source, tmp_path):
    """Regression (ADVICE r1, orchestrator.py): submit_only + commit-after-
    success must not strand the watermark — resume() closing the ledger
    entry advances it, so the next run doesn't resubmit the same rows."""
    orch = Orchestrator(
        watermarks=WatermarkStore(str(tmp_path / "wm2.json")),
        ledger=JobLedger(str(tmp_path / "ledger2.json")),
        transport_factory=StubTransport,
        output_dir=str(tmp_path / "out2"),
        persist_before_submit=False,
    )
    res = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
    assert res.batch_id is not None
    # not yet committed: the batch is in flight
    assert orch.watermarks.last("news") is None
    entry = orch.ledger.get(res.batch_id)
    assert entry["pending_watermark"] == NOW - 100
    # cron cycle closes the batch → watermark advances exactly once
    closed = orch.resume(res.batch_id)
    assert closed["final_status"] == "completed"
    assert closed["pending_watermark"] is None
    assert orch.watermarks.last("news") == NOW - 100
    # rerun resubmits only the re-considered duplicate above the mark, not everything
    second = orch.run_batch(source, table_name="news", hours=12, now=NOW, submit_only=True)
    assert second.n_requests == 1


# ---------------------------------------------------------------------------
# Ledger contract
# ---------------------------------------------------------------------------


def test_ledger_contract_identical_across_backends(tmp_path):
    """The JSON-file ledger's contract (reference batch_status.json): field
    merge on repeated record, created_utc pinned once, pending = no
    final_status. A table-backed ledger at cluster scale must keep it."""
    ledger = JobLedger(str(tmp_path / "contract.json"))
    e1 = ledger.record("b1", status="submitted", table_name="news", record_count=3)
    assert e1["created_utc"]  # defaulted exactly once
    created = e1["created_utc"]

    e2 = ledger.record("b1", status="polling")
    assert e2["created_utc"] == created  # merge, not replace
    assert e2["table_name"] == "news" and e2["record_count"] == 3
    assert e2["status"] == "polling"

    ledger.record("b2", status="submitted")
    assert set(ledger.pending()) == {"b1", "b2"}

    ledger.record("b1", final_status="completed", output_file_id="f-9")
    assert set(ledger.pending()) == {"b2"}
    assert ledger.get("b1")["final_status"] == "completed"
    assert ledger.get("missing") is None
    assert set(ledger.all()) == {"b1", "b2"}
