"""Structured Streaming behavior tests that the batch-parity oracle can't
see: watermark late-data dropping across micro-batches (the reference's
ts ≤ last_ts policy, main.py:219) and checkpoint-based incremental resume
(the reference's cron cadence + idempotent recovery, X4)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_public_spark.streaming import run_available_now

BASE = 1_700_000_000  # epoch seconds anchor

# Legacy TIMESTAMP(NANOS) write fixture: ts stored as an epoch-nanos long,
# mirroring how the nanos-typed driver testdata surfaces under
# spark.sql.legacy.parquet.nanosAsLong. Production code probes the footer
# per directory (streaming.ops.read_events_stream); this constant exists
# only to WRITE nanos-shaped fixtures for these tests.
NANOS_FIXTURE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _write_events(spark, path, rows):
    """Write one parquet file of events (ts given in epoch seconds,
    stored as epoch nanos to mirror the fixture's TIMESTAMP(NANOS))."""
    df = spark.createDataFrame(
        [
            (i, int(ts * 1_000_000_000), uid, etype, float(v), "{}")
            for i, (ts, uid, etype, v) in enumerate(rows)
        ],
        NANOS_FIXTURE_SCHEMA,
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _stream(spark, path, *, max_files=1):
    reader = (
        spark.readStream.schema(NANOS_FIXTURE_SCHEMA).option("maxFilesPerTrigger", max_files)
    )
    df = reader.parquet(path)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def test_read_events_stream_micros_typed_fixture(spark, tmp_path):
    """The footer-probe + NTZ branch of read_events_stream: a plain
    timestamp[us] (TIMESTAMP_NTZ) events fixture streams back as
    TimestampType with the exact epoch — matching what load_table yields
    for the same file (batch/stream ts parity, ADVICE r2)."""
    import datetime

    from batch_public_spark.sources.tables import load_table
    from batch_public_spark.streaming.ops import read_events_stream

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Single FILE named events.parquet (like the driver testdata — the
    # stream reader's pathGlobFilter matches leaf file names), with a plain
    # timestamp[us] (no tz ⇒ TIMESTAMP_NTZ in Spark) ts column.
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    dt = datetime.datetime(2024, 1, 15, 12, 0, 0, 123456)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([dt], pa.timestamp("us")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))

    stream = read_events_stream(spark, sf_dir)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    out = run_available_now(
        stream.select("event_id", F.unix_micros("ts").alias("us")),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    expected_us = int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert [(r.event_id, r.us) for r in out.collect()] == [(1, expected_us)]

    batch = load_table(spark, sf_dir, "events")
    assert isinstance(batch.schema["ts"].dataType, T.TimestampType)
    assert batch.select(F.unix_micros("ts").alias("us")).collect()[0].us == expected_us

    # The NTZ wall time is interpreted as UTC regardless of the session
    # zone (make_timestamp explicit-zone form), and the loader must not
    # mutate the caller's session timezone as a side effect.
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = load_table(spark, sf_dir, "events")
        assert shifted.select(F.unix_micros("ts").alias("us")).collect()[0].us == expected_us
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_late_data_dropped_across_batches(spark, tmp_path):
    """Rows arriving behind the watermark are dropped — the reference's
    ts ≤ last_ts policy. NB Spark filters late records against the PREVIOUS
    batch's committed watermark (eviction uses the current one), so the
    watermark raised by batch 1 only rejects rows from batch 3 on — hence
    three files here."""
    src = str(tmp_path / "events_src")
    # batch 1: fresh events raise the watermark to BASE+60 − 10 min
    _write_events(spark, src, [(BASE, 1, "click", 1.0), (BASE + 60, 1, "click", 1.0)])
    time.sleep(1.1)  # distinct mtime so file order == write order
    # batch 2: fresh event; commits batch 1's watermark for batch 3 to use
    _write_events(spark, src, [(BASE + 120, 1, "click", 1.0)])
    time.sleep(1.1)
    # batch 3: one row 5 h behind the watermark + one fresh row
    _write_events(
        spark, src, [(BASE - 5 * 3600, 2, "click", 99.0), (BASE + 180, 1, "click", 1.0)]
    )

    agg = (
        _stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    # update mode: the late-record filter applies (complete mode keeps all
    # state and aggregates late rows — by design); last update per window wins
    out = run_available_now(agg, output_mode="update", checkpoint_dir=str(tmp_path / "ck"))
    rows = {}
    for r in out.collect():
        rows[r["w"]["start"].isoformat()] = (r["n"], r["total"])
    # only the fresh window survives; the late row's old window never appears
    assert len(rows) == 1, rows
    (n, total), = rows.values()
    assert n == 4 and total == 4.0  # late row (value 99) dropped


def test_late_data_exact_watermark_boundary(spark, tmp_path):
    """Golden boundary semantics (VERDICT r2 #7): with windowed aggregation
    a row is late iff its WINDOW's end <= watermark — not its own ts.
    Probed empirically on this Spark build: at watermark W (30s-aligned),
    ts=W-1 (window [W-30,W), end == W) is dropped; ts=W (window [W,W+30),
    end > W) is kept even though both rows are behind max-seen event time."""
    W = BASE + 10  # 1_700_000_010 — multiple of 30 ⇒ a window boundary
    src = str(tmp_path / "events_src")
    # batch 1 raises the watermark to (W+600) − 10 min = W; batch 2 commits
    # it (the late filter uses the PREVIOUS batch's committed watermark).
    _write_events(spark, src, [(W + 600, 1, "click", 1.0)])
    time.sleep(1.1)
    _write_events(spark, src, [(W + 601, 1, "click", 1.0)])
    time.sleep(1.1)
    # batch 3: the two boundary probes
    _write_events(spark, src, [(W - 1, 2, "click", 100.0), (W, 3, "click", 200.0)])

    agg = (
        _stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 seconds").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    out = run_available_now(agg, output_mode="update", checkpoint_dir=str(tmp_path / "ck"))
    totals = {}
    for r in out.collect():
        totals[r["w"]["start"].isoformat()] = (r["n"], r["total"])
    # the closed window [W-30, W) never appears; [W, W+30) keeps its row
    assert not any(v[1] == 100.0 for v in totals.values()), totals
    import datetime

    w_start = datetime.datetime.fromtimestamp(W, datetime.timezone.utc).replace(
        tzinfo=None
    )
    assert totals[w_start.isoformat()] == (1, 200.0), totals


def test_dedup_within_watermark_drops_duplicate_key(spark, tmp_path):
    src = str(tmp_path / "events_src")
    _write_events(
        spark,
        src,
        [(BASE, 1, "click", 1.0), (BASE + 1, 1, "click", 2.0), (BASE + 2, 2, "view", 3.0)],
    )
    dedup = (
        _stream(spark, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_available_now(dedup, checkpoint_dir=str(tmp_path / "ck"))
    assert sorted((r.user_id, r.event_type) for r in out.collect()) == [
        (1, "click"),
        (2, "view"),
    ]


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Re-running against the same checkpoint consumes only files added
    since the last run — the reference's watermark-ledger incrementality
    (F3/X4) for free from checkpointing."""
    from batch_public_spark.streaming import run_incremental

    src = str(tmp_path / "events_src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    _write_events(spark, src, [(BASE, 1, "click", 1.0), (BASE + 1, 2, "view", 2.0)])

    proj = _stream(spark, src, max_files=10).select("event_id", "user_id", "event_type")
    first = run_incremental(proj, out, ck)
    assert first.count() == 2

    time.sleep(1.1)
    _write_events(spark, src, [(BASE + 100, 3, "error", 9.0)])
    proj2 = _stream(spark, src, max_files=10).select("event_id", "user_id", "event_type")
    second = run_incremental(proj2, out, ck)
    # exactly-once across resume: sink has 3 rows total, nothing reprocessed
    got = sorted((r.user_id, r.event_type) for r in second.collect())
    assert got == [(1, "click"), (2, "view"), (3, "error")], got


def test_stateful_running_max_multibatch(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches; the last
    update per key reflects all batches."""
    from batch_public_spark.streaming import running_max_per_key

    src = str(tmp_path / "events_src")
    _write_events(spark, src, [(BASE, 1, "click", 5.0), (BASE + 1, 1, "click", 3.0)])
    time.sleep(1.1)
    _write_events(spark, src, [(BASE + 60, 1, "click", 7.0), (BASE + 61, 2, "view", 1.0)])

    out = run_available_now(
        running_max_per_key(_stream(spark, src)),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    # take the LAST emitted update per key (memory sink appends updates)
    final = {}
    for r in out.collect():
        final[r.user_id] = (r.max_value, r.n_events)
    assert final[1] == (7.0, 3)
    assert final[2] == (1.0, 1)


def test_foreach_batch_ledger_sink(spark, tmp_path):
    """foreachBatch + AvailableNow: each micro-batch lands in a custom
    idempotent sink (the reference's K4 ledger upsert) keyed by epoch id —
    and a checkpointed re-run replays nothing."""
    from batch_public_spark.pipeline.state import JobLedger
    from batch_public_spark.streaming import run_foreach_batch

    src = str(tmp_path / "events_src")
    _write_events(spark, src, [(BASE, 1, "click", 1.0), (BASE + 1, 2, "view", 2.0)])
    time.sleep(1.1)
    _write_events(spark, src, [(BASE + 60, 3, "error", 9.0)])

    ledger = JobLedger(str(tmp_path / "ledger.json"))

    def sink(batch_df, epoch_id):
        ledger.record(f"epoch_{epoch_id}", n_rows=batch_df.count(), status="completed")

    proj = _stream(spark, src, max_files=1).select("event_id", "user_id")
    run_foreach_batch(proj, sink, checkpoint_dir=str(tmp_path / "ck"))

    entries = ledger.all()
    assert sum(e["n_rows"] for e in entries.values()) == 3
    assert len(entries) >= 2  # one upsert per micro-batch

    # exactly-once across resume: same checkpoint, no new files → no calls
    before = dict(entries)
    proj2 = _stream(spark, src, max_files=1).select("event_id", "user_id")
    run_foreach_batch(proj2, sink, checkpoint_dir=str(tmp_path / "ck"))
    assert ledger.all() == before


def test_interval_join_how_normalization_and_rejects(spark):
    """`how` aliases normalize (fullouter takes the coalesce branch so
    right-only rows keep a user key); junk values raise instead of
    silently mis-keying (r8 ADVICE item)."""
    import pytest as _pytest

    from batch_public_spark.streaming import interval_join_pairs
    from batch_public_spark.streaming.ops import read_events_stream
    from tests.conftest import SF_DIR

    events = read_events_stream(spark, SF_DIR)
    # alias forms build the same plan shape as the canonical spelling
    for alias in ("fullouter", "full", "outer", "FULL_OUTER"):
        s = interval_join_pairs(events, how=alias)
        assert set(s.columns) == {"user_id", "click_id", "view_id"}
    semi = interval_join_pairs(events, how="leftsemi")
    assert set(semi.columns) == {"user_id", "click_id"}
    with _pytest.raises(ValueError, match="unsupported how"):
        interval_join_pairs(events, how="right_outer")
    with _pytest.raises(ValueError, match="unsupported how"):
        interval_join_pairs(events, how="cross")


def test_stream_build_leaves_no_view_or_checkpoint(spark):
    """Building a streaming query leaves no memory-sink temp view and no
    temporary checkpoint directory behind, and the returned frame still
    reads (twice, same rows) after its view is dropped."""
    import glob
    import tempfile

    from batch_public_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    ckpts = os.path.join(tempfile.gettempdir(), "bps_ckpt_*")
    views = {t.name for t in spark.catalog.listTables()}
    dirs = set(glob.glob(ckpts))
    out = QUERIES["stream_tumbling_counts"].fn(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == views
    assert set(glob.glob(ckpts)) <= dirs
    first = sorted(map(tuple, out.collect()))
    assert first and first == sorted(map(tuple, out.collect()))
