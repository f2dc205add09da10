"""Custom Python Data Source (sources/kvscan.py): byte-range split
planning, line-ownership semantics, filter pushdown, permissive mode, the
two-phase-commit writer, and the stream reader (byte-frontier offsets,
checkpoint resume, truncated-tail safety) — the streaming face of the
reference's high-water-mark incremental pull (reference batch/state.py +
main.py look-back — operator F3): Structured Streaming's offset log
replaces the hand-rolled watermark store."""

from __future__ import annotations

import json
from collections import defaultdict
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringContains

from batch_public_spark.sources.kvscan import (
    KVSnapshotReader,
    KVSnapshotStreamReader,
    RangePartition,
    _last_newline_end,
    _plan_ranges,
    _read_lines,
    register_kv_source,
)


def _rows(reader, part):
    """Flatten the reader's Arrow RecordBatches back to row tuples."""
    out = []
    for batch in reader.read(part):
        out.extend(tuple(d.values()) for d in batch.to_pylist())
    return out


def _stream_rows(reader, start, end):
    """Rows of one micro-batch: every partition planned between two
    offsets, read the way an executor reads it."""
    return [row for part in reader.partitions(start, end) for row in _rows(reader, part)]


def _write_jsonl(path, records):
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def snapshot(tmp_path):
    recs = [
        {"event_id": i, "ts_us": 1_000_000 * i, "event_type": "click" if i % 2 else "view", "value": i / 4}
        for i in range(200)
    ]
    p = tmp_path / "snap.jsonl"
    _write_jsonl(p, recs)
    return str(p), recs


def test_every_line_read_exactly_once_across_ranges(snapshot):
    """Line-ownership rule: any split plan covers each record exactly once
    — including ranges that start mid-line and exactly at line starts."""
    path, recs = snapshot
    size = os.path.getsize(path)
    for n_ranges in (1, 2, 3, 7, 50):
        chunk = -(-size // n_ranges)
        seen = []
        start = 0
        while start < size:
            part = RangePartition(path, start, min(start + chunk, size))
            seen.extend(json.loads(x) for x in _read_lines(part))
            start += chunk
        assert seen == recs, f"n_ranges={n_ranges}"


def test_plan_ranges_targets_segment_count(tmp_path):
    files = []
    for i in range(3):
        p = tmp_path / f"f{i}.jsonl"
        _write_jsonl(p, [{"x": j} for j in range(100)])
        files.append(str(p))
    parts = _plan_ranges(files, 6)
    assert 3 <= len(parts) <= 9  # proportional, >= 1 per file
    # ranges tile each file exactly
    by_file = {}
    for p in parts:
        by_file.setdefault(p.path, []).append((p.start, p.end))
    for f, ranges in by_file.items():
        ranges.sort()
        assert ranges[0][0] == 0
        assert ranges[-1][1] == os.path.getsize(f)
        for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
            assert e1 == s2


def test_push_filters_consumed_and_evaluated(snapshot):
    path, recs = snapshot
    reader = KVSnapshotReader(
        schema=_schema(), options={"path": path, "segments": "1"}
    )
    unsupported = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("ts_us",), 100_000_000),
                EqualTo(("event_type",), "click"),
                StringContains(("event_type",), "cl"),  # not supported → returned
            ]
        )
    )
    assert len(unsupported) == 1 and isinstance(unsupported[0], StringContains)
    [part] = reader.partitions()
    rows = _rows(reader, part)
    exp = [r for r in recs if r["ts_us"] >= 100_000_000 and r["event_type"] == "click"]
    assert len(rows) == len(exp)
    assert all(r[2] == "click" and r[1] >= 100_000_000 for r in rows)


def test_permissive_mode_skips_malformed_strict_raises(tmp_path):
    p = tmp_path / "dirty.jsonl"
    with open(p, "w") as f:
        f.write('{"event_id": 1, "ts_us": 5, "event_type": "x", "value": 1.0}\n')
        f.write("NOT JSON AT ALL\n")
        f.write('[1, 2, 3]\n')  # JSON but not an object
        f.write('{"event_id": 2, "ts_us": 6, "event_type": "y", "value": 2.0}\n')
    strict = KVSnapshotReader(_schema(), {"path": str(p), "segments": "1"})
    with pytest.raises(ValueError):
        _rows(strict, strict.partitions()[0])
    perm = KVSnapshotReader(
        _schema(), {"path": str(p), "segments": "1", "mode": "permissive"}
    )
    rows = _rows(perm, perm.partitions()[0])
    assert [r[0] for r in rows] == [1, 2]
    # Drop accounting (r7 ADVICE): permissive-mode data loss is counted,
    # not silent — 2 malformed lines, first offender sampled.
    assert perm.dropped_parse == 2 and perm.dropped_type == 0
    assert perm._first_dropped is not None and "NOT JSON" in perm._first_dropped


def test_permissive_type_mismatch_counted_and_logged(tmp_path, caplog):
    import logging

    p = tmp_path / "typed.jsonl"
    with open(p, "w") as f:
        f.write('{"event_id": 1, "ts_us": 5, "event_type": "x", "value": 1.0}\n')
        f.write(
            '{"event_id": "oops", "ts_us": 6, "event_type": "y", "value": 2.0}\n'
        )
        f.write('{"event_id": 3, "ts_us": 7, "event_type": "z", "value": 3.0}\n')
    perm = KVSnapshotReader(
        _schema(), {"path": str(p), "segments": "1", "mode": "permissive"}
    )
    with caplog.at_level(logging.WARNING, "batch_public_spark.sources.kvscan"):
        rows = _rows(perm, perm.partitions()[0])
    assert [r[0] for r in rows] == [1, 3]
    assert perm.dropped_type == 1 and perm.dropped_parse == 0
    assert any(
        "dropped 1 record" in m and "schema-type mismatch" in m
        for m in caplog.messages
    )


def test_empty_snapshot_reads_empty(tmp_path):
    p = tmp_path / "empty.jsonl"
    p.touch()
    for path in (p, tmp_path / "missing"):  # a missing path reads as empty
        reader = KVSnapshotReader(_schema(), {"path": str(path), "segments": "4"})
        parts = reader.partitions()
        assert len(parts) >= 1
        assert [r for part in parts for r in _rows(reader, part)] == []
    stream = KVSnapshotStreamReader(_schema(), {"path": str(tmp_path / "missing")})
    assert stream.latestOffset() == {"files": {}}


def _schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )


def test_spark_roundtrip_and_overwrite(spark, tmp_path):
    register_kv_source(spark)
    out = str(tmp_path / "snap")
    df = spark.range(50).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("ts_us"),
        F.lit("view").alias("event_type"),
        (F.col("id") / 8).alias("value"),
    )
    df.write.format("kvsnapshot").mode("overwrite").option("path", out).save()
    first_parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert first_parts
    back = spark.read.format("kvsnapshot").option("path", out).option("segments", 3).load()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite retires the previous generation completely
    df2 = df.filter(F.col("event_id") < 10)
    df2.write.format("kvsnapshot").mode("overwrite").option("path", out).save()
    back2 = spark.read.format("kvsnapshot").option("path", out).load()
    assert back2.count() == 10


def test_spark_filter_fully_pushed(spark, tmp_path):
    """With all predicates consumed by pushFilters, the physical plan has
    no post-scan Filter node — the source IS the filter."""
    register_kv_source(spark)
    out = str(tmp_path / "snap")
    spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("ts_us"),
        F.lit("view").alias("event_type"),
        (F.col("id") / 8).alias("value"),
    ).write.format("kvsnapshot").mode("overwrite").option("path", out).save()
    q = (
        spark.read.format("kvsnapshot")
        .option("path", out)
        .load()
        .filter((F.col("ts_us") >= 50_000) & (F.col("event_type") == "view"))
    )
    assert q.count() == 50
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"\(\d+\) Filter\b", plan) is None, plan


def test_append_preserves_previous_generation(spark, tmp_path):
    """Append-mode commits must never clobber earlier parts (committed
    names carry a per-write token; the r4 review's clobber scenario)."""
    register_kv_source(spark)
    out = str(tmp_path / "snap")
    df = spark.range(50).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("ts_us"),
        F.lit("view").alias("event_type"),
        (F.col("id") / 8).alias("value"),
    )
    df.repartition(4).write.format("kvsnapshot").mode("overwrite").option(
        "path", out
    ).save()
    df.filter(F.col("event_id") < 10).write.format("kvsnapshot").mode(
        "append"
    ).option("path", out).save()
    back = spark.read.format("kvsnapshot").option("path", out).load()
    assert back.count() == 60


# ---------------------------------------------------------------------------
# Property tests: split planning and line ownership under arbitrary shapes
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    line_lengths=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    n_ranges=st.integers(min_value=1, max_value=12),
)
def test_line_ownership_exactly_once_property(tmp_path_factory, line_lengths, n_ranges):
    """For ANY file of lines (including empty lines) and ANY equal-chunk
    range plan, every line is read exactly once and in order."""
    tmp = tmp_path_factory.mktemp("kv")
    path = str(tmp / "f.jsonl")
    lines = ["x" * n for n in line_lengths]
    with open(path, "w") as f:
        for ln in lines:
            f.write(ln + "\n")
    size = os.path.getsize(path)
    chunk = max(1, -(-size // n_ranges))
    seen = []
    start = 0
    while start < size:
        part = RangePartition(path, start, min(start + chunk, size))
        seen.extend(x.rstrip(b"\n").decode() for x in _read_lines(part))
        start += chunk
    # blank lines are skipped by read() but _read_lines yields them raw
    assert seen == lines


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=6),
    segments=st.integers(min_value=1, max_value=20),
)
def test_plan_ranges_tiles_exactly_property(tmp_path_factory, sizes, segments):
    """For ANY set of file sizes and ANY segment target: ranges tile each
    non-empty file exactly (no gap, no overlap, full coverage), empty
    files contribute no ranges, and the reader still plans >= 1 partition
    for an all-empty snapshot (empty DataFrame, not a planning error)."""
    tmp = tmp_path_factory.mktemp("kv")
    files = []
    for i, n in enumerate(sizes):
        p = str(tmp / f"f{i}")
        with open(p, "wb") as f:
            f.write(b"a" * n)
        files.append(p)
    parts = _plan_ranges(files, segments)
    reader = KVSnapshotReader(_schema(), {"path": str(tmp), "segments": segments})
    planned = reader.partitions()
    assert planned == (parts or [RangePartition("", 0, 0)])
    by_file = defaultdict(list)
    for p in parts:
        by_file[p.path].append((p.start, p.end))
    for f, n in zip(files, sizes):
        ranges = sorted(by_file.get(f, []))
        if n == 0:
            assert ranges == []
            continue
        assert ranges[0][0] == 0 and ranges[-1][1] == n
        for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
            assert e1 == s2
            assert e2 > s2


def test_stream_reader_incremental_with_checkpoint(spark, tmp_path):
    """readStream over kvsnapshot: first run ingests the snapshot, a later
    run with the SAME checkpoint ingests only the appended generation —
    the file-name offset is the engine-checkpointed high-water mark."""
    register_kv_source(spark)
    snap, ckpt, out = (
        str(tmp_path / "snap"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    df = spark.range(30).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("ts_us"),
        F.lit("view").alias("event_type"),
        (F.col("id") / 4).alias("value"),
    )
    df.write.format("kvsnapshot").mode("overwrite").option("path", snap).save()

    def run_once():
        s = spark.readStream.format("kvsnapshot").option("path", snap).load()
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return spark.read.parquet(out).count()

    assert run_once() == 30
    df.filter(F.col("event_id") < 5).write.format("kvsnapshot").mode("append").option(
        "path", snap
    ).save()
    assert run_once() == 35  # only the 5 appended rows ingested
    # an overwrite retires committed files: the stream refuses to re-ingest
    df.write.format("kvsnapshot").mode("overwrite").option("path", snap).save()
    with pytest.raises(Exception, match="append-only"):
        run_once()


def test_stream_reader_offsets_replayable(tmp_path):
    """Partition replay is exact: planning the same two offsets again
    re-reads exactly the bytes between them (exactly-once recovery after a
    failed batch)."""
    sizes = {}
    for i, n in enumerate((3, 4)):
        name = f"part-x-{i:05d}.jsonl"
        _write_jsonl(
            tmp_path / name,
            [{"event_id": i * 10 + j, "ts_us": j, "event_type": "v", "value": 0.0} for j in range(n)],
        )
        sizes[name] = (tmp_path / name).stat().st_size
    r = KVSnapshotStreamReader(_schema(), {"path": str(tmp_path)})
    start = r.initialOffset()
    end = r.latestOffset()
    assert end == {"files": sizes}
    assert len(_stream_rows(r, start, end)) == 7
    # replay only the second file's delta, twice: same rows both times
    mid = {"files": {"part-x-00000.jsonl": sizes["part-x-00000.jsonl"]}}
    assert len(r.partitions(mid, end)) == 1
    replay = _stream_rows(r, mid, end)
    assert replay == _stream_rows(r, mid, end)
    assert [row[0] for row in replay] == [10, 11, 12, 13]
    # nothing new → empty batch, offset unchanged
    assert r.latestOffset() == end
    assert _stream_rows(r, end, end) == []


def test_permissive_counters_reset_per_partition(tmp_path, caplog):
    """r8 ADVICE: one deserialized reader instance can serve several
    partitions — drop counters must reset at read() entry so each
    partition's warning reports ITS drops, not a running total."""
    import logging

    p = tmp_path / "dirty2.jsonl"
    lines = [
        '{"event_id": 1, "ts_us": 5, "event_type": "x", "value": 1.0}\n',
        "BROKEN ONE\n",
        '{"event_id": 2, "ts_us": 6, "event_type": "y", "value": 2.0}\n',
        "BROKEN TWO\n",
    ]
    with open(p, "w") as f:
        f.writelines(lines)
    size = p.stat().st_size
    half = len(lines[0]) + len(lines[1])  # split exactly between rows 2 and 3
    perm = KVSnapshotReader(
        _schema(), {"path": str(p), "segments": "2", "mode": "permissive"}
    )
    parts = [
        RangePartition(str(p), 0, half),
        RangePartition(str(p), half, size),
    ]
    with caplog.at_level(logging.WARNING):
        assert [r[0] for r in _rows(perm, parts[0])] == [1]
        first_counts = (perm.dropped_parse, perm.dropped_type)
        assert [r[0] for r in _rows(perm, parts[1])] == [2]
        second_counts = (perm.dropped_parse, perm.dropped_type)
    # each partition saw exactly ONE malformed line — no accumulation
    assert first_counts == (1, 0)
    assert second_counts == (1, 0)
    assert perm._first_dropped is not None and "BROKEN TWO" in perm._first_dropped
    warnings = [r.getMessage() for r in caplog.records if "dropped" in str(r.msg)]
    assert len(warnings) == 2
    assert all("dropped 1 record" in w for w in warnings), warnings


# ---------------------------------------------------------------------------
# One record contract for the batch read and both stream shapes
# ---------------------------------------------------------------------------

CONTRACT_SCHEMA = "k bigint, v bigint, src string"
_GOOD = ['{"k": 1, "v": 10, "src": "a"}', '{"k": 2, "v": 20, "src": "b"}']
_MISMATCH = (0, 1)  # (dropped_parse, dropped_type)


@pytest.mark.parametrize(
    "line, row, drops",
    [
        ('{"k": "4"}', None, _MISMATCH),
        ('{"src": 5}', None, _MISMATCH),
        ('{"k": true}', None, _MISMATCH),
        ('{"k": 1.5}', (1, None, None), (0, 0)),
        ('{"k": %d}' % 2**70, None, _MISMATCH),
        ("not json", None, (1, 0)),
    ],
    ids=["string-in-bigint", "int-in-string", "bool-in-bigint", "float-in-bigint", "overflow", "malformed"],
)
@pytest.mark.parametrize("mode", ["strict", "permissive"])
def test_record_contract_same_on_every_path(tmp_path, line, row, drops, mode):
    """A value is accepted iff Arrow converts it to the declared type;
    anything else is a mismatch (strict raises, permissive drops and
    counts). The batch read, a stream of one file and a stream of a
    directory return the same rows and the same drop counts."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(CONTRACT_SCHEMA)
    d = tmp_path / "log"
    d.mkdir()
    (d / "part-0.jsonl").write_text("\n".join([_GOOD[0], line, _GOOD[1]]) + "\n")

    def batch_read(opts):
        r = KVSnapshotReader(schema, {**opts, "segments": "1"})
        return r, r.partitions()

    def stream_read(opts):
        r = KVSnapshotStreamReader(schema, opts)
        return r, r.partitions(r.initialOffset(), r.latestOffset())

    paths = {
        "batch": (batch_read, d / "part-0.jsonl"),
        "stream file": (stream_read, d / "part-0.jsonl"),
        "stream dir": (stream_read, d),
    }
    good = [(1, 10, "a"), (2, 20, "b")]
    for label, (plan, path) in paths.items():
        reader, parts = plan({"path": str(path), "mode": mode})
        if mode == "strict" and row is None:
            with pytest.raises((ValueError, TypeError, OverflowError)):
                [r for part in parts for r in _rows(reader, part)]
            continue
        rows, dropped = [], (0, 0)
        for part in parts:
            rows.extend(_rows(reader, part))
            dropped = (
                dropped[0] + reader.dropped_parse,
                dropped[1] + reader.dropped_type,
            )
        assert rows == (good[:1] + [row] + good[1:] if row else good), label
        assert dropped == drops, label


# ---------------------------------------------------------------------------
# Stream reader: changelog tails over one file or a directory of segments
# ---------------------------------------------------------------------------


def _append(path, recs):
    with open(path, "a") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, path, ckpt, out, mode=None, sink="parquet"):
    r = spark.readStream.format("kvsnapshot").schema(CONTRACT_SCHEMA).option("path", path)
    if mode:
        r = r.option("mode", mode)
    w = r.load().writeStream.format(sink).option("checkpointLocation", ckpt)
    if sink == "parquet":
        w = w.option("path", out)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()
    return spark.read.parquet(out) if sink == "parquet" else None


def test_changelog_tail_is_incremental_across_restarts(spark, tmp_path):
    """Exactly-once tailing across restarts: run 1 consumes the initial
    records; run 2 (same checkpoint) consumes ONLY the appended suffix —
    including the record whose first half was a truncated tail during
    run 1 (bytes past the last newline are never consumed early)."""
    register_kv_source(spark)
    log = str(tmp_path / "log.jsonl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _append(log, [{"k": i, "v": i * 10, "src": "a"} for i in range(10)])
    with open(log, "a") as f:
        f.write('{"k": 99, "v": ')  # half-written tail record
    got = _run_stream(spark, log, ckpt, out)
    assert got.count() == 10
    assert got.agg({"v": "sum"}).collect()[0][0] == 450
    # finish the tail record, append five more, resume from checkpoint
    with open(log, "a") as f:
        f.write('990, "src": "c"}\n')
    _append(log, [{"k": i, "v": i * 10, "src": "c"} for i in range(10, 15)])
    got2 = _run_stream(spark, log, ckpt, out)
    assert got2.count() == 16  # 10 + completed tail + 5 — nothing re-read
    rows = {r.k: (r.v, r.src) for r in got2.collect()}
    assert rows[99] == (990, "c")
    assert rows[14] == (140, "c")


def test_changelog_empty_and_noop_batches(spark, tmp_path):
    """An empty (or newline-less) log yields an empty batch at offset 0;
    a second run with nothing appended reads nothing."""
    register_kv_source(spark)
    log = str(tmp_path / "log.jsonl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    open(log, "w").close()
    assert _run_stream(spark, log, ckpt, out).count() == 0
    _append(log, [{"k": 1, "v": 5, "src": "a"}])
    assert _run_stream(spark, log, ckpt, out).count() == 1
    assert _run_stream(spark, log, ckpt, out).count() == 1


def test_changelog_permissive_skips_malformed(spark, tmp_path):
    """mode=permissive drops malformed and type-mismatched COMPLETE lines
    without failing the query; missing fields are NULL; extra fields are
    ignored."""
    register_kv_source(spark)
    log = str(tmp_path / "log.jsonl")
    with open(log, "w") as f:
        f.write('{"k": 1, "v": 10, "src": "a", "extra": true}\n')
        f.write("this is not json\n")
        f.write("[1, 2, 3]\n")
        f.write('{"k": "4", "v": 40}\n')
        f.write('{"k": 2}\n')
    got = _run_stream(
        spark, log, str(tmp_path / "ckpt"), str(tmp_path / "out"), mode="permissive"
    )
    rows = {r.k: r for r in got.collect()}
    assert set(rows) == {1, 2}
    assert rows[2].v is None and rows[2].src is None


def test_changelog_strict_raises_on_malformed(spark, tmp_path):
    register_kv_source(spark)
    log = str(tmp_path / "log.jsonl")
    with open(log, "w") as f:
        f.write("not json\n")
    with pytest.raises(Exception):
        _run_stream(spark, log, str(tmp_path / "ck"), None, sink="noop")


def test_changelog_permissive_skips_type_mismatched_fields(tmp_path):
    """The permissive contract covers TYPE-mismatched records, not just
    syntactically malformed JSON: a valid JSON line whose field Arrow
    cannot convert to the declared type is skipped, and boolean fields
    accept only JSON booleans. Unit-level, no SparkSession."""
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("flag", BooleanType())]
    )
    log = tmp_path / "log.jsonl"
    log.write_text(
        "\n".join(
            [
                '{"k": 1, "flag": true}',
                '{"k": [1], "flag": true}',
                '{"k": "x", "flag": true}',
                '{"k": 2, "flag": "false"}',  # non-bool JSON for boolean
                '{"k": 3, "flag": null}',  # NULL passes through
                '{"k": 4}',  # missing field -> NULL
            ]
        )
        + "\n"
    )
    perm = KVSnapshotStreamReader(schema, {"path": str(log), "mode": "permissive"})
    end = perm.latestOffset()
    assert _stream_rows(perm, perm.initialOffset(), end) == [(1, True), (3, None), (4, None)]

    for bad in ('{"k": [1]}', '{"k": "x"}', '{"k": 6, "flag": "false"}'):
        log.write_text(bad + "\n")
        strict = KVSnapshotStreamReader(schema, {"path": str(log)})
        with pytest.raises((ValueError, TypeError)):
            _stream_rows(strict, strict.initialOffset(), strict.latestOffset())


def test_segmented_changelog_parallel_incremental_restart(spark, tmp_path):
    """A directory of segments: run 1 consumes three segments; between
    runs one segment grows, one gains a truncated tail, and a brand-new
    segment appears — run 2 (same checkpoint) consumes ONLY the advanced
    byte ranges, per segment."""
    logdir = tmp_path / "segs"
    logdir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for s in range(3):
        _append(str(logdir / f"seg-{s}.jsonl"), [
            {"k": s * 100 + i, "v": i, "src": f"s{s}"} for i in range(5)
        ])
    register_kv_source(spark)
    got = _run_stream(spark, str(logdir), ckpt, out)
    assert got.count() == 15
    # segment 0 grows; segment 1 gains a HALF-WRITTEN tail (must not be
    # consumed); segment 3 is new
    _append(str(logdir / "seg-0.jsonl"), [{"k": 900, "v": 9, "src": "s0"}])
    with open(logdir / "seg-1.jsonl", "a") as f:
        f.write('{"k": 901, "v":')
    _append(str(logdir / "seg-3.jsonl"), [{"k": 300 + i, "v": i, "src": "s3"} for i in range(2)])
    got2 = _run_stream(spark, str(logdir), ckpt, out)
    assert got2.count() == 15 + 1 + 2  # nothing re-read, tail not consumed
    ks = {r.k for r in got2.collect()}
    assert 900 in ks and 901 not in ks and {300, 301} <= ks
    # run 3: the tail record completes -> exactly one more row
    with open(logdir / "seg-1.jsonl", "a") as f:
        f.write(' 11, "src": "s1"}\n')
    got3 = _run_stream(spark, str(logdir), ckpt, out)
    assert got3.count() == 19
    assert {r.v for r in got3.collect() if r.k == 901} == {11}


def test_segmented_changelog_plans_one_partition_per_advancing_segment(tmp_path):
    """partitions(start, end) unit contract: one byte-range partition per
    file with new bytes, starting where the last offset stopped; new
    files start at 0; quiescent files plan nothing. A single-file path is
    a one-entry frontier map over that file."""
    rdr = KVSnapshotStreamReader(_schema(), {"path": "/nowhere"})
    start = {"files": {"a.jsonl": 100, "b.jsonl": 50}}
    end = {"files": {"a.jsonl": 180, "b.jsonl": 50, "c.jsonl": 30}}
    parts = rdr.partitions(start, end)
    got = {(p.path, p.start, p.end) for p in parts}
    assert got == {("/nowhere/a.jsonl", 100, 180), ("/nowhere/c.jsonl", 0, 30)}
    # nothing advanced -> a single empty placeholder partition
    idle = rdr.partitions(end, end)
    assert len(idle) == 1 and idle[0].end == idle[0].start

    log = tmp_path / "log.jsonl"
    log.write_text('{"event_id": 1}\n{"event_id": 2')
    one = KVSnapshotStreamReader(_schema(), {"path": str(log)})
    end = one.latestOffset()
    assert end == {"files": {"log.jsonl": len('{"event_id": 1}\n')}}
    [part] = one.partitions(one.initialOffset(), end)
    assert (part.path, part.start) == (str(log), 0)


def test_segmented_changelog_last_newline_frontier(tmp_path):
    """_last_newline_end: consumable frontier is just past the last
    newline, 0 for newline-less content, and exact across the backward
    chunk boundary (content larger than one 64 KiB scan chunk)."""
    p = tmp_path / "seg.jsonl"
    p.write_bytes(b"")
    assert _last_newline_end(str(p)) == 0
    p.write_bytes(b'{"k": 1}')  # no newline yet
    assert _last_newline_end(str(p)) == 0
    p.write_bytes(b'{"k": 1}\n{"k": 2}\n{"k": 3')
    assert _last_newline_end(str(p)) == len(b'{"k": 1}\n{"k": 2}\n')
    big = b"x" * (1 << 17)  # 128 KiB of newline-less tail after one record
    p.write_bytes(b'{"k": 1}\n' + big)
    assert _last_newline_end(str(p)) == len(b'{"k": 1}\n')


def test_segmented_changelog_raises_on_frontier_regression():
    """A committed offset past the current frontier (file truncated or
    replaced) or a committed file that vanished is DATA LOSS under the
    append-only contract — partitions() must raise, not silently skip
    the file."""
    rdr = KVSnapshotStreamReader(_schema(), {"path": "/nowhere"})
    committed = {"files": {"a.jsonl": 100, "b.jsonl": 50}}
    truncated = {"files": {"a.jsonl": 40, "b.jsonl": 50}}
    with pytest.raises(RuntimeError, match="append-only"):
        rdr.partitions(committed, truncated)
    vanished = {"files": {"b.jsonl": 50}}
    with pytest.raises(RuntimeError, match="append-only"):
        rdr.partitions(committed, vanished)
    # equal frontier (no advance) is quiescence, not regression
    idle = rdr.partitions(committed, committed)
    assert len(idle) == 1 and idle[0].end == idle[0].start
