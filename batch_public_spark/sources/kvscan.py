"""KV-snapshot JSONL data source (Spark 4 Python Data Source API): one
format, ``kvsnapshot``, for snapshot scans and changelog tails.

The reference's primary source is a paginated key-value table scan read
incrementally past a persisted high-water mark (reference
``batch/dynamo_fetcher.py:282-291`` — a sequential ``table.scan`` loop
following ``ExclusiveStartKey`` pages — plus the ``batch/state.py``
watermark store). Its Spark-native re-expression is this source:

* ``spark.read.format("kvsnapshot")`` is **parallel by construction**: the
  snapshot is split into byte-range partitions (DynamoDB's own scale story
  is ``Scan`` with ``Segment``/``TotalSegments`` — one segment per Spark
  task), and the reference's client-side look-back filter becomes **filter
  pushdown** evaluated inside the source.
* ``spark.readStream.format("kvsnapshot")`` tails the same files: the
  stream offset is a per-file byte frontier ``{"files": {name: pos}}``, so
  the "where did the last run stop" bookkeeping the reference hand-rolls
  is Structured Streaming's own checkpointed offset log (exactly-once per
  micro-batch, resumable across restarts).

Both read a directory (or one file) of JSONL records with a flat scalar
schema, through the same pieces: one file lister (:func:`_data_files`;
names starting with ``_`` or ``.`` are skipped, a missing path reads as
empty), one byte-range partition (:class:`RangePartition`), one line
reader (:func:`_read_lines`) and one record decoder
(:meth:`_JsonlDecoder.read`, which yields Arrow batches). Options:

* ``segments`` (batch) — target number of byte-range input partitions
  (line-aligned splits, Hadoop LineRecordReader semantics: a line belongs
  to the split containing the byte before its first byte).
* ``mode`` — ``strict`` (default: a bad record raises) or ``permissive``
  (a bad record is dropped and counted in one warning per partition).

Record contract (one rule for batch and stream). A line must be a JSON
object; its top-level fields are matched by name, missing fields are
NULL, extra fields are ignored. A value is accepted iff Arrow converts it
to the declared type; anything Arrow rejects (including an integer too
large for the column) is a type mismatch. With ``k bigint, v bigint, src
string``:

====================  ===============
line                  result
====================  ===============
``{"k": 4}``          ``k = 4``
``{"k": 1.5}``        ``k = 1``
``{"k": "4"}``        type mismatch
``{"src": 5}``        type mismatch
``{"k": true}``       type mismatch
``{"k": 2**70}``      type mismatch
``not json``          malformed
====================  ===============

Pushed filters (``=``, ``<``, ``<=``, ``>``, ``>=``, ``IS (NOT) NULL`` on
top-level columns) are evaluated on the converted Arrow values, so a batch
read with pushdown returns what a post-scan Spark filter would.

Stream contract: a file's frontier is just past its last newline, so a
half-written tail record is never consumed early; new files join at
offset 0; each micro-batch plans one executor-read partition per file
whose frontier advanced. Files are append-only: a committed file that
shrank or vanished (e.g. a ``kvsnapshot`` overwrite under a running
stream) raises rather than re-ingesting or skipping data.

The writer is a task-commit sink: tasks emit ``_tmp-*`` files, the driver
commit renames them into place (and in ``overwrite`` mode retires prior
parts) — the standard two-phase protocol, and the reason a renamed part
file is visible to the stream only whole. Local/POSIX filesystem only,
same caveat as sources.maintenance.compact_parquet.

100 TB notes: byte-range splitting is what makes a text snapshot
scan-parallel without a pre-shuffle; pushdown keeps the look-back filter
from materializing cold pages into Spark rows. For a *real* remote KV
store the partition planners would emit one partition per store segment
instead of byte ranges — the two ``partitions()`` methods are the only
places that change.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_SCHEMA_DDL = "event_id BIGINT, ts_us BIGINT, event_type STRING, value DOUBLE"


@dataclass
class RangePartition(InputPartition):
    path: str
    start: int
    end: int


# An empty path reads nothing: Spark needs >= 1 partition even when there
# is nothing to read (empty snapshot, no file advanced).
_EMPTY = RangePartition(path="", start=0, end=0)


@dataclass
class KVCommitMessage(WriterCommitMessage):
    tmp_path: str


def _data_files(path: str) -> List[str]:
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return []
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        full = os.path.join(path, name)
        if os.path.isfile(full):
            out.append(full)
    return out


def _plan_ranges(files: Sequence[str], segments: int) -> List[RangePartition]:
    sizes = {f: os.path.getsize(f) for f in files}
    chunk = max(1, -(-sum(sizes.values()) // segments))  # ceil division
    parts: List[RangePartition] = []
    for f in files:
        for start in range(0, sizes[f], chunk):
            parts.append(RangePartition(f, start, min(start + chunk, sizes[f])))
    return parts


def _last_newline_end(path: str) -> int:
    """Byte offset just past the LAST newline in the file — a file's
    stream frontier. Scans backwards in bounded chunks so a multi-GB file
    costs one tail read, not a full scan."""
    size = os.path.getsize(path)
    chunk = 1 << 16
    with open(path, "rb") as f:
        hi = size
        while hi > 0:
            lo = max(0, hi - chunk)
            f.seek(lo)
            buf = f.read(hi - lo)
            cut = buf.rfind(b"\n")
            if cut >= 0:
                return lo + cut + 1
            hi = lo
    return 0


def _read_lines(part: RangePartition) -> Iterator[bytes]:
    """Line-aligned byte-range read: a line belongs to the partition that
    contains the byte immediately preceding its first byte (the first line
    of the file belongs to the partition with start == 0). A range between
    two stream frontiers is therefore read exactly: both ends sit just past
    a newline."""
    with open(part.path, "rb") as f:
        if part.start > 0:
            f.seek(part.start - 1)
            f.readline()  # remainder of a line owned by the previous range
        while f.tell() < part.end:
            line = f.readline()
            if not line:
                break
            yield line


_COMPARISONS = {
    EqualTo: pc.equal,
    GreaterThan: pc.greater,
    GreaterThanOrEqual: pc.greater_equal,
    LessThan: pc.less,
    LessThanOrEqual: pc.less_equal,
}
_PUSHABLE = (*_COMPARISONS, IsNull, IsNotNull)


def _keep_mask(flt: Filter, batch: "pa.RecordBatch") -> "pa.Array":
    """Boolean mask of rows passing one pushed filter. A NULL comparison
    result (NULL operand) is dropped by ``RecordBatch.filter``, matching
    SQL's "comparisons with NULL are never true"."""
    col = batch.column(flt.attribute[0])
    if isinstance(flt, IsNull):
        return pc.is_null(col)
    if isinstance(flt, IsNotNull):
        return pc.is_valid(col)
    return _COMPARISONS[type(flt)](col, flt.value)


# What Arrow raises for a value it cannot convert to the declared type.
_TYPE_MISMATCH = (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError)

_LOG = logging.getLogger(__name__)

# Records per Arrow batch handed to Spark.
_ARROW_BATCH_ROWS = 4096


class _JsonlDecoder:
    """The record decoder shared by the batch and stream readers: reads one
    :class:`RangePartition` and yields ``pyarrow.RecordBatch`` chunks.

    Arrow batches skip the per-row pickle round-trip between the Python
    worker and the JVM (one columnar buffer per ~``_ARROW_BATCH_ROWS``
    records instead of one serialized tuple per record). JSON parsing
    stays per-line; type conversion and pushed filters run per batch.

    Permissive-mode drops must be observable: counters accumulate per
    partition and are flushed as ONE warning line at end-of-read (count +
    first offending sample, truncated). Spark's PERMISSIVE JSON mode
    surfaces offenders via _corrupt_record; a custom scalar source can't
    add a column the user didn't declare, so the executor log is the
    diagnosable channel."""

    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kvsnapshot requires option 'path'")
        self.permissive = options.get("mode", "strict").lower() == "permissive"
        self.spark_schema = schema
        self.pushed: List[Filter] = []
        self.dropped_parse = 0
        self.dropped_type = 0
        self._first_dropped: str | None = None

    def read(self, partition: RangePartition) -> Iterator["pa.RecordBatch"]:
        # One deserialized reader instance may serve several partitions:
        # reset at entry so each warning reports THIS partition's drops.
        self.dropped_parse = 0
        self.dropped_type = 0
        self._first_dropped = None
        if not partition.path or partition.end <= partition.start:
            return
        arrow_schema = to_arrow_schema(self.spark_schema)
        batch: List[dict] = []
        for raw in _read_lines(partition):
            raw = raw.strip()
            if not raw:
                continue
            try:
                rec = json.loads(raw)
                if not isinstance(rec, dict):
                    raise ValueError("record is not a JSON object")
            except ValueError:
                if not self.permissive:
                    raise
                self.dropped_parse += 1
                if self._first_dropped is None:
                    self._first_dropped = raw[:200].decode("utf-8", "replace")
                continue
            batch.append(rec)
            if len(batch) >= _ARROW_BATCH_ROWS:
                yield from self._to_arrow(batch, arrow_schema)
                batch = []
        if batch:
            yield from self._to_arrow(batch, arrow_schema)
        if self.dropped_parse or self.dropped_type:
            _LOG.warning(
                "kvsnapshot permissive mode dropped %d record(s) in %s "
                "[bytes %d-%d]: %d malformed JSON, %d schema-type mismatch; "
                "first offender: %r",
                self.dropped_parse + self.dropped_type,
                partition.path,
                partition.start,
                partition.end,
                self.dropped_parse,
                self.dropped_type,
                self._first_dropped,
            )

    def _to_arrow(
        self, batch: List[dict], arrow_schema: "pa.Schema"
    ) -> Iterator["pa.RecordBatch"]:
        """Convert a buffered batch to one RecordBatch, then apply the
        pushed filters. In permissive mode a failed conversion is retried
        per record so only the offenders are dropped, not the whole
        buffered batch of otherwise-good records."""
        try:
            out = pa.RecordBatch.from_pylist(batch, schema=arrow_schema)
        except _TYPE_MISMATCH:
            if not self.permissive:
                raise
            good: List[dict] = []
            for rec in batch:
                try:
                    pa.RecordBatch.from_pylist([rec], schema=arrow_schema)
                    good.append(rec)
                except _TYPE_MISMATCH:
                    self.dropped_type += 1
                    if self._first_dropped is None:
                        self._first_dropped = repr(rec)[:200]
            out = pa.RecordBatch.from_pylist(good, schema=arrow_schema)
        if self.pushed:
            out = out.filter(
                functools.reduce(pc.and_, (_keep_mask(f, out) for f in self.pushed))
            )
        if out.num_rows:
            yield out


class KVSnapshotReader(_JsonlDecoder, DataSourceReader):
    """Batch scan: byte-range partitions over the snapshot's files, with
    filter pushdown."""

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self.segments = int(options.get("segments", 8))
        if self.segments < 1:
            raise ValueError("segments must be >= 1")

    def pushFilters(self, filters: List[Filter]):  # noqa: N802 (API name)
        for flt in filters:
            if isinstance(flt, _PUSHABLE) and len(flt.attribute) == 1:
                self.pushed.append(flt)  # fully evaluated in read()
            else:
                yield flt  # Spark keeps evaluating it post-scan

    def partitions(self) -> Sequence[InputPartition]:
        return _plan_ranges(_data_files(self.path), self.segments) or [_EMPTY]


class KVSnapshotStreamReader(_JsonlDecoder, DataSourceStreamReader):
    """Stream tail: the offset is ``{"files": {basename: frontier}}`` and
    ``partitions(start, end)`` plans one byte range ``[start, end)`` per
    file whose frontier advanced, read on executors. Replay is exact: a
    partition is a frozen byte range, re-read verbatim on task retry. A
    single-file path is a one-entry frontier map."""

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"files": {}}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        return {
            "files": {
                os.path.basename(p): _last_newline_end(p)
                for p in _data_files(self.path)
            }
        }

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        seen = start["files"]
        frontier = end["files"]
        # A committed file must still exist and its frontier must not move
        # backwards: a truncated, replaced or deleted file is DATA LOSS —
        # surface it instead of silently replanning around it.
        regressed = {
            name: (pos, frontier.get(name))
            for name, pos in seen.items()
            if frontier.get(name, -1) < pos
        }
        if regressed:
            raise RuntimeError(
                "kvsnapshot: append-only contract violated — committed "
                "offsets exceed the current frontier (file truncated, "
                f"replaced or deleted): {regressed}"
            )
        root = os.path.dirname(self.path) if os.path.isfile(self.path) else self.path
        parts = [
            RangePartition(os.path.join(root, name), seen.get(name, 0), pos)
            for name, pos in sorted(frontier.items())
            if pos > seen.get(name, 0)
        ]
        return parts or [_EMPTY]


class KVSnapshotWriter(DataSourceArrowWriter):
    """Arrow-batch task writer: each task receives ``pyarrow.RecordBatch``
    chunks (no per-row pickle between JVM and Python worker; columnar
    transfer like the reader). Encoding stays ``json.dumps`` over
    ``to_pylist`` rows — pandas ``to_json`` would be faster still but
    truncates doubles (default 10-digit precision), and the snapshot
    round-trip is hashed for double/long fidelity."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kvsnapshot requires option 'path'")
        self.overwrite = overwrite
        # Per-write token: committed part names are unique across writes,
        # so append mode can never clobber a previous generation's parts.
        self.token = uuid.uuid4().hex[:12]

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> KVCommitMessage:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.jsonl")
        with open(tmp, "w", encoding="utf-8") as f:
            for batch in iterator:
                f.writelines(
                    json.dumps(rec, ensure_ascii=False) + "\n"
                    for rec in batch.to_pylist()
                )
        return KVCommitMessage(tmp_path=tmp)

    def commit(self, messages) -> None:
        # Two-phase commit: all tasks succeeded; retire old parts (overwrite
        # mode) then promote temp files. Promotion is rename-only, so a
        # failure before this point leaves prior data untouched.
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.startswith("part-") and name.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, name))
        for i, msg in enumerate(messages):
            os.replace(
                msg.tmp_path,
                os.path.join(self.path, f"part-{self.token}-{i:05d}.jsonl"),
            )

    def abort(self, messages) -> None:
        for msg in messages:
            if msg is not None and os.path.exists(msg.tmp_path):
                os.remove(msg.tmp_path)


class KVSnapshotDataSource(DataSource):
    """``format("kvsnapshot")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "kvsnapshot"

    def schema(self) -> str:
        return self.options.get("ddl", DEFAULT_SCHEMA_DDL)

    def reader(self, schema: StructType) -> KVSnapshotReader:
        return KVSnapshotReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> KVSnapshotWriter:
        return KVSnapshotWriter(schema, dict(self.options), overwrite)

    def streamReader(self, schema: StructType) -> KVSnapshotStreamReader:  # noqa: N802
        return KVSnapshotStreamReader(schema, dict(self.options))


def register_kv_source(spark) -> None:
    """Idempotently register the kvsnapshot format on this session.

    Set at runtime (not in session-builder conf) because the round driver
    hands us a vanilla session — same pattern as the parquet-nanos conf in
    sources.tables.load_table."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Re-registration replaces the prior entry (Spark logs a WARN), so this
    # is safe to call once per query; real failures propagate.
    spark.dataSource.register(KVSnapshotDataSource)
