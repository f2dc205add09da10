"""Structured Streaming surface.

Reference parity: the reference's streaming story is a cron micro-batch
with a persisted high-water-mark (reference main.py:168-225, F3 in SURVEY
§2a) that silently drops late rows (ts ≤ last_ts, main.py:219) — exactly
Spark's watermark late-data policy. Here that becomes first-class
Structured Streaming:

- ``read_events_stream`` — file-source stream over the events parquet
  (schema-declared; ``maxFilesPerTrigger`` splits micro-batches in tests).
- tumbling / sliding / session windows with ``withWatermark``.
- ``dedup_within_watermark`` — ``dropDuplicatesWithinWatermark`` subsumes
  the reference's keyed dedup (D1) under streaming state TTL.
- ``running_max_per_key`` — custom stateful op via
  ``applyInPandasWithState`` (GroupState), the Python arbitrary-state path.
- ``run_available_now`` — executes any stream with Trigger.AvailableNow
  into a memory sink and returns the result as a batch DataFrame: the
  reference's cron cadence (submit, exit, resume from checkpoint ≈ X4
  idempotent recovery) expressed as checkpointed availableNow runs.

Scale notes: windowed aggs shuffle on (key, window) — state store size is
bounded by watermark TTL, not history; session windows merge map-side
(``spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition``);
file-source listing is incremental. At 100 TB the same plans run against a
Kafka/Kinesis source with identical semantics.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

# Schema memo for the footer probe below: {session → {abs path → schema}}.
# Weak keys so entries die with their session (the load_table pattern);
# holds StructTypes only — no plans, no data.
_SCHEMA_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of the events table (file source).

    Normalizes ``ts`` to session-zone TimestampType exactly like the batch
    loader (sources.tables.load_table), whatever the file's physical type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Footer-only batch probe: file streams cannot infer schemas, and the
    # physical ts type differs across testdata generations. Memoized per
    # (session, path) — the probe costs ~100 ms of datasource resolution
    # per call otherwise, paid by every streaming query construction.
    path = os.path.join(sf_dir, "events.parquet")
    per = _SCHEMA_CACHE.setdefault(spark, {})
    probed = per.get(os.path.abspath(path))
    if probed is None:
        probed = spark.read.parquet(path).schema
        per[os.path.abspath(path)] = probed
    # The file stream source requires a directory: stream the sf dir with a
    # glob filter rather than the single events.parquet file.
    reader = spark.readStream.schema(probed).option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    ts_type = probed["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # epoch-nanos long; integer `div`, NOT `/`: float division loses the
        # last microsecond (~1.7e18 overflows double's 53-bit mantissa)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif not isinstance(ts_type, T.TimestampType):
        # TIMESTAMP_NTZ wall time interpreted as UTC, independent of the
        # caller's session timezone (sources.tables._NTZ_AS_UTC).
        from batch_public_spark.sources.tables import _NTZ_AS_UTC

        df = df.withColumn("ts", F.expr(_NTZ_AS_UTC))
    return df


def tumbling_counts(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window per-type counts/sums. Late rows beyond the watermark are
    dropped — the reference's ts ≤ last_ts policy (main.py:219)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts: each event lands in window/slide overlapping
    windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame, *, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based): sessions close after ``gap`` of
    inactivity; state merges map-side before the shuffle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming keyed dedup with state TTL'd by the watermark — the D1
    dedup under continuous arrival (state never grows unboundedly, unlike
    a global dropDuplicates)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_max_per_key(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running max(value) + event count
    via applyInPandasWithState (GroupState). Emits the state per key per
    micro-batch; with AvailableNow + one batch this is the final per-key
    aggregate. Keeps state to two scalars per key — bounded, TTL-able."""
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("max_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        mx, n = (state.get if state.exists else (float("-inf"), 0))
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_pairs(
    events: DataFrame, *, watermark: str = "1 day", how: str = "inner"
) -> DataFrame:
    """Stream-STREAM join: (click, view) event pairs for the same user
    with view.ts in [click.ts, click.ts + 1 hour].

    ONE events stream is self-joined: the event-type filters split it
    into the click and view sides, so each micro-batch scans the events
    files once (two stream sources would scan them twice for identical
    rows).

    Both sides carry watermarks and the join condition carries the time
    band — that pair is what lets Spark BOUND the join state: a buffered
    click is droppable once the view watermark passes click.ts + 1 hour,
    so state is O(events within the band), not O(history). An inner
    stream-stream join emits pairs in append mode as soon as both sides
    arrive; there is no held-back tail on a finite stream.

    ``how="left_outer"`` additionally emits (click, NULL) for unmatched
    clicks — but only at STATE EVICTION: a null-extended row appears
    once no future view can match, i.e. once the global watermark (the
    MIN over both branches' per-column watermarks, each ms-truncated max
    event time − delay) passes click.ts + 1 hour. On a finite stream the
    trailing clicks inside that horizon are withheld — deterministic,
    and mirrored by the batch oracle's watermark cutoff
    (plans/streaming_queries.py::stream_stream_leftouter).

    At 100 TB the state bound is the whole story — without the interval
    condition Spark must buffer both streams forever (it rejects the
    plan for append mode without a watermark+range)."""
    # Normalize `how` up front: Spark itself accepts aliases ("fullouter",
    # "full", "outer", ...), so an unnormalized string would silently pick
    # the wrong user-key branch below — e.g. how="fullouter" would join
    # full-outer but skip the coalesce, yielding NULL user_id on
    # right-only rows. Whitelist the supported shapes and refuse the rest
    # (right_outer would need a mirrored coalesce nobody exercises).
    norm = how.lower().replace("_", "")
    if norm == "inner":
        how = "inner"
    elif norm in ("leftouter", "left"):
        how = "left_outer"
    elif norm in ("fullouter", "full", "outer"):
        how = "full_outer"
    elif norm in ("leftsemi", "semi"):
        how = "left_semi"
    else:
        raise ValueError(
            f"interval_join_pairs: unsupported how={how!r}; "
            "use inner, left_outer, full_outer, or left_semi"
        )
    lt = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id").alias("left_user"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    rt = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("right_user"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    joined = lt.join(
        rt,
        (F.col("left_user") == F.col("right_user"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 1 hour")),
        how,
    )
    # A semi join keeps only the left side's columns — no view_id exists.
    if how == "left_semi":
        return joined.select(
            F.col("left_user").alias("user_id"),
            F.col("left_id").alias("click_id"),
        )
    # Under full_outer the left_user is NULL on right-only rows (and vice
    # versa) — the user key must coalesce across sides. `how` is
    # normalized above, so the literal compare is exhaustive.
    user = (
        F.coalesce(F.col("left_user"), F.col("right_user"))
        if how == "full_outer"
        else F.col("left_user")
    )
    return joined.select(
        user.alias("user_id"),
        F.col("left_id").alias("click_id"),
        F.col("right_id").alias("view_id"),
    )


# Shuffle partitions every stream runs with, pinned while the query STARTS
# (the value is snapshotted into the query and its checkpoint). Every
# stateful operator materializes one state-store instance per shuffle
# partition PER micro-batch, a fixed per-partition overhead (store
# open/commit/snapshot) that dwarfs the data at availableNow scale. The
# session's batch tuning is restored right after start. On a real cluster
# the right value instead scales with state size (state must fit
# per-executor memory); partition count never changes results, only where
# state lives.
_STREAM_SHUFFLE_PARTITIONS = 8


@contextlib.contextmanager
def _checkpoint(checkpoint_dir: str | None):
    """The caller's checkpoint directory, or a temporary one that is
    removed when the run ends (a caller without a directory cannot resume,
    so nothing in it outlives the run)."""
    if checkpoint_dir:
        yield checkpoint_dir
        return
    with tempfile.TemporaryDirectory(prefix="bps_ckpt_", ignore_cleanup_errors=True) as d:
        yield d


def _run_to_completion(writer: DataStreamWriter, spark: SparkSession, timeout_s: int) -> None:
    """Start ``writer`` with Trigger.AvailableNow and wait for it to finish.

    Raises ``TimeoutError`` if the run does not finish within ``timeout_s``
    — returning a partial sink as if complete would silently truncate."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_STREAM_SHUFFLE_PARTITIONS))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, prev)
    try:
        if not q.awaitTermination(timeout_s):  # pragma: no cover — pathological slowness
            raise TimeoutError(f"streaming run exceeded {timeout_s}s; sink is partial")
    finally:
        if q.isActive:  # pragma: no cover — timeout safety net
            q.stop()


def run_incremental(
    stream_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> DataFrame:
    """Cron-cadence incremental run (reference main.py:658-702 + X4): process
    everything new since the checkpoint into a parquet sink, then exit.
    Unlike the memory sink, the file sink is fault-tolerant — re-running with
    the same checkpoint resumes exactly-once from where the last run left
    off (the reference's watermark-ledger incrementality for free).
    Returns the accumulated sink contents."""
    spark = stream_df.sparkSession
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    _run_to_completion(writer, spark, timeout_s)
    return spark.read.parquet(output_dir)


def run_available_now(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow
    into a memory sink; return the sink contents as a batch DataFrame.

    This is the reference's cron cadence (main.py:658-702): process
    everything available, then exit; re-running with the same checkpoint
    resumes incrementally (X4 recovery for free). The sink's temp view is
    dropped once the returned frame is resolved: the frame holds the sink
    itself, so it still reads after the drop and the catalog keeps no
    per-run table."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _checkpoint(checkpoint_dir) as checkpoint:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
        )
        _run_to_completion(writer, spark, timeout_s)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_foreach_batch(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Custom-sink cadence via ``foreachBatch`` + Trigger.AvailableNow:
    each micro-batch arrives as a BATCH DataFrame with its epoch id, so
    arbitrary idempotent sinks (the reference's K4 ledger upsert, a JDBC
    MERGE, a dedup-write) compose with exactly-once checkpointing — the
    epoch id is the idempotency key a sink replays safely after recovery
    (reference main.py:329-335's update-or-insert under cron, made
    transactional).

    Scale note: ``foreachBatch`` hands the sink a distributed DataFrame —
    the sink decides what stays distributed (df.write) vs what gates on
    the driver (ledger row)."""
    with _checkpoint(checkpoint_dir) as checkpoint:
        writer = stream_df.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint
        )
        _run_to_completion(writer, stream_df.sparkSession, timeout_s)
