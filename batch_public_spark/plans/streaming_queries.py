"""Declared queries for the Structured Streaming surface.

Every query here runs a REAL stream (file source over events.parquet,
Trigger.AvailableNow, memory sink) and returns the sink as a batch
DataFrame, so the oracle compares end-to-end streaming results against
batch SQL over the same rows.

Output-mode discipline: windowed aggregations run in ``complete`` mode —
on a finite stream the watermark stops at max(ts) − delay, so ``append``
would permanently hold back every trailing window; ``complete`` emits the
full converged aggregate, which is exactly what the batch oracle computes.
Dedup emits rows immediately (state, not results, is what the watermark
TTLs) so it runs in ``append``; the custom stateful op emits per-batch in
``update`` mode (single availableNow batch ⇒ final state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_public_spark.plans.registry import query
from batch_public_spark.streaming import (
    dedup_within_watermark,
    interval_join_pairs,
    read_events_stream,
    run_available_now,
    running_max_per_key,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

_VAL = 'CAST(ROUND(SUM(CAST("value" AS DECIMAL(18,4))), 2) AS DOUBLE)'


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
           event_type,
           COUNT(*) AS n_events, {_VAL} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, executed as a real stream.
    Window starts are emitted as formatted date strings (the registry's
    never-return-raw-timestamps rule: DuckDB's day-grain date_trunc yields
    DATE while Spark's window.start is TIMESTAMP — the r9 native-value
    comparator caught the pandas-masked type drift)."""
    s = tumbling_counts(read_events_stream(spark, sf_dir), window="1 day", watermark="1 day")
    out = run_available_now(s, output_mode="complete")
    return out.withColumn(
        "window_start", F.date_format("window_start", "yyyy-MM-dd")
    )


@query(
    "stream_sliding_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '12 hours', ts) - k * INTERVAL '12 hours' AS window_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) AS probes(k)
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day window / 12 h slide): every event lands in
    exactly window/slide = 2 windows — the oracle replays that membership
    with an explicit 2-way unnest."""
    s = sliding_counts(
        read_events_stream(spark, sf_dir), window="1 day", slide="12 hours", watermark="1 day"
    )
    return run_available_now(s, output_mode="complete")


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '12 hours' THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM o)
    SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL '12 hours' AS session_end,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (12 h inactivity gap); the oracle
    is the classic gaps-and-islands rewrite (session end = last event +
    gap, matching session_window semantics)."""
    s = session_counts(read_events_stream(spark, sf_dir), gap="12 hours", watermark="1 day")
    return run_available_now(s, output_mode="complete")


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type) — streaming
    keyed dedup with TTL'd state (reference D1 under continuous arrival).
    Only key columns are returned: the surviving row per key is
    arrival-order dependent, the key set is not."""
    s = dedup_within_watermark(
        read_events_stream(spark, sf_dir), ["user_id", "event_type"], watermark="1 day"
    ).select("user_id", "event_type")
    return run_available_now(s, output_mode="append")


@query(
    "stream_stateful_running_max",
    oracle="""
    SELECT user_id, MAX("value") AS max_value, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    max + count. One availableNow batch ⇒ the emitted update equals the
    final converged state, which the batch oracle reproduces."""
    s = running_max_per_key(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="update")


@query(
    "stream_static_enrich",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events, {_VAL} AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    dimension (customer, on user_id = c_custkey), then aggregate by
    segment × type.

    The static side is re-read per micro-batch by Spark and joins as a
    BROADCAST hash join against each batch — no stream-side shuffle for
    the join, no state (stream-static inner joins are stateless by
    definition); only the downstream aggregate keeps state. This is the
    canonical "enrich events with a dimension table" production shape.
    """
    from batch_public_spark.sources.tables import load_table

    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(F.broadcast(cust), events.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join (click → view within 1 h per user), both
    sides watermarked, executed as a real stream. The interval condition
    bounds the join state (a buffered click is dropped once the view-side
    watermark passes click.ts + 1 h); inner joins emit pairs in append
    mode with no held-back tail on a finite stream. The oracle is the
    identical batch interval join."""
    s = interval_join_pairs(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="append")


@query(
    "stream_stream_leftouter",
    oracle="""
    WITH wm AS (
      -- the final global watermark: MIN over both branches' watermark
      -- nodes, each = ms-truncated max event time of ITS branch − delay
      SELECT least(
        (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'click'),
        (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'view')
      ) - 3600000 AS w_ms
    )
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT a.user_id, a.event_id AS click_id, CAST(-1 AS BIGINT) AS view_id
    FROM events a, wm
    WHERE a.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'view'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
      AND epoch_us(a.ts) + 3600000000 < wm.w_ms * 1000
    """,
)
def stream_stream_leftouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM LEFT OUTER interval join (click → view within 1 h per
    user): clicks that found a view emit pairs on arrival like the inner
    join; clicks that never will emit (click, NULL) — but only at state
    eviction, once the global watermark proves no future view can match.
    This is the semantics gap the outer variant adds over
    stream_stream_join: the null-extended result is WATERMARK-DRIVEN, not
    data-driven, so the oracle must model the watermark, not just the
    join.

    The oracle reproduces Spark's exact emission rule (pinned empirically,
    off-by-zero at sf0.01: 30 matched + 1974 null rows): the final global
    watermark is the MIN over the two watermark nodes — each branch
    tracks the ms-truncated max event time of ITS OWN filtered stream
    minus the 1 h delay (clicks and views stop at different times, so
    this differs from max(ts) − delay by 19 min at sf0.01) — and an
    unmatched click emits iff click.ts + 1 h < that watermark, strict.
    Trailing unmatched clicks inside the horizon are withheld on a finite
    stream: deterministic, and exactly what a production restart would
    emit first.

    Scale: identical state bound to the inner variant (the interval
    condition lets both buffers evict at the watermark); the outer rows
    add no state, only an emit-on-evict flag per buffered left row."""
    s = interval_join_pairs(
        read_events_stream(spark, sf_dir), watermark="1 hour", how="left_outer"
    )
    out = run_available_now(s, output_mode="append")
    # NULL-extended ids encode as -1: a nullable BIGINT column round-trips
    # through the driver's pandas compare as float NaN (hash poison);
    # -1 is outside the event_id domain and stays integer in both engines.
    return out.select(
        "user_id",
        "click_id",
        F.coalesce("view_id", F.lit(-1)).cast("bigint").alias("view_id"),
    )


@query(
    "stream_chained_agg",
    oracle="""
    WITH wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS w_ms FROM events),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT date_trunc('day', h) AS d, event_type,
             CAST(max(n) AS BIGINT) AS max_hourly,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM hourly GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
           max_hourly, n_hours, n_events
    FROM daily, wm
    WHERE epoch_ms(d + INTERVAL 1 DAY) <= wm.w_ms
    """,
)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming aggregations — two stateful operators in one
    query (Spark 3.4+ surface): hourly tumbling counts per event_type
    feed a second streaming aggregation that rolls them up to per-day
    peak-hour / hours-seen / total. This is the streaming form of the
    hierarchical rollup every metrics pipeline runs (1 m → 1 h → 1 d);
    before multi-stateful-operator support it required two queries and
    an intermediate sink.

    Chaining forces APPEND mode (complete is not supported upstream of a
    second stateful operator), so unlike the complete-mode stream_*
    windowed aggs the tail is watermark-withheld: an hour finalizes when
    the watermark (ms-truncated max ts − 1 h) passes its end, a day
    finalizes when it passes the day's end — at sf0.01 exactly the last
    in-progress day is withheld (29 × 5 rows emit). The oracle models the
    cutoff explicitly: days with day_end ≤ final watermark. Hours with
    zero events produce no row, so n_hours counts OBSERVED hours —
    identical in the batch rollup.

    Scale: state is one row per open (hour, type) plus one per open
    (day, type) — bounded by the watermark horizon, independent of
    throughput; both aggs are map-side combinable."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    daily = hourly.groupBy(
        F.window(F.col("w"), "1 day").alias("d"), "event_type"
    ).agg(
        F.max("n").cast("bigint").alias("max_hourly"),
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    out = daily.select(
        F.date_format(F.col("d.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "max_hourly",
        "n_hours",
        "n_events",
    )
    return run_available_now(out, output_mode="append")


@query(
    "stream_stream_fullouter",
    oracle="""
    WITH wm AS (
      SELECT least(
        (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'click'),
        (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'view')
      ) - 3600000 AS w_ms
    )
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT a.user_id, a.event_id AS click_id, CAST(-1 AS BIGINT) AS view_id
    FROM events a, wm
    WHERE a.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'view'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
      AND epoch_us(a.ts) + 3600000000 < wm.w_ms * 1000
    UNION ALL
    SELECT b.user_id, CAST(-1 AS BIGINT) AS click_id, b.event_id AS view_id
    FROM events b, wm
    WHERE b.event_type = 'view'
      AND NOT EXISTS (
        SELECT 1 FROM events a
        WHERE a.user_id = b.user_id AND a.event_type = 'click'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
      AND epoch_us(b.ts) < wm.w_ms * 1000
    """,
)
def stream_stream_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM FULL OUTER interval join — the third join type in
    the family (inner: stream_stream_join; left: stream_stream_leftouter).
    Both null-extension rules are watermark-driven and ASYMMETRIC, which
    is exactly what the oracle pins: an unmatched CLICK can still match
    future views until the watermark passes click.ts + 1 h (its band
    extends forward), so it emits iff click.ts + 1 h < wm — but an
    unmatched VIEW only matches clicks with click.ts ∈ [view.ts − 1 h,
    view.ts], all at or before its own timestamp, so it evicts (and
    emits) as soon as the watermark passes view.ts itself, strict. Both
    cutoffs verified off-by-zero at sf0.01 (30 matched + 1974 null-view
    + 1946 null-click) and sf0.001. The global watermark is the MIN over
    the two branch watermark nodes, each the ms-truncated max event time
    of its own filtered stream minus the 1 h delay.

    Scale: the same interval-bounded state as the inner join on both
    buffers; outer emission adds no state, only an emit-on-evict flag
    per buffered row on each side. NULL-extended ids encode as -1
    (outside the event_id domain) so the nullable BIGINT never becomes
    pandas NaN in the driver compare."""
    s = interval_join_pairs(
        read_events_stream(spark, sf_dir), watermark="1 hour", how="full_outer"
    )
    out = run_available_now(s, output_mode="append")
    return out.select(
        "user_id",
        F.coalesce("click_id", F.lit(-1)).cast("bigint").alias("click_id"),
        F.coalesce("view_id", F.lit(-1)).cast("bigint").alias("view_id"),
    )


@query(
    "stream_stream_leftsemi",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id
    FROM events a
    WHERE a.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'view'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
    """,
)
def stream_stream_leftsemi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM LEFT SEMI interval join: clicks that were followed by
    a view within 1 h by the same user, emitted ONCE regardless of how
    many views matched — the streaming "did X happen after Y" detector
    (conversion flags, fraud triggers, alert arming) where the inner
    join's pair multiplicity is noise and the outer join's null tail is
    irrelevant. Completes the stream-stream join matrix: inner (pairs),
    left/full outer (watermark-driven null emission), semi (existence).

    Emission semantics (pinned empirically, off-by-zero at both smoke
    SFs): a semi-joined left row emits as soon as its FIRST match
    arrives — unlike the OUTER variants there is no watermark-held tail
    for matched rows, so on a finite stream the batch oracle is a plain
    EXISTS with no watermark cutoff. Deduplication against later matches
    is the operator's own state bookkeeping, not a DISTINCT downstream.

    Scale: the same watermark+interval condition bounds both buffers
    (state is O(events within the band)); the left buffer additionally
    clears each row at first match instead of waiting for eviction, so
    semi state is at most the inner join's."""
    s = interval_join_pairs(
        read_events_stream(spark, sf_dir), watermark="1 hour", how="left_semi"
    )
    return run_available_now(s, output_mode="append")


def _changelog_line() -> Column:
    """A documents row as one kvsnapshot JSONL record: ``{k: doc_id,
    v: n_chars, src: source}`` in the ``value`` column."""
    return F.to_json(
        F.struct(
            F.col("doc_id").alias("k"),
            F.col("n_chars").alias("v"),
            F.col("source").alias("src"),
        )
    ).alias("value")


def _tail_counts(spark: SparkSession, path: str) -> DataFrame:
    """Tail the changelog at ``path`` (one file or a directory of
    segments) through ``readStream.format("kvsnapshot")`` and run the
    per-source count and n_chars sum to completion."""
    from batch_public_spark.sources.kvscan import register_kv_source

    register_kv_source(spark)
    stream = (
        spark.readStream.format("kvsnapshot")
        .schema("k bigint, v bigint, src string")
        .option("path", path)
        .load()
        .groupBy("src")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sum_chars"),
        )
    )
    return run_available_now(stream, output_mode="complete")


@query(
    "stream_changelog_tail_agg",
    oracle="""
    SELECT source AS src,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
    """,
)
def stream_changelog_tail_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STREAMING SOURCE round-trip (sources/kvscan.py): the
    documents table is materialized as one append-only JSONL changelog
    file, tailed back through ``readStream.format("kvsnapshot")`` — the
    Spark 4 Python streaming Data Source API, byte-frontier incremental,
    the streaming face of the reference's high-water-mark pull (reference
    batch/state.py watermark store + main.py look-back; the batch face is
    source_kvscan_segmented) — and aggregated per source (_tail_counts,
    shared with the segmented twin). The oracle
    aggregates the ORIGINAL parquet, so the JSON encode, the offset-bounded
    streaming read, and the stateful aggregation are all value-hashed.

    Incremental semantics (run 2 reads ONLY appended bytes, truncated
    tails are never consumed early, checkpoint restart) are pinned in
    tests/test_kvscan.py; this query hashes the single-pass contents. A
    single file is a one-entry frontier map: each micro-batch reads its
    advanced byte range as one executor partition (the directory form is
    stream_changelog_segmented_agg)."""
    import glob
    import os

    from batch_public_spark.sources.tables import load_table as t
    from batch_public_spark.sources.tables import scratch_dir

    out_dir = scratch_dir(spark, sf_dir, "changelog")
    # Deterministic changelog: one JSON line per doc. coalesce(1) is
    # changelog-construction scaffolding (a changelog IS a single
    # append-ordered file); production tails a log it didn't write.
    (
        t(spark, sf_dir, "documents")
        .select(_changelog_line())
        .coalesce(1)
        .write.mode("overwrite")
        .text(out_dir)
    )
    log = glob.glob(os.path.join(out_dir, "part-*"))[0]
    return _tail_counts(spark, log)


@query(
    "stream_changelog_segmented_agg",
    oracle="""
    SELECT source AS src,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
    """,
)
def stream_changelog_segmented_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED changelog streaming round-trip — the corpus-scale twin of
    stream_changelog_tail_agg: the documents table is materialized as a
    DIRECTORY of append-only JSONL segments (4 here; one per log shard at
    scale) and tailed back by _tail_counts (sources/kvscan.py
    :class:`KVSnapshotStreamReader`): per-file byte
    frontiers as the stream offset, one EXECUTOR-read input partition per
    advancing segment per micro-batch, so ingest parallelism scales with
    segment count instead of funneling through the driver. The oracle
    aggregates the ORIGINAL parquet, so segment planning, the byte-range
    executor reads, the shared JSONL record contract, and the stateful
    aggregation are all value-hashed.

    Multi-segment incremental semantics (only advanced byte ranges are
    re-read across restarts, truncated tails are never consumed, new
    segments join the frontier at 0) are pinned in tests/test_kvscan.py;
    this query hashes the single-pass contents."""
    import glob
    import os

    from batch_public_spark.sources.tables import load_table as t
    from batch_public_spark.sources.tables import scratch_dir

    out_dir = scratch_dir(spark, sf_dir, "changelog_segs")
    # Deterministic segmented changelog: 4 append-ordered shards, sharded
    # by a stable key hash (repartition would round-robin rows
    # nondeterministically across runs; the CONTENTS per segment don't
    # affect the hashed result, but determinism keeps reruns byte-stable).
    (
        t(spark, sf_dir, "documents")
        .select(
            _changelog_line(),
            F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("shard"),
        )
        .repartition(4, "shard")
        .drop("shard")
        .write.mode("overwrite")
        .text(out_dir)
    )
    assert glob.glob(os.path.join(out_dir, "part-*")), out_dir
    return _tail_counts(spark, out_dir)
