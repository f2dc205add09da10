"""Timestamp normalization (reference op F2).

The reference's ``_ts_to_int`` cascade (reference dynamo_fetcher.py:205-279,
re-implemented at main.py:177-217) converts heterogeneous timestamp
representations to epoch seconds:

1. int/float/Decimal → truncate toward zero
2. numeric string → float; the >1e12 ms-heuristic divides by 1000
3. ISO-8601 string (``Z`` → ``+00:00``; naive assumed UTC)
4. `` EST``/`` EDT`` suffix → strict ``%Y-%m-%d[T ]%H:%M:%S`` parse at a
   fixed -5/-4 offset; a malformed EST/EDT string returns NULL (it does
   NOT fall through)
5. anything else → NULL

Here the whole cascade is a single JVM-side column expression (no UDF):
whole-stage codegen keeps it in the scan stage, so at 100 TB it rides along
with the parquet read instead of forcing a Python exchange.

Naive wall times (the ISO branch without a zone designator, and the
EST/EDT base) parse as ``TIMESTAMP_NTZ``, which ``unix_timestamp`` reads as
UTC, so the result is the same in every session time zone.

The canonical timestamp-attribute name set is shared with the watermark
logic exactly as the reference shares ``TIMESTAMP_KEYS`` between fetch and
watermark call sites (reference dynamo_fetcher.py:57-84, main.py:180-182).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical event-time attribute names (reference dynamo_fetcher.py:65-84).
TIMESTAMP_KEYS: tuple[str, ...] = (
    "timestamp",
    "ts",
    "time",
    "date",
    "datetime",
    "created",
    "created_at",
    "createdat",
    "published",
    "published_at",
    "publishedat",
    "pub_date",
    "est_timestamp",
)


def _utc_wall(s: Column) -> Column:
    """Epoch seconds of a naive wall-time string read as UTC (NULL when it
    does not parse), independent of the session time zone."""
    return F.unix_timestamp(s.try_cast("timestamp_ntz"))


def normalize_ts(col: Column) -> Column:
    """Epoch-seconds (bigint) from any supported representation, else NULL."""
    s = F.trim(col.cast("string"))

    # Branch 1+2: numeric (covers int/float/Decimal inputs and numeric
    # strings). double→long via try_cast: truncates toward zero like Python
    # int(), but NaN/±Infinity/beyond-long values become NULL instead of
    # throwing under ANSI mode (Spark 4 default) — a single "inf" row must
    # never kill a 100 TB scan. (Deviation from the reference, which would
    # propagate Python's unbounded int for absurd magnitudes.)
    num = s.try_cast("double")
    sec_num = F.when(num > 1e12, num / F.lit(1000.0)).otherwise(num).try_cast("long")

    # Branch 4 (checked before generic ISO so Spark's own zone-name parsing
    # never sees the EST/EDT suffix): strict seconds-precision parse at a
    # fixed offset. NULL (not fall-through) on malformed input, matching the
    # reference's early return.
    is_eastern = s.rlike(r" E[SD]T$")
    base = F.trim(F.regexp_replace(s, r" E[SD]T$", ""))
    naive_eastern = F.when(base.rlike(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}$"), base)
    offset_s = F.when(s.rlike(r" EST$"), F.lit(5 * 3600)).otherwise(F.lit(4 * 3600))
    sec_eastern = (_utc_wall(naive_eastern) + offset_s).cast("long")

    # Branch 3: ISO-8601. A string with a zone designator keeps the
    # zone-aware parse (trailing Z normalized to an explicit offset); a
    # naive one is read as UTC. Only strings that start with a full date:
    # Spark would complete a bare time with today's date and a year-month
    # with day 1, where the reference's fromisoformat rejects both.
    zoned = F.unix_timestamp(F.try_to_timestamp(F.regexp_replace(s, r"Z$", "+00:00")))
    sec_iso = (
        F.when(s.rlike(r"^\d{4}-\d{2}-\d{2}([T ][\d:.]*)?$"), _utc_wall(s))
        .when(s.rlike(r"^\d{4}-\d{2}-\d{2}"), zoned)
        .cast("long")
    )

    return (
        F.when(num.isNotNull(), sec_num)
        .when(is_eastern, sec_eastern)
        .otherwise(sec_iso)
    )


def discover_event_ts(df, keys: tuple[str, ...] = TIMESTAMP_KEYS) -> Column:
    """First convertible timestamp among the canonical attribute names,
    case-insensitively (reference dynamo_fetcher.py:300-309: iterate item
    keys, first ``_ts_to_int`` success wins).

    Columnar translation: coalesce of ``normalize_ts`` over the present
    candidates in canonical order.
    """
    lower = {}
    for c in df.columns:
        lower.setdefault(c.lower(), c)
    parts = [normalize_ts(F.col(lower[k])) for k in keys if k in lower]
    if not parts:
        return F.lit(None).cast("bigint")
    return F.coalesce(*parts)
