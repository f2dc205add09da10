"""Golden-fixture tests for the expression library (FIXTURES.md §B1/B3).

Expected values are derived from the documented reference semantics
(SURVEY §2a F2/F5/D1/P3/P4) using only stdlib computation — epoch literals
precomputed with datetime in UTC.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from batch_public_spark.functions import (
    dedup_key,
    discover_event_ts,
    extract_text,
    loosen_json,
    loosen_json_py,
    normalize_ts,
    sanitize_tag,
    strip_fences,
)

# (input, expected epoch seconds) — reference dynamo_fetcher.py:205-279.
TS_CASES = [
    ("1715000000", 1715000000),  # epoch-seconds numeric string
    ("1715000000.75", 1715000000),  # fractional → truncate
    ("1715000001234", 1715000001),  # ms heuristic (>1e12)
    ("2025-05-19T21:20:00Z", 1747689600),  # ISO-8601 Z
    ("2025-05-19 21:20:00", 1747689600),  # naive → UTC
    ("2025-05-19T21:20:00+02:00", 1747682400),  # explicit offset
    ("2025-05-19T21:20:00.123456Z", 1747689600),  # fractional ISO
    ("2025-05-19 21:20:00 EST", 1747707600),  # fixed -5 offset
    ("2025-05-19T21:20:00 EDT", 1747704000),  # fixed -4 offset
    ("2025-05-19 21:20:00.123 EST", None),  # malformed EST → NULL, no fallthrough
    ("garbage", None),
    (None, None),
    # no full leading date: fromisoformat rejects these, Spark alone would
    # fill in today's date (bare times) or day 1 (year-month)
    ("12:00", None),
    ("T12:00:00", None),
    ("12:00:00Z", None),
    ("2024-05", None),
]


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_normalize_ts_string_cascade(spark, zone):
    """Same epochs in any session time zone: naive strings read as UTC."""
    df = spark.createDataFrame(
        [Row(i=i, v=v) for i, (v, _) in enumerate(TS_CASES)], "i int, v string"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        got = {
            r["i"]: r["e"]
            for r in df.select("i", normalize_ts(F.col("v")).alias("e")).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    for i, (v, expected) in enumerate(TS_CASES):
        assert got[i] == expected, f"case {v!r}: got {got[i]}, want {expected}"


@pytest.mark.parametrize("name", ["pipeline_watermark_filter", "events_dow_hour_profile"])
def test_builder_keeps_the_session_time_zone(spark, ddb, name):
    """Under a non-UTC session the builder's rows still match the oracle,
    and the builder leaves the caller's session time zone as it was."""
    from batch_public_spark.plans import QUERIES
    from tests.conftest import SF_DIR, assert_parity

    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert_parity(QUERIES[name].fn(spark, SF_DIR), ddb.sql(QUERIES[name].oracle), name)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_normalize_ts_numeric_types(spark):
    df = spark.createDataFrame(
        [Row(i=1715000000, f=1715000123456.0, d=None)],
        "i bigint, f double, d decimal(20,4)",
    )
    row = df.select(
        normalize_ts(F.col("i")).alias("a"),
        normalize_ts(F.col("f")).alias("b"),
        normalize_ts(F.col("d")).alias("c"),
    ).collect()[0]
    assert row["a"] == 1715000000
    assert row["b"] == 1715000123  # ms heuristic applies to numerics too
    assert row["c"] is None


def test_discover_event_ts_priority_and_case(spark):
    # Created_At (camel-ish) discovered case-insensitively; unparseable
    # first candidate falls through to the next convertible one.
    df = spark.createDataFrame(
        [
            Row(k=1, Timestamp="garbage", Created_At="1715000000", note="x"),
            Row(k=2, Timestamp="1715000999", Created_At="1715000000", note="x"),
            Row(k=3, Timestamp=None, Created_At=None, note="x"),
        ]
    )
    got = {r["k"]: r["e"] for r in df.select("k", discover_event_ts(df).alias("e")).collect()}
    assert got[1] == 1715000000
    assert got[2] == 1715000999  # 'timestamp' outranks 'created_at'
    assert got[3] is None


def test_extract_text_priority(spark):
    df = spark.createDataFrame(
        [
            # summary outranks text
            Row(k=1, Summary=" hello ", text="nope", percent_increase=None, trend_breakdown=None),
            # empty-after-trim summary falls through
            Row(k=2, Summary="   ", text="second", percent_increase=None, trend_breakdown=None),
            # numeric candidate stringified
            Row(k=3, Summary=None, text=None, percent_increase=12.5, trend_breakdown=None),
            # list candidate → compact JSON
            Row(k=4, Summary=None, text=None, percent_increase=None, trend_breakdown=["a", "b"]),
            # nothing usable
            Row(k=5, Summary=None, text="", percent_increase=None, trend_breakdown=None),
        ]
    )
    got = {r["k"]: r["t"] for r in df.select("k", extract_text(df).alias("t")).collect()}
    assert got[1] == "hello"
    assert got[2] == "second"
    assert got[3] == "12.5"
    assert got[4] == '["a","b"]'
    assert got[5] is None


def test_dedup_key_priority(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, url=" HTTP://X.com/A ", guid=None, id="9"),
            Row(k=2, url="  ", guid="G-1", id="9"),
            Row(k=3, url=None, guid=None, id=7),
            Row(k=4, url=None, guid=None, id=None),
        ],
        "k int, url string, guid string, id string",
    )
    got = {r["k"]: r["d"] for r in df.select("k", dedup_key(df).alias("d")).collect()}
    assert got[1] == "url:http://x.com/a"
    assert got[2] == "url:g-1"
    assert got[3] == "id:7"
    assert got[4] is None


def test_sanitize_tag(spark):
    df = spark.createDataFrame([Row(t="my table!name/with spaces and more and more chars")])
    got = df.select(sanitize_tag(F.col("t")).alias("s")).collect()[0]["s"]
    assert got == "my-table-name-with-spaces-and-mo"
    assert len(got) == 32


FENCE_CASES = [
    ('```json\n{"a": 1}\n```', '{"a": 1}'),
    ('```\n{"a": 1}\n```', '{"a": 1}'),
    ('{"a": 1}', '{"a": 1}'),
    ("```json\n{\n}\n```", "{\n}"),
    ("no fences at all", "no fences at all"),
]


def test_strip_fences(spark):
    df = spark.createDataFrame(
        [Row(i=i, v=v) for i, (v, _) in enumerate(FENCE_CASES)], "i int, v string"
    )
    got = {r["i"]: r["s"] for r in df.select("i", strip_fences(F.col("v")).alias("s")).collect()}
    for i, (v, expected) in enumerate(FENCE_CASES):
        assert got[i] == expected, f"case {v!r}"


REPAIR_CASES = [
    '{"a": +0.5}',
    '{"a": 1, // comment\n"b": 2}',
    '{"a": [1, 2, 3,]}',
    '{"a": 1,230,456}',
    '{"a": 1,230,456.78, "b": -4,000}',
    '{"nested": {"x": +1.5, "y": 2,000,}}',
    '{"ok": "1,230 in a string stays"}',
]


@pytest.mark.parametrize("raw", REPAIR_CASES)
def test_loosen_json_native_matches_python(spark, raw):
    df = spark.createDataFrame([Row(v=raw)])
    native = df.select(loosen_json(F.col("v")).alias("s")).collect()[0]["s"]
    expected = loosen_json_py(raw)
    assert native == expected
    # and the repaired text must be valid JSON
    json.loads(native)


def test_canonical_url_edges(spark):
    from batch_public_spark.functions.text import canonical_url

    cases = {
        # host lowercased, PATH CASE PRESERVED
        "HTTP://WWW.Ex.COM/Articles/Item7": "http://www.ex.com/Articles/Item7",
        # scheme-DEFAULT port stripped; anything else preserved
        "http://ex.com:80/a": "http://ex.com/a",
        "http://ex.com:80?x=1": "http://ex.com?x=1",  # query-no-path form
        "http://ex.com:8080/a": "http://ex.com:8080/a",
        "https://ex.com:443/a": "https://ex.com/a",
        # :80 is NOT the https default — a different resource, preserved
        "https://ex.com:80/a": "https://ex.com:80/a",
        "https://ex.com/a": "https://ex.com/a",
        # fragment stripped, then trailing slash stripped
        "http://ex.com/a/#sec": "http://ex.com/a",
        # utm-only query vanishes entirely (no dangling '?')
        "http://ex.com/a?utm_source=x&utm_medium=y": "http://ex.com/a",
        # real param SURVIVES a trailing tracker
        "http://ex.com/a?ref=home&utm_medium=y": "http://ex.com/a?ref=home",
        # root slash collapses to bare host (host-only canonical)
        "http://ex.com/": "http://ex.com",
        # r11 (r10 ADVICE): no-path URL with case-significant query —
        # the authority match stops at '?', query case preserved
        "http://Host.EX.com?Token=AbC": "http://host.ex.com?Token=AbC",
        # r11 (r10 ADVICE): LEADING tracker carried the '?' — the
        # orphaned '&' on the survivor is normalized back to '?'
        "http://ex.com/a?utm_a=1&ref=2": "http://ex.com/a?ref=2",
        "http://ex.com/a?utm_a=1&utm_b=2&ref=2&x=3": "http://ex.com/a?ref=2&x=3",
    }
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(k,) for k in cases], ["u"]).select(
        "u", canonical_url(F.col("u")).alias("c")
    )
    got = {r.u: r.c for r in df.collect()}
    assert got == cases
