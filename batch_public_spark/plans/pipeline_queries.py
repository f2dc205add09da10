"""Declared queries for the reference-pipeline operators (SURVEY §2a).

SQL-expressible pieces get literal-expectation oracles (inline fixtures
constructed identically on both sides); the full stub-LLM round trip is
declared rows-only (mapInPandas is genuinely non-SQL).

Each query pins the session timezone to UTC at call time — the timestamp
cascade's naive-string branches are UTC by engine contract, and the driver
may hand us a session built with any timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_public_spark.functions import (
    dedup_key,
    extract_text,
    loosen_json,
    normalize_ts,
    sanitize_tag,
    strip_fences,
)
from batch_public_spark.operators.dedup import first_wins, incremental_filter
from batch_public_spark.operators.textops import token_count_bpe_ish
from batch_public_spark.pipeline.formatter import build_requests
from batch_public_spark.pipeline.llm import respond
from batch_public_spark.pipeline.parser import parse_batch_output
from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import inline_rows
from batch_public_spark.sources.tables import load_table as t


# ---------------------------------------------------------------------------
# F2 — timestamp normalization cascade
# ---------------------------------------------------------------------------

_TS_FIXTURE = [
    (1, "1715000000"),
    (2, "1715000000.75"),
    (3, "1715000001234"),
    (4, "2025-05-19T21:20:00Z"),
    (5, "2025-05-19 21:20:00"),
    (6, "2025-05-19T21:20:00+02:00"),
    (7, "2025-05-19T21:20:00.123456Z"),
    (8, "2025-05-19 21:20:00 EST"),
    (9, "2025-05-19T21:20:00 EDT"),
    (10, "2025-05-19 21:20:00.123 EST"),
    (11, "garbage"),
    (12, None),
]


@query(
    "pipeline_ts_normalize",
    oracle="""
    SELECT * FROM (VALUES
      (1, 1715000000), (2, 1715000000), (3, 1715000001),
      (4, 1747689600), (5, 1747689600), (6, 1747682400),
      (7, 1747689600), (8, 1747707600), (9, 1747704000),
      (10, -1), (11, -1), (12, -1)
    ) AS t(case_id, epoch_s)
    """,
)
def pipeline_ts_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: epoch/ms-heuristic/ISO-Z/naive-UTC/offset/EST/EDT cascade as one
    JVM expression (reference dynamo_fetcher.py:205-279)."""
    df = inline_rows(spark, "case_id int, v string", _TS_FIXTURE)
    return df.select(
        "case_id",
        F.coalesce(normalize_ts(F.col("v")), F.lit(-1)).cast("bigint").alias("epoch_s"),
    )


# ---------------------------------------------------------------------------
# F5 — text extraction priority coalesce
# ---------------------------------------------------------------------------


@query(
    "pipeline_text_extract",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'hello'), (2, 'second'), (3, '12.5'), (4, '["a","b"]'), (5, '')
    ) AS t(case_id, text)
    """,
)
def pipeline_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: ordered field-priority coalesce with numeric/list casts
    (reference dynamo_fetcher.py:87-168)."""
    rows = [
        (1, " hello ", "nope", None, None),
        (2, "   ", "second", None, None),
        (3, None, None, 12.5, None),
        (4, None, None, None, ["a", "b"]),
        (5, None, "", None, None),
    ]
    df = inline_rows(
        spark,
        "case_id int, Summary string, text string, percent_increase double, "
        "trend_breakdown array<string>",
        rows,
    )
    return df.select("case_id", F.coalesce(extract_text(df), F.lit("")).alias("text"))


# ---------------------------------------------------------------------------
# P3/P4 — fence strip + fuzzy JSON repair
# ---------------------------------------------------------------------------

_REPAIR_FIXTURE = [
    (1, '{"a": +0.5}'),
    (2, '{"a": 1, // comment\n"b": 2}'),
    (3, '{"a": [1, 2, 3,]}'),
    (4, '{"a": 1,230,456}'),
    (5, '{"a": 1,230,456.78, "b": -4,000}'),
    (6, '{"nested": {"x": +1.5, "y": 2,000,}}'),
    (7, '{"ok": "1,230 in a string stays"}'),
    (8, '```json\n{"fenced": true}\n```'),
]


@query(
    "pipeline_json_repair",
    oracle="""
    SELECT * FROM (VALUES
      (1, '{"a": 0.5}'),
      (2, '{"a": 1, ' || chr(10) || '"b": 2}'),
      (3, '{"a": [1, 2, 3]}'),
      (4, '{"a": 1230456}'),
      (5, '{"a": 1230456.78, "b": -4000}'),
      (6, '{"nested": {"x": 1.5, "y": 2000}}'),
      (7, '{"ok": "1,230 in a string stays"}'),
      (8, '{"fenced": true}')
    ) AS t(case_id, repaired)
    """,
)
def pipeline_json_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: markdown fence strip then the four-rule fuzzy JSON repair
    (reference parse.py:101-168), all native regexp_replace."""
    df = inline_rows(spark, "case_id int, raw string", _REPAIR_FIXTURE)
    return df.select("case_id", loosen_json(strip_fences(F.col("raw"))).alias("repaired"))


# ---------------------------------------------------------------------------
# D1 — keyed first-wins dedup over events
# ---------------------------------------------------------------------------


@query(
    "pipeline_dedup_first_wins",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def pipeline_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: deterministic first-wins dedup; event_id is the stable ordering
    column the reference gets implicitly from scan order (SURVEY §7)."""
    e = t(spark, sf_dir, "events")
    kept = first_wins(e, F.concat_ws(":", "user_id", "event_type"), "event_id")
    return kept.select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# F1/F3 — look-back + watermark incremental filter over events
# ---------------------------------------------------------------------------


@query(
    "pipeline_watermark_filter",
    oracle="""
    SELECT event_type, COUNT(*) AS n, MAX(epoch_us(ts)) AS max_ts_us
    FROM events
    WHERE epoch(ts) > 1705276800
    GROUP BY event_type
    """,
)
def pipeline_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: drop rows at-or-below the persisted high-water mark (strictly
    greater survives, reference main.py:219). Watermark pinned to
    2024-01-15T00:00:00Z epoch. unix_timestamp and unix_micros of a
    TIMESTAMP are epoch values, whatever the session time zone."""
    e = t(spark, sf_dir, "events").withColumn("_ts_s", F.unix_timestamp("ts"))
    kept = incremental_filter(e, "_ts_s", 1705276800)
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # load_table normalizes ts to TimestampType whatever the file's
        # physical type.
        F.max(F.unix_micros(F.col("ts"))).alias("max_ts_us"),
    )


# ---------------------------------------------------------------------------
# P1/P2/P8 — request build + tag sanitization over documents
# ---------------------------------------------------------------------------


@query(
    "pipeline_request_build",
    oracle="""
    SELECT 'row_' || CAST(doc_id AS VARCHAR) AS custom_id,
           'gpt-4.1-nano-2025-04-14' AS model,
           CAST(doc_id AS VARCHAR) AS user_id,
           trim(text) AS content,
           substring(regexp_replace(source, '[^A-Za-z0-9_-]', '-', 'g'), 1, 32) AS tag
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def pipeline_request_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: chat-request construction with PK-based custom_id (SURVEY §7
    scale fix for the positional row_{n}) + P8 filename-tag sanitization."""
    d = t(spark, sf_dir, "documents").withColumn("id", F.col("doc_id"))
    reqs = build_requests(d, text_col="text", id_col="id", model_key="nano")
    src = t(spark, sf_dir, "documents").select(
        F.concat(F.lit("row_"), F.col("doc_id").cast("string")).alias("custom_id"),
        sanitize_tag(F.col("source")).alias("tag"),
    )
    return reqs.join(src, "custom_id").select(
        "custom_id",
        F.col("body.model").alias("model"),
        F.col("body.user").alias("user_id"),
        F.col("body.messages").getItem(1)["content"].alias("content"),
        "tag",
    )


# ---------------------------------------------------------------------------
# S3/F6/P5/P6/P7 — batch-output parse stage on inline records
# ---------------------------------------------------------------------------


def _outer(custom_id: str, content, status: int = 200) -> str:
    import json

    body = None
    if content is not None:
        body = {"choices": [{"message": {"role": "assistant", "content": content}}]}
    return json.dumps(
        {"id": "x", "custom_id": custom_id, "response": {"status_code": status, "body": body}}
    )


_PARSE_FIXTURE_CONTENT = [
    ("row_1", '{"sentiment": "bullish", "score": "0.9"}', 200),  # clean
    ("row_2", '```json\n{"sentiment": "bearish", "score": "0.1"}\n```', 200),  # fenced
    ("row_3", '{"sentiment": "neutral", "score": +0.5,}', 200),  # needs repair
    ("row_4", '[{"sentiment": "bullish"}, {"sentiment": "bearish"}]', 200),  # array
    ("row_5", "not json at all", 200),  # raw fallback
    ("row_6", '{"sentiment": "x"}', 500),  # F6 drops
]


@query(
    "pipeline_parse_outputs",
    oracle="""
    SELECT * FROM (VALUES
      ('row_1', -1, 'bullish', FALSE),
      ('row_2', -1, 'bearish', FALSE),
      ('row_3', -1, 'neutral', FALSE),
      ('row_4', 0, 'bullish', FALSE),
      ('row_4', 1, 'bearish', FALSE),
      ('row_5', -1, '', TRUE)
    ) AS t(source_custom_id, list_index, sentiment, is_raw)
    """,
)
def pipeline_parse_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 parse: status filter (F6), fence strip (P3), repair (P4), nested
    extraction (P5), provenance (P6), array flatten (P7) — pure column ops
    (reference parse.py:72-222)."""
    lines = [(_outer(cid, content, st),) for cid, content, st in _PARSE_FIXTURE_CONTENT]
    raw = inline_rows(spark, "v string", lines)
    from batch_public_spark.pipeline.parser import OUTPUT_SCHEMA

    records = raw.select(F.from_json("v", OUTPUT_SCHEMA).alias("r")).select("r.*")
    parsed = parse_batch_output(records)
    return parsed.select(
        F.col("_source_custom_id").alias("source_custom_id"),
        F.col("_source_list_index").alias("list_index"),
        F.coalesce(F.col("parsed").getItem("sentiment"), F.lit("")).alias("sentiment"),
        "is_raw",
    )


# ---------------------------------------------------------------------------
# X1 — full stub-LLM round trip (rows-only: mapInPandas is not SQL)
# ---------------------------------------------------------------------------


@query(
    "pipeline_llm_roundtrip",
    oracle="""
    WITH d AS (SELECT text FROM documents WHERE doc_id < 50),
    h AS (
      SELECT
        CAST(list_sum(list_transform(range(1, 65),
          i -> strpos('0123456789abcdef', substring(sha256(text), i, 1)) - 1)) % 3 AS INT) AS s3,
        CAST((strpos('0123456789abcdef', substring(sha256(text), 64, 1)) - 1) % 4 AS INT) AS v4
      FROM d
    )
    SELECT (['bullish', 'bearish', 'neutral'])[s3 + 1] AS sentiment,
           CAST(SUM(CASE WHEN v4 = 3 THEN 2 ELSE 1 END) AS BIGINT) AS n
    FROM h GROUP BY 1
    """,
)
def pipeline_llm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 e-g + EP3 on the deterministic stub transport: build requests
    from documents, 'call' the LLM via Arrow-batched mapInPandas, parse
    replies, count outcomes per sentiment.

    Oracle-checked end to end: the stub's sentiment is sha256(text) mod 3
    (16 ≡ 1 mod 3 ⇒ hex-digit sum), and its array-reply variant
    (sha mod 4 == 3, i.e. last hex digit mod 4) doubles the parsed rows —
    the SQL replays both, so the whole request-build → Arrow transport →
    fence-strip/repair/explode parse path is hash-verified."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(F.col("doc_id").cast("string").alias("id"), "text")
    )
    requests = build_requests(d, text_col="text", id_col="id")
    parsed = parse_batch_output(respond(requests))
    return parsed.groupBy(F.col("parsed").getItem("sentiment").alias("sentiment")).agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# D1 key derivation (url/id priority) on an inline fixture
# ---------------------------------------------------------------------------


@query(
    "pipeline_dedup_key_priority",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'url:http://x.com/a'), (2, 'url:g-1'), (3, 'id:7'), (4, '')
    ) AS t(case_id, dkey)
    """,
)
def pipeline_dedup_key_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 key: first of url/link/source_url/guid (lower+trim) else first of
    id/pk/record_id/article_id stringified (reference dynamo_fetcher.py:
    336-349)."""
    df = inline_rows(
        spark,
        "case_id int, url string, guid string, id string",
        [
            (1, " HTTP://X.com/A ", None, "9"),
            (2, "  ", "G-1", "9"),
            (3, None, None, "7"),
            (4, None, None, None),
        ],
    )
    return df.select("case_id", F.coalesce(dedup_key(df), F.lit("")).alias("dkey"))


@query(
    "pipeline_cost_accounting",
    oracle=r"""
    WITH r AS (
      SELECT doc_id, source,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0', '1', '2')
                  THEN 'tier-large' ELSE 'tier-small' END AS model_tier,
             CAST(len(regexp_extract_all(text, '\w{1,4}|[^\w\s]')) AS BIGINT)
               AS in_tokens
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT model_tier,
           CAST(count(*) AS BIGINT) AS n_requests,
           CAST(sum(in_tokens) AS BIGINT) AS input_tokens,
           CAST(sum(in_tokens
                    * CASE WHEN model_tier = 'tier-large'
                           THEN 400 ELSE 40 END) AS BIGINT)
             AS est_cost_nanousd,
           round(sum(in_tokens) * 1.0e0 / count(*), 6) AS avg_tokens_per_req
    FROM r GROUP BY model_tier
    """,
)
def pipeline_cost_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-API cost accounting — the pre-submission estimate every
    pipeline run should log BEFORE spending money (reference
    batch_submitter.py submits blind; this is the missing meter): route
    each request to a model tier (md5-keyed 3/16 to the large tier —
    a stand-in for the reference's model_key resolution with the same
    plan shape), count input tokens with the BPE-ish regex tokenizer the
    metrics family uses, and roll up request counts, token totals, and
    estimated cost. Costs stay EXACT integers end-to-end: per-token
    rates are spelled in nano-USD (400 vs 40 n$/token ≈ $0.40 vs $0.04
    per 1k), so the ledger sums are BIGINT and auditable — the
    money-column discipline (never float dollars).

    Spark-first: pure scan-riding scalar pipeline plus one 2-group
    aggregation; at 100 TB this is a free rider on the request-build
    pass (pipeline/formatter.py), and the same rollup keyed by
    (model, day) becomes the billing reconciliation query."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    tier = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1", "2"),
        F.lit("tier-large"),
    ).otherwise(F.lit("tier-small"))
    r = d.select(
        tier.alias("model_tier"),
        token_count_bpe_ish(F.col("text")).alias("in_tokens"),
    )
    rate = F.when(F.col("model_tier") == "tier-large", F.lit(400)).otherwise(
        F.lit(40)
    )
    return r.groupBy("model_tier").agg(
        F.count("*").cast("bigint").alias("n_requests"),
        F.sum("in_tokens").cast("bigint").alias("input_tokens"),
        F.sum(F.col("in_tokens") * rate).cast("bigint").alias("est_cost_nanousd"),
        F.round(F.sum("in_tokens") * F.lit(1.0) / F.count("*"), 6).alias(
            "avg_tokens_per_req"
        ),
    )
