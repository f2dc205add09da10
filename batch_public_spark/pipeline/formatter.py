"""Batch-request construction + JSONL sink (reference ops P1, P2, K1).

Reference shape (jsonl_formatter.py:150-179): one JSON object per line —
``{"custom_id": "row_N", "method": "POST", "url": ENDPOINT,
"body": {"messages": [...], "model": ..., "user": ...}}``.

Design change for scale (SURVEY §7 risk P2): ``custom_id`` is derived from
the source primary key, not the 1-based written position — a positional id
requires a global total order (single-task sort at 100 TB) and makes the
output↔input join fragile.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from batch_public_spark.pipeline.batch_api import ENDPOINT
from batch_public_spark.pipeline.models import resolve

# Reference jsonl_formatter.py:17-21, verbatim prompt constant (data, not code).
SYSTEM_PROMPT = (
    "You are a senior macroeconomic intelligence analyst. Your job is to clean, verify, and standardize incoming real-time macro and market data into a structured intelligence report for Media Blackout LLC.\n\n"
    "The input may include Reddit sentiment summaries, Google Trends spikes, news headlines, and live market prices.\n\n"
    "Your job is to transform this raw data into a clean, verified, and structured intelligence report in JSON format for later use in batch analytics and dashboards.\n"
)

# The provider accepts at most 50,000 requests per batch input file
# (batch_api docstring); no JSONL part file holds more.
_REQUESTS_PER_FILE = 50_000


def request_struct(text_col: Column, *, model_key: str = "nano", user_col: Column | None = None) -> Column:
    """The ``body`` payload (reference _build_payload, jsonl_formatter.py:24-39)."""
    model = resolve(model_key)
    messages = F.array(
        F.struct(F.lit("system").alias("role"), F.lit(SYSTEM_PROMPT).alias("content")),
        F.struct(F.lit("user").alias("role"), text_col.alias("content")),
    )
    fields = [messages.alias("messages"), F.lit(model).alias("model")]
    if user_col is not None:
        fields.append(user_col.cast("string").alias("user"))
    return F.struct(*fields)


def build_requests(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "id",
    model_key: str = "nano",
) -> DataFrame:
    """Rows → batch request records, skipping unusable text (reference F4
    applied again at format time, jsonl_formatter.py:150-152).

    ``custom_id`` = ``row_<pk>`` (≤64 chars per the OpenAI constraint noted
    at jsonl_formatter.py:169) — key-based, shuffle-free, join-ready.
    """
    usable = F.length(F.trim(F.col(text_col))) > 0
    return (
        df.filter(F.col(text_col).isNotNull() & usable)
        .select(
            F.concat(F.lit("row_"), F.col(id_col).cast("string")).substr(1, 64).alias("custom_id"),
            F.lit("POST").alias("method"),
            F.lit(ENDPOINT).alias("url"),
            request_struct(
                F.trim(F.col(text_col)), model_key=model_key, user_col=F.col(id_col)
            ).alias("body"),
        )
    )


def write_jsonl(requests: DataFrame, path: str) -> int:
    """JSONL sink (reference K1): one compact JSON per line, never
    overwrite (mode=error mirrors the reference's suffix-counter refusal to
    clobber, jsonl_formatter.py:61-73), at most ``_REQUESTS_PER_FILE`` lines
    per part file so each part is one acceptable provider batch. Returns the
    written count, observed by the write job itself."""
    written = Observation()
    jsonl = requests.select(F.to_json(F.struct(*requests.columns)).alias("value"))
    jsonl = jsonl.observe(written, F.count(F.lit(1)).alias("n"))
    jsonl.write.mode("error").option("maxRecordsPerFile", _REQUESTS_PER_FILE).text(path)
    return written.get["n"]
