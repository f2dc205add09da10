from batch_public_spark.functions.json_repair import (
    loosen_json,
    loosen_json_py,
    strip_fences,
)
from batch_public_spark.functions.text import (
    DEDUP_ID_KEYS,
    DEDUP_URL_KEYS,
    TEXT_FIELDS,
    dedup_key,
    extract_text,
    sanitize_tag,
)
from batch_public_spark.functions.timestamps import (
    TIMESTAMP_KEYS,
    discover_event_ts,
    normalize_ts,
)

__all__ = [
    "DEDUP_ID_KEYS",
    "DEDUP_URL_KEYS",
    "TEXT_FIELDS",
    "TIMESTAMP_KEYS",
    "dedup_key",
    "discover_event_ts",
    "extract_text",
    "loosen_json",
    "loosen_json_py",
    "normalize_ts",
    "sanitize_tag",
    "strip_fences",
]
