"""Markdown-fence stripping and fuzzy JSON repair (reference ops P3, P4).

The reference repairs LLM-flavored JSON with four regex rewrites
(reference batch_parse/parse.py:139-168): strip ``//`` line comments,
drop leading ``+`` on numbers after a colon, remove trailing commas before
``]``/``}``, and strip thousands separators (``1,230,456`` → ``1230456``).

Rules 1-3 are plain substitutions → native ``regexp_replace`` (JVM,
codegen). Rule 4 needs a replacement *callback* (strip commas inside the
matched number only), which regexp_replace can't express — a bounded
fixed-point of a one-comma-at-a-time rewrite is equivalent and stays native.
``loosen_json_py`` is the exact Python-regex reference the native form is
tested against.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_fences(col: Column) -> Column:
    """Remove wrapping triple-backtick fences (reference parse.py:101-112).

    Reference behavior: only when the trimmed text both starts AND ends
    with ``` — drop the whole first line (fence + optional language hint),
    drop the last line if it starts with ```, then strip.
    """
    c = F.trim(col)
    fenced = c.startswith("```") & c.endswith("```")
    body = F.regexp_replace(c, r"^```[^\n]*\n?", "")
    body = F.regexp_replace(body, r"(^|\n)```[^\n]*$", "")
    return F.when(fenced, F.trim(body)).otherwise(c)


# One-comma-at-a-time thousands rewrite, merging the LAST comma each round:
# the head keeps its comma-grouped form (validating proper 1-3 digit lead +
# 3-digit groups from the colon, like the reference's full-match), the tail
# is the already-merged digits. "1,230,456" → "1,230456" → "1230456".
_THOUSANDS_STEP = r"(:\s*-?\d{1,3}(?:,\d{3})*),(\d{3}(?:\d{3})*)(?=(?:\.\d+)?[,}\]])"


def loosen_json(col: Column) -> Column:
    """Native-expression fuzzy JSON repair (rules 1-4)."""
    out = F.regexp_replace(col, r"//.*?(?=[\n\r])", "")
    out = F.regexp_replace(out, r":\s*\+([0-9\.]+)", ": $1")
    out = F.regexp_replace(out, r",\s*([}\]])", "$1")
    # Fixed-point of the single-comma rewrite; 8 rounds covers numbers up to
    # 27 digits (far beyond double/JSON practice).
    for _ in range(8):
        out = F.regexp_replace(out, _THOUSANDS_STEP, "$1$2")
    return out


_COMMENT_RE = re.compile(r"//.*?(?=[\n\r])")
_PLUS_NUMBER_RE = re.compile(r":\s*\+([0-9\.]+)")
_TRAILING_COMMA_RE = re.compile(r",\s*([}\]])")
_COMMA_NUMBER_RE = re.compile(r"(:\s*)(-?\d{1,3}(?:,\d{3})+(?:\.\d+)?)(?=[,}\]])")


def loosen_json_py(text: str) -> str:
    """Exact Python-regex counterpart (same four rules, callback for rule 4)."""
    out = _COMMENT_RE.sub("", text)
    out = _PLUS_NUMBER_RE.sub(r": \1", out)
    out = _TRAILING_COMMA_RE.sub(r"\1", out)
    out = _COMMA_NUMBER_RE.sub(lambda m: m.group(1) + m.group(2).replace(",", ""), out)
    return out
