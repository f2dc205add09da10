"""Model-catalog config: logical alias → concrete OpenAI model id (the
semantics of reference op M1, models.py:38-87, re-expressed as one
kind-tagged catalog instead of parallel lists).

Driver-side config, broadcast-safe — a handful of strings captured in a
closure works at any scale.
"""

from __future__ import annotations

# Aliases users type on the CLI (--model nano|mini|full). The concrete ids
# they expand to are pinned snapshots so a rerun months later hits the same
# weights.
ALIASES: dict[str, str] = {
    "full": "gpt-4.1-2025-04-14",
    "mini": "gpt-4.1-mini-2025-04-14",
    "nano": "gpt-4.1-nano-2025-04-14",
}

DEFAULT_ALIAS = "nano"

# One catalog, kind-tagged: "chat" ids are valid for the batch
# chat-completion stage (X1); "embedding" ids feed the embedding UDF that
# backs the similarity-search operators.
CATALOG: dict[str, str] = {
    **{alias_target: "chat" for alias_target in ALIASES.values()},
    **dict.fromkeys(
        (
            "gpt-3.5-turbo",
            "gpt-3.5-turbo-1106",
            "gpt-3.5-turbo-16k",
            "gpt-4",
            "gpt-4-0125-preview",
            "gpt-4-0314",
            "gpt-4-32k",
            "gpt-4-32k-0314",
            "gpt-4-32k-0613",
            "gpt-4-turbo",
            "gpt-4-turbo-2024-04-09",
            "gpt-4-turbo-preview",
            "gpt-4-vision-preview",
            "gpt-4o",
            "gpt-4o-2024-05-13",
            "gpt-4o-mini",
        ),
        "chat",
    ),
    **dict.fromkeys(
        (
            "text-embedding-3-large",
            "text-embedding-3-small",
            "text-embedding-ada-002",
        ),
        "embedding",
    ),
}


def resolve(model_key: str) -> str:
    """Expand an alias, pass through a known concrete id, and fall back to
    the default alias for anything unrecognized (never error on a typo —
    reference behavior, models.py:75-87)."""
    if model_key in ALIASES:
        return ALIASES[model_key]
    if model_key in CATALOG:
        return model_key
    return ALIASES[DEFAULT_ALIAS]
