"""Seeded DynamoDB-like item store for the pipeline workloads, and the
pure-Python oracle that predicts every count a pipeline cycle must produce.

Items are heterogeneous the way a key-value scan is: the event time sits in
one of four attributes, each in its own representation (epoch seconds as a
string, epoch milliseconds as a number, ISO-8601 with ``Z``, and an
``EST``-suffixed wall time); some items carry no usable time at all, some
fall outside the look-back window, some have only blank text, and some share
a URL with an earlier item up to case and surrounding spaces.

Every in-window time keeps ``GAP_S`` away from the look-back boundary, so a
run that advances ``now`` by one second per cycle for fewer than ``GAP_S``
cycles never moves an item across the window edge.
"""

from __future__ import annotations

import hashlib
import random
import time
from dataclasses import dataclass

NOW0 = 1_767_225_600  # 2026-01-01T00:00:00Z, the first cycle's `now`
HOURS = 12.0
LOOKBACK_S = int(HOURS * 3600)
GAP_S = 3600  # no item time within this distance of the window edge
NEWEST_S = 60  # the newest item is this many seconds before NOW0
NEW_SHARE = 0.01  # share of in-window items above the incremental watermark
WATERMARK = NOW0 - 900  # preset watermark of the incremental workload

_WORDS = (
    "rates inflation yields equities oil gold dollar euro yen bond spread "
    "earnings guidance payrolls housing retail credit volatility futures "
    "options crypto tariff supply demand growth recession rally selloff"
).split()
_TEXT_FIELDS = ("summary", "title", "headline", "text")
# Item attribute columns; every item sets a subset, the rest are null.
SCHEMA = (
    ("id", "int64"),
    ("timestamp", "string"),
    ("ts", "int64"),
    ("created_at", "string"),
    ("est_timestamp", "string"),
    ("url", "string"),
    ("summary", "string"),
    ("title", "string"),
    ("headline", "string"),
    ("text", "string"),
    ("symbol", "string"),
    ("lastprice", "double"),
)


@dataclass
class Item:
    id: int
    event_ts: int | None  # the time the pipeline should discover, or None
    attrs: dict


def _phrase(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 24)))


def _iso_z(epoch: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch))


def _est(epoch: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch - 5 * 3600)) + " EST"


def _time_attrs(rng: random.Random, epoch: int) -> dict:
    form = rng.randrange(4)
    if form == 0:
        return {"timestamp": str(epoch)}
    if form == 1:
        return {"ts": epoch * 1000 + rng.randrange(1000)}
    if form == 2:
        return {"created_at": _iso_z(epoch)}
    return {"est_timestamp": _est(epoch)}


def generate(seed: int, n: int) -> list[Item]:
    """``n`` items; the same seed gives the same items."""
    rng = random.Random(seed)
    cutoff0 = NOW0 - LOOKBACK_S
    url_pool: list[str] = []
    items: list[Item] = []
    for i in range(n):
        attrs: dict = {"id": i}
        r = rng.random()
        if r < 0.72:  # inside the window, clear of both edges
            if rng.random() < NEW_SHARE:  # newer than the preset watermark
                epoch = rng.randint(WATERMARK + 1, NOW0 - NEWEST_S)
            else:
                epoch = rng.randint(cutoff0 + GAP_S, WATERMARK)
        elif r < 0.90:  # too old for the look-back window
            epoch = rng.randint(cutoff0 - 30 * 86400, cutoff0 - GAP_S)
        else:
            epoch = None
        if epoch is not None:
            attrs.update(_time_attrs(rng, epoch))
        elif rng.random() < 0.25:  # present but unparseable
            attrs["timestamp"] = rng.choice(["n/a", "yesterday", ""])
        if rng.random() < 0.08:  # no usable text
            attrs["summary"] = " " * rng.randint(0, 3)
            if rng.random() < 0.5:
                attrs["title"] = ""
        elif rng.random() < 0.15:  # market-data item: text is the symbol
            attrs["symbol"] = rng.choice(["SPY", "QQQ", "TLT", "GLD"]) + str(i % 97)
            attrs["lastprice"] = round(rng.uniform(10, 500), 2)
        else:
            field = rng.choice(_TEXT_FIELDS)
            pad = " " * rng.randint(0, 2)
            attrs[field] = pad + _phrase(rng) + f" #{i}" + pad
        if rng.random() < 0.6:
            if url_pool and rng.random() < 0.2:  # the same page again
                base = rng.choice(url_pool)
                variant = base.upper() if rng.random() < 0.5 else base
                attrs["url"] = " " * rng.randint(0, 2) + variant + " " * rng.randint(0, 2)
            else:
                url = f"https://news.example.com/{rng.choice(_WORDS)}/{i}"
                url_pool.append(url)
                attrs["url"] = url
        items.append(Item(i, epoch, attrs))
    return items


def write_parquet(items: list[Item], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {name: [it.attrs.get(name) for it in items] for name, _ in SCHEMA}
    table = pa.table({name: pa.array(cols[name], type=ty) for name, ty in SCHEMA})
    pq.write_table(table, path)


def _text(attrs: dict) -> str | None:
    """First non-blank text attribute in the engine's priority order."""
    for field in ("summary", "text", "title", "headline", "symbol"):
        v = attrs.get(field)
        if v is not None and v.strip(" "):
            return v.strip(" ")
    return None


def _dedup_key(attrs: dict) -> str:
    url = attrs.get("url")
    if url is not None and url.strip(" "):
        return "url:" + url.strip(" ").lower()
    return f"id:{attrs['id']}"


def _replies(text: str) -> int:
    """Parsed rows the stub LLM's reply to ``text`` expands to: array
    replies (hash variant 3) carry two elements."""
    h = int(hashlib.sha256(text.encode("utf-8")).hexdigest(), 16)
    return 2 if h % 4 == 3 else 1


@dataclass
class Expected:
    rows_in: int
    rows_no_ts: int
    rows_outside_window: int
    rows_below_watermark: int
    rows_no_text: int
    rows_dup_dropped: int
    selected: int
    parsed_rows: int

    def reconciles(self) -> bool:
        drops = (
            self.rows_no_ts + self.rows_outside_window + self.rows_below_watermark
            + self.rows_no_text + self.rows_dup_dropped
        )
        return self.rows_in == self.selected + drops


def expect(items: list[Item], now: int, watermark: int | None) -> Expected:
    """Counts one cycle at ``now`` must produce, stage by stage in the
    orchestrator's order."""
    cutoff = now - LOOKBACK_S
    e = Expected(len(items), 0, 0, 0, 0, 0, 0, 0)
    first: dict[str, str] = {}  # dedup key -> text of the smallest id
    for it in items:  # ids ascend, so the first seen is the survivor
        if it.event_ts is None:
            e.rows_no_ts += 1
        elif it.event_ts < cutoff:
            e.rows_outside_window += 1
        elif watermark is not None and it.event_ts <= watermark:
            e.rows_below_watermark += 1
        elif (text := _text(it.attrs)) is None:
            e.rows_no_text += 1
        elif (key := _dedup_key(it.attrs)) in first:
            e.rows_dup_dropped += 1
        else:
            first[key] = text
    e.selected = len(first)
    e.parsed_rows = sum(_replies(t) for t in first.values())
    return e
