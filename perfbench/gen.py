"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and shape arguments and
writes parquet through pyarrow with a fixed schema, so the same seed
gives byte-identical files. The engine only ever sees these files.

Shapes follow the engine's fixtures (``catalog.SCHEMAS``):

- ``events``: 30 days from 2024-01-01, about 1.5k users, five event
  types, a JSON ``props`` column. ``skew`` is the Zipf exponent of the
  user-key distribution; ``ooo_share`` is the share of events that
  arrive out of order (moved to a random place inside their own file,
  so disorder stays local and event time never runs backwards across
  files).
- ``documents``: the sf0.1 corpus vocabulary (30 words, 10-100 words a
  document), with a fixed share of near-duplicates: a copy of an
  earlier document with the marker word ``dup`` inserted once.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
VIP_SCHEMA = pa.schema([("user_id", pa.int64()), ("tier", pa.string())])
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20


def events(
    seed: int,
    n: int,
    n_files: int = 1,
    n_users: int = 1500,
    days: float = 30,
    skew: float = 0.5,
    ooo_share: float = 0.05,
) -> list[pa.Table]:
    """``n`` events cut into ``n_files`` consecutive slices of event
    time. Event ids and timestamps rise together; inside each slice a
    share ``ooo_share`` of rows is moved to a random position."""
    rng = np.random.default_rng([seed, 1])
    ts = START_US + np.sort(rng.integers(0, int(days * DAY_US), n))
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks**-skew
    users = rng.permutation(n_users)[
        rng.choice(n_users, size=n, p=p / p.sum())
    ].astype(np.int64)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array([EVENT_TYPES[i] for i in kinds]),
            "value": pa.array(value),
            "props": pa.array([json.dumps({"k": int(x)}) for x in k]),
        },
        schema=EVENTS_SCHEMA,
    )
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    out = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        order = np.arange(lo, hi)
        moved = np.flatnonzero(rng.random(hi - lo) < ooo_share)
        order[moved] = order[rng.permutation(moved)]
        out.append(table.take(pa.array(order)))
    return out


def vip_users(seed: int, n_users: int = 1500, n_vip: int = 300) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    ids = np.sort(rng.choice(n_users, size=n_vip, replace=False)).astype(np.int64)
    tiers = rng.choice(np.array(["gold", "silver"]), size=n_vip)
    return pa.table({"user_id": ids, "tier": tiers.tolist()}, schema=VIP_SCHEMA)


def documents(
    seed: int, n: int, dup_share: float = 0.1, words: tuple[int, int] = (10, 100)
) -> pa.Table:
    """``n`` documents of ``words`` (inclusive range) vocabulary words,
    a share ``dup_share`` of them near-duplicates of earlier ones."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    lo, hi = words
    for i in range(n):
        if i and rng.random() < dup_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
        else:
            picks = rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))
            toks = [VOCAB[j] for j in picks]
        texts.append(" ".join(toks))
    langs = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in langs],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")
