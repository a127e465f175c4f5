"""Streaming heavy-hitters: Misra-Gries state per group
(`FrequentWindowProcessor.java` / `LossyFrequentWindowProcessor.java`,
SURVEY.md §3.3).

The reference keeps a Misra-Gries counter map of ≤ n entries per
window instance. Here the same sketch lives in the state store per
group key; each micro-batch folds its events in and emits the current
sketch content (candidate heavy hitters with lower-bound counts).

Scale: the sketch is O(n) per group key regardless of stream length —
the canonical bounded-state answer to "top users per event type over
an unbounded stream". The batch twin (`operators.windows.frequent`)
computes the exact fixed point the sketch approximates.

Every op here groups per key through :func:`.keyed_groups`; a NULL
key is its own group, emitted as NULL.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import keyed_groups

_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)
_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("seq", T.LongType()),
    ]
)


def misra_gries(items: dict[str, int], new_item: str, capacity: int) -> None:
    """One Misra-Gries update step (in place)."""
    if new_item in items:
        items[new_item] += 1
    elif len(items) < capacity:
        items[new_item] = 1
    else:
        for k in list(items):
            items[k] -= 1
            if items[k] == 0:
                del items[k]


def frequent_stream(
    stream: DataFrame,
    n: int,
    key: str,
    item_col: str,
) -> DataFrame:
    """`#window.frequent(n, attr)` per key: emits the sketch's current
    candidates (item, lower-bound count) after each micro-batch."""

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            its, cts, seq = state.get
            sketch = dict(zip(its, cts))
        else:
            sketch, seq = {}, 0
        for pdf in pdfs:
            for v in pdf["__item"].astype(str):
                misra_gries(sketch, v, n)
        state.update((list(sketch), [int(c) for c in sketch.values()], seq + 1))
        yield pd.DataFrame(
            [(key_tuple[0], it, int(c), seq) for it, c in sketch.items()],
            columns=["key", "item", "count_lb", "batch_seq"],
        )

    projected = stream.withColumn("__item", F.col(item_col).cast("string"))
    return keyed_groups(projected, key, None).applyInPandasWithState(
        proc, _OUT, _STATE, "append", GroupStateTimeout.NoTimeout
    )


_LOSSY_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)
_LOSSY_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("deltas", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def lossy_counting_stream(
    stream: DataFrame,
    support: float,
    error: float,
    key: str,
    item_col: str,
) -> DataFrame:
    """`#window.lossyFrequent(support, error, attr)` per key
    (`LossyFrequentWindowProcessor.java`, Manku-Motwani lossy counting).

    State per group: {item: (count, Δ)} with Δ = bucket at insertion;
    entries with count + Δ ≤ current bucket are pruned at bucket
    boundaries, bounding state at O(1/error) entries regardless of
    stream length. Emits items whose lower-bound count ≥ (support −
    error) × N — the sketch's published guarantee."""
    bucket_width = max(1, int(1.0 / error))

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            its, cts, dls, n_seen, seq = state.get
            sketch = {i: [c, d] for i, c, d in zip(its, cts, dls)}
        else:
            sketch, n_seen, seq = {}, 0, 0
        for pdf in pdfs:
            for v in pdf["__item"].astype(str):
                n_seen += 1
                b_now = n_seen // bucket_width
                if v in sketch:
                    sketch[v][0] += 1
                else:
                    sketch[v] = [1, b_now]
                if n_seen % bucket_width == 0:  # bucket boundary: prune
                    for k in list(sketch):
                        c, d = sketch[k]
                        if c + d <= b_now:
                            del sketch[k]
        state.update(
            (
                list(sketch),
                [int(v[0]) for v in sketch.values()],
                [int(v[1]) for v in sketch.values()],
                int(n_seen),
                seq + 1,
            )
        )
        thresh = (support - error) * n_seen
        yield pd.DataFrame(
            [
                (key_tuple[0], it, int(c), int(n_seen), seq)
                for it, (c, _d) in sketch.items()
                if c >= thresh
            ],
            columns=["key", "item", "count_lb", "n_seen", "batch_seq"],
        )

    projected = stream.withColumn("__item", F.col(item_col).cast("string"))
    return keyed_groups(projected, key, None).applyInPandasWithState(
        proc, _LOSSY_OUT, _LOSSY_STATE, "append", GroupStateTimeout.NoTimeout
    )


_TOPK_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("item_id", T.LongType()),
        T.StructField("sort_value", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)
_TOPK_STATE = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("seq", T.LongType()),
    ]
)


def sort_window_stream(
    stream: DataFrame,
    n: int,
    key: str,
    sort_col: str,
    id_col: str = "event_id",
    descending: bool = True,
) -> DataFrame:
    """Streaming `sort(n, attr)` (`SortWindowProcessor.java`): a
    bounded top/bottom-n retained set per key; each micro-batch folds
    events into the heap and emits the current membership with ranks."""

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, vals, seq = state.get
            entries = list(zip(ids, vals))
        else:
            entries, seq = [], 0
        for pdf in pdfs:
            for i, v in zip(pdf["__id"], pdf["__val"]):
                entries.append((int(i), float(v)))
        entries.sort(key=lambda e: ((-e[1]) if descending else e[1], e[0]))
        entries = entries[:n]
        state.update(
            ([e[0] for e in entries], [e[1] for e in entries], seq + 1)
        )
        yield pd.DataFrame(
            [
                (key_tuple[0], e[0], e[1], r + 1, seq)
                for r, e in enumerate(entries)
            ],
            columns=["key", "item_id", "sort_value", "rank", "batch_seq"],
        )

    projected = stream.withColumn("__id", F.col(id_col).cast("long")).withColumn(
        "__val", F.col(sort_col).cast("double")
    )
    return keyed_groups(projected, key, None).applyInPandasWithState(
        proc, _TOPK_OUT, _TOPK_STATE, "append", GroupStateTimeout.NoTimeout
    )
