"""Streaming joins (SURVEY.md §3.4) — thin watermarked twins of
``operators.joins``.

- stream ⋈ stream: both sides watermarked; the time-range condition
  bounds state retention to the window (`JoinProcessor`'s eviction);
  outer variants are watermark-mandatory (Spark enforces what the
  reference only documents).
- stream ⋈ table: stream-static join; the static side is re-resolved
  per micro-batch (table refresh), broadcast when small — the
  `IndexedEventHolder` probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.joins import windowed_stream_join


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    equi_keys: Sequence[tuple[str, str]],
    within_seconds: float,
    watermark: str,
    extra_cond: Column | None = None,
    how: str = "inner",
    bucket: bool = False,
) -> DataFrame:
    """`S1#window.time(t) join S2#window.time(t) on …` with state
    bounded by watermark + range condition.

    ``bucket=True`` (r14 — the streaming twin of the batch hot-key
    insurance tier): widen the join keys with `within`-wide time
    epochs (`operators/joins.py::windowed_stream_join(bucket=True)`).
    The symmetric-hash join's state store is KEYED by the equi keys,
    and each arrival probes every state row under its key — one
    pathologically dense key degrades each micro-batch to
    O(arrivals_k × state_k) row comparisons, the streaming analog of
    the batch pair-production blowup (measured, SCALEBENCH r14). The
    epoch keys bound the probed state to adjacent `within`-wide
    epochs; the raw time-range condition REMAINS in the join
    condition (the explode is a stateless projection upstream of the
    join and the watermark column passes through it), so state
    eviction semantics are unchanged and output stays row-identical.
    Inner joins only (the batch tier's contract).  ``bucket='auto'``
    is batch-only — the pick runs a stats job the streaming planner
    cannot: run the pick on a batch sample
    (``operators.joins.derive_join_bucket``), then pass the bool
    (``@plan(bucket='true')`` in QL)."""
    if isinstance(bucket, str):
        raise ValueError(
            "bucket='auto' is batch-only — run the pick on a batch "
            "sample (operators.joins.derive_join_bucket), then pass "
            "bucket=True/False"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    return windowed_stream_join(
        lw,
        rw,
        left_ts,
        right_ts,
        equi_keys,
        within_seconds,
        extra_cond,
        how,
        bucket=bucket,
    )


def stream_table_join(
    stream: DataFrame,
    table: DataFrame,
    on: Column | Sequence[str],
    how: str = "inner",
    broadcast_table: bool = True,
) -> DataFrame:
    """Stream-static join; table snapshot re-read each micro-batch."""
    t = F.broadcast(table) if broadcast_table else table
    return stream.join(t, on=on, how=how)
