"""Out-of-order correction (SURVEY.md §3.9 `reorder:` namespace —
`[ext:reorder]` kslack/akslack).

The reference buffers events and re-emits them in timestamp order
with at most K-slack delay. Spark's native answer is the watermark:
stateful operators already tolerate disorder up to the watermark
delay and drop later events — the same contract kslack provides
(bounded-delay correction, late events beyond the bound discarded).

So the streaming mapping is `withWatermark` (a thin annotation, kept
as an explicit operator so apps porting `reorder:kslack(ts, K)` have a
1:1 target); the batch mapping is a keyed sort.

`akslack` (the reference's AlterableKSlackExtension) ADAPTS K from the
disorder it observes instead of taking it as a constant. This engine's
mapping: per partition key, the observed disorder of an event is
(running max event time in ARRIVAL order) − (its own event time); the
adaptive slack is a rank-based discrete quantile of those disorders
(the q-quantile = the ceil(q·n)-th smallest observed lateness — pure
integer arithmetic, so the Spark plan, the pandas state op and the
DuckDB oracle agree bit-for-bit with no float-interpolation seam), and
events later than the derived slack are dropped — exactly the contract
`kslack` enforces with a constant K.

Scale shape (batch): three windows + the filter, all partitioned by
the stream key — running max over arrival order, rank over lateness,
per-key quantile pick — one hash shuffle total, no global order, no
driver collects. The reference adapts ONE K per stream runtime; a
100 TB stream has no global arrival total-order, so this engine
applies the contract per partition key — the same answer Siddhi apps
express with `partition with (key of stream)`, and the §3.10 scale-out
story (per-key disorder also adapts to per-source skew, which a single
global K cannot).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import key_segments, keyed_groups


def kslack(stream: DataFrame, ts: str, slack: str) -> DataFrame:
    """`reorder:kslack(tsAttr, K)` → event-time tolerance of K on every
    downstream stateful operator. Late events beyond the slack are
    dropped (the reference emits them out-of-order or drops per
    config; we standardize on drop — the stricter contract)."""
    return stream.withWatermark(ts, slack)


def kslack_batch(
    df: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    id_col: str = "event_id",
    arrival_col: str | None = None,
    slack_ms: int = 0,
) -> DataFrame:
    """Batch twin of `reorder:kslack(tsAttr, K)` — the constant-K
    variant of :func:`akslack_batch`: lateness over arrival order
    within the key, drop events later than K (what a K-slack buffer
    would have failed to reorder). One keyed window, no quantile pass.
    Output shape matches the akslack family: (id, key, ts, late_us,
    slack_us) with slack_us the constant K in microseconds."""
    arrival = arrival_col or id_col
    w_arr = (
        Window.partitionBy(key)
        .orderBy(arrival)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = (
        F.unix_micros(F.max(ts).over(w_arr)) - F.unix_micros(F.col(ts))
    ).cast("long")
    return (
        df.select(id_col, key, ts)
        .withColumn("late_us", late)
        .withColumn(
            "slack_us", F.lit(int(slack_ms) * 1000).cast("long")
        )
        .filter(F.col("late_us") <= F.col("slack_us"))
    )


def _quantile_idx(q_pct: int) -> None:
    """(doc anchor) 1-based discrete-quantile index: ceil(q·n) computed
    as (q_pct·n + 99) DIV 100 — integer arithmetic, never float (the
    fp product 0.9·10 = 9.000000000000002 would flip a ceil)."""


def akslack_batch(
    df: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    id_col: str = "event_id",
    arrival_col: str | None = None,
    q_pct: int = 90,
) -> DataFrame:
    """Batch twin of `reorder:akslack(tsAttr)` — adaptive K-slack:

    1. lateness of each event = running max of `ts` over ARRIVAL order
       within its key, minus its own `ts` (microseconds — integer-exact at the fixture's full
       timestamp precision, no ms-flooring seam, ≥ 0);
    2. adaptive slack per key = the ceil(q·n)-th smallest lateness
       (rank-based discrete quantile — an actual observed value);
    3. drop events with lateness > slack (what a K-slack buffer of the
       derived size would have failed to reorder), emit the rest with
       their lateness and the derived slack.

    `arrival_col` is the arrival-order column (ingestion offset, kafka
    offset); defaults to `id_col`. Output: (id, key, ts, late_us,
    slack_us) — all integer-typed except ts."""
    arrival = arrival_col or id_col
    w_arr = (
        Window.partitionBy(key)
        .orderBy(arrival)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = (
        F.unix_micros(F.max(ts).over(w_arr)) - F.unix_micros(F.col(ts))
    ).cast("long")
    d = df.select(id_col, key, ts, F.col(arrival).alias("_arr")).withColumn(
        "late_us", late
    )
    w_key = Window.partitionBy(key)
    w_rank = Window.partitionBy(key).orderBy("late_us", "_arr")
    # integer DIV, not float-divide-then-floor: the _quantile_idx
    # contract ("never float") must hold in all three engines, and a
    # floor-of-double only coincides with integer division while the
    # product stays exactly representable
    d = (
        d.withColumn("_rnk", F.row_number().over(w_rank))
        .withColumn("_cnt", F.count(F.lit(1)).over(w_key))
        .withColumn("_idx", F.expr(f"({q_pct} * _cnt + 99) div 100"))
    )
    slack = F.max(
        F.when(F.col("_rnk") == F.col("_idx"), F.col("late_us"))
    ).over(w_key)
    return (
        d.withColumn("slack_us", slack)
        .filter(F.col("late_us") <= F.col("slack_us"))
        .select(id_col, key, ts, "late_us", "slack_us")
    )


_AKSLACK_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("late_us", T.LongType()),
        T.StructField("slack_us", T.LongType()),
    ]
)
# state: every key's running max in the group, as parallel arrays
_AKSLACK_SEG_STATE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("run_max_us", T.ArrayType(T.LongType())),
    ]
)


def derive_state_buckets(
    n_keys: int, target_keys_per_bucket: int = 1500
) -> int:
    """Bucket-count derivation from OBSERVED key cardinality (r11,
    the `mips_ann_bits` discipline — geometry from measured corpus
    stats, never a constant that silently mis-sizes): the r10 decade
    legs measured the bucketed op at 1.137 M events/s with ~1.2 k
    keys/bucket (×100: 150 k keys / 128 buckets) but 0.717 M events/s
    once growth pushed it to ~12 k keys/bucket (×1000: 1.5 M keys,
    same 128) — the per-bucket segment loop is python-level, so
    keys/bucket must stay roughly constant as keys grow. Next power
    of two of n_keys / target, clamped to [16, 32768]; measure
    cardinality on a history sample (`df.select(key).distinct()
    .count()`) — state keying can't change mid-stream."""
    if n_keys <= 0:
        raise ValueError(f"n_keys must be positive, got {n_keys}")
    raw = max(1, -(-n_keys // target_keys_per_bucket))
    return min(32768, max(16, 1 << (raw - 1).bit_length()))


def akslack(
    stream: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    id_col: str = "event_id",
    q_pct: int = 90,
    n_buckets: int | None = None,
    approx_keys: int | None = None,
    const_slack_us: int | None = None,
) -> DataFrame:
    """Streaming `reorder:akslack` — the per-batch adaptive reorder:
    each micro-batch derives its key's slack from the disorder it
    OBSERVES (the same rank-based discrete quantile as
    :func:`akslack_batch`, over this batch's events with the running
    max carried across batches as state), drops events later than the
    derived slack, and emits the rest. A single-batch replay is
    therefore row-identical to the batch twin — which is what lets the
    relational oracle prove this path. ``const_slack_us`` replaces the
    quantile with a constant K (:func:`kslack_stateful`).

    State per key = ONE long (the running max event time): the
    adaptive quantile re-derives from each batch's observed disorder
    (the "windowed disorder quantile" contract — adaptation reacts at
    batch granularity, like the reference recomputes K per arrived
    chunk), so state never grows with history.

    State groups by the key, or — with ``n_buckets`` — by
    `hash(key) % n_buckets` (:func:`.keyed_groups`), one python call
    per bucket per micro-batch (r10 ×100: the per-key layout's 150 k
    group calls dominated 24 s of wall; 16 buckets cut it 2.7×). The
    kernel is the same either way: per-event work is numpy, plus one
    python-level step per key in the call (running max and quantile
    pick over the key's contiguous batch slice). Sizing: pass
    ``approx_keys`` (measured key cardinality — a distinct count over
    a history sample) and the bucket count derives via
    :func:`derive_state_buckets`; an explicit ``n_buckets``
    overrides."""
    if n_buckets is None and approx_keys is not None:
        # `is not None`, not truthiness: approx_keys=0 is a measurement
        # error and must raise in derive_state_buckets (ADVICE r11)
        n_buckets = derive_state_buckets(approx_keys)

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        run_max = dict(zip(*state.get)) if state.exists else {}
        # the arrow reader may deliver one group's batch rows in
        # several chunks — the quantile must see the WHOLE batch for
        # each key (chunk-local slacks would diverge from the batch
        # twin), so concatenate first
        chunks = [p for p in pdfs if len(p)]
        outs = []
        for pdf in (
            [pd.concat(chunks, ignore_index=True)] if chunks else []
        ):
            # whole-batch view per key, in arrival order
            a = np.argsort(pdf[id_col].to_numpy(), kind="stable")
            keys = pdf["__sem_key"].to_numpy(dtype=object)[a]
            order, seg_start, seg_end = key_segments(keys)
            o = a[order]
            b_keys = keys[order]
            b_ids = pdf[id_col].to_numpy()[o]
            b_ts = pdf[ts].to_numpy()[o]
            ts_us = b_ts.astype("datetime64[us]").astype("int64")
            n = len(b_keys)
            late = np.empty(n, dtype="int64")
            keep = np.zeros(n, dtype=bool)
            slack_out = np.empty(n, dtype="int64")
            for s in np.nonzero(seg_start == np.arange(n))[0]:
                e = seg_end[s] + 1
                k = b_keys[s]
                seg_cm = np.maximum.accumulate(ts_us[s:e])
                if k in run_max:
                    seg_cm = np.maximum(seg_cm, run_max[k])
                seg_late = seg_cm - ts_us[s:e]
                late[s:e] = seg_late
                if const_slack_us is None:
                    idx = (q_pct * (e - s) + 99) // 100  # ceil(q·n), exact
                    slack = int(np.sort(seg_late, kind="stable")[idx - 1])
                else:
                    slack = const_slack_us
                slack_out[s:e] = slack
                keep[s:e] = seg_late <= slack
                run_max[k] = int(seg_cm[-1])
            outs.append(
                pd.DataFrame(
                    {
                        "key": b_keys[keep],
                        "event_id": b_ids[keep],
                        "ts": b_ts[keep],
                        "late_us": late[keep],
                        "slack_us": slack_out[keep],
                    }
                )
            )
        state.update((list(run_max), [int(v) for v in run_max.values()]))
        yield (
            pd.concat(outs, ignore_index=True)
            if outs
            else pd.DataFrame(columns=_AKSLACK_OUT.fieldNames())
        )

    return keyed_groups(stream, key, n_buckets).applyInPandasWithState(
        proc,
        _AKSLACK_OUT,
        _AKSLACK_SEG_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def kslack_stateful(
    stream: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    id_col: str = "event_id",
    slack_ms: int = 0,
    n_buckets: int | None = None,
    approx_keys: int | None = None,
) -> DataFrame:
    """Streaming `reorder:kslack(tsAttr, K)` with the DROP contract
    enforced in-operator — the constant-K sibling of :func:`akslack`
    (same kernel, state layout and ``n_buckets``/``approx_keys``
    sizing) and the state-op twin of :func:`kslack_batch` (ADVICE
    r10: the QL routing must yield the same row set in both runners;
    the watermark annotation alone emits every event because only
    downstream stateful ops read it).

    Per key: lateness = (running max event time over arrival order,
    carried across micro-batches as ONE long of state) − own event
    time; drop events with lateness > K. A single-batch replay is
    row-identical to :func:`kslack_batch` — the shared relational
    oracle proves the pair. Output shape matches the akslack family:
    (key, event_id, ts, late_us, slack_us) with slack_us the constant
    K in microseconds."""
    return akslack(
        stream, ts=ts, key=key, id_col=id_col, n_buckets=n_buckets,
        approx_keys=approx_keys, const_slack_us=int(slack_ms) * 1000,
    )
