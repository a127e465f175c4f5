"""Streaming window operators.

Native event-time windows (tumbling/sliding/session) are thin
watermarked twins of the batch operators. Count-based windows —
`length(n)` / `lengthBatch(n)` (`LengthWindowProcessor.java`,
`LengthBatchWindowProcessor.java`) — and the retain-while
`expression` window have no Spark primitive and run as keyed state
machines on ``applyInPandasWithState`` (SURVEY.md §5 "custom work"
item 2).

Scale notes: all state is keyed (the shuffle is hash(key)); count
windows are per-key only — a GLOBAL count window is a deliberate
non-goal in streaming mode (it totally orders the stream; the batch
twin covers global analytics). RocksDB state store (session default)
keeps big keyed state off-heap.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import key_segments, keyed_groups


def tumbling_agg(
    stream: DataFrame,
    ts: str,
    duration: str,
    watermark: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Streaming `timeBatch(t)`: watermark + tumbling window agg.
    Append mode emits each window once, when the watermark passes its
    end — the reference's batch-expiry emission."""
    out = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(ts, duration).alias("w"), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def sliding_agg(
    stream: DataFrame,
    ts: str,
    duration: str,
    slide: str,
    watermark: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Streaming sliding `time(t)` approximation at `slide`
    granularity (exact per-event sliding is the batch twin; in
    streaming the reference's per-arrival emission maps to overlapping
    window panes)."""
    out = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(ts, duration, slide).alias("w"), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def session_agg(
    stream: DataFrame,
    ts: str,
    gap: str,
    watermark: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Streaming `session(gap, key, allowedLatency)`
    (`SessionWindowProcessor.java`): native session_window; the
    watermark delay IS allowedLatency."""
    out = (
        stream.withWatermark(ts, watermark)
        .groupBy(F.session_window(ts, gap).alias("w"), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *[c for c in out.columns if c != "w"],
    )


# --------------------------------------------------------------------
# count windows: applyInPandasWithState
# --------------------------------------------------------------------


def _micros(col: pd.Series) -> np.ndarray:
    """A timestamp column as int64 epoch microseconds (Spark's own
    resolution, so the round trip through state is exact)."""
    return col.to_numpy().astype("datetime64[us]").astype("int64")


_LENGTH_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("n_in_window", T.IntegerType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("avg_value", T.DoubleType()),
    ]
)
# state: flat parallel arrays over every key in the group, grouped by
# key in storage order (each key's segment is its last-n deque)
_LENGTH_SEG_STATE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
    ]
)


def length_window(
    stream: DataFrame,
    n: int,
    key: str,
    n_buckets: int | None = None,
    ts: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming `length(n)` per key (`LengthWindowProcessor.java`):
    each arriving event emits the aggregate over the last n events of
    its key. Events are processed in event-time order within each
    micro-batch (cross-batch order is arrival order, exactly the
    reference's arrival-ordered window). State groups by the key, or
    by `hash(key) % n_buckets` (see :func:`.keyed_groups`) — the
    kernel is the same: per-key windows computed vectorized across key
    segments (state rows first, then the batch by (ts, id);
    segment-reset prefix sums), O(batch) per call, no per-event
    python."""

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            x = state.get
            st_keys = np.asarray(x[0], dtype=object)
            st_ids = np.asarray(x[1], dtype="int64")
            st_tss = np.asarray(x[2], dtype="int64")
            st_vals = np.asarray(x[3], dtype="float64")
        else:
            st_keys = np.empty(0, dtype=object)
            st_ids = np.empty(0, dtype="int64")
            st_tss = np.empty(0, dtype="int64")
            st_vals = np.empty(0, dtype="float64")
        outs = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            b_ids = pdf[id_col].to_numpy(dtype="int64")
            b_tss = _micros(pdf[ts])
            b = np.lexsort((b_ids, b_tss))  # the batch in (ts, id) order
            keys_all = np.concatenate(
                [st_keys, pdf["__sem_key"].to_numpy(dtype=object)[b]]
            )
            order, seg_start, seg_end = key_segments(keys_all)
            keys_s = keys_all[order]
            ids_s = np.concatenate([st_ids, b_ids[b]])[order]
            tss_s = np.concatenate([st_tss, b_tss[b]])[order]
            vals_s = np.concatenate(
                [st_vals, pdf[value_col].to_numpy(dtype="float64")[b]]
            )[order]
            new_s = order >= len(st_keys)

            pos = np.arange(len(keys_s))
            cs = np.concatenate([[0.0], np.cumsum(vals_s)])
            lo = np.maximum(seg_start, pos + 1 - n)
            sums = cs[pos + 1] - cs[lo]
            counts = (pos + 1 - lo).astype("int32")
            outs.append(
                pd.DataFrame(
                    {
                        "key": keys_s[new_s],
                        "event_id": ids_s[new_s],
                        "ts": (tss_s[new_s] * 1000).astype("datetime64[ns]"),
                        "n_in_window": counts[new_s],
                        "sum_value": sums[new_s],
                        "avg_value": sums[new_s] / counts[new_s],
                    }
                )
            )
            # new state: last n rows per key segment, in order
            keep = pos >= np.maximum(seg_start, seg_end + 1 - n)
            st_keys = keys_s[keep]
            st_ids = ids_s[keep]
            st_tss = tss_s[keep]
            st_vals = vals_s[keep]
        state.update(
            (st_keys.tolist(), st_ids.tolist(), st_tss.tolist(), st_vals.tolist())
        )
        yield (
            pd.concat(outs, ignore_index=True)
            if outs
            else pd.DataFrame(columns=_LENGTH_OUT.fieldNames())
        )

    return keyed_groups(stream, key, n_buckets).applyInPandasWithState(
        proc,
        _LENGTH_OUT,
        _LENGTH_SEG_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


_LBATCH_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("batch_seq", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("first_id", T.LongType()),
        T.StructField("last_id", T.LongType()),
    ]
)
_LBATCH_STATE = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
    ]
)


def length_batch_window(
    stream: DataFrame,
    n: int,
    key: str,
    ts: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming `lengthBatch(n)` per key
    (`LengthBatchWindowProcessor.java`): buffer events; every n-th
    event flushes one aggregate row. Partial batches persist in state
    across micro-batches. State groups per key only
    (:func:`.keyed_groups`); a NULL key is its own group, emitted as
    NULL."""

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # vectorized: carry-over + sorted batch, reshape complete
        # chunks of n and reduce per row — no iterrows (round-1/2
        # advice; same numpy hoist as length_window above)
        if state.exists:
            seq, s_ids, s_vals = state.get
            s_ids, s_vals = list(s_ids), list(s_vals)
        else:
            seq, s_ids, s_vals = 0, [], []
        outs = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([ts, id_col])
            ids = np.concatenate(
                [np.asarray(s_ids, dtype="int64"), pdf[id_col].to_numpy(dtype="int64")]
            )
            vals = np.concatenate(
                [
                    np.asarray(s_vals, dtype="float64"),
                    pdf[value_col].to_numpy(dtype="float64"),
                ]
            )
            n_complete = len(ids) // n
            if n_complete:
                chunk_ids = ids[: n_complete * n].reshape(n_complete, n)
                chunk_vals = vals[: n_complete * n].reshape(n_complete, n)
                outs.append(
                    pd.DataFrame(
                        {
                            "key": key_tuple[0],
                            "batch_seq": np.arange(seq, seq + n_complete),
                            "n": np.int32(n),
                            "sum_value": chunk_vals.sum(axis=1),
                            "first_id": chunk_ids[:, 0],
                            "last_id": chunk_ids[:, -1],
                        }
                    )
                )
                seq += n_complete
            s_ids = [int(i) for i in ids[n_complete * n :]]
            s_vals = [float(v) for v in vals[n_complete * n :]]
        state.update((seq, s_ids, s_vals))
        yield (
            pd.concat(outs, ignore_index=True)
            if outs
            else pd.DataFrame(
                columns=["key", "batch_seq", "n", "sum_value", "first_id", "last_id"]
            )
        )

    return keyed_groups(stream, key, None).applyInPandasWithState(
        proc,
        _LBATCH_OUT,
        _LBATCH_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


_EXPR_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("win_n", T.IntegerType()),
        T.StructField("win_sum", T.DoubleType()),
    ]
)
# state: each key's retained suffix as flat parallel arrays, grouped
# by key in storage order
_EXPR_SEG_STATE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("bs", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
    ]
)


def expression_window(
    stream: DataFrame,
    limit: int,
    key: str,
    n_buckets: int | None = None,
    budget_scale: int = 100,
    ts: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming sliding `expression('sum(value) <= L')` per key
    (`ExpressionWindowProcessor.java` — SURVEY.md §3.3 dynamic
    retain-while window): each arrival joins the window, then the
    window evicts from the FRONT until the retain expression holds
    again; the emission is the per-arrival aggregate over the
    survivors. Budgets are integer-scaled (cents) so the running sum
    is exact — the same contract as the batch twin
    (`operators.windows.expression_sliding`), whose keyed range
    self-join oracle proves this state machine.

    The retain-while semantics VECTORIZE: budgets are non-negative, so
    the per-key prefix-sum is monotone and each event's window start
    is one `np.searchsorted(pre, pre[i+1] - limit)` — every key's
    windows in the call come from one binary search, no per-event
    eviction loop. State is each key's retained suffix (bounded by the
    budget, not the stream), grouped by the key or by
    `hash(key) % n_buckets` (see :func:`.keyed_groups`)."""

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            x = state.get
            st_keys = np.asarray(x[0], dtype=object)
            st_bs = np.asarray(x[1], dtype="int64")
            st_vals = np.asarray(x[2], dtype="float64")
            st_ids = np.asarray(x[3], dtype="int64")
            st_tss = np.asarray(x[4], dtype="int64")
        else:
            st_keys = np.empty(0, dtype=object)
            st_bs = np.empty(0, dtype="int64")
            st_vals = np.empty(0, dtype="float64")
            st_ids = np.empty(0, dtype="int64")
            st_tss = np.empty(0, dtype="int64")
        outs = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            b_ids = pdf[id_col].to_numpy(dtype="int64")
            b_tss = _micros(pdf[ts])
            b = np.lexsort((b_ids, b_tss))  # the batch in (ts, id) order
            b_vals = pdf[value_col].to_numpy(dtype="float64")[b]
            if not (b_vals >= 0).all():  # NaN fails too: NULL values
                raise ValueError(
                    f"expression window: {value_col!r} must be non-NULL "
                    "and non-negative (window starts are searched in a "
                    "monotone prefix sum)"
                )
            keys_all = np.concatenate(
                [st_keys, pdf["__sem_key"].to_numpy(dtype=object)[b]]
            )
            order, seg_start, seg_end = key_segments(keys_all)
            keys_s = keys_all[order]
            bs_s = np.concatenate(
                [st_bs, np.rint(b_vals * budget_scale).astype("int64")]
            )[order]
            vals_s = np.concatenate([st_vals, b_vals])[order]
            ids_s = np.concatenate([st_ids, b_ids[b]])[order]
            tss_s = np.concatenate([st_tss, b_tss[b]])[order]
            new_s = order >= len(st_keys)

            pre = np.concatenate([[0], np.cumsum(bs_s)])
            pos = np.arange(len(keys_s))
            # minimal j with window sum pre[i+1]-pre[j] <= limit
            j = np.searchsorted(pre, pre[1:] - limit, side="left")
            j = np.maximum(j, seg_start)
            win_n = (pos + 1 - j).astype("int32")  # 0 = own-budget bust
            win_sum = (pre[pos + 1] - pre[j]) / budget_scale
            win_sum[win_n == 0] = 0.0
            outs.append(
                pd.DataFrame(
                    {
                        "key": keys_s[new_s],
                        "event_id": ids_s[new_s],
                        "ts": (tss_s[new_s] * 1000).astype("datetime64[ns]"),
                        "value": vals_s[new_s],
                        "win_n": win_n[new_s],
                        "win_sum": win_sum[new_s],
                    }
                )
            )
            # retained suffix per key = segment-end's window start
            # (never drop the last row: an own-budget buster stays
            # resident as a later-window candidate)
            keep = pos >= np.minimum(j[seg_end], seg_end)
            st_keys = keys_s[keep]
            st_bs = bs_s[keep]
            st_vals = vals_s[keep]
            st_ids = ids_s[keep]
            st_tss = tss_s[keep]
        state.update(
            (
                st_keys.tolist(),
                st_bs.tolist(),
                st_vals.tolist(),
                st_ids.tolist(),
                st_tss.tolist(),
            )
        )
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return keyed_groups(stream, key, n_buckets).applyInPandasWithState(
        proc,
        _EXPR_OUT,
        _EXPR_SEG_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
