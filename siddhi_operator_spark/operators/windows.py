"""Window operators — batch/analytics mode.

The reference's window family lives in
`[core] query/processor/stream/window/` (one `WindowProcessor` subclass
per window; SURVEY.md §3.3). In batch/analytics mode each window maps to
either a `groupBy(window(...))` tumbling aggregation or an analytic
`Window.partitionBy().orderBy()` frame; the streaming twins are in
``siddhi_operator_spark.streaming``.

Scale notes (100 TB): every helper below groups/partitions by explicit
keys so the shuffle is keyed and AQE can split skew; none of them
collect to the driver; frame-based windows avoid a global sort by
partitioning first (a `Window` with no partitionBy is refused).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _keyed_window(keys: Sequence[str], order: Sequence[Column | str]) -> WindowSpec:
    if not keys:
        raise ValueError(
            "analytic windows require partition keys at scale; "
            "a global window serializes 100 TB through one task"
        )
    return Window.partitionBy(*keys).orderBy(*order)


def time_batch(
    df: DataFrame,
    ts: str,
    duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Tumbling time window: Siddhi `timeBatch(t)` / `externalTimeBatch`
    (`TimeBatchWindowProcessor.java`, `ExternalTimeBatchWindowProcessor.java`).

    Native `window()` tumbling aggregation — partial aggregation happens
    map-side before the shuffle, so this scales linearly.
    """
    out = df.groupBy(F.window(ts, duration).alias("w"), *keys).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c not in ("w", *keys)],
    )


def sliding_time(
    df: DataFrame,
    ts: str,
    seconds: float,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Sliding time window: Siddhi `time(t)` (`TimeWindowProcessor.java`).

    Siddhi semantics: each arriving event sees the set of events from the
    last `t` — i.e. a per-event aggregate over `[ts - t, ts]`. That is an
    analytic frame: RANGE BETWEEN t PRECEDING AND CURRENT ROW over the
    event-time axis (integer µs — rangeBetween only takes long offsets,
    and µs keeps sub-second windows exact), partitioned by key.
    """
    if not keys:
        raise ValueError("sliding time windows require partition keys at scale")
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.unix_micros(F.col(ts).cast("timestamp")))
        .rangeBetween(-int(seconds * 1_000_000), 0)
    )
    out = df
    for name, c in aggs.items():
        out = out.withColumn(name, c.over(w))
    return out


def length(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    order: Sequence[Column | str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Sliding count window: Siddhi `length(n)`
    (`LengthWindowProcessor.java`) — each event sees the last n events.

    Batch mapping: ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW. Count
    windows are inherently per-key at scale (SURVEY.md §8.4): a global
    count window totally orders the stream, so keys are mandatory.
    """
    w = _keyed_window(keys, order).rowsBetween(-(n - 1), 0)
    out = df
    for name, c in aggs.items():
        out = out.withColumn(name, c.over(w))
    return out


def length_batch(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    order: Sequence[Column | str],
) -> DataFrame:
    """Tumbling count window: Siddhi `lengthBatch(n)`
    (`LengthBatchWindowProcessor.java`) — emit per n events.

    Adds a `batch_id` column (0-based, per key): floor((row_number-1)/n).
    Callers group by (keys..., batch_id).
    """
    w = _keyed_window(keys, order)
    return df.withColumn(
        "batch_id", ((F.row_number().over(w) - F.lit(1)) / F.lit(n)).cast("long")
    )


def session(
    df: DataFrame,
    ts: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | Sequence[tuple] = (),
) -> DataFrame:
    """Session window: Siddhi `session(gap, key)`
    (`SessionWindowProcessor.java`). Events merge while the gap to the
    previous same-key event is ≤ gap (boundary-touching merges, like
    the reference); session_end = last event + gap.

    Batch formulation: gap-island (lag → running session id → one keyed
    agg) instead of native `session_window` — same shuffle+sort, but
    2× faster at 100M rows (native session-merge machinery costs the
    difference; measured in SCALEBENCH.md round 4; re-confirmed on
    Spark 4.1.2 in round 14 — native still 1.52× worse). The STREAMING
    twin (`streaming.windows.session_agg`) keeps native
    `session_window`, which is what makes incremental stateful merging
    possible there.

    ``aggs`` takes either arbitrary aggregate ``Column``s (this
    gap-island tier: two window passes + one keyed hash aggregate) or
    STRUCTURED ``(op, col, alias)`` tuples with op ∈ {count, sum,
    avg}, which route to :func:`session_prefix` — the r15 prefix-sum
    tier that removes the aggregate entirely (the ×1000 profile
    attributed +8.7 s of the 24 s wall to a back-to-back
    partial+final HashAggregate over ~45 M (key, session) groups with
    a reduction factor of only ~2.2; the prefix tier's per-session
    values are differences of running sums read at session-boundary
    rows, so the group hash table never exists — and at 100 TB scale
    neither does its memory)."""
    if aggs and all(isinstance(a, (tuple, list)) for a in aggs):
        return session_prefix(df, ts, gap, keys=keys, agg_specs=aggs)
    w = Window.partitionBy(*keys).orderBy(ts)
    # timestamp_seconds(0) is the epoch INSTANT (tz-independent), unlike
    # a string literal cast, which parses in the session timezone and
    # would offset the gap by the zone shift on non-UTC sessions.
    gap_us = F.unix_micros(
        F.timestamp_seconds(F.lit(0)) + F.expr(f"INTERVAL {gap}")
    )
    prev = F.lag(F.col(ts)).over(w)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros(F.col(ts)) - F.unix_micros(prev) > gap_us),
        1,
    ).otherwise(0)
    sess = df.withColumn("_new_s", new_s).withColumn(
        "_sid", F.sum("_new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = sess.groupBy(*keys, "_sid").agg(
        F.min(ts).alias("session_start"),
        (F.max(ts) + F.expr(f"INTERVAL {gap}")).alias("session_end"),
        *aggs,
    )
    return out.select(
        "session_start",
        "session_end",
        *keys,
        *[c for c in out.columns if c not in ("session_start", "session_end", "_sid", *keys)],
    )


def session_prefix(
    df: DataFrame,
    ts: str,
    gap: str,
    keys: Sequence[str] = (),
    agg_specs: Sequence[tuple] = (),
) -> DataFrame:
    """Prefix-sum session window (r15) — same semantics as
    :func:`session`, ZERO aggregate operators.

    The gap-island tier pays a partial+final HashAggregate pair over
    (key, session_id) right after the window stage — at events ×1000
    that is ~45 M groups from 100 M rows (reduction factor ~2.2, so
    the partial pass is almost pure overhead) and the measured +8.7 s
    of a 24 s wall.  Sessions are CONTIGUOUS runs in the (key, ts)
    sort order the window stage already produced, so per-session
    count/sum/avg are differences of per-key RUNNING sums evaluated
    at the session's last row:

      pass 1 (one WindowExec — shared spec, offset + growing frames):
        lag(ts)   → session-start flag (same expression as gap-island)
        lead(ts)  → session-LAST flag (the next gap breaks, or no next)
        row_number, and per agg column: running sum + running count
      pass 2 (second WindowExec, depends on pass 1):
        running max of struct(rn, ts, base_run_values…) over the
        start-flagged rows = the CURRENT session's start snapshot
        (struct compares rn first — max picks the latest start ≤ row;
        monotone rn makes this exact even for negative values, where
        a max of the running sums themselves would pick a wrong row)
      then: filter the last rows, project  count = rn − start.rn + 1,
        sum = run − start.base  (null-exact: a per-column non-null
        running count emits NULL when the session saw no non-null
        values, matching the aggregate tier), session_start =
        start.ts, session_end = ts + gap.

    Two WindowExecs, one exchange, one sort — identical to gap-island
    up to the window stage, nothing after it but a filter.  The
    difference-of-prefix-sums float error is ≤ ~1e-11 at 1e5-row key
    prefixes of 2-decimal data — absorbed by the suite's epsilon-bias
    rounding (`fpround.r4`, 1e-9).

    ``agg_specs``: (op, col, alias) with op ∈ {"count", "sum",
    "avg"}; col None (or "*") for count(*).  min/max are not
    prefix-differenceable — use :func:`session` with Column aggs.
    """
    ops = {s[0] for s in agg_specs}
    bad = ops - {"count", "sum", "avg"}
    if bad:
        raise ValueError(
            f"session_prefix supports count/sum/avg, got {sorted(bad)} — "
            "pass Column aggs to session() for other aggregates"
        )
    w = Window.partitionBy(*keys).orderBy(ts)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.unix_micros(
        F.timestamp_seconds(F.lit(0)) + F.expr(f"INTERVAL {gap}")
    )
    us = F.unix_micros(F.col(ts))
    prev = F.lag(F.col(ts)).over(w)
    nxt = F.lead(F.col(ts)).over(w)
    new_s = F.when(
        prev.isNull() | (us - F.unix_micros(prev) > gap_us), 1
    ).otherwise(0)
    is_last = nxt.isNull() | (F.unix_micros(nxt) - us > gap_us)

    val_cols: list[str] = []
    for op, col, _alias in agg_specs:
        if op in ("sum", "avg") and col is None:
            raise ValueError(f"{op} needs a column")
        if col not in (None, "*") and col not in val_cols:
            val_cols.append(col)

    base = df.withColumn("_rn", F.row_number().over(w))
    base = base.withColumn("_new_s", new_s).withColumn("_is_last", is_last)
    for i, c in enumerate(val_cols):
        base = base.withColumn(
            f"_rs{i}", F.sum(F.coalesce(F.col(c), F.lit(0))).over(run)
        ).withColumn(f"_rc{i}", F.count(F.col(c)).over(run))

    start_fields = [F.col("_rn").alias("rn"), F.col(ts).alias("st")]
    for i, c in enumerate(val_cols):
        start_fields.append(
            (F.col(f"_rs{i}") - F.coalesce(F.col(c), F.lit(0))).alias(f"bs{i}")
        )
        start_fields.append(
            (
                F.col(f"_rc{i}")
                - F.when(F.col(c).isNotNull(), 1).otherwise(0)
            ).alias(f"bc{i}")
        )
    start = F.max(
        F.when(F.col("_new_s") == 1, F.struct(*start_fields))
    ).over(run)

    last = base.withColumn("_st", start).filter(F.col("_is_last"))
    n_rows = F.col("_rn") - F.col("_st.rn") + F.lit(1)
    out_cols = [
        F.col("_st.st").alias("session_start"),
        (F.col(ts) + F.expr(f"INTERVAL {gap}")).alias("session_end"),
        *[F.col(k) for k in keys],
    ]
    for op, col, alias in agg_specs:
        if op == "count" and col in (None, "*"):
            out_cols.append(n_rows.alias(alias))
            continue
        i = val_cols.index(col)
        if op == "count":
            # count(col): non-null count difference
            out_cols.append(
                (F.col(f"_rc{i}") - F.col(f"_st.bc{i}")).alias(alias)
            )
            continue
        nn = F.col(f"_rc{i}") - F.col(f"_st.bc{i}")
        diff = F.col(f"_rs{i}") - F.col(f"_st.bs{i}")
        if op == "sum":
            out_cols.append(F.when(nn > 0, diff).alias(alias))
        else:  # avg
            out_cols.append(F.when(nn > 0, diff / nn).alias(alias))
    return last.select(*out_cols)


def sort_topk(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    order: Sequence[Column | str],
) -> DataFrame:
    """Retained top/bottom-n: Siddhi `sort(n, attr, 'asc'|'desc')`
    (`SortWindowProcessor.java`) and `extrema:topK`.

    row_number ≤ n per key. At scale Catalyst runs this as a per-key
    TopK (WindowGroupLimit pushes the limit below the sort since
    Spark 3.5) — no global sort."""
    w = _keyed_window(keys, order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n)


def frequent(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    group_cols: Sequence[str],
) -> DataFrame:
    """Heavy hitters: Siddhi `frequent(n, attrs)` / `lossyFrequent`
    (`FrequentWindowProcessor.java`, `LossyFrequentWindowProcessor.java`,
    Misra-Gries / lossy counting).

    Batch mode computes *exact* heavy hitters (count + rank ≤ n), which
    is the fixed point the reference's sketches approximate. The
    streaming twin keeps Misra-Gries state (streaming module).
    Two-level agg: partial count map-side, then a tiny ranked set.
    """
    counts = df.groupBy(*keys, *group_cols).agg(F.count("*").alias("freq"))
    w = Window.partitionBy(*keys).orderBy(F.desc("freq"), *[F.asc(c) for c in group_cols])
    return counts.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n)


def lossy_frequent(
    df: DataFrame,
    support: float,
    keys: Sequence[str],
    group_cols: Sequence[str],
) -> DataFrame:
    """Support-threshold heavy hitters: Siddhi `lossyFrequent(support,
    error, attrs)` (`LossyFrequentWindowProcessor.java`, lossy counting).

    Lossy counting's contract is "emit every item whose true frequency
    ≥ support × N, none below (support − error) × N". Batch mode
    computes the exact fixed point: count per item, keep freq ≥
    support × group total. Two keyed aggregations, both with map-side
    partial aggregation — no item list ever sits on one node."""
    counts = df.groupBy(*keys, *group_cols).agg(F.count(F.lit(1)).alias("freq"))
    totals = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_total"))
    if keys:
        joined = counts.join(totals, list(keys))
    else:
        # keyless: totals is a single row — broadcast cross join
        joined = counts.crossJoin(F.broadcast(totals))
    return joined.filter(F.col("freq") >= support * F.col("_total")).drop("_total")


def expression_batch(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    budget_col: str,
    limit: float,
) -> DataFrame:
    """Dynamic retain-while window: Siddhi `expressionBatch('…')` /
    `expression('…')` (`ExpressionBatchWindowProcessor.java`,
    `ExpressionWindowProcessor.java`) — the window keeps events while a
    state expression holds (here the canonical form: cumulative
    `sum(budget) <= limit` over the newest events).

    Batch analog: per key, walk from the newest event backwards and
    keep the maximal suffix whose running sum stays within the limit —
    a reverse-cumulative-sum frame filter, no self-join, one keyed
    shuffle."""
    order_cols = [c if isinstance(c, Column) else F.col(c) for c in order]
    w = _keyed_window(keys, [c.desc() for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.withColumn("_run", F.sum(budget_col).over(w))
        .filter(F.col("_run") <= limit)
        .drop("_run")
    )


def expression_sliding(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    budget_col: Column,
    limit: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Dynamic retain-while window, sliding form: Siddhi
    `expression('…')` (`ExpressionWindowProcessor.java`) — on every
    arrival the window evicts from the front until the retain
    expression holds, then the query sees the surviving set. Canonical
    form (as for ``expression_batch``): retain while
    `sum(budget) <= limit`.

    Batch mapping: per event i the window is the maximal trailing
    suffix j..i with `cum[i] − cum[j−1] <= limit` over the key-ordered
    prefix sums. Membership of row k is `k.rn <= i.rn AND
    cum[i] − (cum[k] − budget[k]) <= limit` — a keyed range self-join
    whose output size equals the sum of Siddhi's window occupancies
    (bounded by the budget, NOT quadratic in the key size). ``budget_col``
    must be integer-valued (scale floats first) so the prefix-sum
    comparison is exact on both engines.

    ``aggs`` aggregate over the window rows (columns of the right side,
    suffixed `_w`).
    """
    w = _keyed_window(keys, order)
    cum = F.sum(budget_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_cum", cum.cast("long")
    ).withColumn("_b", budget_col.cast("long"))
    right = base.select(
        *[F.col(k).alias(f"{k}_w") for k in keys],
        F.col("_rn").alias("_rn_w"),
        (F.col("_cum") - F.col("_b")).alias("_prev_w"),
        *[
            F.col(c).alias(f"{c}_w")
            for c in df.columns
            if c not in keys
        ],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"{k}_w"))
    cond = (
        cond
        & (F.col("_rn_w") <= F.col("_rn"))
        & (F.col("_cum") - F.col("_prev_w") <= F.lit(int(limit)))
    )
    joined = base.join(right, cond)
    group_cols = [*keys, "_rn", *[c for c in df.columns if c not in keys]]
    out = joined.groupBy(*group_cols).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.drop("_rn")


def cron_window(
    df: DataFrame,
    ts: str,
    cron_expr: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Cron-scheduled tumbling window: Siddhi `cron('<expr>')`
    (`CronWindowProcessor.java`). Each fire flushes the events that
    arrived since the previous fire; an event exactly at a fire instant
    rolls into the NEXT emission (Quartz flushes before accepting).

    Batch mapping: materialize the fire schedule over the data's
    event-time range (two-scalar bounds agg — no data collected), build
    the (prev_fire, fire] interval table, broadcast it onto the events
    (the schedule is tiny by construction) and aggregate per emission.
    The only full-data shuffle is the keyed aggregation itself.
    """
    from .cron import cron_fires, next_fire_after

    lo, hi = df.agg(F.min(ts), F.max(ts)).first()
    fires = cron_fires(cron_expr, lo, hi)
    fires.append(next_fire_after(cron_expr, fires[-1] if fires else hi))
    bounds = []
    prev = lo
    for f in fires:
        bounds.append((prev, f))
        prev = f
    ivals = df.sparkSession.createDataFrame(
        bounds, "_ival_start timestamp, emission timestamp"
    )
    joined = df.join(
        F.broadcast(ivals),
        (F.col(ts) >= F.col("_ival_start")) & (F.col(ts) < F.col("emission")),
    )
    return joined.groupBy("emission", *keys).agg(*aggs)


def unique_time_batch(
    df: DataFrame,
    ts: str,
    duration: str,
    unique_keys: Sequence[str],
    tiebreak: str,
) -> DataFrame:
    """`unique:timeBatch(attr, t)` (`[ext:unique]`
    `UniqueTimeBatchWindowProcessor.java`): per tumbling interval, the
    latest event per unique key — one keyed dedup per bucket."""
    b = df.withColumn("bucket", F.window(ts, duration)["start"])
    w = Window.partitionBy("bucket", *unique_keys).orderBy(
        F.desc(ts), F.desc(tiebreak)
    )
    return (
        b.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def unique_deduplicate(
    df: DataFrame,
    ts: str,
    unique_keys: Sequence[str],
    within_seconds: float,
    tiebreak: str,
) -> DataFrame:
    """`unique:deduplicate(attr, t)` (`[ext:unique]`
    `DeduplicateWindowProcessor.java`): drop an event when the previous
    arrival with the same unique key is less than t older (every
    arrival refreshes the guard, emitted or not — the reference updates
    its key map unconditionally). One lag() per key, no join."""
    w = Window.partitionBy(*unique_keys).orderBy(ts, tiebreak)
    prev = F.lag(F.col(ts)).over(w)
    gap_ok = prev.isNull() | (
        F.unix_micros(F.col(ts)) - F.unix_micros(prev)
        > int(within_seconds * 1_000_000)
    )
    return df.withColumn("_keep", gap_ok).filter(F.col("_keep")).drop("_keep")


def extrema_by_length(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    order: Sequence[Column | str],
    attr: Column,
    id_col: str,
    mode: str = "max",
) -> DataFrame:
    """`extrema:maxByLength(attr, n)` / `minByLength`
    (`[ext:extrema]` `MaxByLengthWindowProcessor.java`): for each
    event, the event holding the extreme attr among the last n arrivals
    per key. ROWS frame + fixed-width (attr|id) ordering key — the same
    arg-extreme encoding the aggregation suite uses for oracle parity
    (attr must be in [0, 1e12) — enforced with raise_error so an
    overflow fails loudly instead of silently mis-ranking; ids pad to
    10 digits)."""
    w = _keyed_window(keys, order).rowsBetween(-(n - 1), 0)
    packed = F.when(
        (attr < 0) | (attr >= 1e12),
        F.raise_error(
            F.format_string(
                "extrema_by_length attr out of encodable range [0, 1e12): %s",
                attr.cast("string"),
            )
        ),
    ).otherwise(F.format_string("%017.4f|%010d", attr, F.col(id_col)))
    ext = (F.max if mode == "max" else F.min)(packed).over(w)
    return df.withColumn(
        f"{mode}_by_id", F.split(ext, "\\|")[1].cast("long")
    ).withColumn(f"{mode}_by_val", F.split(ext, "\\|")[0].cast("double"))


def extrema_by_time(
    df: DataFrame,
    seconds: float,
    keys: Sequence[str],
    ts_col: str,
    attr: Column,
    id_col: str,
    mode: str = "max",
) -> DataFrame:
    """`extrema:maxByTime(attr, t)` / `minByTime` (`[ext:extrema]`
    `MaxByTimeWindowProcessor.java`): for each event, the event holding
    the extreme attr within the trailing t window per key — the RANGE-
    frame sibling of `extrema_by_length`, same fixed-width (attr|id)
    arg-extreme encoding and range guard."""
    base = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    w = base.orderBy(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).rangeBetween(-int(seconds * 1_000_000), 0)
    packed = F.when(
        (attr < 0) | (attr >= 1e12),
        F.raise_error(
            F.format_string(
                "extrema_by_time attr out of encodable range [0, 1e12): %s",
                attr.cast("string"),
            )
        ),
    ).otherwise(F.format_string("%017.4f|%010d", attr, F.col(id_col)))
    ext = (F.max if mode == "max" else F.min)(packed).over(w)
    return df.withColumn(
        f"{mode}_by_id", F.split(ext, "\\|")[1].cast("long")
    ).withColumn(f"{mode}_by_val", F.split(ext, "\\|")[0].cast("double"))


def topk_items(
    df: DataFrame,
    k: int,
    keys: Sequence[str],
    item_cols: Sequence[str],
    bottom: bool = False,
) -> DataFrame:
    """`extrema:topK(attr, k)` / `bottomK` (`[ext:extrema]`
    `TopKStreamProcessor.java`): the k most (least) frequent item
    values per key, with their counts. Two-level aggregation — partial
    count map-side, then a per-key ranked head."""
    counts = df.groupBy(*keys, *item_cols).agg(F.count(F.lit(1)).alias("freq"))
    direction = F.asc("freq") if bottom else F.desc("freq")
    w = Window.partitionBy(*keys).orderBy(
        direction, *[F.asc(c) for c in item_cols]
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def batch_chunks(
    df: DataFrame,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    chunk_col: str | None = None,
) -> DataFrame:
    """`batch([n])` (`[core] BatchWindowProcessor.java`): the window is
    exactly the current arrival chunk. In batch/analytics mode the
    chunk is the whole input (or an explicit chunk column — e.g. an
    ingest-file id — when the caller models multiple arrivals):
    aggregate per chunk with no retained state."""
    chunk = (F.col(chunk_col) if chunk_col else F.lit(0)).alias("chunk_id")
    return df.groupBy(chunk, *keys).agg(*aggs)


def unique_last(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
) -> DataFrame:
    """Keep the latest event per key: `unique:*` extension family
    (`[ext:unique]`, SURVEY.md §3.3) — first/last per unique key.

    row_number desc = 1. (`dropDuplicates` would keep an *arbitrary*
    row; the reference's unique:last is order-defined.)"""
    w = _keyed_window(keys, [c if isinstance(c, Column) else F.col(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delay(df: DataFrame, ts: str, duration: str) -> DataFrame:
    """Time-shift: Siddhi `delay(t)` (`DelayWindowProcessor.java`) —
    events re-emitted t later. In event-time terms that is `ts + t`."""
    return df.withColumn(ts, F.col(ts) + F.expr(f"INTERVAL {duration}"))


def expired_length(
    df: DataFrame,
    n: int,
    keys: Sequence[str],
    order: Sequence[Column | str],
    ts: str,
) -> DataFrame:
    """`insert expired events into` over `length(n)`
    (`LengthWindowProcessor`'s expiry path): event i is evicted when
    event i+n arrives (per key) — `expired_ts = lead(ts, n)`; events
    with no n-th successor never expire and are dropped from the
    expired stream."""
    w = _keyed_window(keys, order)
    return df.withColumn("expired_ts", F.lead(F.col(ts), n).over(w)).filter(
        F.col("expired_ts").isNotNull()
    )


def output_event_type(
    current: DataFrame, expired: DataFrame, ts: str
) -> DataFrame:
    """`insert all events into` — the tagged union QuerySelector emits:
    current rows at their own timestamp, expired rows at their eviction
    time, distinguished by `etype` (the reference carries the flag on
    the Event object; batch output materializes it as a column)."""
    cur = current.withColumn("emit_ts", F.col(ts)).withColumn(
        "etype", F.lit("current")
    )
    exp = (
        expired.withColumn("emit_ts", F.col("expired_ts"))
        .drop("expired_ts")
        .withColumn("etype", F.lit("expired"))
    )
    return cur.unionByName(exp)


# ---------------------------------------------------------------------------
# Custom-window plugin SPI — the `WindowProcessor` extension point
# (`[core] query/processor/stream/window/WindowProcessor.java` +
# `@Extension` registration; SURVEY.md §3.11). A plugin is a plain
# function (df, args, *, keys, ts_col, id_col) -> DataFrame registered
# under a namespaced kind; the SiddhiQL front end routes any
# `#window.<ns>:<name>(...)` / `#<ns>:<name>(...)` it does not know to
# this registry, so user windows are used EXACTLY like built-ins.
# ---------------------------------------------------------------------------
WINDOW_PLUGINS: dict[str, object] = {}


def register_window_processor(kind: str):
    """Register a custom window under ``kind`` (use a namespaced name
    like ``custom:stride`` — un-namespaced kinds are reserved for the
    built-in family). The decorated function receives the input frame,
    the raw window-argument strings, and keyword context (keys,
    ts_col, id_col) and must return a DataFrame — the batch fixed
    point of the window's retained set, same contract as every
    operator in this module."""

    def deco(fn):
        WINDOW_PLUGINS[kind.lower()] = fn
        return fn

    return deco


@register_window_processor("custom:stride")
def stride_window(
    df: DataFrame,
    args: Sequence[str],
    *,
    keys: Sequence[str] = (),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Worked SPI example — a deterministic down-sampling window: keep
    every n-th event per key in (ts, id) order (the reproducible
    stream thinning a load-shedding `WindowProcessor` plugin would
    do). Keyed row_number → modulo filter: one keyed shuffle, no
    global sort, WindowGroupLimit-class scaling."""
    n = int(args[0])
    if not keys:
        raise ValueError(
            "custom:stride requires partition keys — use it inside a "
            "`partition with (key of Stream)` block or with `group by` "
            "(a global stride totally orders the stream, which does "
            "not scale)"
        )
    w = _keyed_window(list(keys), [F.col(ts_col).asc(), F.col(id_col).asc()])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % n == 0)
        .drop("_rn")
    )
