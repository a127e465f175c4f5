"""Join operators — batch/analytics mode.

The reference's only join algorithm is a windowed nested-loop with a
compiled condition (`[core] query/input/stream/join/JoinProcessor.java`,
`util/parser/JoinInputStreamParser.java`; table probes use hash-index
lookups via `table/holder/IndexedEventHolder.java`) — SURVEY.md §3.4.
On Spark we instead *declare* the join and let Catalyst choose
broadcast-hash / sort-merge / shuffle-hash; our job is to keep the
small side broadcastable and the time bound tight so state stays
bounded in the streaming twin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stream_table_join(
    stream: DataFrame,
    table: DataFrame,
    on: Column | Sequence[str],
    how: str = "inner",
    broadcast_table: bool = True,
) -> DataFrame:
    """Stream ⋈ table: each event probes the table
    (`IndexOperator`/`CollectionOperator`, SURVEY.md §3.4).

    The reference's `@PrimaryKey` hash-index lookup ≡ a broadcast hash
    join: ship the dimension to every executor, probe per row, no
    shuffle of the 100 TB fact side. Set ``broadcast_table=False`` for
    dimensions too big to broadcast (falls back to AQE's choice,
    typically sort-merge with the dimension shuffled).
    """
    t = F.broadcast(table) if broadcast_table else table
    return stream.join(t, on=on, how=how)


def in_table(
    stream: DataFrame,
    table: DataFrame,
    on: Column | Sequence[str],
    negate: bool = False,
    broadcast_table: bool = True,
) -> DataFrame:
    """Membership: Siddhi `expr in TableName`
    (`[core] executor/condition/InConditionExpressionExecutor.java`).

    left-semi (or left-anti for the absent-from-table variant the
    reference writes as `not ... in`). Broadcast keeps it shuffle-free.
    """
    t = F.broadcast(table) if broadcast_table else table
    return stream.join(t, on=on, how="left_anti" if negate else "left_semi")


# The memo of the hot-key regime pick: keyed by the tagged frame's
# analyzed-plan semanticHash (Catalyst's canonical identity — it covers
# the input plans, keys and predicates), so building the same auto
# query twice runs the stats job once.  In-process only, so the process
# IS the code version.  A source whose files change under an unchanged
# plan serves the cached pick; that is perf-only (the pick never
# changes rows), and clear_decision_cache() is the refresh lever.
_DECISION_CACHE: dict[int, bool] = {}
STATS_JOBS_RUN = 0  # incremented per executed stats job (test hook)


def clear_decision_cache() -> None:
    _DECISION_CACHE.clear()


def _hot_key_rule(max_pairs: int, total: int) -> bool:
    """Take the hot-key insurance tier iff the worst key's pair
    production exceeds ``max(total / 4, 1e6)`` — see
    :func:`_hot_key_pick`."""
    return max_pairs > max(total // 4, 1_000_000)


def _hot_key_pick(tagged: DataFrame) -> bool:
    """The hot-key regime pick behind ``bucket="auto"`` (here) and
    ``impl="auto"`` (`operators/patterns.py`): True picks the
    insurance tier — the epoch-coarsened join, the pattern scan.

    ``tagged`` holds one row per event: key columns ``_k0.._kn`` and
    ``_l``/``_r`` flags counting it on the left (arm) and right
    (probe) side.  The plain keyed plans' degenerate regime is per-key
    pair production — l_k × r_k rows for key k before the time
    residual or first-match filter drops them.  One key holding 400 k
    events is ~1.7e8 pattern pairs (the join could not finish a rep in
    9.5 min where the scan took 1.6–4.7 s, SCALEBENCH r12) or ~4e10
    join pairs (`jws_hotkey`, SCALEBENCH r13).  The insurance tiers
    cost a keyed sort or epoch explode instead, measured 1.4–1.7×
    slower at constant per-key density (r12 ×1000, r13 ×10000).

    Rule (:func:`_hot_key_rule`): insure iff ``max_k(l_k × r_k) >
    max(total / 4, 1e6)``.  ``total / 4`` is the crossover: the
    insurance penalty is ~0.4× of the O(n) base work and each excess
    pair costs ~2 shuffled rows.  The 1e6 floor keeps small inputs on
    the plain plans, which are faster there.

    Cost: one aggregation job (per-key sums, then a 1-row max/sum),
    about one execution of the query at events ×10000 (SCALEBENCH
    r13), memoized per tagged plan.  A NULL key counts as one key, the
    rule of the pattern kernels; a caller whose plans never match a
    NULL key leaves it out of ``tagged`` (:func:`derive_join_bucket`
    drops those rows, the pattern operators' probe filter zeroes their
    ``_r``).  Streaming inputs raise — the job cannot run on a
    streaming plan."""
    global STATS_JOBS_RUN
    if tagged.isStreaming:
        raise ValueError(
            "impl='auto' / bucket='auto' is batch-only: the hot-key "
            "pick runs a stats job at plan-build time — run the pick on "
            "a batch sample, then pass the tier explicitly "
            "(@plan(...) in QL)"
        )
    try:
        token = tagged._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # no JVM handle (Spark Connect): skip the memo
        token = None
    if token in _DECISION_CACHE:
        return _DECISION_CACHE[token]
    STATS_JOBS_RUN += 1
    keys = [c for c in tagged.columns if c.startswith("_k")]
    row = (
        tagged.groupBy(*keys)
        .agg(F.sum("_l").alias("_nl"), F.sum("_r").alias("_nr"))
        .agg(
            F.max(F.col("_nl") * F.col("_nr")).alias("max_pairs"),
            F.sum(F.col("_nl") + F.col("_nr")).alias("total"),
        )
        .first()
    )
    # no rows on either side: either plan is a no-op
    pick = row["max_pairs"] is not None and _hot_key_rule(
        row["max_pairs"], row["total"]
    )
    if token is not None:
        _DECISION_CACHE[token] = pick
    return pick


def derive_join_bucket(
    left: DataFrame,
    right: DataFrame,
    equi_keys: Sequence[tuple[str, str]],
) -> bool:
    """The plain-vs-epoch-coarsened pick for
    :func:`windowed_stream_join` (``bucket="auto"``): True iff the
    worst key's ``l_k × r_k`` pair production is hot
    (:func:`_hot_key_pick`).  Rows with a NULL equi key are left out:
    the join never matches them."""

    def side(df: DataFrame, cols: list[str], is_left: int) -> DataFrame:
        return df.select(
            *[F.col(c).alias(f"_k{i}") for i, c in enumerate(cols)],
            F.lit(is_left).alias("_l"),
            F.lit(1 - is_left).alias("_r"),
        )

    return _hot_key_pick(
        side(left, [p[0] for p in equi_keys], 1)
        .unionByName(side(right, [p[1] for p in equi_keys], 0))
        .dropna()
    )


def windowed_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    equi_keys: Sequence[tuple[str, str]],
    within_seconds: float,
    extra_cond: Column | None = None,
    how: str = "inner",
    unidirectional: bool = False,
    bucket: bool | str = False,
) -> DataFrame:
    """Stream ⋈ stream over time windows: Siddhi
    `from S1#window.time(t) join S2#window.time(t) on cond`
    (`JoinProcessor.java`): each arrival probes the other side's last-t
    window, i.e. matches satisfy |ts_l − ts_r| ≤ t plus the condition.

    Batch mapping: equi-join on keys + time-range residual. The equi
    keys make it a hash/sort-merge join (NOT a cartesian range probe);
    the range is a cheap post-filter.

    ``bucket=True`` (batch inner joins only) additionally coarsens time
    into `within`-wide epochs and adds them to the equi keys: the right
    side carries its epoch, the left side explodes to the epochs a
    match could live in (3 for symmetric, 2 for unidirectional). Pair
    production then drops from |keyed window|² to only the pairs in
    adjacent epochs — the hash-join analog of an interval join, and the
    hot-key insurance when one key is pathologically dense. Measured
    ×100 on the horizontally scaled fixture (key cardinality grows,
    per-key density constant) it is ~1.4× SLOWER than the plain keyed
    join (1.69× at ×10000, SCALEBENCH r13), so it stays opt-in.
    ``bucket="auto"`` (r13) DERIVES the pick from measured key density
    (:func:`derive_join_bucket` — one stats job; the hot-key fixture
    where the plain join cannot finish picks the coarsened tier,
    constant density stays plain). ``"auto"`` is batch-only — the
    stats job cannot run on a streaming plan (guarded) — but
    ``bucket=True`` itself is streaming-safe (r14): the raw
    time-interval condition stays in the join condition, so
    Structured Streaming sizes state eviction exactly as in the plain
    plan, while the epoch keys bound per-key state probes (see
    ``streaming.joins.stream_stream_join``)."""
    if isinstance(bucket, str):
        if bucket != "auto":
            raise ValueError(f"bucket must be a bool or 'auto', got {bucket!r}")
        bucket = how == "inner" and derive_join_bucket(left, right, equi_keys)
    w_us = int(within_seconds * 1_000_000)
    if bucket and how == "inner":
        # right: its own epoch; left: every epoch a partner could be in
        right = right.withColumn(
            "_tb", F.floor(F.unix_micros(F.col(right_ts)) / F.lit(w_us))
        )
        lb = F.floor(F.unix_micros(F.col(left_ts)) / F.lit(w_us))
        offsets = [-1, 0] if unidirectional else [-1, 0, 1]
        left = left.withColumn(
            "_tb", F.explode(F.array(*[lb + F.lit(o) for o in offsets]))
        )
        equi_keys = [*equi_keys, ("_tb", "_tb")]
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = None
    for lk, rk in equi_keys:
        c = F.col(f"l.{lk}") == F.col(f"r.{rk}")
        cond = c if cond is None else (cond & c)
    if unidirectional:
        # only the LEFT side triggers output (grammar keyword
        # `unidirectional`; `JoinProcessor` trigger flags): a pair
        # exists iff the right event was already in the window when the
        # left event arrived → r.ts ∈ [l.ts − t, l.ts]
        rng = (rts >= lts - F.expr(f"INTERVAL {within_seconds} SECONDS")) & (
            rts <= lts
        )
    else:
        rng = (rts >= lts - F.expr(f"INTERVAL {within_seconds} SECONDS")) & (
            rts <= lts + F.expr(f"INTERVAL {within_seconds} SECONDS")
        )
    cond = rng if cond is None else (cond & rng)
    if extra_cond is not None:
        cond = cond & extra_cond
    out = left.alias("l").join(right.alias("r"), on=cond, how=how)
    if bucket and how == "inner":
        out = out.drop("_tb")
    return out


def join_aggregation(
    stream: DataFrame,
    rollup: DataFrame,
    on: Column | Sequence[str],
    start: Column | str | None = None,
    end: Column | str | None = None,
    bucket_col: str = "bucket_start",
    how: str = "inner",
) -> DataFrame:
    """Stream ⋈ incremental aggregation: Siddhi
    `join AggName on cond within <range> per <granularity>`
    (`[core] aggregation/IncrementalAggregateCompileCondition.java`).

    ``rollup`` is one granularity table from
    ``operators.incremental.rollup_cascade``; `within` becomes a
    partition-prunable range filter on the bucket column *before* the
    join, so only the needed rollup slices are scanned.
    """
    if start is not None:
        rollup = rollup.filter(F.col(bucket_col) >= start)
    if end is not None:
        rollup = rollup.filter(F.col(bucket_col) < end)
    return stream.join(F.broadcast(rollup), on=on, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Backward as-of join: attach to each left row the LATEST right row
    with ``right.ts <= left.ts`` per key (the canonical timeseries
    enrichment the reference expresses as a length(1)-window join per
    partition; beyond-reference operator for training-data pipelines).

    Scale design — NOT an inequality join. A naive `l.ts >= r.ts` theta
    join is O(n·m) per key and explodes on hot keys. Instead: tag both
    sides, union, and run ONE window pass per key ordered by
    (ts, side, tiebreak): `last(right_col, ignorenulls=True)` carries
    the most recent right values forward onto each left row. Cost = one
    shuffle of (left + right) on the key — identical asymptotics to any
    keyed join, no range blowup, AQE handles key skew. Right rows sort
    BEFORE left rows at equal ts (side 0 < 1), so ties match, matching
    `ASOF JOIN`'s `>=` semantics.

    ``right_cols`` are the payload columns to carry (prefixed in the
    output as given); ``tolerance_seconds`` nulls matches older than
    the tolerance. ``tiebreak`` orders concurrent right rows (last one
    wins); pre-dedup the right side for full determinism.
    """
    keys = list(keys)
    lcols = [c for c in left.columns]
    payload = list(right_cols) or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    l_tag = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in keys and c != left_ts],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
        *[
            F.lit(None).cast(right.schema[t].dataType).alias(f"__tb_{t}")
            for t in tiebreak
        ],
    )
    r_tag = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in keys and c != left_ts],
        *[F.col(c).alias(f"__r_{c}") for c in payload],
        F.col(right_ts).alias("__r_ts"),
        *[F.col(t).alias(f"__tb_{t}") for t in tiebreak],
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", *[f"__tb_{t}" for t in tiebreak])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
            for c in payload
        ],
        F.last("__r_ts", ignorenulls=True).over(w).alias("__m_ts"),
    )
    out = carried.filter(F.col("__side") == 1)
    if tolerance_seconds is not None:
        stale = (
            F.col("__m_ts").isNull()
            | (F.col("__ts").cast("double") - F.col("__m_ts").cast("double")
               > float(tolerance_seconds))
        )
        out = out.select(
            "*",
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(f"__m_{c}"))
                .alias(f"__mm_{c}")
                for c in payload
            ],
            F.when(stale, F.lit(None)).otherwise(F.col("__m_ts")).alias("__mm_ts"),
        )
        m = lambda c: f"__mm_{c}"  # noqa: E731
        mts = "__mm_ts"
    else:
        m = lambda c: f"__m_{c}"  # noqa: E731
        mts = "__m_ts"
    return out.select(
        *[F.col(k) for k in keys],
        F.col("__ts").alias(left_ts),
        *[F.col(c) for c in lcols if c not in keys and c != left_ts],
        *[F.col(m(c)).alias(f"r_{c}") for c in payload],
        F.col(mts).alias(f"r_{right_ts}"),
    )


def range_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_ts: str = "start",
    end_ts: str = "end",
    bucket_seconds: int = 600,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: pair each point with every interval
    containing it (`start <= point.ts < end`) — the shape behind
    "events inside maintenance windows / sessions / campaigns".

    Scale design — a bare inequality join is a cartesian range probe
    (O(points × intervals)). Instead each interval EXPLODES into the
    fixed-width time buckets it covers (`sequence()` — bounded by
    interval_length / bucket_seconds rows), points map to exactly one
    bucket, and the join becomes an equi-join on bucket with the exact
    range check as a residual. Candidate volume is O(points +
    intervals × L/g) — tunable, shuffle-partitioned on bucket, AQE
    splits hot buckets. Pick ``bucket_seconds`` ≈ median interval
    length so most intervals explode into 1–2 buckets.
    """
    b = F.lit(int(bucket_seconds))
    pts = points.withColumn(
        "__bucket", (F.col(point_ts).cast("long") / b).cast("long")
    )
    ivs = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(start_ts).cast("long") / b).cast("long"),
                # end is exclusive: a point at exactly `end` never
                # matches, so the last candidate bucket is the one
                # containing end - 1s
                ((F.col(end_ts).cast("long") - 1) / b).cast("long"),
            )
        ),
    )
    cond = (
        (pts["__bucket"] == ivs["__bucket"])
        & (pts[point_ts] >= ivs[start_ts])
        & (pts[point_ts] < ivs[end_ts])
    )
    return pts.join(ivs, on=cond, how=how).drop("__bucket")
