"""CEP pattern / sequence matching — batch/analytics formulations.

The reference's CEP core (`[core] query/input/stream/state/` —
`StreamPreStateProcessor.java`, `LogicalPreStateProcessor.java`,
`CountPreStateProcessor.java`, `AbsentStreamPreStateProcessor.java`;
SURVEY.md §3.10) matches non-contiguous `->` (followed-by) patterns,
contiguous sequences, logical and/or, absence (`not … for t`), and
count quantifiers, always per key, within an optional time budget.

Batch mode maps each construct to relational algebra Catalyst can
optimize (time-bounded equi-joins, lead/lag analytics); the streaming
NFA twin lives in ``siddhi_operator_spark.streaming.cep``.

Scale: every formulation joins/partitions on the pattern key, so the
shuffle is keyed and bounded; the time bound is part of the join
condition so state/probe ranges stay small and AQE can split skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .joins import _hot_key_pick


def _nearest_probe_scan(
    df: DataFrame,
    key: str,
    ts: str,
    arm_pred: Column,
    probe_pred: Column,
    backwards: bool = False,
    id_col: str = "event_id",
) -> DataFrame:
    """Per ARM event, the nearest PROBE event for the same key STRICTLY
    after it (``backwards=True``: strictly before it) — ONE keyed
    window pass instead of a join (r12). The join shape pays twice on
    a DENSE key: per-key fanout (every armed state × every in-window
    completion materializes a row BEFORE first-match filtering) and a
    SECOND shuffle (the first-match `row_number` re-partitions the
    fanned-out join output by (key, e1_id)). This pass is fanout-free
    and single-shuffle: union the two filtered role scans, sort per
    key by time, and take a running min/max of the probe rows. It is
    the OPT-IN tier, not the default — the ×1000 A/B (constant
    per-key density, tiny fanout) measured it SLOWER than the join
    (5.3–8.7 s vs 3.7–5.2 s; WindowExec's running min-struct is not
    whole-stage-codegen'd where SMJ is) — see :func:`followed_by` for
    the regime call.

    The frame trick: Spark computes UNBOUNDED PRECEDING frames
    incrementally (O(n) per key) but re-scans UNBOUNDED FOLLOWING
    frames per row (O(n²) on a hot key — `WindowExec`'s
    `UnboundedFollowingWindowFunctionFrame`), so "nearest later
    probe" is computed over time REVERSED with a growing frame, never
    over forward time with a shrinking one. Strictness costs no
    filter: the secondary sort key `_p` (arm=0, probe=1) places every
    equal-timestamp probe AFTER the arm row, outside its preceding
    frame. min/max of the (ts, id) STRUCT makes the per-arm pick
    deterministic and equal to the join path's (e2_ts, e2_id)
    ordering.

    NULL keys: `Window.partitionBy` groups all NULL keys into ONE
    partition, so here a NULL key is its own key (a NULL-key arm sees
    NULL-key probes) — the QL runners' semantics.  The operator tiers
    below, whose joins never match a NULL key (`k == k2` is null),
    add `key IS NOT NULL` to the probe predicate: a NULL-key arm then
    gets `_probe = null`, which reproduces their join tier exactly —
    followed-by drops the arm, absence keeps it.

    Returns: k, e1_ts, e1_id, _probe (struct p_ts/p_id — null when no
    probe exists on that side of the arm event)."""
    arm = df.filter(arm_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.lit(0).alias("_p"),
    )
    probe = df.filter(probe_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.lit(1).alias("_p"),
    )
    direction = F.asc if backwards else F.desc
    w = (
        Window.partitionBy("k")
        .orderBy(direction("_ts"), F.asc("_p"), direction("_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    probe_struct = F.when(
        F.col("_p") == 1,
        F.struct(F.col("_ts").alias("p_ts"), F.col("_id").alias("p_id")),
    )
    nearest = (F.max if backwards else F.min)(probe_struct).over(w)
    return (
        arm.unionByName(probe)
        .withColumn("_probe", nearest)
        .filter(F.col("_p") == 0)
        .select(
            "k",
            F.col("_ts").alias("e1_ts"),
            F.col("_id").alias("e1_id"),
            "_probe",
        )
    )


def choose_pattern_impl(
    df: DataFrame,
    key: str,
    arm_pred: Column,
    probe_pred: Column,
) -> str:
    """The pattern-tier pick for ``impl="auto"``: ``"scan"`` iff the
    worst key's ``arm_k × probe_k`` pair production is hot
    (`operators/joins.py::_hot_key_pick`), else ``"join"``.  One scan
    of ``df`` flags each event as arm and/or probe; arm × all-probe
    over-estimates in-window pairs, which only errs toward the tier
    that cannot blow up."""
    tagged = df.filter(arm_pred | probe_pred).select(
        F.col(key).alias("_k0"),
        F.when(arm_pred, 1).otherwise(0).alias("_l"),
        F.when(probe_pred, 1).otherwise(0).alias("_r"),
    )
    return "scan" if _hot_key_pick(tagged) else "join"


def followed_by(
    df: DataFrame,
    key: str,
    ts: str,
    first_pred: Column,
    second_pred: Column,
    within_seconds: float,
    every: bool = True,
    first_match_only: bool = True,
    bucket: bool = False,
    impl: str = "join",
) -> DataFrame:
    """`from every e1=S[p1] -> e2=S[p2] within t` — non-contiguous
    followed-by (`StreamPreStateProcessor.java`).

    For each e1 (per key), find e2 with e1.ts < e2.ts ≤ e1.ts + t.
    ``first_match_only`` keeps the earliest e2 per e1 (the reference
    emits the first completing match per started state machine);
    ``every=False`` additionally keeps only the first e1 per key.

    Returns columns: key, e1_ts, e1_id, e2_ts, e2_id (+ e1_/e2_ prefixed
    payload hooks can be added by the caller before/after).

    ``impl`` (r12): ``"join"`` (default) is the time-bounded keyed
    equi-join + first-match re-window; ``"scan"`` is the fanout-free
    single-shuffle nearest-probe pass (:func:`_nearest_probe_scan` —
    "first completing e2 per e1" IS "nearest later e2, then a time
    filter"; `every` + first-match shapes only). Measured ×1000
    (100 M events, constant per-key density, SCALEBENCH r12): the
    join reads 3.7–5.2 s vs the scan's 5.3–8.7 s — SMJ + the tiny
    fanout stay in whole-stage codegen while WindowExec's running
    min-struct does not — so the join stays the default; the scan is
    HOT-KEY INSURANCE, the same regime story as ``bucket``: its
    per-key cost is O(n log n) always, where the join's pre-filter
    pair production is O(signups × in-window purchases) on a dense
    key (a key with 1 M events and an hour-wide budget materializes
    billions of pairs before the rn=1 filter — the scan shape
    survives it, row-identically). ``"auto"`` (r13) derives the pick
    from measured key density (:func:`choose_pattern_impl` — one
    stats job); shapes the scan cannot express (`every=False`,
    all-matches, `bucket`) stay on the join tier."""
    if impl not in ("join", "scan", "auto"):
        raise ValueError(f"impl must be 'join', 'scan' or 'auto', got {impl!r}")
    if impl == "auto":
        impl = (
            choose_pattern_impl(df, key, first_pred, second_pred)
            if (every and first_match_only and not bucket)
            else "join"
        )
    if impl == "scan":
        if not (every and first_match_only and not bucket):
            raise ValueError(
                "impl='scan' expresses the `every` + first-match shape "
                "only (all-matches output is genuinely the pair count; "
                "bucket is a join-tier option)"
            )
        scanned = _nearest_probe_scan(
            df, key, ts, first_pred, second_pred & F.col(key).isNotNull()
        )
        return (
            scanned.filter(
                F.col("_probe").isNotNull()
                & (
                    F.col("_probe.p_ts")
                    <= F.col("e1_ts")
                    + F.expr(f"INTERVAL {within_seconds} SECONDS")
                )
            )
            .select(
                "k",
                "e1_ts",
                "e1_id",
                F.col("_probe.p_ts").alias("e2_ts"),
                F.col("_probe.p_id").alias("e2_id"),
            )
            .withColumnRenamed("k", key)
        )
    e1 = df.filter(first_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e1_ts"),
        F.col("event_id").alias("e1_id"),
    )
    if not every:
        w = Window.partitionBy("k").orderBy("e1_ts", "e1_id")
        e1 = e1.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    e2 = df.filter(second_pred).select(
        F.col(key).alias("k2"),
        F.col(ts).alias("e2_ts"),
        F.col("event_id").alias("e2_id"),
    )
    # bucket=True additionally coarsens time into `t`-wide epochs and
    # joins on (key, epoch): e2 ∈ (e1, e1+t] lives in e1's epoch or the
    # next, so per-key pair production stays bounded however DENSE one
    # key is (hot-key insurance). Measured ×100 on the horizontally
    # scaled fixture (constant per-key density) it is ~1.8× SLOWER than
    # the plain keyed join — the explode + wider shuffle costs more
    # than the pruning returns — so it stays opt-in (SCALEBENCH.md).
    cond = (
        (F.col("k") == F.col("k2"))
        & (F.col("e2_ts") > F.col("e1_ts"))
        & (
            F.col("e2_ts")
            <= F.col("e1_ts") + F.expr(f"INTERVAL {within_seconds} SECONDS")
        )
    )
    if bucket:
        w_us = int(within_seconds * 1_000_000)
        e2 = e2.withColumn(
            "_tb", F.floor(F.unix_micros(F.col("e2_ts")) / F.lit(w_us))
        )
        b1 = F.floor(F.unix_micros(F.col("e1_ts")) / F.lit(w_us))
        e1 = e1.withColumn("_tb", F.explode(F.array(b1, b1 + F.lit(1))))
        cond = cond & (e1["_tb"] == e2["_tb"])
    joined = e1.join(e2, on=cond, how="inner").drop("k2", "_tb")
    if first_match_only:
        w = Window.partitionBy("k", "e1_id").orderBy("e2_ts", "e2_id")
        joined = (
            joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return joined.withColumnRenamed("k", key)


def absence(
    df: DataFrame,
    key: str,
    ts: str,
    first_pred: Column,
    absent_pred: Column,
    within_seconds: float,
    impl: str = "join",
) -> DataFrame:
    """Absence pattern: `e1=S[p1] -> not S[p2] for t`
    (`AbsentStreamPreStateProcessor.java`) — e1 events with NO p2 event
    for the same key in (e1.ts, e1.ts + t].

    ``impl="join"`` (default): time-bounded left-anti join (the
    reference arms a state timer; the anti-join is its fixed point).
    ``impl="scan"`` (r12): "no p2 in (e1.ts, e1.ts + t]" IS "the
    nearest LATER p2 is absent or past the budget" — the fanout-free
    single-shuffle pass (:func:`_nearest_probe_scan`); hot-key
    insurance for keys where the anti-join's range residual degrades
    the per-key probe (see :func:`followed_by` for the measured
    regime call); ``impl="auto"`` (r13) derives the pick from measured
    key density (:func:`choose_pattern_impl`).
    """
    if impl not in ("join", "scan", "auto"):
        raise ValueError(f"impl must be 'join', 'scan' or 'auto', got {impl!r}")
    if impl == "auto":
        impl = choose_pattern_impl(df, key, first_pred, absent_pred)
    if impl == "scan":
        scanned = _nearest_probe_scan(
            df, key, ts, first_pred, absent_pred & F.col(key).isNotNull()
        )
        return (
            scanned.filter(
                F.col("_probe").isNull()
                | (
                    F.col("_probe.p_ts")
                    > F.col("e1_ts")
                    + F.expr(f"INTERVAL {within_seconds} SECONDS")
                )
            )
            .select("k", "e1_ts", "e1_id")
            .withColumnRenamed("k", key)
        )
    e1 = df.filter(first_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e1_ts"),
        F.col("event_id").alias("e1_id"),
    )
    e2 = df.filter(absent_pred).select(
        F.col(key).alias("k2"), F.col(ts).alias("e2_ts")
    )
    return (
        e1.join(
            e2,
            on=(
                (F.col("k") == F.col("k2"))
                & (F.col("e2_ts") > F.col("e1_ts"))
                & (
                    F.col("e2_ts")
                    <= F.col("e1_ts")
                    + F.expr(f"INTERVAL {within_seconds} SECONDS")
                )
            ),
            how="left_anti",
        )
        .withColumnRenamed("k", key)
    )


def sequence_adjacent(
    df: DataFrame,
    key: str,
    ts: str,
    order_tiebreak: str,
    preds: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Contiguous sequence: `from e1=S[p1], e2=S[p2], …` — the *next*
    event (per key, event-time order) must match
    (`CountPreStateProcessor.java` handles the quantifier variants;
    strict contiguity per SURVEY.md §3.10).

    Batch mapping: lead() chains — event i matches p_i applied to the
    i-th lead. ``preds`` is [(name, predicate-over-prefixed-columns)];
    predicates reference columns as `{name}_{col}`.

    The per-key lead() is one keyed sort — no join, no state blowup.
    """
    base_cols = df.columns
    w = Window.partitionBy(key).orderBy(ts, order_tiebreak)
    out = df
    for i, (name, _) in enumerate(preds):
        for c in base_cols:
            out = out.withColumn(f"{name}_{c}", F.lead(F.col(c), i).over(w))
    cond = None
    for _, pred in preds:
        cond = pred if cond is None else (cond & pred)
    return out.filter(cond).select(
        key, *[f"{name}_{c}" for name, _ in preds for c in base_cols if c != key]
    )


def logical_and_pattern(
    df: DataFrame,
    key: str,
    ts: str,
    pred_a: Column,
    pred_b: Column,
    within_seconds: float,
) -> DataFrame:
    """Logical pattern `e1=S[pa] and e2=S[pb]` within t
    (`LogicalPreStateProcessor.java`): both must occur (either order)
    within the budget, per key. Pairs each a-event with the nearest
    b-event within ±t."""
    a = df.filter(pred_a).select(
        F.col(key).alias("k"), F.col(ts).alias("a_ts"), F.col("event_id").alias("a_id")
    )
    b = df.filter(pred_b).select(
        F.col(key).alias("k2"), F.col(ts).alias("b_ts"), F.col("event_id").alias("b_id")
    )
    # integer-microsecond arithmetic so the oracle (epoch_us) is exact
    dist = F.abs(F.unix_micros(F.col("b_ts")) - F.unix_micros(F.col("a_ts")))
    j = a.join(
        b,
        on=((F.col("k") == F.col("k2")) & (dist <= int(within_seconds * 1_000_000))),
    ).drop("k2")
    w = Window.partitionBy("k", "a_id").orderBy(dist, "b_id")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumnRenamed("k", key)
    )


def absence_logical(
    df: DataFrame,
    key: str,
    ts: str,
    present_pred: Column,
    absent_pred: Column,
    within_seconds: float,
    impl: str = "join",
) -> DataFrame:
    """Logical absence: `from not S[p_absent] and e2=S[p_present]`
    (`AbsentLogicalPreStateProcessor.java`) — e2 events with NO
    p_absent event for the same key in the t window BEFORE them (the
    absent branch is armed at match start; e2 completes the pair only
    if the absent side never fired).

    ``impl="join"`` (default): time-bounded left-anti join looking
    backwards. ``impl="scan"`` (r12): "no p_absent in
    [e2.ts − t, e2.ts)" IS "the nearest EARLIER p_absent is absent or
    before the window" — the mirrored (``backwards=True``)
    single-shuffle pass; see :func:`absence` / :func:`followed_by`
    for the measured regime call; ``impl="auto"`` (r13) derives the
    pick from measured key density (:func:`choose_pattern_impl`)."""
    if impl not in ("join", "scan", "auto"):
        raise ValueError(f"impl must be 'join', 'scan' or 'auto', got {impl!r}")
    if impl == "auto":
        impl = choose_pattern_impl(df, key, present_pred, absent_pred)
    if impl == "scan":
        scanned = _nearest_probe_scan(
            df, key, ts, present_pred, absent_pred & F.col(key).isNotNull(),
            backwards=True,
        )
        return scanned.filter(
            F.col("_probe").isNull()
            | (
                F.col("_probe.p_ts")
                < F.col("e1_ts")
                - F.expr(f"INTERVAL {within_seconds} SECONDS")
            )
        ).select(
            "k",
            F.col("e1_ts").alias("e2_ts"),
            F.col("e1_id").alias("e2_id"),
        )
    e2 = df.filter(present_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e2_ts"),
        F.col("event_id").alias("e2_id"),
    )
    absent = df.filter(absent_pred).select(
        F.col(key).alias("ka"), F.col(ts).alias("a_ts")
    )
    return (
        e2.join(
            absent,
            on=(
                (F.col("k") == F.col("ka"))
                & (F.col("a_ts") < F.col("e2_ts"))
                & (
                    F.col("a_ts")
                    >= F.col("e2_ts")
                    - F.expr(f"INTERVAL {within_seconds} SECONDS")
                )
            ),
            how="left_anti",
        )
        .select(F.col("k"), F.col("e2_ts"), F.col("e2_id"))
    )


def logical_or_pattern(
    df: DataFrame,
    pred_a: Column,
    pred_b: Column,
) -> DataFrame:
    """Logical pattern `e1=S[pa] or e2=S[pb]`
    (`LogicalPreStateProcessor.java` OR mode): either branch completes
    the match — the match set is the tagged union of both branches
    (an event satisfying both completes via the first-declared branch,
    matching the reference's branch-priority)."""
    a = df.filter(pred_a).withColumn("branch", F.lit("e1"))
    b = df.filter(pred_b & ~pred_a).withColumn("branch", F.lit("e2"))
    return a.unionByName(b)
