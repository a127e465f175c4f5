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

One batch kernel per shape: the QL compiler (`siddhiql/builder.py`)
calls the strict-chain lead pass, the followed-by step join, the
absence and logical-`and` join kernels and the nearest-probe scan tier
below with its own `<alias>_<col>` frames.  NULL keys: every kernel
treats a NULL key as its own key (the QL runners' rule); each public
operator filters ``key IS NOT NULL`` into its probe side (or, for
:func:`sequence_adjacent`, its input), so there a NULL key never
matches, in every tier.
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

    NULL keys: `Window.partitionBy` groups every NULL key into one
    partition, so a NULL key is its own key, as in the join kernels
    below; the public operators exclude it through their probe filter.

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


def _pattern_scan(
    df: DataFrame,
    key: str,
    ts: str,
    arm_pred: Column,
    probe_pred: Column,
    within_seconds: float | None,
    shape: str,
    impl: str,
    id_col: str = "event_id",
) -> DataFrame | None:
    """The scan tier of the three nearest-probe shapes, or None when
    the join tier runs (``impl="join"``, or ``"auto"`` and
    :func:`choose_pattern_impl` picks the join):

    - ``"followed"``: the first completing probe per arm IS the nearest
      later probe, kept when it lands in (ts, ts + t] (no cut when
      ``within_seconds`` is None);
    - ``"absent_after"``: no probe in (ts, ts + t] IS the nearest later
      probe missing or past the budget;
    - ``"absent_before"``: no probe in [ts − t, ts) IS the nearest
      earlier probe missing or before the window.

    Returns ids only: k, e1_ts, e1_id (+ e2_ts, e2_id for
    ``"followed"``)."""
    if impl == "join" or (
        impl == "auto" and choose_pattern_impl(df, key, arm_pred, probe_pred) == "join"
    ):
        return None
    scanned = _nearest_probe_scan(
        df, key, ts, arm_pred, probe_pred,
        backwards=shape == "absent_before", id_col=id_col,
    )
    p_ts, e1_ts = F.col("_probe.p_ts"), F.col("e1_ts")
    if shape == "followed":
        hit = F.col("_probe").isNotNull()
        if within_seconds is not None:
            hit = hit & (p_ts <= e1_ts + F.expr(f"INTERVAL {within_seconds} SECONDS"))
        return scanned.filter(hit).select(
            "k", "e1_ts", "e1_id",
            p_ts.alias("e2_ts"), F.col("_probe.p_id").alias("e2_id"),
        )
    budget = F.expr(f"INTERVAL {within_seconds} SECONDS")
    outside = p_ts > e1_ts + budget if shape == "absent_after" else p_ts < e1_ts - budget
    return scanned.filter(F.col("_probe").isNull() | outside).select(
        "k", "e1_ts", "e1_id"
    )


def _key(col: str) -> Column:
    """The join kernels' match key: a NULL key is its own key.  A
    one-field struct compares NULL fields equal, as ``eqNullSafe``
    does, but stays ONE hash key, so the logical-`and` window keyed on
    it reuses the join's partitioning; ``eqNullSafe`` plans as a
    (coalesce, isnull) key pair the window cannot reuse — one more
    exchange under a sort-merge join."""
    return F.struct(F.col(col).alias("_k"))


def _lead_chain(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    names: Sequence[str | None],
    preds: Sequence[Column] = (),
    within_seconds: float | None = None,
) -> DataFrame:
    """A strict chain: ``len(names)`` consecutive events per key, found
    by ONE window over ``partitionBy(key).orderBy(ts, id_col)``, no
    join.  Every row starts a candidate whose position i is its i-th
    lead; it matches when every position exists, position i satisfies
    ``preds[i]`` (a predicate over one event; missing: any event) and,
    with ``within_seconds``, the last position is within the budget of
    the first (ts never decreases along the chain).  A NULL key is its
    own key.  (The key is a plain column: a struct expression there is
    re-extracted once per lead, one shuffle each.)

    Returns the key as ``__k``, then ``<name>_<col>`` for every column
    of each named position (a None name is matched, not projected)."""
    w = Window.partitionBy(key).orderBy(ts, id_col)

    def at(c: Column, i: int) -> Column:
        return c if i == 0 else F.lead(c, i).over(w)

    last = len(names) - 1
    hit = at(F.lit(1), last).isNotNull()
    for i, p in enumerate(preds):
        hit = hit & at(p, i)
    if within_seconds is not None and last:
        budget = F.expr(f"INTERVAL {within_seconds} SECONDS")
        hit = hit & (at(F.col(ts), last) <= F.col(ts) + budget)
    projected = [
        at(F.col(c), i).alias(f"{n}_{c}")
        for i, n in enumerate(names)
        if n is not None
        for c in df.columns
    ]
    return (
        df.select(F.col(key).alias("__k"), *projected, hit.alias("_hit"))
        .filter("_hit")
        .drop("_hit")
    )


def _step_join(
    partial: DataFrame,
    step: DataFrame,
    key: str,
    after: tuple[str, str],
    span: tuple[str, str],
    within_seconds: float | None,
    pick: tuple[Sequence[str], Sequence[str]] | None = None,
    residual: Column | None = None,
) -> DataFrame:
    """One followed-by step: each ``partial`` row joined to the ``step``
    rows of the same :func:`_key` (column ``key`` in both frames; the
    step's is dropped) whose first ts is strictly after the partial's
    last (``after``), and whose last ts is within ``within_seconds`` of
    the match start (``span``: partial's start ts, step's last ts).
    ``residual`` is one more join conjunct: a QL cross-step predicate,
    or the operator's ``bucket`` epoch equality.  ``pick`` (ids naming
    a partial row, step order) keeps the first step row per partial
    row, the reference's first completing match; it partitions by
    :func:`_key` plus those ids, so it reuses the join's shuffle, and a
    next step's join reuses it too."""
    step = step.withColumnRenamed(key, "_sk")
    cond = (_key(key) == _key("_sk")) & (F.col(after[1]) > F.col(after[0]))
    if within_seconds is not None:
        budget = F.expr(f"INTERVAL {within_seconds} SECONDS")
        cond = cond & (F.col(span[1]) <= F.col(span[0]) + budget)
    if residual is not None:
        cond = cond & residual
    joined = partial.join(step, cond).drop("_sk")
    if pick is None:
        return joined
    ids, order = pick
    w = Window.partitionBy(_key(key), *ids).orderBy(*order)
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _absence_join(
    arm: DataFrame,
    arm_key: str,
    arm_ts: str,
    probe: DataFrame,
    within_seconds: float,
    backwards: bool = False,
) -> DataFrame:
    """Arm rows with NO probe of the same key in (ts, ts + t]
    (``backwards=True``: [ts − t, ts)) — the time-bounded left-anti
    join, the fixed point of the reference's absence timer.  ``arm``
    may carry payload (the QL `<alias>_<col>` frames, a multi-step
    partial match); ``probe`` holds the probe events' (key, ts), in
    that order."""
    probe = probe.toDF("_pk", "_pts")
    a_ts, p_ts = F.col(arm_ts), F.col("_pts")
    budget = F.expr(f"INTERVAL {within_seconds} SECONDS")
    in_window = (
        (p_ts < a_ts) & (p_ts >= a_ts - budget)
        if backwards
        else (p_ts > a_ts) & (p_ts <= a_ts + budget)
    )
    return arm.join(probe, (_key(arm_key) == _key("_pk")) & in_window, "left_anti")


def _nearest_pair_join(
    arm: DataFrame,
    probe: DataFrame,
    arm_cols: tuple[str, str, str],
    probe_cols: tuple[str, str, str],
    within_seconds: float,
) -> DataFrame:
    """Each arm row paired with its nearest probe of the same key within
    ±t (ties: the lower probe id) — the logical `and` join.  Both
    frames may carry payload; ``arm_cols``/``probe_cols`` name each
    frame's (key, ts, id) columns.  The probe key column is dropped."""
    (ak, a_ts, a_id), (pk, p_ts, p_id) = arm_cols, probe_cols
    # integer-microsecond arithmetic so the oracle (epoch_us) is exact
    dist = F.abs(F.unix_micros(F.col(p_ts)) - F.unix_micros(F.col(a_ts)))
    j = arm.join(
        probe,
        on=(_key(ak) == _key(pk)) & (dist <= int(within_seconds * 1_000_000)),
    ).drop(pk)
    w = Window.partitionBy(_key(ak), a_id).orderBy(dist, p_id)
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _check_impl(impl: str) -> None:
    if impl not in ("join", "scan", "auto"):
        raise ValueError(f"impl must be 'join', 'scan' or 'auto', got {impl!r}")


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
    ``every=False`` additionally keeps only the first e1 per key.  A
    NULL key never matches.

    Returns columns: key, e1_ts, e1_id, e2_ts, e2_id (+ e1_/e2_ prefixed
    payload hooks can be added by the caller before/after).

    The regime rule behind ``impl`` and ``bucket``: the join tier's
    cost per key is its pair production, e1 events × in-window e2
    events, made before the first-match pick; the scan tier's is one
    sort, O(n log n) however dense the key.  While pair production
    stays small (roughly constant per-key density) the join is the
    cheaper plan — it stays in whole-stage codegen, the scan's running
    min-struct window does not — so the join is the default and the
    other tiers are hot-key insurance, row-identical to it:

    - ``impl="join"``: the time-bounded keyed join, then the first-match
      pick (:func:`_step_join`);
    - ``impl="scan"``: the fanout-free single-shuffle nearest-probe pass
      (:func:`_nearest_probe_scan` — "first completing e2 per e1" IS
      "nearest later e2, then a time filter"); `every` + first-match
      shapes only;
    - ``impl="auto"``: the pick from measured key density
      (:func:`choose_pattern_impl`, one stats job); shapes the scan
      cannot express (`every=False`, all-matches, `bucket`) stay on the
      join tier;
    - ``bucket=True``: the join also matches on `t`-wide time epochs (e2
      lies in e1's epoch or the next), which bounds a hot key's pairs
      at the price of an explode and a wider shuffle, so it is opt-in."""
    _check_impl(impl)
    scannable = every and first_match_only and not bucket
    if impl == "scan" and not scannable:
        raise ValueError(
            "impl='scan' expresses the `every` + first-match shape "
            "only (all-matches output is genuinely the pair count; "
            "bucket is a join-tier option)"
        )
    probe = second_pred & F.col(key).isNotNull()
    scanned = _pattern_scan(
        df, key, ts, first_pred, probe, within_seconds, "followed",
        impl if scannable else "join",
    )
    if scanned is not None:
        return scanned.withColumnRenamed("k", key)
    e1 = df.filter(first_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e1_ts"),
        F.col("event_id").alias("e1_id"),
    )
    if not every:
        w = Window.partitionBy("k").orderBy("e1_ts", "e1_id")
        e1 = e1.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    e2 = df.filter(probe).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e2_ts"),
        F.col("event_id").alias("e2_id"),
    )
    epoch = None
    if bucket:
        w_us = int(within_seconds * 1_000_000)
        e2 = e2.withColumn("_tb2", F.floor(F.unix_micros("e2_ts") / F.lit(w_us)))
        b1 = F.floor(F.unix_micros("e1_ts") / F.lit(w_us))
        e1 = e1.withColumn("_tb1", F.explode(F.array(b1, b1 + F.lit(1))))
        epoch = F.col("_tb1") == F.col("_tb2")
    ts_pair = ("e1_ts", "e2_ts")
    joined = _step_join(
        e1, e2, "k", ts_pair, ts_pair, within_seconds,
        (["e1_id"], ["e2_ts", "e2_id"]) if first_match_only else None,
        residual=epoch,
    )
    return joined.drop("_tb1", "_tb2").withColumnRenamed("k", key)


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
    for the same key in (e1.ts, e1.ts + t]; a NULL key never matches.

    ``impl="join"`` (default): the time-bounded left-anti join
    (:func:`_absence_join`; the reference arms a state timer, the
    anti-join is its fixed point).  ``impl="scan"``: the fanout-free
    nearest-probe pass (:func:`_pattern_scan`), hot-key insurance for
    keys where the anti-join's range residual degrades the per-key
    probe (see :func:`followed_by` for the measured regime call);
    ``impl="auto"`` derives the pick from measured key density
    (:func:`choose_pattern_impl`)."""
    _check_impl(impl)
    probe = absent_pred & F.col(key).isNotNull()
    out = _pattern_scan(
        df, key, ts, first_pred, probe, within_seconds, "absent_after", impl
    )
    if out is None:
        e1 = df.filter(first_pred).select(
            F.col(key).alias("k"),
            F.col(ts).alias("e1_ts"),
            F.col("event_id").alias("e1_id"),
        )
        out = _absence_join(
            e1, "k", "e1_ts", df.filter(probe).select(key, ts), within_seconds
        )
    return out.withColumnRenamed("k", key)


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

    Rule: a match is n consecutive events of one key, ordered by
    (``ts``, ``order_tiebreak``), where event i satisfies predicate i
    and all n events exist — a step with no real predicate
    (``F.lit(True)``) never matches past the key's last event.  A NULL
    key never matches.  ``preds`` is [(name, predicate)]; predicates
    reference the events' columns as `{name}_{col}`.

    One lead() window pass (:func:`_lead_chain`): one keyed sort, no
    join.  Returns key, then `{name}_{col}` for every non-key column.
    """
    names = [name for name, _ in preds]
    cond = F.lit(True)
    for _, pred in preds:
        cond = cond & pred
    out = _lead_chain(
        df.filter(F.col(key).isNotNull()), key, ts, order_tiebreak, names
    )
    return out.filter(cond).select(
        F.col("__k").alias(key),
        *[f"{name}_{c}" for name in names for c in df.columns if c != key],
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
    b-event within ±t (:func:`_nearest_pair_join`); a NULL key never
    matches."""
    a = df.filter(pred_a).select(
        F.col(key).alias("k"), F.col(ts).alias("a_ts"), F.col("event_id").alias("a_id")
    )
    b = df.filter(pred_b & F.col(key).isNotNull()).select(
        F.col(key).alias("k2"), F.col(ts).alias("b_ts"), F.col("event_id").alias("b_id")
    )
    return _nearest_pair_join(
        a, b, ("k", "a_ts", "a_id"), ("k2", "b_ts", "b_id"), within_seconds
    ).withColumnRenamed("k", key)


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
    if the absent side never fired); a NULL key never matches.

    ``impl="join"`` (default): the backward left-anti join
    (:func:`_absence_join`).  ``impl="scan"``: the mirrored
    nearest-probe pass (:func:`_pattern_scan`); see :func:`absence` /
    :func:`followed_by` for the measured regime call; ``impl="auto"``
    derives the pick from measured key density
    (:func:`choose_pattern_impl`)."""
    _check_impl(impl)
    probe = absent_pred & F.col(key).isNotNull()
    out = _pattern_scan(
        df, key, ts, present_pred, probe, within_seconds, "absent_before", impl
    )
    if out is not None:
        return out.select(
            "k", F.col("e1_ts").alias("e2_ts"), F.col("e1_id").alias("e2_id")
        )
    e2 = df.filter(present_pred).select(
        F.col(key).alias("k"),
        F.col(ts).alias("e2_ts"),
        F.col("event_id").alias("e2_id"),
    )
    return _absence_join(
        e2, "k", "e2_ts", df.filter(probe).select(key, ts), within_seconds,
        backwards=True,
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
