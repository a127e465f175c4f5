"""Streaming CEP: pattern / sequence NFA on ``applyInPandasWithState``.

The reference's CEP core (`[core] query/input/stream/state/` —
`StreamPreStateProcessor`, `StreamPostStateProcessor`,
`LogicalPreStateProcessor`, `CountPreStateProcessor`,
`AbsentStreamPreStateProcessor`; parser
`util/parser/StateInputStreamParser.java`) chains pre/post state
processors holding partial matches per pattern position. Spark has no
CEP primitive (SURVEY.md §5 custom-work item 1) — this module is the
NFA equivalent:

- keyed by the partition attribute → the shuffle distributes keys, the
  NFA runs per key inside `applyInPandasWithState`;
- events are event-time sorted within each micro-batch; cross-batch
  ordering relies on the watermark having dropped later-than-allowed
  events upstream (document: in-batch reordering is handled, regression
  across batch boundaries follows arrival order, like the reference);
- partial matches live in the state store as parallel arrays (Arrow-
  serializable — no pickled objects, so state survives restarts with
  a stable schema);
- `within` enforces the match deadline; `every` controls restart;
  `strict` turns followed-by into contiguous sequence semantics
  (`CountPreStateProcessor`'s contiguity);
- absence (`not X for t`) is a separate timer-based operator using
  event-time timeouts (`AbsentStreamPreStateProcessor`'s scheduler).

Step forms (mirroring the batch surface in ``operators.patterns`` and
the SiddhiQL front end):

- ``"pred"`` — plain stream step `e=S[pred]`
  (`StreamPreStateProcessor.java`);
- ``("and", pA, pB)`` — logical pair `eA=S[pA] and eB=S[pB]`: both
  branches must bind (either order; one event may bind both) before
  the step completes (`LogicalPreStateProcessor.java` AND mode);
- ``("or", pA, pB)`` — either branch completes the step; an event
  matching both binds via the first-declared branch (the reference's
  branch priority, `LogicalPreStateProcessor.java` OR mode);
- ``("count", p, m, n)`` — count quantifier `e=S[p]<m:n>`
  (`CountPreStateProcessor.java`): greedily collect matches; the step
  completes at n matches, or hands over to the next step once ≥ m
  matches have been collected and the next step's predicate fires.
  ``n=None`` is unbounded (`<m:>`, `+` = `<1:>`, `*` = `<0:>`) —
  collection is bounded by `within`; ``m=0`` (`*`, `?`) makes the step
  skippable: a fresh partial may arm through leading zero-min steps,
  and a skipped step emits NULL `e{i}_first`/`e{i}_last`.  A TRAILING
  count step closes greedily when a non-matching event arrives with
  ≥ m collected (the batch twin's "longest run wins"); trailing
  zero-min steps are rejected.

Patterns are specified as ordered steps; each step's predicates are
boolean SQL expression strings evaluated against the input columns
(compiled ONCE into the stream before the stateful operator — so
predicate evaluation stays in Catalyst codegen; the Python NFA only
reads precomputed boolean flags from numpy arrays, never
``iterrows``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import key_segments, keyed_groups

StepSpec = "str | tuple"


def _normalize_steps(step_predicates: Sequence) -> list[dict]:
    steps = []
    for s in step_predicates:
        if isinstance(s, str):
            steps.append({"kind": "simple", "preds": [s]})
        elif s[0] in ("and", "or"):
            steps.append({"kind": s[0], "preds": [s[1], s[2]]})
        elif s[0] == "count":
            _, p, m, n = s
            if m < 0 or (n is not None and not (m <= n and n >= 1)):
                raise ValueError(
                    f"count quantifier needs 0 <= m <= n (n None = unbounded), "
                    f"got <{m}:{n}>"
                )
            steps.append({"kind": "count", "preds": [p], "m": m, "n": n})
        else:
            raise ValueError(f"unknown step spec: {s!r}")
    if steps[-1]["kind"] == "count" and steps[-1]["m"] == 0:
        raise ValueError(
            "a trailing zero-min count step (`*`/`?` last) would emit "
            "empty matches; give it min >= 1 or add a following step"
        )
    if all(st["kind"] == "count" and st["m"] == 0 for st in steps):
        raise ValueError("pattern needs at least one step with min count >= 1")
    return steps


def _out_fields(steps: list[dict]) -> list[tuple[str, str]]:
    """(column-stem, token-selector) pairs per step, in output order."""
    fields = []
    for i, st in enumerate(steps, start=1):
        if st["kind"] == "and":
            fields.append((f"e{i}a", ("branch", 0)))
            fields.append((f"e{i}b", ("branch", 1)))
        elif st["kind"] == "count":
            fields.append((f"e{i}_first", ("pos", 0)))
            fields.append((f"e{i}_last", ("pos", -1)))
        else:
            fields.append((f"e{i}", ("pos", 0)))
    return fields


def _match_out_schema(steps: list[dict]) -> T.StructType:
    fields = [T.StructField("key", T.StringType())]
    for stem, _ in _out_fields(steps):
        fields.append(T.StructField(f"{stem}_id", T.LongType()))
        fields.append(T.StructField(f"{stem}_ts", T.TimestampType()))
    return T.StructType(fields)


# partial matches as parallel arrays over every key in the group:
# key, step index, arming timestamp, aux (count-so-far for count
# steps; branch bitmask for and-steps), and the bound events encoded
# "b:id:ts_us|…" per step, ';' between step groups (variable-length per
# partial; arrays-of-arrays are avoided for state-store schema
# stability).
_NFA_SEG_STATE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("next_step", T.ArrayType(T.IntegerType())),
        T.StructField("start_us", T.ArrayType(T.LongType())),
        T.StructField("aux", T.ArrayType(T.IntegerType())),
        T.StructField("toks", T.ArrayType(T.StringType())),
    ]
)


class _Partial:
    __slots__ = ("step", "start_us", "aux", "groups")

    def __init__(self, step: int, start_us: int, aux: int, groups: list[list[str]]):
        self.step = step
        self.start_us = start_us
        self.aux = aux
        self.groups = groups  # one list of "b:id:ts" tokens per completed/open step


def pattern_nfa(
    stream: DataFrame,
    key: str,
    step_predicates: Sequence,
    ts: str = "ts",
    id_col: str = "event_id",
    within_seconds: float | None = None,
    every: bool = True,
    strict: bool = False,
    state_buckets: int | None = None,
) -> DataFrame:
    """`from every e1=S[p1] -> e2=S[p2] … within t` (or, with
    ``strict=True``, the contiguous sequence form `e1=S[p1], e2=S[p2]`),
    with logical and/or pairs and `<m:n>` count quantifiers per the
    module docstring.

    Emits one row per completed match: key plus, per step, the bound
    event id/ts pairs (`e{i}`, `e{i}a`/`e{i}b` for and-pairs,
    `e{i}_first`/`e{i}_last` for count steps). First-completion per
    armed partial; ``every`` re-arms on every step-1 match (the
    reference's `every` quantifier).

    State groups by the key, or by `hash(key) % state_buckets`
    (:func:`.keyed_groups`); either way one call advances every key of
    its group, key by key, through the same event loop.
    """
    steps = _normalize_steps(step_predicates)
    n_steps = len(steps)
    out_fields = _out_fields(steps)
    out_schema = _match_out_schema(steps)
    within_us = int(within_seconds * 1_000_000) if within_seconds else None
    # steps a FRESH partial can touch: leading zero-min count steps are
    # skippable, so arming may fire on any step in this prefix
    armable = [0]
    while (
        steps[armable[-1]]["kind"] == "count"
        and steps[armable[-1]]["m"] == 0
        and armable[-1] + 1 < n_steps
    ):
        armable.append(armable[-1] + 1)

    # compile predicates in Catalyst: one boolean flag column per
    # (step, branch)
    flag_cols = []
    for i, st in enumerate(steps):
        for b, p in enumerate(st["preds"]):
            flag_cols.append(F.expr(p).cast("boolean").alias(f"__p{i}_{b}"))
    flagged = stream.select(
        F.col(key).cast("string").alias("__sem_key"),
        F.col(id_col).alias("__id"),
        F.col(ts).alias("__ts"),
        *flag_cols,
    )

    def _emit_row(key_str: str, groups: list[list[str]]) -> tuple:
        row: list = [key_str]
        for (stem, sel), grp in zip(out_fields, _regroup(groups)):
            if not grp:  # zero-min count step skipped → NULL binding
                row.append(None)
                row.append(pd.NaT)
                continue
            if sel[0] == "branch":
                tok = next((t for t in grp if int(t.split(":")[0]) == sel[1]), grp[0])
            else:
                tok = grp[sel[1]]
            _, i_s, t_s = tok.split(":")
            row.append(int(i_s))
            row.append(pd.Timestamp(int(t_s) * 1000))
        return tuple(row)

    def _regroup(groups: list[list[str]]):
        """Repeat each step's token group once per output stem it owns."""
        out = []
        for st, grp in zip(steps, groups):
            reps = 2 if st["kind"] == "and" else (2 if st["kind"] == "count" else 1)
            out.extend([grp] * reps)
        return out

    def _make_feed(matches: list, key_str: str):
        """Per-key closures: feed/advance bound to this key's match
        sink."""

        def complete_or_advance(p: _Partial) -> bool:
            """Move p to the next step; True if the match completed."""
            p.step += 1
            p.aux = 0
            if p.step == n_steps:
                matches.append(_emit_row(key_str, p.groups))
                return True
            p.groups.append([])
            return False

        def feed(p: _Partial, ev_id: int, ev_us: int, fl) -> bool:
            """Advance partial p with one event; True = keep partial."""
            st = steps[p.step]
            tok0 = f"0:{ev_id}:{ev_us}"
            if st["kind"] == "simple":
                if fl[(p.step, 0)]:
                    p.groups[-1].append(tok0)
                    return not complete_or_advance(p)
                return not strict
            if st["kind"] == "or":
                if fl[(p.step, 0)] or fl[(p.step, 1)]:
                    b = 0 if fl[(p.step, 0)] else 1
                    p.groups[-1].append(f"{b}:{ev_id}:{ev_us}")
                    return not complete_or_advance(p)
                return not strict
            if st["kind"] == "and":
                hit = False
                for b in (0, 1):
                    if fl[(p.step, b)] and not (p.aux >> b) & 1:
                        p.groups[-1].append(f"{b}:{ev_id}:{ev_us}")
                        p.aux |= 1 << b
                        hit = True
                if p.aux == 0b11:
                    return not complete_or_advance(p)
                return hit or not strict
            # count <m:n> (n None = unbounded)
            m, n = st["m"], st["n"]
            if fl[(p.step, 0)]:
                p.groups[-1].append(tok0)
                p.aux += 1
                if n is not None and p.aux == n:
                    return not complete_or_advance(p)
                return True
            # no count match: with >= m collected, the next step's
            # predicate may take over with THIS event — but ONLY if it
            # actually fires on it.  A non-matching interloper must not
            # close the count group (the reference's
            # CountPreStateProcessor keeps collecting up to n while the
            # next state is concurrently active): over
            # click, view, click, purchase with <1:3> clicks, e1_last
            # must be click#2, not click#1.
            if p.aux >= m and p.step + 1 < n_steps:
                nxt = steps[p.step + 1]
                if any(fl[(p.step + 1, b)] for b in range(len(nxt["preds"]))):
                    p.step += 1
                    p.aux = 0
                    p.groups.append([])
                    return feed(p, ev_id, ev_us, fl)
            elif p.aux >= m:
                # trailing count step: a non-matching event closes a
                # satisfied run greedily (the batch twin's "longest
                # run wins outright"; m >= 1 enforced at construction)
                return not complete_or_advance(p)
            return not strict

        return feed

    def _run_events(partials, ids, tss, flags, lo, hi, matches, key_str):
        """Advance one key's NFA over rows [lo, hi) of the sorted
        batch arrays; returns the surviving partials."""
        feed = _make_feed(matches, key_str)
        for r in range(lo, hi):
            ev_id = int(ids[r])
            ev_us = int(tss[r] // 1000)
            fl = {k: bool(v[r]) for k, v in flags.items()}
            # advance all partials with the current event once,
            # then consider arming (the reference's order: an event
            # must not seed AND advance the same partial twice)
            partials = [
                p
                for p in partials
                if not (
                    within_us is not None and ev_us - p.start_us > within_us
                )
                and feed(p, ev_id, ev_us, fl)
            ]
            arm_hit = any(
                fl[(j, b)]
                for j in armable
                for b in range(len(steps[j]["preds"]))
            )
            if arm_hit and (every or not partials):
                p = _Partial(0, ev_us, 0, [[]])
                if feed(p, ev_id, ev_us, fl):
                    partials.append(p)
        return partials

    def _flags_of(pdf):
        return {
            (i, b): pdf[f"__p{i}_{b}"].fillna(False).to_numpy()
            for i, st in enumerate(steps)
            for b in range(len(st["preds"]))
        }

    cols = ["key"]
    for stem, _ in out_fields:
        cols += [f"{stem}_id", f"{stem}_ts"]

    def _load_partial(st, su, ax, tk) -> _Partial:
        return _Partial(
            st, su, ax, [g.split("|") if g else [] for g in tk.split(";")]
        )

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # dict of per-key partial lists inside ONE state entry — one
        # key per group, or every key of a hash bucket, whose
        # per-(group × batch) python-call overhead (see `keyed_groups`)
        # then amortizes over the bucket's keys.
        per_key: dict[str | None, list[_Partial]] = {}
        if state.exists:
            s_keys, s_step, s_start, s_aux, s_toks = state.get
            for k, st, su, ax, tk in zip(s_keys, s_step, s_start, s_aux, s_toks):
                per_key.setdefault(k, []).append(_load_partial(st, su, ax, tk))
        matches: list[tuple] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            tss = pdf["__ts"].astype("int64").to_numpy()  # ns
            t = np.lexsort((ids, tss))  # (ts, id) order
            keys_arr = pdf["__sem_key"].to_numpy(dtype=object)[t]
            order, _, seg_end = key_segments(keys_arr)
            o = t[order]
            ids, tss, keys_arr = ids[o], tss[o], keys_arr[order]
            flags = {f: v[o] for f, v in _flags_of(pdf).items()}
            lo = 0
            while lo < len(keys_arr):
                hi = seg_end[lo] + 1
                k = keys_arr[lo]
                survivors = _run_events(
                    per_key.get(k, []), ids, tss, flags, lo, hi, matches, k
                )
                if survivors:
                    per_key[k] = survivors
                else:
                    per_key.pop(k, None)
                lo = hi
        flat = [
            (k, p) for k, ps in per_key.items() for p in ps
        ]
        state.update(
            (
                [k for k, _ in flat],
                [p.step for _, p in flat],
                [p.start_us for _, p in flat],
                [p.aux for _, p in flat],
                [";".join("|".join(g) for g in p.groups) for _, p in flat],
            )
        )
        yield pd.DataFrame(matches, columns=cols)

    grouped = keyed_groups(flagged, "__sem_key", state_buckets)
    return grouped.applyInPandasWithState(
        proc,
        out_schema,
        _NFA_SEG_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------
# absence: e1=S[p1] -> not S[p2] for t   (event-time timers)
# --------------------------------------------------------------------

_ABSENCE_OUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("e1_id", T.LongType()),
        T.StructField("e1_ts", T.TimestampType()),
    ]
)
_ABSENCE_STATE = T.StructType(
    [
        T.StructField("armed_ids", T.ArrayType(T.LongType())),
        T.StructField("armed_us", T.ArrayType(T.LongType())),
    ]
)


def absence_nfa(
    stream: DataFrame,
    key: str,
    arm_predicate: str,
    absent_predicate: str,
    for_seconds: float,
    ts: str = "ts",
    id_col: str = "event_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """`e1=S[p1] -> not S[p2] for t`
    (`AbsentStreamPreStateProcessor.java`): arm a timer on p1; a p2
    event within t disarms; firing emits (key, e1). The reference uses
    its scheduler — here the event-time timeout of the state API (the
    watermark drives time forward). State groups per key only
    (:func:`.keyed_groups`); a NULL key is its own group, emitted as
    NULL."""
    for_us = int(for_seconds * 1_000_000)

    flagged = stream.withWatermark(ts, watermark).select(
        F.col(key),
        F.col(id_col).alias("__id"),
        F.col(ts).alias("__ts"),
        F.expr(arm_predicate).cast("boolean").alias("__arm"),
        F.expr(absent_predicate).cast("boolean").alias("__dis"),
    )

    def proc(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        armed_ids, armed_us = (list(x) for x in state.get) if state.exists else ([], [])
        fired = []

        if state.hasTimedOut:
            # watermark passed the earliest deadline: fire every armed
            # timer whose deadline ≤ watermark
            wm_us = state.getCurrentWatermarkMs() * 1000
            keep_i, keep_u = [], []
            for i, u in zip(armed_ids, armed_us):
                if u + for_us <= wm_us:
                    fired.append((i, u))
                else:
                    keep_i.append(i)
                    keep_u.append(u)
            armed_ids, armed_us = keep_i, keep_u
        else:
            for pdf in pdfs:
                pdf = pdf.sort_values(["__ts", "__id"])
                # hoist to numpy ONCE — the per-row loop below touches
                # plain ints/bools only (same approach as pattern_nfa;
                # iterrows here cost 10-50× in round-1 profiling)
                ev_uss = (pdf["__ts"].astype("int64") // 1000).to_numpy()
                ev_ids = pdf["__id"].to_numpy()
                arms = pdf["__arm"].fillna(False).to_numpy()
                diss = pdf["__dis"].fillna(False).to_numpy()
                for r in range(len(ev_ids)):
                    ev_us = int(ev_uss[r])
                    if diss[r]:
                        # disarm timers whose window contains this
                        # event (u < ev ≤ u+t); a disarm at exactly
                        # u does NOT disarm (strict `b.ts > a.ts`)
                        keep_i, keep_u = [], []
                        for i, u in zip(armed_ids, armed_us):
                            if ev_us - u > for_us:
                                fired.append((i, u))  # already survived
                            elif ev_us <= u:
                                keep_i.append(i)
                                keep_u.append(u)
                            # else: disarmed, drop
                        armed_ids, armed_us = keep_i, keep_u
                    if arms[r]:
                        armed_ids.append(int(ev_ids[r]))
                        armed_us.append(ev_us)

            # a single micro-batch can span far more event time than
            # `for_us` (bulk replay): timers whose deadline the
            # watermark has already passed survived every disarm
            # opportunity — fire them now, both for correctness and
            # because setTimeoutTimestamp rejects deadlines behind
            # the watermark.
            wm_us = state.getCurrentWatermarkMs() * 1000
            if armed_ids and wm_us > 0:
                keep_i, keep_u = [], []
                for i, u in zip(armed_ids, armed_us):
                    if u + for_us <= wm_us:
                        fired.append((i, u))
                    else:
                        keep_i.append(i)
                        keep_u.append(u)
                armed_ids, armed_us = keep_i, keep_u

        if armed_ids:
            state.update((armed_ids, armed_us))
            deadline_ms = (min(armed_us) + for_us) // 1000
            # µs→ms floor can land exactly on the watermark: bump past
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.update(([], []))

        yield pd.DataFrame(
            [
                (key_tuple[0], i, pd.Timestamp(u * 1000))
                for i, u in fired
            ],
            columns=["key", "e1_id", "e1_ts"],
        )

    return keyed_groups(flagged, key, None).applyInPandasWithState(
        proc,
        _ABSENCE_OUT,
        _ABSENCE_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
