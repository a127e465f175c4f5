"""App model → DataFrame DAG builder (batch/analytics mode).

The analog of the reference's `SiddhiAppRuntimeBuilder` +
`QueryParser` chain (`[core] util/SiddhiAppRuntimeBuilder.java`,
`util/parser/QueryParser.java`): definitions resolve to source
DataFrames, each query becomes a Catalyst plan, `insert into` wires
query outputs as new streams (`InsertIntoStreamCallback` ≡
unionByName when several queries feed one stream).

Patterns correlate per `pattern_key` — the engine-level stand-in for
Siddhi's `partition with (key of S)` around pattern queries; the
builder chains time-bounded first-match joins, the batch fixed point
of the streaming NFA (`..streaming.cep.pattern_nfa`).
"""

from __future__ import annotations

import dataclasses
import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .model import (
    AppModel,
    JoinInput,
    LogicalStep,
    PatternInput,
    PatternStep,
    QueryDef,
    SelectItem,
    SingleInput,
    WindowSpec,
)
from .parser import parse_app, time_constant_seconds

_AGG_RE = re.compile(
    r"\b(sum|count|avg|min|max|count_distinct|stddev_pop|string_agg|"
    r"collect_list|collect_set|bool_and|bool_or|first|last)\s*\(",
    re.I,
)


def _auto_alias(item: SelectItem, idx: int) -> str:
    if item.alias:
        return item.alias
    if re.fullmatch(r"\w+", item.expr):
        return item.expr
    # qualified attribute ref (`StreamName.attr`) → the attribute name,
    # matching the reference's output schema for unaliased projections
    m = re.fullmatch(r"\w+\.(\w+)", item.expr)
    if m:
        return m.group(1)
    return f"col{idx}"


def _duration_str(arg: str) -> str:
    return f"{time_constant_seconds(arg)} seconds"


_PLAN_ANN_RE = re.compile(r"@plan\s*\((.*)\)\s*$", re.I | re.S)
_PLAN_KV_RE = re.compile(r"(\w+)\s*=\s*'([^']*)'")


def _plan_hints(q: QueryDef) -> dict[str, str]:
    """`@plan(impl='auto')` / `@plan(bucket='auto')` — the r14 engine
    extension that routes the derived hot-key regime picks through the
    QL front end (the reference's primary entry, `[qc] SiddhiQL.g4` →
    `SiddhiCompiler`; its `@Extension`-style annotation surface is
    `[qapi] annotation/Annotation.java`).  Without it a QL pattern /
    windowed-join query could never reach the scan / epoch-coarsened
    insurance tiers that `operators/patterns.py::choose_pattern_impl`
    and `operators/joins.py::derive_join_bucket` prove are the only
    plans that finish on a pathologically dense key (SCALEBENCH
    r12/r13: the plain join DNFs in 9.5 min where scan/coarsened take
    1–3 s).

    Keys: ``impl`` ∈ {join, scan, auto} (pattern queries), ``bucket``
    ∈ {false, true, auto} (windowed stream-stream joins).  Unknown
    keys or values raise — a typo'd hint must never silently run the
    unprotected plan the user asked to avoid.  The annotation is the
    only way to set the tier from QL; to pin it with zero stats jobs
    (or in a streaming app, where 'auto' cannot run), run the pick on
    a batch sample, then write ``@plan(impl='scan')`` /
    ``@plan(bucket='true')``."""
    hints: dict[str, str] = {}
    for a in q.annotations:
        m = _PLAN_ANN_RE.match(a.strip())
        if not m:
            continue
        body = m.group(1)
        # The WHOLE body must be consumed by key='value' pairs (r14
        # advice): `@plan(impl='auto', bucket=true)` once parsed impl
        # and silently dropped the unquoted bucket=true — the exact
        # "typo'd hint runs the unprotected plan" failure this
        # validation exists to prevent.
        for seg in body.split(","):
            if not seg.strip():
                continue
            if not _PLAN_KV_RE.fullmatch(seg.strip()):
                raise ValueError(
                    "@plan annotation needs key='value' pairs "
                    f"(values single-quoted), got {seg.strip()!r} in {body!r}"
                )
        for k, v in _PLAN_KV_RE.findall(body):
            hints[k.lower()] = v.lower()
    bad = sorted(set(hints) - {"impl", "bucket"})
    if bad:
        raise ValueError(f"@plan: unknown keys {bad} (known: impl, bucket)")
    if hints.get("impl") not in (None, "join", "scan", "auto"):
        raise ValueError(
            f"@plan: impl must be 'join', 'scan' or 'auto', got {hints['impl']!r}"
        )
    if hints.get("bucket") not in (None, "false", "true", "auto"):
        raise ValueError(
            f"@plan: bucket must be 'false', 'true' or 'auto', got {hints['bucket']!r}"
        )
    return hints


_ON_TOKEN_RE = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|[()]|\b(?:and|between)\b", re.I
)


def _conjuncts(expr: str) -> list[str]:
    """The top-level AND conjuncts of a condition.  An `and` inside
    parentheses, inside a string literal or closing a `between` never
    splits, and a conjunct wrapped whole in parentheses is opened and
    split again."""
    expr = expr.strip()
    parts, start, depth, between, first_close = [], 0, 0, 0, None
    for m in _ON_TOKEN_RE.finditer(expr):
        tok = m.group(0).lower()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth == 0 and first_close is None:
                first_close = m.end()
        elif depth or tok[0] in "'\"":
            continue
        elif tok == "between":
            between += 1
        elif between:
            between -= 1
        else:
            parts.append(expr[start : m.start()])
            start = m.end()
    if start:
        return [c for p in [*parts, expr[start:]] for c in _conjuncts(p)]
    if expr.startswith("(") and first_close == len(expr):
        return _conjuncts(expr[1:-1])
    return [expr]


def _split_on(
    on_expr: str, lname: str, rname: str
) -> tuple[list[tuple[str, str]], list[str]]:
    """Split a join ON condition into its top-level conjuncts:
    `(left_col, right_col)` equi pairs (`L.x = R.y`, either side
    order) and the residual conjuncts, with the side names rewritten to
    the `l.`/`r.` join aliases outside string literals.  A term inside
    a nested `or` group is not a top-level conjunct, so it never
    becomes a key (an explicit ``bucket='true'`` or a streaming equi
    key on it would require what the join does not)."""
    equi: list[tuple[str, str]] = []
    residual: list[str] = []
    for part in _conjuncts(on_expr):
        m = re.fullmatch(r"(\w+)\.(\w+)\s*==?\s*(\w+)\.(\w+)", part)
        if m and (m[1], m[3]) == (lname, rname):
            equi.append((m[2], m[4]))
        elif m and (m[1], m[3]) == (rname, lname):
            equi.append((m[4], m[2]))
        else:
            residual.append(
                _map_outside_quotes(
                    part,
                    lambda seg: re.sub(
                        rf"\b{re.escape(rname)}\.",
                        "r.",
                        re.sub(rf"\b{re.escape(lname)}\.", "l.", seg),
                    ),
                )
            )
    return equi, residual


def _apply_window_groupby(
    df: DataFrame, q: QueryDef, win, ts_col: str
) -> tuple[DataFrame, list[str]]:
    """Tumbling/session windows add an implicit bucket column and join
    the group-by keys."""
    extra: list[str] = []
    if win is None:
        return df, extra
    kind = win.kind
    if kind in ("timeBatch", "externalTimeBatch"):
        if kind == "externalTimeBatch":
            ts_col = win.args[0]
            dur = _duration_str(win.args[1])
        else:
            dur = _duration_str(win.args[0])
        df = df.withColumn("window_start", F.window(ts_col, dur)["start"])
        extra = ["window_start"]
    elif kind == "session":
        dur = _duration_str(win.args[0])
        if len(win.args) > 1:
            # session(gap, key): the key argument IS the partition —
            # no explicit `group by` required (reference session
            # window signature)
            skey = win.args[1].strip("'\" ")
            if skey not in q.group_by:
                q.group_by = [skey] + q.group_by
        if df.isStreaming:
            # streaming keeps native session_window — it is what makes
            # incremental stateful session merging possible
            df = df.withColumn("session_w", F.session_window(ts_col, dur))
            extra = ["session_w"]
        else:
            # batch: gap-island session ids (r15) — native
            # session_window measured 1.52× worse at ×1000 on Spark
            # 4.1.2 (SCALEBENCH r14), and its merge is strict (`gap <
            # dur`) where the reference merges boundary-touching
            # events (`gap <= dur`) like the lag formulation here;
            # bounds come back as min(ts) / max(ts)+gap aggregates in
            # the group-by tail (`_run_single`), output identical.
            w = (
                Window.partitionBy(*q.group_by)
                if q.group_by
                else Window.partitionBy(F.lit(1))
            ).orderBy(ts_col)
            gap_us = F.unix_micros(
                F.timestamp_seconds(F.lit(0)) + F.expr(f"INTERVAL {dur}")
            )
            prev = F.lag(F.col(ts_col)).over(w)
            df = (
                df.withColumn(
                    "_new_s",
                    F.when(
                        prev.isNull()
                        | (
                            F.unix_micros(F.col(ts_col))
                            - F.unix_micros(prev)
                            > gap_us
                        ),
                        1,
                    ).otherwise(0),
                )
                .withColumn(
                    "_sid",
                    F.sum("_new_s").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
                .withColumn(
                    "_sess_end", F.col(ts_col) + F.expr(f"INTERVAL {dur}")
                )
                .drop("_new_s")
            )
            extra = ["_sid"]
    elif kind == "delay":
        df = df.withColumn(
            ts_col, F.col(ts_col) + F.expr(f"INTERVAL {_duration_str(win.args[0])}")
        )
    return df, extra


def _run_extension_window(
    df: DataFrame, q: QueryDef, win, ts_col: str, id_col: str
) -> DataFrame:
    """Front-end routing for the extension window family added in r2:
    `#window.cron('expr')`, `#window.expression('sum(x) <= N')` /
    `expressionBatch`, `#window.batch()`, `#unique:first/last/ever/
    timeBatch/deduplicate(...)`, `#extrema:minByLength/maxByLength/
    topK/bottomK(...)` — thin dispatch onto ``..operators.windows``
    (each operator is oracle-checked by its own suite entry)."""
    from ..operators import windows as OW

    kind = win.kind
    keys = [q.partition_key] if q.partition_key else (q.group_by or [])

    def _aggs() -> list:
        return [
            F.expr(it.expr).alias(_auto_alias(it, i))
            for i, it in enumerate(q.select)
            if _AGG_RE.search(it.expr)
        ]

    def _project(out: DataFrame) -> DataFrame:
        if not q.select:
            return out
        return out.select(
            *[
                F.expr(it.expr).alias(_auto_alias(it, i))
                for i, it in enumerate(q.select)
            ]
        )

    if kind == "cron":
        return OW.cron_window(
            df, ts_col, win.args[0].strip("'\" "), keys=keys, aggs=_aggs()
        )
    if kind == "frequent":
        # `frequent(n, attr…)` (`FrequentWindowProcessor.java`): the
        # retained heavy-hitter set; batch = the exact fixed point.
        attrs = [a.strip() for a in win.args[1:]]
        if not attrs:
            raise ValueError("frequent(n, attr…) needs the counted attributes")
        out = OW.frequent(df, int(win.args[0]), keys=keys, group_cols=attrs)
        return _project(out)
    if kind == "lossyFrequent":
        # `lossyFrequent(support, error, attr…)`: batch computes the
        # exact support-threshold set, so `error` (the sketch's slack
        # term) is accepted and unused — strictly inside the contract.
        attrs = [a.strip() for a in win.args[2:]]
        if not attrs:
            raise ValueError(
                "lossyFrequent(support, error, attr…) needs the "
                "counted attributes"
            )
        out = OW.lossy_frequent(
            df, float(win.args[0]), keys=keys, group_cols=attrs
        )
        return _project(out)
    if kind == "batch":
        return OW.batch_chunks(df, keys=keys, aggs=_aggs())
    if kind in ("expression", "expressionBatch"):
        col, limit = _retain_args(win.args)
        if not keys:
            raise ValueError(f"{kind} window needs `group by` keys in batch mode")
        order = [ts_col, id_col]
        if kind == "expressionBatch":
            out = OW.expression_batch(
                df, keys=keys, order=order, budget_col=col, limit=limit
            )
            return _project(out)
        # sliding: cent-scale the budget so the suffix test is exact
        aggs = {}
        for i, it in enumerate(q.select):
            if _AGG_RE.search(it.expr):
                expr = it.expr
                for c in df.columns:
                    expr = re.sub(rf"\b{c}\b", f"{c}_w", expr)
                aggs[_auto_alias(it, i)] = F.expr(expr)
        return OW.expression_sliding(
            df,
            keys=keys,
            order=order,
            budget_col=F.round(F.col(col) * 100).cast("long"),
            limit=int(round(limit * 100)),
            aggs=aggs or {"win_n": F.count(F.lit(1))},
        )
    if kind.startswith("unique:"):
        attr = win.args[0]
        if kind == "unique:first":
            out = OW.unique_last(
                df, keys=[attr], order=[F.asc(ts_col), F.asc(id_col)]
            )
        elif kind in ("unique:last", "unique:ever"):
            out = OW.unique_last(
                df, keys=[attr], order=[F.desc(ts_col), F.desc(id_col)]
            )
        elif kind == "unique:timeBatch":
            out = OW.unique_time_batch(
                df, ts_col, _duration_str(win.args[1]), [attr], id_col
            )
        elif kind == "unique:deduplicate":
            out = OW.unique_deduplicate(
                df, ts_col, [attr], time_constant_seconds(win.args[1]), id_col
            )
        else:
            raise ValueError(f"unsupported unique window {kind!r}")
        return _project(out)
    if kind in ("extrema:maxByLength", "extrema:minByLength"):
        if not keys:
            raise ValueError(f"{kind} needs `group by` keys in batch mode")
        out = OW.extrema_by_length(
            df,
            int(win.args[1]),
            keys=keys,
            order=[ts_col, id_col],
            attr=F.col(win.args[0]),
            id_col=id_col,
            mode="max" if kind.endswith("maxByLength") else "min",
        )
        return _project(out)
    if kind in ("extrema:maxByTime", "extrema:minByTime"):
        out = OW.extrema_by_time(
            df,
            time_constant_seconds(win.args[1]),
            keys=keys,
            ts_col=ts_col,
            attr=F.col(win.args[0]),
            id_col=id_col,
            mode="max" if kind.endswith("maxByTime") else "min",
        )
        return _project(out)
    if kind in ("extrema:topK", "extrema:bottomK"):
        return OW.topk_items(
            df,
            int(win.args[1]),
            keys=keys,
            item_cols=[win.args[0]],
            bottom=kind.endswith("bottomK"),
        )
    if kind in ("reorder:kslack", "reorder:akslack"):
        # `from S#reorder:kslack(ts, K)` / `#reorder:akslack(ts)` — the
        # §3.9 [ext:reorder] stream processors route from QL text (r10;
        # the operators shipped in r9). The reference adapts one K per
        # stream runtime; this engine's contract is per partition key
        # (module docstring, streaming/reorder.py), so the key comes
        # from `partition with (...)` and/or a single `group by` key.
        from ..streaming.reorder import akslack_batch, kslack_batch

        key = _single_key(q, kind)
        rts, ms = _reorder_args(kind, win.args, ts_col)
        if ms is not None:
            out = kslack_batch(df, ts=rts, key=key, id_col=id_col, slack_ms=ms)
        else:
            out = akslack_batch(df, ts=rts, key=key, id_col=id_col)
        return _project(out)
    plug = OW.WINDOW_PLUGINS.get(kind.lower())
    if plug is not None:
        # custom `WindowProcessor` plugin (§3.11 SPI,
        # `operators.windows.register_window_processor`) — same routing
        # contract as the built-ins: positional args unquoted, keyed by
        # the partition/group keys, then the query's projection
        out = plug(
            df,
            [a.strip("'\" ") for a in win.args],
            keys=keys,
            ts_col=ts_col,
            id_col=id_col,
        )
        return _project(out)
    raise ValueError(f"unsupported extension window {kind!r}")


def _single_key(q: QueryDef, what: str) -> str:
    """The key of a per-key operator, one rule for both runners: the
    `partition with (k of S)` key and the `group by` keys together
    name exactly one key."""
    keys = {q.partition_key, *(q.group_by or [])} - {None}
    if len(keys) != 1:
        raise ValueError(
            f"{what} needs exactly one key (`partition with (k of S)` "
            "and/or `group by k`) — the engine's per-key state contract"
        )
    return keys.pop()


def _retain_args(args) -> tuple[str, float]:
    """Parse an expression window's canonical retain form
    `'sum(col) <= limit'` for both runners. Returns (col, limit)."""
    retain = args[0].strip("'\" ")
    m = re.match(r"sum\((\w+)\)\s*<=\s*([\d.]+)\s*$", retain)
    if not m:
        raise ValueError(
            "expression windows support the canonical retain form "
            f"sum(col) <= limit, got {retain!r}"
        )
    return m.group(1), float(m.group(2))


def _reorder_args(kind: str, args, ts_col: str) -> tuple[str, int | None]:
    """Validate `#reorder:kslack(tsAttr, K)` / `#reorder:akslack(tsAttr)`
    positional args once for BOTH runners (ADVICE r10: a missing K
    surfaced as a bare IndexError; a non-numeric K as an unrouted
    ValueError from int()). Returns (ts attribute, slack ms or None
    for the adaptive variant)."""
    rts = args[0].strip("'\" ") if args else ts_col
    if kind != "reorder:kslack":
        return rts, None
    if len(args) < 2:
        raise ValueError(
            "reorder:kslack(tsAttr, K) needs the slack K in "
            f"milliseconds as its second argument — got {len(args)} "
            "argument(s)"
        )
    raw = str(args[1]).strip("'\" ")
    try:
        return rts, int(raw)
    except ValueError:
        raise ValueError(
            "reorder:kslack slack K must be an integer millisecond "
            f"count, got {raw!r}"
        ) from None


def _state_buckets(model: AppModel) -> int | None:
    """`@app:stateBuckets('128')`: opt into the coarse-bucket state
    layout for stateful-custom operators (CEP NFA, count windows) —
    amortizes the per-(group × micro-batch) python-call constant over
    every key in a bucket (measured 6–8× at ×100, SCALEBENCH round 5).
    Default off: per-key state is better for sparse-key streams."""
    from ..sources import parse_annotation

    for raw in model.annotations:
        ann = parse_annotation(raw)
        if ann.name.lower() in ("app:statebuckets", "statebuckets"):
            v = ann.options.get("value")
            if v is None:
                # positional form `@app:stateBuckets('128')` parses as a
                # bare key with empty value
                v = next(iter(ann.options), None)
            return int(str(v).strip("'\" ")) if v else 128
    return None


def playback_config(model: AppModel) -> dict[str, float] | None:
    """`@app:playback[(idle.time='…', increment='…')]`
    (`[core] util/SiddhiAppRuntimeBuilder` playback mode; SURVEY §2.1
    Event row): the reference switches its runtime clock from wall
    time to event timestamps. THIS engine is event-time-native — batch
    mode orders and windows by the event-time column always, and
    streaming mode drives all stateful operators off `withWatermark`
    on event time — so playback is the default execution model, not a
    mode. The annotation is accepted and surfaced here so apps port
    verbatim; `idle.time`/`increment` (advance the clock when sources
    idle) correspond to watermark progression on new batches and have
    no separate knob.

    Returns {} (playback on, no options), the parsed options, or None
    when the annotation is absent."""
    for raw in model.annotations:
        from ..sources import parse_annotation

        ann = parse_annotation(raw)
        if ann.name.lower() in ("app:playback", "playback"):
            out: dict[str, float] = {}
            for k in ("idle.time", "increment"):
                if k in ann.options:
                    out[k] = time_constant_seconds(ann.options[k])
            return out
    return None


def _rewrite_table_membership(
    src: DataFrame, filt: str, env: dict, model: AppModel
) -> tuple[DataFrame, str, list[str]]:
    """`attr in TableName` inside a filter (grammar `basic_source` IN
    condition, `[core] executor/condition/InConditionExpressionExecutor
    .java`): each membership atom becomes a broadcast left join against
    the table's distinct keys plus a boolean flag column, so arbitrary
    boolean composition (`not (x in T) and y > 5`) keeps working. The
    table column is the one named like the attribute, or the table's
    only column. Returns (joined frame, rewritten filter, flag cols)."""
    joins: list[tuple[str, str, int]] = []

    def seg_repl(seg: str) -> str:
        def mark(m: re.Match) -> str:
            attr, tname = m.group(1), m.group(2)
            sdef = model.streams.get(tname)
            if sdef is None or not sdef.is_table or tname not in env:
                return m.group(0)
            tdf = env[tname]
            if attr in tdf.columns:
                keycol = attr
            elif len(tdf.columns) == 1:
                keycol = tdf.columns[0]
            else:
                raise ValueError(
                    f"`{attr} in {tname}`: table has no column {attr!r} "
                    "and is not single-column"
                )
            i = len(joins)
            joins.append((attr, keycol, i))
            _tables.append(tdf)
            return f"__in_{i}"

        return re.sub(r"\b(\w+)\s+in\s+(\w+)\b", mark, seg)

    _tables: list[DataFrame] = []
    new_filt = _map_outside_quotes(filt, seg_repl)
    flags: list[str] = []
    for (attr, keycol, i), tdf in zip(joins, _tables):
        keys = (
            tdf.select(F.col(keycol).alias(f"__mv_{i}"))
            .distinct()
            .withColumn(f"__in_{i}", F.lit(True))
        )
        src = (
            src.join(F.broadcast(keys), src[attr] == F.col(f"__mv_{i}"), "left")
            .withColumn(f"__in_{i}", F.coalesce(F.col(f"__in_{i}"), F.lit(False)))
            .drop(f"__mv_{i}")
        )
        flags.append(f"__in_{i}")
    return src, new_filt, flags


def _normalize_expr_group_keys(df: DataFrame, q: QueryDef) -> DataFrame:
    """`group by <expression>` (e.g. ``group by str:upper(x)``):
    materialize each non-identifier key as a derived column so every
    downstream path (agg groupBy, window partitionBy, sort keys) can
    treat group keys as plain columns; select items that repeat the
    same expression are rewritten to the derived name, so grouped
    projection resolves. Derived columns shuffle like any key — no
    plan-shape change vs a named column."""
    if not q.group_by:
        return df
    new_gb: list[str] = []
    derived: dict[str, str] = {}
    for i, k in enumerate(q.group_by):
        if re.fullmatch(r"[A-Za-z_]\w*", k):
            new_gb.append(k)
            continue
        # reuse the select alias as the derived name so grouped
        # projection emits the user's column name, not a synthetic one
        name = f"__g{i}"
        for it in q.select:
            if (
                it.expr == k
                and it.alias
                and re.fullmatch(r"[A-Za-z_]\w*", it.alias)
                and it.alias not in df.columns
            ):
                name = it.alias
                break
        df = df.withColumn(name, F.expr(k))
        derived[k] = name
        new_gb.append(name)
    if derived:
        q.group_by = new_gb
        for it in q.select:
            if it.expr in derived:
                it.expr = derived[it.expr]
    return df


def _try_session_prefix(
    df: DataFrame, q: QueryDef, win, ts_col: str
) -> DataFrame | None:
    """Route a batch QL session query onto the PREFIX-SUM tier
    (`operators/windows.py::session_prefix` — zero aggregate
    operators, the r15 ×1000 gate recovery) when every aggregate in
    the select is count()/sum(x)/avg(x), optionally inside the
    suite's epsilon-bias rounding wrapper `round(1e-9 + agg, n)`
    (re-applied post-tier).  Any other shape returns None and the
    caller falls back to gap-island ids + hash aggregate — never a
    behavior change, only a plan change (row-identity pinned by the
    `siddhiql_session_window` oracle row and the operator-tier parity
    test)."""
    dur = _duration_str(win.args[0])
    group_by = list(q.group_by)
    if len(win.args) > 1:
        skey = win.args[1].strip("'\" ")
        if skey not in group_by:
            group_by = [skey] + group_by
    specs: list[tuple] = []
    posts: dict[str, tuple[str, int]] = {}
    order: list[str] = []
    for i, it in enumerate(q.select):
        alias = _auto_alias(it, i)
        e = it.expr.strip()
        if not _AGG_RE.search(e):
            if e not in group_by:
                return None
            order.append(e)
            continue
        if re.fullmatch(r"count\(\s*\*?\s*\)", e):
            specs.append(("count", None, alias))
            order.append(alias)
            continue
        m = re.fullmatch(r"(sum|avg)\(\s*(\w+)\s*\)", e)
        if m:
            specs.append((m.group(1), m.group(2), alias))
            order.append(alias)
            continue
        m = re.fullmatch(
            r"round\(\s*1e-9\s*\+\s*(sum|avg)\(\s*(\w+)\s*\)\s*,\s*(\d+)\s*\)",
            e,
        )
        if m:
            raw = f"__raw_{alias}"
            specs.append((m.group(1), m.group(2), raw))
            posts[alias] = (raw, int(m.group(3)))
            order.append(alias)
            continue
        return None
    if not specs:
        return None
    from ..operators.windows import session as _session_op

    out = _session_op(df, ts_col, dur, keys=group_by, aggs=specs)
    cols = [F.col("session_start"), F.col("session_end")]
    for name in order:
        if name in posts:
            raw, nd = posts[name]
            cols.append(F.round(F.lit(1e-9) + F.col(raw), nd).alias(name))
        else:
            cols.append(F.col(name))
    return out.select(*cols)


def _run_single(
    df: DataFrame, q: QueryDef, inp: SingleInput, ts_col: str, id_col: str
) -> DataFrame:
    if inp.filter_expr:
        df = df.filter(F.expr(inp.filter_expr))
    df = _normalize_expr_group_keys(df, q)
    win = inp.window
    has_agg = any(_AGG_RE.search(it.expr) for it in q.select)

    if win and win.kind == "session" and has_agg and not df.isStreaming:
        routed = _try_session_prefix(df, q, win, ts_col)
        if routed is not None:
            return routed

    if win and (
        ":" in win.kind
        or win.kind
        in (
            "cron",
            "expression",
            "expressionBatch",
            "batch",
            "frequent",
            "lossyFrequent",
        )
    ):
        return _run_extension_window(df, q, win, ts_col, id_col)

    ev_type = getattr(q, "event_type", "current")
    if ev_type in ("expired", "all"):
        # `insert expired|all events into` (`QuerySelector.java` output
        # event type): expired = window-eviction retractions — time(t)
        # evicts at ts+t, length(n) when the n-th successor arrives.
        if win is None or win.kind not in ("time", "length") or has_agg:
            raise ValueError(
                "insert expired/all events: supported over time()/"
                "length() windows with a non-aggregating select"
            )
        keys = [q.partition_key] if q.partition_key else (q.group_by or [])
        if win.kind == "time":
            # normalize Siddhi unit spellings (`10 min`) to seconds —
            # Spark's INTERVAL literal rejects abbreviated units
            exp = df.withColumn(
                "expired_ts",
                F.col(ts_col) + F.expr(f"INTERVAL {_duration_str(win.args[0])}"),
            )
        else:
            n = int(win.args[0])
            wl = (
                Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
            ).orderBy(ts_col, id_col)
            exp = df.withColumn(
                "expired_ts", F.lead(F.col(ts_col), n).over(wl)
            ).filter(F.col("expired_ts").isNotNull())

        def _proj(d: DataFrame, extra: list[str]) -> DataFrame:
            if not q.select:
                return d
            cols = [
                F.expr(it.expr).alias(_auto_alias(it, i))
                for i, it in enumerate(q.select)
            ]
            return d.select(*cols, *extra)

        if ev_type == "expired":
            return _proj(exp, ["expired_ts"])
        cur = df.withColumn("emit_ts", F.col(ts_col)).withColumn(
            "etype", F.lit("current")
        )
        expu = (
            exp.withColumn("emit_ts", F.col("expired_ts"))
            .drop("expired_ts")
            .withColumn("etype", F.lit("expired"))
        )
        return _proj(cur, ["emit_ts", "etype"]).unionByName(
            _proj(expu, ["emit_ts", "etype"])
        )

    if (
        win
        and win.kind
        in ("length", "lengthBatch", "time", "externalTime", "timeLength")
        and has_agg
    ):
        # per-event frame aggregation over the trailing window, keyed by
        # the group-by attributes (SURVEY.md §3.3 mappings)
        keys = q.group_by or []
        if not keys:
            raise ValueError(f"{win.kind} window needs `group by` keys in batch mode")
        if win.kind == "externalTime":
            # externalTime(tsAttr, t): the sliding time window driven by
            # a declared attribute clock — identical frame, explicit axis
            ts_col = win.args[0]
            win = WindowSpec(kind="time", args=[win.args[1]])
        if win.kind == "timeLength":
            # timeLength(t, n) (`TimeLengthWindowProcessor.java`):
            # whichever bound evicts first. Both retained sets are
            # suffixes of the per-key ordered stream, so the window SET
            # is the smaller suffix — ANY aggregate over it equals a
            # per-row pick between the RANGE-frame and ROWS-frame
            # results, keyed on the range count.
            dur_us = int(time_constant_seconds(win.args[0]) * 1_000_000)
            n = int(win.args[1])
            wr = (
                Window.partitionBy(*keys)
                .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
                .rangeBetween(-dur_us, 0)
            )
            wn = (
                Window.partitionBy(*keys)
                .orderBy(ts_col, id_col)
                .rowsBetween(-(n - 1), 0)
            )
            cnt_r = F.count(F.lit(1)).over(wr)
            out = df
            for i, it in enumerate(q.select):
                name = _auto_alias(it, i)
                if _AGG_RE.search(it.expr):
                    out = out.withColumn(
                        name,
                        F.when(cnt_r <= n, F.expr(it.expr).over(wr)).otherwise(
                            F.expr(it.expr).over(wn)
                        ),
                    )
            return out.select(
                *[
                    _auto_alias(it, i) if _AGG_RE.search(it.expr) else it.expr
                    for i, it in enumerate(q.select)
                ]
            )
        if win.kind == "length":
            w = (
                Window.partitionBy(*keys)
                .orderBy(ts_col, id_col)
                .rowsBetween(-(int(win.args[0]) - 1), 0)
            )
        elif win.kind == "time":
            # RANGE frame on the µs axis: rangeBetween takes long
            # offsets (a float here raised Py4JError for any non-round
            # constant like `30 min`), and integer µs is exact where
            # the old double-seconds axis rounded
            # cast: unix_micros rejects TIMESTAMP_NTZ (inferred-schema
            # parquet reads); for TIMESTAMP the cast is a no-op
            w = (
                Window.partitionBy(*keys)
                .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
                .rangeBetween(
                    -int(time_constant_seconds(win.args[0]) * 1_000_000), 0
                )
            )
        else:  # lengthBatch → tumbling count batches
            n = int(win.args[0])
            wb = Window.partitionBy(*keys).orderBy(ts_col, id_col)
            df = df.withColumn(
                "batch_id", ((F.row_number().over(wb) - 1) / n).cast("long")
            )
            out = df.groupBy(*keys, "batch_id").agg(
                *[
                    F.expr(it.expr).alias(_auto_alias(it, i))
                    for i, it in enumerate(q.select)
                    if _AGG_RE.search(it.expr)
                ]
            )
            return out
        out = df
        for i, it in enumerate(q.select):
            name = _auto_alias(it, i)
            if _AGG_RE.search(it.expr):
                out = out.withColumn(name, F.expr(it.expr).over(w))
        return out.select(
            *[_auto_alias(it, i) if _AGG_RE.search(it.expr) else it.expr
              for i, it in enumerate(q.select)]
        )

    if win and win.kind == "sort":
        # sort(n, attr, 'asc'|'desc') → retained top/bottom-n per key
        n = int(win.args[0])
        attr = win.args[1]
        asc = len(win.args) < 3 or win.args[2].strip("'\" ") == "asc"
        keys = q.group_by or []
        order = [F.asc(attr) if asc else F.desc(attr), F.asc(id_col)]
        w = (
            Window.partitionBy(*keys).orderBy(*order)
            if keys
            else Window.partitionBy(F.lit(1)).orderBy(*order)
        )
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )
        if q.select:
            df = df.select(
                *[F.expr(it.expr).alias(_auto_alias(it, i)) for i, it in enumerate(q.select)]
            )
        return df

    df, extra = _apply_window_groupby(df, q, win, ts_col)
    if has_agg:
        group_cols = extra + q.group_by
        agg_items = [
            (i, it) for i, it in enumerate(q.select) if _AGG_RE.search(it.expr)
        ]
        aggs = [F.expr(it.expr).alias(_auto_alias(it, i)) for i, it in agg_items]
        if "_sid" in extra:
            # gap-island batch session: bounds are aggregates over the
            # island (min event / max event + gap), not a group column
            aggs = [
                F.min(ts_col).alias("session_start"),
                F.max("_sess_end").alias("session_end"),
                *aggs,
            ]
        out = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
        order = []
        for i, it in enumerate(q.select):
            order.append(_auto_alias(it, i) if (i, it) in agg_items else it.expr)
        # group keys not named in the projection stay in the output —
        # a partition instance's identity (its key) is part of its
        # emission in the reference
        missing_keys = [k for k in q.group_by if k not in order]
        keep = [
            c
            for c in (extra + missing_keys + order)
            if c not in ("session_w", "_sid")
        ]
        if "session_w" in extra:
            out = out.withColumn("session_start", F.col("session_w.start")).withColumn(
                "session_end", F.col("session_w.end")
            )
            keep = ["session_start", "session_end"] + order
        elif "_sid" in extra:
            keep = ["session_start", "session_end"] + order
        return out.select(*keep)
    if q.select:
        df = df.select(
            *[F.expr(it.expr).alias(_auto_alias(it, i)) for i, it in enumerate(q.select)]
        )
    return df


def _run_join(
    sources: dict[str, DataFrame], q: QueryDef, inp: JoinInput, ts_col: str
) -> DataFrame:
    left = sources[inp.left.stream]
    if inp.per is not None:
        # `join AggA on … within '…' per 'day'` — aggregation
        # retrieval (`IncrementalAggregateCompileCondition.java`): pick
        # the granularity table, apply the range filter (partition-
        # prunable against the materialized layout), then join
        right = sources[f"{inp.right.stream}__{inp.per}"]
        if inp.within_range is not None:
            start, end = inp.within_range
            right = right.filter(
                (F.col("bucket_start") >= F.lit(start))
                & (F.col("bucket_start") < F.lit(end))
            )
    else:
        right = sources[inp.right.stream]
    if inp.left.filter_expr:
        left = left.filter(F.expr(inp.left.filter_expr))
    if inp.right.filter_expr:
        right = right.filter(F.expr(inp.right.filter_expr))
    cond = F.expr(inp.on_expr)
    within = inp.within_seconds
    if within is None:
        for side in (inp.left, inp.right):
            if side.window and side.window.kind in ("time", "timeBatch"):
                within = time_constant_seconds(side.window.args[0])
    lname = inp.left.alias or inp.left.stream
    rname = inp.right.alias or inp.right.stream
    # `@plan(bucket='auto'|'true')` — the hot-key insurance tier,
    # reachable from QL since r14: coarsen event time into
    # `within`-wide epochs and widen the equi keys with them, exactly
    # `operators/joins.py::windowed_stream_join(bucket=...)` (the QL
    # join is symmetric — |Δts| ≤ t — so the left side explodes to
    # {b−1, b, b+1}).  'auto' derives the pick from measured key
    # density (`derive_join_bucket`, memoized); per-key pair
    # production then stays bounded however dense one key is.
    bucket_hint = _plan_hints(q).get("bucket")
    coarsen = False
    if bucket_hint in ("true", "auto"):
        applicable = (
            inp.kind == "inner" and within is not None and inp.per is None
        )
        equi = _split_on(inp.on_expr, lname, rname)[0] if applicable else []
        if not (applicable and equi):
            # 'auto' is lenient — the operator tier resolves
            # bucket='auto' to plain for non-inner joins too; an
            # EXPLICIT bucket='true' that cannot apply raises.
            if bucket_hint == "true":
                raise ValueError(
                    "@plan(bucket='true') applies to inner stream-"
                    "stream joins with a time window and at least one "
                    "`L.x == R.y` equi term (the epoch key widens the "
                    "equi keys)"
                )
        else:
            from ..operators.joins import derive_join_bucket

            coarsen = (
                derive_join_bucket(left, right, equi)
                if bucket_hint == "auto"
                else True
            )
    if coarsen:
        w_us = int(within * 1_000_000)
        right = right.withColumn(
            "__tb", F.floor(F.unix_micros(F.col(ts_col)) / F.lit(w_us))
        )
        lb = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(w_us))
        left = left.withColumn(
            "__tb", F.explode(F.array(lb - 1, lb, lb + 1))
        )
        cond = cond & (F.col(f"{lname}.__tb") == F.col(f"{rname}.__tb"))
    j = left.alias(lname).join(
        right.alias(rname),
        on=cond
        if within is None
        else cond
        & (
            F.abs(
                F.unix_micros(F.col(f"{lname}.{ts_col}"))
                - F.unix_micros(F.col(f"{rname}.{ts_col}"))
            )
            <= int(within * 1_000_000)
        ),
        how={"inner": "inner", "left outer": "left", "right outer": "right",
             "full outer": "full"}[inp.kind],
    )
    if coarsen:
        j = j.drop("__tb")
    if q.select:
        if any(_AGG_RE.search(it.expr) for it in q.select):
            # aggregate over the joined stream (`join … select k,
            # sum(x) group by k`): group keys may be qualified
            # (`Vip.tier`), so alias them at groupBy time and map
            # unaggregated select items back to those aliases
            gb_alias: dict[str, str] = {}
            gcols = []
            # two keys sharing a last segment (`A.region, B.region`)
            # would collide on the bare alias — qualify those with the
            # stream alias (`A_region`) so the output stays unambiguous
            seg_counts: dict[str, int] = {}
            for k in q.group_by or []:
                if re.fullmatch(r"[\w.]+", k):
                    seg = k.split(".")[-1]
                    seg_counts[seg] = seg_counts.get(seg, 0) + 1
            for k in q.group_by or []:
                if re.fullmatch(r"[\w.]+", k):
                    seg = k.split(".")[-1]
                    a = seg if seg_counts[seg] == 1 else k.replace(".", "_")
                else:
                    a = f"_g{len(gcols)}"
                gb_alias[k] = a
                gcols.append(F.expr(k).alias(a))
            agg_idx = {
                i for i, it in enumerate(q.select) if _AGG_RE.search(it.expr)
            }
            aggs = [
                F.expr(it.expr).alias(_auto_alias(it, i))
                for i, it in enumerate(q.select)
                if i in agg_idx
            ]
            out = j.groupBy(*gcols).agg(*aggs) if gcols else j.agg(*aggs)
            final = []
            for i, it in enumerate(q.select):
                if i in agg_idx:
                    final.append(F.col(_auto_alias(it, i)))
                else:
                    name = gb_alias.get(it.expr)
                    if name is None:
                        cands = [
                            a
                            for k, a in gb_alias.items()
                            if k.split(".")[-1] == it.expr
                        ]
                        if len(cands) > 1:
                            raise ValueError(
                                f"select item {it.expr!r} is ambiguous: "
                                f"group keys {sorted(gb_alias)} share that "
                                "attribute name — qualify it with the "
                                "stream alias (e.g. "
                                f"'{next(iter(gb_alias))}')"
                            )
                        name = cands[0] if cands else it.expr
                    final.append(F.col(name).alias(_auto_alias(it, i)))
            return out.select(*final)
        j = j.select(
            *[F.expr(it.expr).alias(_auto_alias(it, i)) for i, it in enumerate(q.select)]
        )
    return j


def _pattern_idx_repl(m: re.Match) -> str:
    alias, idx, col = m.groups()
    if idx == "last":
        return f"{alias}__last_{col}"
    if idx == "0":
        return f"{alias}__first_{col}"
    raise ValueError(
        f"index access {alias}[{idx}].{col}: the batch plan exposes only "
        "[0] and [last] of a count-quantified step"
    )


_SQL_BARE_SKIP = frozenset(
    "as and or not in is null true false case when then else end cast "
    "like between distinct interval".split()
)


def _resolve_bare_attrs(expr: str, columns: list[str]) -> str:
    """Unaliased attribute references (`select event_id` after an
    unaliased pattern step) resolve against the step-prefixed output:
    a bare identifier that is not already a column but matches exactly
    ONE `<step>_<attr>` column rewrites to it (the reference resolves
    bare names when unambiguous; ambiguity keeps the name and fails
    analysis loudly)."""
    colset = set(columns)

    def repl(m: re.Match) -> str:
        tok = m.group(0)
        if tok.lower() in _SQL_BARE_SKIP or tok in colset:
            return tok
        cands = [c for c in columns if c.endswith(f"_{tok}")]
        return cands[0] if len(cands) == 1 else tok

    # identifiers not part of a dotted path, not function calls, and
    # not inside string literals (split on quotes, rewrite outside)
    parts = re.split(r"('[^']*')", expr)
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(
            r"(?<![\w.])[A-Za-z_]\w*\b(?!\s*[(.])", repl, parts[i]
        )
    return "".join(parts)


def _rewrite_pattern_select(out: DataFrame, q: QueryDef) -> DataFrame:
    """Pattern select expressions reference `e1.x` (→ `e1_x`) and, for
    count-quantified steps, `e[0].x` / `e[last].x` (→ `e__first_x` /
    `e__last_x`) — the index-access surface of `StateEvent` slots.
    Bare (unaliased) attribute names resolve when unambiguous."""
    if not q.select:
        return out
    sel = []
    for i, it in enumerate(q.select):
        expr = re.sub(
            r"\b(\w+)\s*\[\s*(\d+|last)\s*\]\s*\.\s*(\w+)",
            _pattern_idx_repl,
            it.expr,
        )
        expr = re.sub(r"\b(\w+)\.(\w+)", r"\1_\2", expr)
        expr = _resolve_bare_attrs(expr, out.columns)
        sel.append(F.expr(expr).alias(_auto_alias(it, i)))
    return out.select(*sel)


def _run_pattern(
    df: DataFrame, q: QueryDef, inp: PatternInput, ts_col: str, id_col: str, key: str
) -> DataFrame:
    if any(
        isinstance(st, LogicalStep) or st.negated for st in inp.steps
    ):
        return _run_pattern_special(df, q, inp, ts_col, id_col, key)
    if any(_quant(st) for st in inp.steps):
        return _run_pattern_quantified(df, q, inp, ts_col, id_col, key)
    return _run_pattern_simple(df, q, inp, ts_col, id_col, key)


# reps a batch plan unrolls an unbounded quantifier (`*`, `+`, `<m:>`)
# to: lengths m..m+UNROLL_CAP are matched exactly; longer runs emit
# their length-capped prefix (documented truncation — the streaming NFA
# is the unbounded path, `within` its bound)
UNROLL_CAP = 8


def _quant(st: PatternStep) -> bool:
    """Is the step count-quantified?  (`!=` not `>`: max_count is None
    for unbounded.)"""
    return st.min_count != 1 or st.max_count != 1


def _max_reps(st: PatternStep) -> int:
    """Effective unroll max for one step (unbounded → capped)."""
    if st.max_count is None:
        return min(st.min_count + UNROLL_CAP, 16)
    return st.max_count


def _alias_all(df: DataFrame, alias: str, key: str, key_alias: str = "__k") -> DataFrame:
    return df.select(
        F.col(key).alias(key_alias),
        *[F.col(c).alias(f"{alias}_{c}") for c in df.columns],
    )


def _run_pattern_or_chain(
    df: DataFrame, q: QueryDef, inp: PatternInput, ts_col: str, id_col: str, key: str
) -> DataFrame:
    """Chains containing `(a=S[p] or b=S[q])` steps mid-pattern
    (`LogicalPreStateProcessor` inside a followed-by chain): expand
    each or-step into its two arms — the second arm carries
    `q AND NOT p` so an event matching both takes the first-declared
    branch, the reference's branch priority — run one plain chain per
    arm combination, null-pad each variant with the other arm's
    columns, and union. `every` start semantics come free: each arm
    event starts its own partial in its variant, exactly one variant
    per event (the arms partition the stream)."""
    import dataclasses
    from itertools import product

    dtypes = dict(df.dtypes)
    choice_lists: list[list[PatternStep | None]] = []
    all_aliases: list[str] = []
    for st in inp.steps:
        if isinstance(st, LogicalStep):
            a, b = st.a, st.b
            all_aliases.extend([a.alias, b.alias])
            arm_a = dataclasses.replace(a)
            if a.predicate:
                neg = f"not ({a.predicate})"
                b_pred = f"({b.predicate}) and {neg}" if b.predicate else neg
                arm_b = dataclasses.replace(b, predicate=b_pred)
                choice_lists.append([arm_a, arm_b])
            else:
                # first arm matches everything — branch b never fires
                choice_lists.append([arm_a])
        else:
            all_aliases.append(st.alias)
            choice_lists.append([st])
    variants = []
    for combo in product(*choice_lists):
        v_inp = dataclasses.replace(inp, steps=list(combo))
        part = _run_pattern_simple(
            df, q, v_inp, ts_col, id_col, key, project=False
        )
        have = {st.alias for st in combo}
        pads = [
            F.lit(None).cast(dtypes[c]).alias(f"{al}_{c}")
            for al in all_aliases
            if al not in have
            for c in dtypes
        ]
        if pads:
            part = part.select("*", *pads)
        variants.append(part)
    out = variants[0]
    for v in variants[1:]:
        out = out.unionByName(v, allowMissingColumns=True)
    return _rewrite_pattern_select(out, q)


def _pred(expr: str | None) -> Column:
    return F.expr(expr) if expr else F.lit(True)


def _own_pred(st: PatternStep, cols: list[str]) -> Column:
    """A first step's predicate, own-alias prefix stripped."""
    return _pred(
        st.predicate and _classify_step_predicate(st.predicate, st.alias, [], cols)[0]
    )


def _scan_route(
    df: DataFrame,
    q: QueryDef,
    shape: str,
    arm_pred: Column,
    probe_pred: Column,
    within: float | None,
    aliases: list[str],
    ts_col: str,
    id_col: str,
    key: str,
    impl_hint: str,
    project: bool = True,
) -> DataFrame | None:
    """The QL scan tier of one nearest-probe shape
    (`operators/patterns.py::_pattern_scan`, which returns ids).  Each
    matched event's `<alias>_<col>` payload re-attaches by an equi-join
    on the globally unique event id — fanout 1 per row, key density
    irrelevant — so the output is column-identical to the join tier
    (`__k`, then each alias's columns).  None when ``impl_hint='auto'``
    measures the join tier faster."""
    from ..operators.patterns import _pattern_scan

    ids = _pattern_scan(
        df, key, ts_col, arm_pred, probe_pred, within, shape, impl_hint, id_col
    )
    if ids is None:
        return None
    n = range(1, len(aliases) + 1)
    out = ids.select(
        F.col("k").alias("__k"), *[F.col(f"e{i}_id").alias(f"__id{i}") for i in n]
    )
    for i, a in zip(n, aliases):
        out = out.join(
            df.select(
                F.col(id_col).alias(f"__id{i}"),
                *[F.col(c).alias(f"{a}_{c}") for c in df.columns],
            ),
            f"__id{i}",
        )
    out = out.select("__k", *[f"{a}_{c}" for a in aliases for c in df.columns])
    return _rewrite_pattern_select(out, q) if project else out


def _run_pattern_special(
    df: DataFrame, q: QueryDef, inp: PatternInput, ts_col: str, id_col: str, key: str
) -> DataFrame:
    """Absence and logical pattern forms — the batch fixed points of
    `AbsentStreamPreStateProcessor` / `LogicalPreStateProcessor` /
    `AbsentLogicalPreStateProcessor` (operator-level analogs in
    `..operators.patterns`):

    - `… -> not S[c] for t` — trailing absence: time-bounded left-anti
      join against the matched prefix (the reference arms a timer at
      the prior step; the anti-join is its fixed point).
    - `e1=S[p] and e2=S[q]` — both present within the pattern's
      `within` budget, either order; each e1 pairs its nearest e2.
    - `not S[p] for t and e2=S[q]` — e2 events with no p-event in the
      t window before them (backward anti-join).
    - `e1=S[p] or e2=S[q]` — tagged union; an event matching both
      takes the first-declared branch (reference branch priority).

    The absence and `and` join tiers and the scan tier are the
    operator kernels, fed this compiler's `<alias>_<col>` frames.
    """
    from ..operators.patterns import _absence_join, _nearest_pair_join

    steps = inp.steps
    if len(steps) > 1 and any(isinstance(st, LogicalStep) for st in steps):
        if all(
            (not isinstance(st, LogicalStep))
            or (st.op == "or" and not st.a.negated and not st.b.negated)
            for st in steps
        ) and not any(
            getattr(st, "negated", False) for st in steps
        ):
            return _run_pattern_or_chain(df, q, inp, ts_col, id_col, key)
    if len(steps) == 1 and isinstance(steps[0], LogicalStep):
        ls = steps[0]
        a, b = ls.a, ls.b
        if ls.op == "or":
            if a.negated or b.negated:
                raise ValueError("`not … or …` has no match semantics")
            if _plan_hints(q).get("impl") == "scan":
                raise ValueError(
                    "@plan(impl='scan') is not expressible for the "
                    "logical `or` form (a tagged union has no join to "
                    "protect; drop the hint or use impl='auto')"
                )
            dtypes = dict(df.dtypes)
            pa, pb = _pred(a.predicate), _pred(b.predicate)
            a_rows = df.filter(pa)
            b_rows = df.filter(pb & ~pa)  # branch priority: first declared wins
            a_side = a_rows.select(
                *[F.col(c).alias(f"{a.alias}_{c}") for c in df.columns],
                *[
                    F.lit(None).cast(dtypes[c]).alias(f"{b.alias}_{c}")
                    for c in df.columns
                ],
                F.lit(a.alias).alias("branch"),
            )
            b_side = b_rows.select(
                *[
                    F.lit(None).cast(dtypes[c]).alias(f"{a.alias}_{c}")
                    for c in df.columns
                ],
                *[F.col(c).alias(f"{b.alias}_{c}") for c in df.columns],
                F.lit(b.alias).alias("branch"),
            )
            return _rewrite_pattern_select(a_side.unionByName(b_side), q)
        if a.negated and b.negated:
            raise ValueError("both sides of `and` cannot be absent")
        if a.negated or b.negated:
            present, absent = (b, a) if a.negated else (a, b)
            budget = absent.for_seconds or inp.within_seconds
            if budget is None:
                raise ValueError(
                    "logical absence needs `for t` on the not-side or a "
                    "pattern `within t`"
                )
            # `@plan(impl='scan'|'auto')` (r14): backward absence is the
            # mirrored nearest-probe shape — same anti-join hot-key
            # quadratic, same fanout-free insurance.
            impl_hint = _plan_hints(q).get("impl")
            pp, pa = _pred(present.predicate), _pred(absent.predicate)
            if impl_hint in ("scan", "auto"):
                out = _scan_route(
                    df, q, "absent_before", pp, pa, budget, [present.alias],
                    ts_col, id_col, key, impl_hint,
                )
                if out is not None:
                    return out
            out = _absence_join(
                _alias_all(df.filter(pp), present.alias, key),
                "__k",
                f"{present.alias}_{ts_col}",
                df.filter(pa).select(key, ts_col),
                budget,
                backwards=True,
            )
            return _rewrite_pattern_select(out, q)
        # both present: nearest-pair within the pattern budget
        if _plan_hints(q).get("impl") == "scan":
            raise ValueError(
                "@plan(impl='scan') is not expressible for the logical "
                "`and` form (nearest-by-|distance| pairing needs both "
                "directions; the scan pass is one-directional) — "
                "impl='auto' falls back to the join tier silently"
            )
        if inp.within_seconds is None:
            raise ValueError("logical `and` pattern needs `within t`")
        out = _nearest_pair_join(
            _alias_all(df.filter(_pred(a.predicate)), a.alias, key),
            _alias_all(df.filter(_pred(b.predicate)), b.alias, key, key_alias="__k2"),
            ("__k", f"{a.alias}_{ts_col}", f"{a.alias}_{id_col}"),
            ("__k2", f"{b.alias}_{ts_col}", f"{b.alias}_{id_col}"),
            inp.within_seconds,
        )
        return _rewrite_pattern_select(out, q)

    *prefix, last = steps
    if (
        prefix
        and all(isinstance(st, PatternStep) and not st.negated for st in prefix)
        and isinstance(last, PatternStep)
        and last.negated
    ):
        budget = last.for_seconds or inp.within_seconds
        if budget is None:
            raise ValueError("trailing absence needs `for t` or `within t`")
        # `@plan(impl='scan'|'auto')` (r14): the absence anti-join is
        # ALSO per-key quadratic on a dense key — left-anti with a
        # range residual scans the key's matched group per probe row,
        # and absence output means the scan never short-circuits.  The
        # single-prefix-step form takes the fanout-free scan tier of
        # `operators.patterns.absence`.
        impl_hint = _plan_hints(q).get("impl")
        if impl_hint in ("scan", "auto") and (
            len(prefix) == 1 and not inp.strict and not _quant(prefix[0])
        ):
            out = _scan_route(
                df, q, "absent_after", _own_pred(prefix[0], df.columns),
                _pred(last.predicate), budget, [prefix[0].alias],
                ts_col, id_col, key, impl_hint,
            )
            if out is not None:
                return out
        if impl_hint == "scan":
            raise ValueError(
                "@plan(impl='scan') on an absence pattern expresses the "
                "single plain prefix step `e1=S[p] -> not S[q] for t` "
                "only (use impl='auto' to fall back silently)"
            )
        pre_inp = dataclasses.replace(inp, steps=prefix)
        pre_q = dataclasses.replace(q, select=[])
        partial = _run_pattern(df, pre_q, pre_inp, ts_col, id_col, key)
        prev = prefix[-1]
        prev_ts = (
            f"{prev.alias}__last_{ts_col}" if _quant(prev) else f"{prev.alias}_{ts_col}"
        )
        out = _absence_join(
            partial, "__k", prev_ts, df.filter(_pred(last.predicate)).select(key, ts_col),
            budget,
        )
        return _rewrite_pattern_select(out, q)
    raise ValueError(
        "unsupported absence/logical pattern shape: supported are a single "
        "`A and/or B` step (either side `not …`), and `… -> not S[c] for t`"
    )


def _map_outside_quotes(expr: str, fn) -> str:
    """Apply ``fn`` to the segments of ``expr`` that are outside
    single-quoted string literals (so a literal like 'sku3' is never
    rewritten as a column reference)."""
    parts = re.split(r"('(?:[^'\\]|\\.)*')", expr)
    return "".join(p if i % 2 else fn(p) for i, p in enumerate(parts))


def _classify_step_predicate(
    pred: str, alias: str, prior_aliases: list[str], base_cols: list[str]
) -> tuple[str | None, str | None]:
    """Split a pattern-step predicate into (pre_filter, deferred).

    A predicate that references only the step's own event (bare columns
    or `alias.col`) pre-filters the stream (own-alias prefix stripped).
    One that references EARLIER step aliases (`e2[e2.x > e1.x]` —
    `StreamPreStateProcessor` evaluates against the partial-match
    state) must run after the join: every ref is rewritten to the
    joined frame's `<alias>_<col>` naming, bare columns bind to the
    current step's event, and the filter applies BEFORE the first-match
    pick so "first match" means first event satisfying the FULL
    predicate, as in the reference."""
    ref_re = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)")
    uses_prior = False

    def scan(seg: str) -> str:
        nonlocal uses_prior
        for m in ref_re.finditer(seg):
            if m.group(1) in prior_aliases:
                uses_prior = True
        return seg

    _map_outside_quotes(pred, scan)
    if not uses_prior:
        strip_own = lambda seg: re.sub(rf"\b{re.escape(alias)}\s*\.\s*", "", seg)
        return _map_outside_quotes(pred, strip_own), None

    known = set(prior_aliases) | {alias}

    def rewrite(seg: str) -> str:
        seg = ref_re.sub(
            lambda m: f"{m.group(1)}_{m.group(2)}" if m.group(1) in known else m.group(0),
            seg,
        )
        if base_cols:
            bare = re.compile(
                r"(?<![\w.])(" + "|".join(map(re.escape, base_cols)) + r")(?![\w(.])"
            )
            seg = bare.sub(lambda m: f"{alias}_{m.group(1)}", seg)
        return seg

    return None, _map_outside_quotes(pred, rewrite)


def _pattern_scan_two_step(
    df: DataFrame,
    q: QueryDef,
    inp: PatternInput,
    ts_col: str,
    id_col: str,
    key: str,
    impl_hint: str,
    base_cols: list[str],
    project: bool,
) -> DataFrame | None:
    """The QL pattern scan tier: `e1=S[p1] -> e2=S[p2] within t` via
    the fanout-free nearest-probe pass (:func:`_scan_route`) instead of
    the chained join, whose per-key pair production explodes on one
    dense key.

    Returns None when the shape isn't scannable (not exactly two
    non-strict steps, or a cross-step predicate that must filter
    BEFORE the first-match pick) or when ``impl_hint='auto'`` and the
    measured key density picks the join tier."""
    if inp.strict or len(inp.steps) != 2:
        return None
    s1, s2 = inp.steps
    pre2 = None
    if s2.predicate:
        pre2, d2 = _classify_step_predicate(
            s2.predicate, s2.alias, [s1.alias], base_cols
        )
        if d2:
            return None  # cross-step predicate filters before the
            # first-match pick — not a nearest-probe shape
    return _scan_route(
        df, q, "followed", _own_pred(s1, base_cols), _pred(pre2), inp.within_seconds,
        [s1.alias, s2.alias], ts_col, id_col, key, impl_hint, project,
    )


def _run_pattern_simple(
    df: DataFrame,
    q: QueryDef,
    inp: PatternInput,
    ts_col: str,
    id_col: str,
    key: str,
    project: bool = True,
) -> DataFrame:
    """A plain chain — the batch fixed point of the NFA — as one run
    per step (:func:`_run_chain`).  Columns come out as `__k`, then
    `<alias>_<col>`; select expressions may reference `e1.x` (rewritten
    to `e1_x`).  A step predicate that references an earlier alias is
    deferred (:func:`_classify_step_predicate`)."""
    base_cols = df.columns
    # `@plan(impl='scan'|'auto')` — the fanout-free hot-key tier,
    # reachable from QL since r14 (r13 verdict #1).  The scannable
    # shape mirrors the operator tier's (`operators/patterns.py::
    # followed_by`): a non-strict two-step followed-by whose second
    # step has no cross-step predicate.  'auto' derives the pick from
    # measured key density (`choose_pattern_impl`, memoized); explicit
    # 'scan' on an inexpressible shape raises rather than silently
    # running the unprotected join.
    impl_hint = _plan_hints(q).get("impl")
    if impl_hint in ("scan", "auto"):
        scan_df = _pattern_scan_two_step(
            df, q, inp, ts_col, id_col, key, impl_hint, base_cols, project
        )
        if scan_df is not None:
            return scan_df
        if impl_hint == "scan":
            raise ValueError(
                "@plan(impl='scan') expresses the non-strict two-step "
                "followed-by shape with per-step predicates only — "
                "longer chains, sequences and cross-step predicates "
                "run on the join tier (use impl='auto' to fall back "
                "silently)"
            )
    runs, aliases = [], []
    for step in inp.steps:
        pre, deferred = (
            _classify_step_predicate(step.predicate, step.alias, aliases, base_cols)
            if step.predicate
            else (None, None)
        )
        runs.append(([step.alias], _pred(pre), deferred))
        aliases.append(step.alias)
    out = _run_chain(df, inp, runs, ts_col, id_col, key)
    return _rewrite_pattern_select(out, q) if project else out


def _run_chain(
    df: DataFrame,
    inp: PatternInput,
    runs: list[tuple[list[str | None], Column, str | None]],
    ts_col: str,
    id_col: str,
    key: str,
) -> DataFrame:
    """A chain of runs on the operator kernels (`operators/patterns.py`);
    each run is (position names, own predicate, deferred cross-step
    predicate or None), and a plain step is a run of one.

    - sequence (`,`, `StreamPreStateProcessor`'s strict-contiguity
      mode): the runs' positions are consecutive events of the key —
      ONE :func:`_lead_chain` window; deferred predicates filter its row;
    - followed-by (`->`): each run is consecutive events among those
      matching its predicate (one lead chain per run), and each run
      after the first joins through :func:`_step_join`, deferred
      predicate as the join residual, then the first-match pick.

    A NULL key is its own key."""
    from ..operators.patterns import _lead_chain, _step_join

    within = inp.within_seconds
    if inp.strict:
        out = _lead_chain(
            df, key, ts_col, id_col,
            [n for names, _p, _d in runs for n in names],
            [p for names, p, _d in runs for _n in names],
            within,
        )
        for *_, d in runs:
            if d:
                out = out.filter(F.expr(d))
        return out
    out = None
    for names, pred, d in runs:
        run = _lead_chain(
            df.filter(pred), key, ts_col, id_col, names,
            within_seconds=within if out is None else None,
        )
        head, tail = names[0], names[-1]
        if out is None:
            out, first = run, head
        else:
            out = _step_join(
                out,
                run,
                "__k",
                (f"{prev}_{ts_col}", f"{head}_{ts_col}"),
                (f"{first}_{ts_col}", f"{tail}_{ts_col}"),
                within,
                (
                    [f"{first}_{id_col}", f"{prev}_{id_col}"],
                    [f"{head}_{ts_col}", f"{head}_{id_col}"],
                ),
                residual=F.expr(d) if d else None,
            )
        prev = tail
    return out


def _run_pattern_quantified(
    df: DataFrame, q: QueryDef, inp: PatternInput, ts_col: str, id_col: str, key: str
) -> DataFrame:
    """Count-quantified pattern steps (`e=S[c]<m:n>`,
    `CountPreStateProcessor.java`): one plan variant per combination of
    run lengths across quantified steps; variants union and a leftmost-
    greedy pick resolves overlaps — the batch fixed point of the
    reference's greedy count state.

    Each variant is one :func:`_run_chain`: a length-L run is L
    consecutive events — among MATCHING events in pattern (non-strict)
    mode, non-matching arrivals skipped as in `StreamPreStateProcessor`
    pattern semantics, and among ALL events in sequence (strict) mode,
    where the whole variant is one lead window.  The greedy pick orders
    candidates per (key, start event) by earliest completion then
    longest match (a count state stops collecting when the next step's
    event arrives); a TRAILING quantified step has no next step, so
    there the longest run wins outright.  Quantified alias `e` exposes
    `e__first_*`, `e__last_*`, `e__count`; select via `e[0].x` /
    `e[last].x`."""
    from itertools import product

    base_cols = df.columns
    steps = [(st, _pred(st.predicate), _quant(st)) for st in inp.steps]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    ranges = [range(st.min_count, _max_reps(st) + 1) for st in inp.steps]
    n_variants = 1
    for r in ranges:
        n_variants *= len(r)
    if n_variants > 64:
        raise ValueError(
            f"count quantifiers expand to {n_variants} plan variants "
            "(> 64): narrow the <m:n> ranges"
        )

    def run_names(st: PatternStep, quant: bool, length: int) -> list[str | None]:
        """A run's positions; only its first and last are projected."""
        if not quant:
            return [st.alias]
        return [
            f"{st.alias}__{i}" if i in (0, length - 1) else None
            for i in range(length)
        ]

    def build_variant(lengths: tuple[int, ...]) -> DataFrame:
        runs = [
            (run_names(st, quant, length), pred, None)
            for (st, pred, quant), length in zip(steps, lengths)
            if length
        ]
        partial = _run_chain(df, inp, runs, ts_col, id_col, key)
        # canonical schema shared by all variants; zero-length steps
        # (`?`/`*`/`<0:n>` skipped entirely) contribute typed NULLs
        out_cols = [F.col("__k")]
        for (st, _p, quant), length in zip(steps, lengths):
            if quant:
                for part, k2 in (("first", 0), ("last", length - 1)):
                    for c in base_cols:
                        out_cols.append(
                            F.col(f"{st.alias}__{k2}_{c}").alias(
                                f"{st.alias}__{part}_{c}"
                            )
                            if length
                            else F.lit(None)
                            .cast(dtypes[c])
                            .alias(f"{st.alias}__{part}_{c}")
                        )
                out_cols.append(F.lit(length).alias(f"{st.alias}__count"))
            else:
                for c in base_cols:
                    out_cols.append(F.col(f"{st.alias}_{c}"))
        # match start = first BOUND event (not the first step, which a
        # zero-min quantifier may skip) — the greedy-dedup partition key
        out_cols.append(F.col(f"{runs[0][0][0]}_{id_col}").alias("__start_id"))
        prio = 0
        for length in lengths:  # leftmost-greedy dominance (base 17 > max 16)
            prio = prio * 17 + length
        out_cols.append(F.lit(prio).alias("__prio"))
        return partial.select(*out_cols)

    all_lengths = [ls for ls in product(*ranges) if any(ls)]  # ≥1 bound event
    if not all_lengths:
        raise ValueError("pattern needs at least one step with min count ≥ 1")
    variants = [build_variant(lengths) for lengths in all_lengths]
    out = variants[0]
    for v in variants[1:]:
        out = out.unionByName(v)

    stn = inp.steps[-1]
    last_quant = _quant(stn)
    last_ts = f"{stn.alias}__last_{ts_col}" if last_quant else f"{stn.alias}_{ts_col}"
    last_id = f"{stn.alias}__last_{id_col}" if last_quant else f"{stn.alias}_{id_col}"
    if last_quant:
        order = [
            F.col("__prio").desc(),
            F.col(last_ts).asc_nulls_last(),
            F.col(last_id).asc_nulls_last(),
        ]
    else:
        order = [F.col(last_ts), F.col(last_id), F.col("__prio").desc()]
    w = Window.partitionBy("__k", "__start_id").orderBy(*order)
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "__prio", "__start_id")
    )
    return _rewrite_pattern_select(out, q)


_AGG_CALL_RE = re.compile(
    r"\b(sum|count|avg|min|max|stddev_pop)\s*\(\s*(\*|\w*)\s*\)", re.I
)

_STATE_COL = {
    "sum": "sum_v",
    "count": "cnt",
    "avg": "avg_v",
    "min": "min_v",
    "max": "max_v",
    "stddev_pop": "stddev_v",
}


def _run_aggregation_def(src: DataFrame, adef, ts_col: str) -> dict[str, DataFrame]:
    """`define aggregation` → composable-state rollup cascade
    (`[core] aggregation/AggregationParser.java` analog). Only
    sum/count-composable functions participate (avg = sum/cnt, stdDev
    from sum of squares) — the same restriction the reference's
    `IncrementalAttributeAggregator` subclasses impose. Returns
    {granularity: finalized DataFrame} with the user's aliases."""
    from ..operators import incremental as INC

    keys: list[str] = []
    agg_aliases: list[tuple[str, str]] = []  # (out alias, state col)
    value_col: str | None = None
    for i, it in enumerate(adef.select):
        m = _AGG_CALL_RE.fullmatch(it.expr.strip())
        if m:
            fn, arg = m.group(1).lower(), m.group(2)
            if arg == "*":
                arg = ""
            if arg:
                if value_col is None:
                    value_col = arg
                elif arg != value_col:
                    raise ValueError(
                        "aggregation subset supports one value column; got "
                        f"{value_col!r} and {arg!r}"
                    )
            agg_aliases.append((it.alias or f"col{i}", _STATE_COL[fn]))
        else:
            if not re.fullmatch(r"\w+", it.expr):
                raise ValueError(f"non-column group item: {it.expr!r}")
            keys.append(it.expr)
    if value_col is None:
        raise ValueError("aggregation needs at least one agg(value) item")
    cascade = INC.rollup_cascade(
        src,
        adef.by_attr if adef.by_attr in src.columns else ts_col,
        value_col,
        keys=tuple(keys),
        granularities=tuple(adef.granularities),
    )
    out = {}
    for gran, gdf in cascade.items():
        fin = INC.finalize(gdf)
        out[gran] = fin.select(
            "bucket_start",
            *keys,
            *[F.col(state).alias(alias) for alias, state in agg_aliases],
        )
    return out


def _trigger_ticks(spark, td, env, ts_col: str) -> DataFrame:
    """Batch fixed point of `define trigger`
    (`[core] trigger/PeriodicTrigger.java` / `CronTrigger` /
    `StartTrigger`): a tick table spanning the event-time range of the
    app's inputs — `every p` ticks at lo, lo+p, … ≤ hi; a cron trigger
    fires at its `operators.cron.cron_fires` instants in (lo, hi];
    `'start'` is one tick at lo. Streaming mode keeps the rate-source
    mapping. Emits (`triggered_time` epoch-millis, ts_col timestamp) —
    the reference's single-attribute trigger stream plus the event-time
    column so windows compose downstream."""
    from ..operators.cron import cron_fires

    bounds = None
    for df in env.values():
        if ts_col and ts_col in df.columns:
            b = df.select(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi"))
            bounds = b if bounds is None else bounds.unionByName(b)
    if bounds is None:
        raise ValueError(
            f"trigger {td.name!r} in batch mode needs at least one input "
            f"stream with a {ts_col!r} column to derive the tick range"
        )
    row = bounds.select(F.min("lo").alias("lo"), F.max("hi").alias("hi")).first()
    lo, hi = row.lo, row.hi
    if lo is None:
        return spark.createDataFrame([], f"triggered_time long, {ts_col} timestamp")
    if td.at_start:
        ticks = spark.createDataFrame([(lo,)], f"{ts_col} timestamp")
    elif td.every_seconds is not None:
        n_ticks = (hi - lo).total_seconds() / td.every_seconds
        if n_ticks > 1_000_000:
            raise ValueError(
                f"trigger {td.name!r}: {n_ticks:.0f} ticks over the input "
                "range — widen the period or run in streaming mode"
            )
        step = (
            f"INTERVAL {int(td.every_seconds)} SECONDS"
            if float(td.every_seconds).is_integer()
            else f"INTERVAL {int(td.every_seconds * 1000)} MILLISECONDS"
        )
        ticks = spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(lo).cast("timestamp"),
                    F.lit(hi).cast("timestamp"),
                    F.expr(step),
                )
            ).alias(ts_col)
        )
    else:
        fires = cron_fires(td.cron, lo, hi)
        ticks = spark.createDataFrame(
            [(d,) for d in fires], f"{ts_col} timestamp"
        )
    return ticks.select(
        F.unix_millis(F.col(ts_col)).alias("triggered_time"), F.col(ts_col)
    )


def run_app(
    app: str | AppModel,
    sources: dict[str, DataFrame] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    pattern_key: str = "user_id",
    spark: SparkSession | None = None,
    write_sinks: bool = False,
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app in batch/analytics mode.

    ``sources`` maps declared stream/table names to DataFrames;
    returns {output stream name: DataFrame} (multiple queries into the
    same stream union, as with `InsertIntoStreamCallback`). Streams
    declared with `@source(type='file', @map(...))` load themselves
    (SURVEY.md §3.1) when not passed explicitly; with
    ``write_sinks=True``, outputs whose stream carries
    `@sink(type='file', @map(...))` are also written out."""
    from ..sources import (
        has_on_error_stream,
        load_file_source,
        load_file_source_with_faults,
        write_file_sink,
    )

    model = parse_app(app) if isinstance(app, str) else app
    env: dict[str, DataFrame] = dict(sources or {})
    outputs: dict[str, DataFrame] = {}
    if spark is None:
        if not env:
            raise ValueError("run_app needs `sources` or an explicit `spark`")
        spark = next(iter(env.values())).sparkSession
    if model.functions:
        for fd in model.functions.values():
            _register_script_udf(spark, fd)
    for name, sdef in model.streams.items():
        if name not in env and sdef.is_table:
            # `define table` with `@store(type=…)` binds to the external
            # system (rdbms/mongodb/elasticsearch via DataSource options,
            # parquet natively — SURVEY.md §2 Table); without @store the
            # table starts EMPTY (the reference's in-memory table initial
            # state) — DML queries populate it through the replay fixed
            # point
            from ..sources import siddhi_schema
            from ..sources.stores import load_store

            stored = load_store(spark, sdef)
            if stored is not None:
                env[name] = stored.select(
                    *[c for c, _t in sdef.attributes]
                )
                continue
            env[name] = spark.createDataFrame(
                [], siddhi_schema(list(sdef.attributes))
            )
            continue
        if name not in env and not sdef.is_table:
            # annotation-driven file source (`FileSource` +
            # `@map` serde); a stream with neither a passed frame nor a
            # file source is only valid as a query output.
            # `@OnError(action='STREAM')` splits the read: clean rows
            # feed S, mapper failures feed `!S` (StreamJunction fault
            # propagation)
            if has_on_error_stream(sdef):
                pair = load_file_source_with_faults(spark, sdef)
                if pair is not None:
                    env[name], env[f"!{name}"] = pair
                    continue
            loaded = load_file_source(spark, sdef)
            if loaded is None:
                # custom `Source` plugin (§3.11 SPI,
                # `sources.register_source`): any @source type without
                # a built-in loader routes to the plugin registry
                from ..sources import load_plugin_source

                loaded = load_plugin_source(spark, sdef)
            if loaded is not None:
                env[name] = loaded
    # `define aggregation` → rollup cascade, one finalized DataFrame per
    # granularity exposed as `<name>__<granularity>` (the on-demand /
    # `within … per` retrieval surface; SURVEY.md §3.5)
    for aname, adef in model.aggregations.items():
        src = env[adef.source]
        agg_out = _run_aggregation_def(src, adef, ts_col)
        for gran, gdf in agg_out.items():
            outputs[f"{aname}__{gran}"] = gdf
            env[f"{aname}__{gran}"] = gdf
    for q in model.queries:
        inp = q.input
        # Rate limiting picks first/last BY EVENT TIME after the
        # projection — if the user's select dropped the ts/id columns,
        # thread them through invisibly and strip them afterwards (the
        # reference's rate limiter sits on the event stream and never
        # depends on the projection keeping the timestamp).
        _rl_injected: list[str] = []
        if (
            q.output_rate is not None
            and q.output_rate.which in ("first", "last", "snapshot")
            and q.select
            and not any(_AGG_RE.search(it.expr) for it in q.select)
        ):
            have = {_auto_alias(it, i) for i, it in enumerate(q.select)}
            for col in (ts_col, id_col):
                if col not in have:
                    q.select.append(SelectItem(expr=col, alias=col))
                    _rl_injected.append(col)
        if isinstance(inp, SingleInput) and inp.stream in model.triggers:
            if inp.stream not in env:
                env[inp.stream] = _trigger_ticks(
                    spark, model.triggers[inp.stream], env, ts_col
                )
        if isinstance(inp, SingleInput):
            # `from W …` where W is a named window: the shared window
            # definition applies unless the query supplies its own
            # (`[core] window/Window.java` — one instance, many readers)
            if inp.stream in model.windows and inp.window is None:
                inp = SingleInput(
                    stream=inp.stream,
                    filter_expr=inp.filter_expr,
                    window=model.windows[inp.stream].window,
                )
            src = env[inp.stream]
            if q.partition_ranges:
                # range partition (`RangePartitionExecutor.java`): the
                # derived CASE WHEN bucket is the shuffle key; rows
                # matching no range are dropped (reference semantics —
                # unpartitioned events never enter the group)
                bucket = None
                for cond, label in q.partition_ranges:
                    w = F.when(F.expr(cond), label)
                    bucket = w if bucket is None else bucket.when(
                        F.expr(cond), label
                    )
                src = src.withColumn(q.partition_key, bucket).filter(
                    F.col(q.partition_key).isNotNull()
                )
            if inp.filter_expr and re.search(r"\b\w+\s+in\s+\w+", inp.filter_expr):
                src, nf, flags = _rewrite_table_membership(
                    src, inp.filter_expr, env, model
                )
                if flags:
                    src = src.filter(F.expr(nf)).drop(*flags)
                    inp = dataclasses.replace(inp, filter_expr=None)
            if (
                q.output_rate is not None
                and q.output_rate.which in ("first", "last")
                and q.group_by
                and any(_AGG_RE.search(it.expr) for it in q.select)
                and inp.window is None
            ):
                # grouped output rate limiting
                # (`GroupByPerTimeOutputRateLimiter`): every event
                # updates the group's running aggregate; the limiter
                # emits the first/last update per interval per group.
                df = _grouped_rate_limited(src, q, ts_col, id_col)
                env[q.out_stream] = df
                outputs[q.out_stream] = (
                    outputs[q.out_stream].unionByName(df)
                    if q.out_stream in outputs
                    else df
                )
                continue
            df = _run_single(src, q, inp, ts_col, id_col)
        elif isinstance(inp, JoinInput):
            df = _run_join(env, q, inp, ts_col)
        elif isinstance(inp, PatternInput):
            df = _run_pattern(
                env[
                    inp.steps[0].a.stream
                    if isinstance(inp.steps[0], LogicalStep)
                    else inp.steps[0].stream
                ],
                q,
                inp,
                ts_col,
                id_col,
                q.partition_key or pattern_key,
            )
        else:  # pragma: no cover
            raise TypeError(type(inp))
        if q.having:
            df = df.filter(F.expr(q.having))
        if q.output_rate is not None and q.output_rate.which == "snapshot":
            # `output snapshot every N sec` — periodic current-state
            # emission (`[core] …/ratelimit/snapshot/`); time form only,
            # as in the reference grammar
            from ..operators import ratelimit as RL

            if q.output_rate.unit != "seconds":
                raise ValueError("output snapshot takes a time period")
            if ts_col not in df.columns:
                raise ValueError(
                    "output snapshot needs the event-time column in "
                    f"the projection (missing {ts_col!r})"
                )
            rate_keys = [q.partition_key] if q.partition_key else []
            df = RL.snapshot_every(
                df, ts_col, f"{q.output_rate.every_n} seconds", rate_keys,
                id_col if id_col in df.columns else ts_col,
            ).drop("bucket")
            if _rl_injected:
                df = df.drop(*_rl_injected)
        if q.output_rate is not None and q.output_rate.which in ("first", "last"):
            # `output first|last every N sec|events` — batch fixed
            # point of the rate limiter (`[core] query/output/ratelimit/`)
            if ts_col not in df.columns:
                raise ValueError(
                    "output rate limiting needs the event-time column in "
                    f"the projection (missing {ts_col!r})"
                )
            rate_keys = [q.partition_key] if q.partition_key else []
            if q.output_rate.unit == "seconds":
                from ..operators import ratelimit as RL

                every = f"{q.output_rate.every_n} seconds"
                if q.output_rate.which == "first":
                    df = RL.first_every(df, ts_col, every, rate_keys, id_col)
                else:
                    df = RL.last_every(df, ts_col, every, rate_keys, id_col)
                # the emission bucket is rate-limiter internals — the
                # query's output schema is its projection
                df = df.drop("bucket")
            else:  # every N events: modulo pick over arrival order
                n = int(q.output_rate.every_n)
                wkeys = rate_keys or [F.lit(1)]
                w = Window.partitionBy(*wkeys).orderBy(ts_col, id_col)
                df = df.withColumn("_rn", F.row_number().over(w))
                if q.output_rate.which == "first":
                    df = df.filter((F.col("_rn") - 1) % n == 0)
                else:
                    df = df.filter(F.col("_rn") % n == 0)
                df = df.drop("_rn")
            if _rl_injected:
                df = df.drop(*_rl_injected)
            # `all` keeps everything — scheduling-only in batch mode
        for col, asc in q.order_by:
            df = df.orderBy(F.asc(col) if asc else F.desc(col))
        if q.limit is not None:
            df = df.limit(q.limit)
        if q.table_action is not None:
            new_state = _apply_table_action(
                env[q.table_action.table], df, q.table_action, ts_col, id_col
            )
            outputs[q.table_action.table] = new_state
            env[q.table_action.table] = new_state
        elif q.out_stream in outputs:
            outputs[q.out_stream] = outputs[q.out_stream].unionByName(df)
            env[q.out_stream] = outputs[q.out_stream]
        else:
            outputs[q.out_stream] = df
            env[q.out_stream] = outputs[q.out_stream]
    if write_sinks:
        from ..sources import http_sink_foreach_batch

        for name, df in outputs.items():
            sdef = model.streams.get(name)
            if sdef is not None:
                write_file_sink(df, sdef)
                # @sink(type='http'): batch fixed point of the
                # continuous sink — one POST epoch per run
                post = http_sink_foreach_batch(sdef)
                if post is not None:
                    post(df, 0)
    return outputs


_SIDDHI_TO_SPARK_TYPE = {
    "string": "string",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "bool": "boolean",
}


_RUNNING_AGG_RE = re.compile(
    r"\b(sum|count|avg|min|max|stddev_pop)\s*\(([^()]*)\)", re.I
)


def _grouped_rate_limited(
    src: DataFrame, q: QueryDef, ts_col: str, id_col: str
) -> DataFrame:
    """`select k, agg(x) group by k output first|last every N sec` —
    the reference's per-group time rate limiter over a continuously
    updating aggregate. Batch fixed point: rewrite each aggregate to a
    RUNNING aggregate per group (ROWS UNBOUNDED PRECEDING in event-time
    order), then keep the first/last update per (group, interval).
    One keyed sort + one row_number — no join, no state."""
    if q.output_rate.unit != "seconds":
        raise ValueError("grouped output rate limiting takes a time period")
    if q.input.filter_expr:
        src = src.filter(F.expr(q.input.filter_expr))
    keys = list(q.group_by)
    over = (
        f" OVER (PARTITION BY {', '.join(keys)} ORDER BY {ts_col}, {id_col}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    sel = []
    for i, it in enumerate(q.select):
        new, nsub = _RUNNING_AGG_RE.subn(
            lambda m: f"{m.group(1)}({m.group(2)}){over}", it.expr
        )
        if nsub == 0 and _AGG_RE.search(it.expr):
            raise ValueError(
                f"grouped rate limiting: cannot rewrite {it.expr!r} to a "
                "running aggregate (nested aggregate arguments)"
            )
        sel.append(F.expr(new).alias(_auto_alias(it, i)))
    per_event = src.select(
        *sel,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *[F.expr(k).alias(f"__k{j}") for j, k in enumerate(keys)],
    )
    b = per_event.withColumn(
        "__bucket",
        F.window("__ts", f"{q.output_rate.every_n} seconds")["start"],
    )
    kcols = [f"__k{j}" for j in range(len(keys))]
    order = (
        [F.desc("__ts"), F.desc("__id")]
        if q.output_rate.which == "last"
        else [F.asc("__ts"), F.asc("__id")]
    )
    w = Window.partitionBy("__bucket", *kcols).orderBy(*order)
    out = (
        b.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ts", "__id", "__bucket", *kcols)
    )
    if q.having:
        out = out.filter(F.expr(q.having))
    return out


def _register_script_udf(spark, fd) -> None:
    """`define function f[python] return T { expr }` → vectorized
    pandas UDF registered under the function name (the Python analog
    of `[core] function/Script.java`'s per-app script registry). The
    body is an expression over the parameter names, evaluated once per
    Arrow batch (Series-at-a-time, not row-at-a-time)."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    code = f"def _f({', '.join(fd.params)}):\n    return {fd.body}\n"
    ns: dict = {}
    exec(code, {"pd": pd, "np": np, "math": math}, ns)  # noqa: S102 — app-author code, same trust model as the reference's JS UDFs
    ret = _SIDDHI_TO_SPARK_TYPE[fd.return_type]
    spark.udf.register(fd.name, pandas_udf(ns["_f"], ret))


def _apply_table_action(table, muts, action, ts_col: str, id_col: str):
    """Batch fixed point of a table mutation stream (SURVEY.md §3.2
    table DML; operators.tables has the primitives). The `on` condition
    must be a key equality `T.k == <stream expr>` — the same restriction
    the reference's `IndexOperator` fast path compiles
    (`[core] util/collection/operator/IndexOperator.java`)."""
    from ..operators import tables as TB

    m = re.match(
        rf"\s*{action.table}\.(\w+)\s*=\s*(\S+)\s*$", action.on_expr
    ) or re.match(rf"\s*(\w+)\s*=\s*{action.table}\.(\w+)\s*$", action.on_expr)
    if not m:
        raise ValueError(
            f"table DML `on` must be a key equality T.k == expr: "
            f"{action.on_expr!r}"
        )
    table_key, mut_ref = m.group(1), m.group(2)
    mut_key = mut_ref.rsplit(".", 1)[-1]

    if action.kind == "delete":
        return TB.delete_replay(table, muts, key=table_key, mut_key=mut_key)

    if action.kind == "upsert":
        # last writer per key wins; table rows are oldest (priority 0)
        order_cols = [c for c in (ts_col, id_col) if c in muts.columns]
        order = [F.desc("_prio")] + [F.desc(c) for c in order_cols]
        t = table.withColumn("_prio", F.lit(0))
        mm = muts
        if mut_key != table_key:
            mm = mm.withColumnRenamed(mut_key, table_key)
        mm = mm.withColumn("_prio", F.lit(1))
        for c in t.columns:
            if c not in mm.columns:
                mm = mm.withColumn(c, F.lit(None).cast(t.schema[c].dataType))
        for c in order_cols:  # table rows: null order key (sort after)
            if c not in t.columns:
                t = t.withColumn(c, F.lit(None).cast(mm.schema[c].dataType))
        keep = t.columns  # table cols + _prio + order cols
        combined = t.select(*keep).unionByName(mm.select(*keep))
        return TB.upsert_replay(combined, keys=[table_key], order=order).drop(
            "_prio", *[c for c in order_cols if c not in table.columns]
        )

    # update with set: additive form `T.x = T.x + <col>` → sum of
    # deltas (commutes — UpdateTableCallback's common case); absolute
    # form `T.x = <col>` → last mutation per key
    out = table
    for lhs, rhs in action.set_items:
        col = lhs.rsplit(".", 1)[-1]
        add = re.match(
            rf"\s*{action.table}\.{col}\s*\+\s*(\S+)\s*$", rhs
        )
        if add:
            delta = add.group(1).rsplit(".", 1)[-1]
            out = TB.update_add_replay(
                out, muts, key=table_key, mut_key=mut_key,
                target_col=col, delta_col=delta,
            )
        else:
            val = rhs.rsplit(".", 1)[-1]
            order = [
                F.desc(c) for c in (ts_col, id_col) if c in muts.columns
            ] or [F.desc(val)]
            last = TB.upsert_replay(
                muts.select(
                    F.col(mut_key).alias("_k"), F.col(val).alias("_v"),
                    *[F.col(c) for c in (ts_col, id_col) if c in muts.columns],
                ),
                keys=["_k"],
                order=order,
            ).select("_k", "_v")
            out = (
                out.join(
                    F.broadcast(last), out[table_key] == F.col("_k"), "left"
                )
                .withColumn(col, F.coalesce(F.col("_v"), F.col(col)))
                .drop("_k", "_v")
            )
    return out


def _run_pattern_streaming(
    env: dict[str, DataFrame],
    q: QueryDef,
    inp: PatternInput,
    ts_col: str,
    id_col: str,
    key: str,
    watermark: str,
    state_buckets: int | None = None,
) -> DataFrame:
    """Route a front-end pattern query to the streaming NFA
    (`..streaming.cep`): followed-by / strict sequence / logical
    and-or pairs / `<m:n>` count quantifiers become NFA steps on
    `applyInPandasWithState`; the two-step absence form
    (`e1 -> not S[p] for t`) becomes the event-time-timer operator.

    The NFA emits (key, per-step event id/ts); the select clause may
    reference `alias.<id_col>` / `alias.<ts_col>` (and `alias[0]` /
    `alias[last]` on count steps) — other attributes need a join back
    on the ids, as the reference's state machines also only retain the
    matched events themselves."""
    from ..streaming import cep

    sts = inp.steps
    # absence: exactly `arm -> not S[p] for t`
    if (
        len(sts) == 2
        and isinstance(sts[1], PatternStep)
        and sts[1].negated
        and sts[1].for_seconds
    ):
        arm = sts[0]
        if isinstance(arm, LogicalStep) or arm.negated:
            raise ValueError(
                "streaming absence supports the `e1 -> not S[p] for t` "
                "form (streaming.cep.absence_nfa)"
            )
        out = cep.absence_nfa(
            env[arm.stream],
            key=key,
            arm_predicate=arm.predicate or "true",
            absent_predicate=sts[1].predicate or "true",
            for_seconds=sts[1].for_seconds,
            ts=ts_col,
            id_col=id_col,
            watermark=watermark,
        )
        stem_by_alias = {arm.alias or "e1": "e1"}
    else:
        stream = None
        steps: list = []
        stem_by_alias = {}
        _all_aliases = set()
        for st in sts:
            if isinstance(st, LogicalStep):
                _all_aliases.update({st.a.alias, st.b.alias})
            else:
                _all_aliases.add(st.alias)
        _all_aliases.discard(None)

        def _ctx(pred: str | None, own: str | None) -> str:
            """NFA predicates are per-event Catalyst flag columns
            (context-free). Own-alias refs (`o.sku`) are stripped to
            bare columns; refs to OTHER step aliases need the partial-
            match state and are batch-mode only — fail with guidance,
            not an unresolved-column AnalysisException."""
            if not pred:
                return "true"
            for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\.\s*[A-Za-z_]\w*", pred):
                if m.group(1) in _all_aliases and m.group(1) != own:
                    raise ValueError(
                        f"cross-step predicate reference {m.group(0)!r} is "
                        "not supported in streaming mode (NFA step "
                        "predicates are per-event, Catalyst-compiled "
                        "flags) — run this pattern in batch mode"
                    )
            if own:
                pred = re.sub(rf"\b{re.escape(own)}\s*\.\s*", "", pred)
            return pred

        def _use(s: str | None) -> None:
            nonlocal stream
            if s is None:
                return
            if stream is None:
                stream = s
            elif stream != s:
                raise ValueError(
                    "streaming patterns span one stream; multi-stream "
                    "patterns need streaming.cep.pattern_nfa over a "
                    "tagged union of the inputs"
                )

        for i, st in enumerate(sts, start=1):
            if isinstance(st, LogicalStep):
                if st.a.negated or st.b.negated:
                    raise ValueError(
                        "streaming logical-absence: use "
                        "streaming.cep.absence_nfa"
                    )
                _use(st.a.stream)
                _use(st.b.stream)
                steps.append(
                    (
                        st.op,
                        _ctx(st.a.predicate, st.a.alias),
                        _ctx(st.b.predicate, st.b.alias),
                    )
                )
                if st.op == "and":
                    stem_by_alias[st.a.alias or f"e{i}a"] = f"e{i}a"
                    stem_by_alias[st.b.alias or f"e{i}b"] = f"e{i}b"
                else:
                    # or-steps bind ONE event — pattern_nfa emits a
                    # single e{i} stem, so both aliases map to it
                    stem_by_alias[st.a.alias or f"e{i}"] = f"e{i}"
                    stem_by_alias[st.b.alias or f"e{i}"] = f"e{i}"
            else:
                if st.negated:
                    raise ValueError(
                        "streaming absence steps are supported only as "
                        "the trailing `-> not S[p] for t` form"
                    )
                _use(st.stream)
                if st.min_count != 1 or st.max_count != 1:
                    steps.append(
                        (
                            "count",
                            _ctx(st.predicate, st.alias),
                            st.min_count,
                            st.max_count,
                        )
                    )
                else:
                    steps.append(_ctx(st.predicate, st.alias))
                stem_by_alias[st.alias or f"e{i}"] = f"e{i}"
        out = cep.pattern_nfa(
            env[stream],
            key=key,
            step_predicates=steps,
            ts=ts_col,
            id_col=id_col,
            within_seconds=inp.within_seconds,
            every=inp.every,
            strict=inp.strict,
            state_buckets=state_buckets,
        )
    if not q.select:
        return out
    # alias.id_col → stem_id, alias.ts_col → stem_ts; the pattern KEY
    # is carried by every match, so alias.<key> resolves to the key
    # column (cast back to the source attribute's type — the NFA keys
    # are strings)
    key_type = None
    first_stream = (
        sts[0].a.stream if isinstance(sts[0], LogicalStep) else sts[0].stream
    )
    if first_stream in env and key in env[first_stream].columns:
        key_type = env[first_stream].schema[key].dataType.simpleString()
    key_projected = [False]
    sel = []
    for i, it in enumerate(q.select):
        expr = it.expr
        # count-step element access e[0].x / e[last].x → first/last stems
        expr = re.sub(
            r"\b([A-Za-z_]\w*)\s*\[\s*(0|last)\s*\]\s*\.\s*([A-Za-z_]\w*)",
            lambda m: f"{stem_by_alias.get(m.group(1), m.group(1))}"
            f"_{'first' if m.group(2) == '0' else 'last'}.{m.group(3)}",
            expr,
        )

        def _ref(m: re.Match) -> str:
            stem = stem_by_alias.get(m.group(1), m.group(1))
            attr = m.group(2)
            if attr == id_col:
                return f"{stem}_id"
            if attr == ts_col:
                return f"{stem}_ts"
            if attr == key and key_type is not None:
                key_projected[0] = True
                return f"CAST(key AS {key_type})"
            raise ValueError(
                f"streaming pattern select can reference {id_col}/"
                f"{ts_col} of a step (got {m.group(0)}); join other "
                "attributes back on the ids"
            )
        # identifier-anchored: a decimal literal like 1.5 must NOT match
        expr = re.sub(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)", _ref, expr)
        sel.append(F.expr(expr).alias(_auto_alias(it, i)))
    # the match key rides along implicitly UNLESS the user projected it
    # themselves (alias.<key> → CAST(key …)) — then batch/streaming
    # column sets agree exactly
    if key_projected[0]:
        return out.select(*sel)
    return out.select("key", *sel)


def _run_join_streaming(
    env: dict[str, DataFrame],
    model: AppModel,
    q: QueryDef,
    inp: JoinInput,
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """Streaming JoinInput: stream ⋈ table → stream-static broadcast
    probe; stream ⋈ stream → watermarked windowed join (state bounded
    by the window span). The ON conjunction's `A.x == B.y` terms become
    the equi keys (hash join, not a range probe); everything else is a
    residual condition."""
    from ..streaming import joins as SJ

    lname = inp.left.alias or inp.left.stream
    rname = inp.right.alias or inp.right.stream
    left = env[inp.left.stream]
    right = env[inp.right.stream]
    if inp.left.filter_expr:
        left = left.filter(F.expr(inp.left.filter_expr))
    if inp.right.filter_expr:
        right = right.filter(F.expr(inp.right.filter_expr))
    how = {"inner": "inner", "left outer": "left", "right outer": "right",
           "full outer": "full"}[inp.kind]

    right_def = model.streams.get(inp.right.stream)
    if right_def is not None and right_def.is_table:
        j = SJ.stream_table_join(
            left.alias(lname), right.alias(rname),
            on=F.expr(inp.on_expr), how=how,
        )
        if q.select:
            return j.select(*[
                F.expr(it.expr).alias(_auto_alias(it, i))
                for i, it in enumerate(q.select)
            ])
        return j

    within = inp.within_seconds
    if within is None:
        for side in (inp.left, inp.right):
            if side.window and side.window.kind in ("time", "timeBatch"):
                within = time_constant_seconds(side.window.args[0])
    if within is None:
        raise ValueError(
            "streaming stream-stream join needs a time bound "
            "(#window.time(t) on a side, or `within t`) so state is "
            "evictable"
        )
    equi, residual = _split_on(inp.on_expr, lname, rname)
    if not equi:
        raise ValueError(
            "streaming stream-stream join needs at least one "
            "`A.x == B.y` equi term in the ON condition (a pure range "
            "probe shuffles everything everywhere)"
        )
    extra = F.expr(" AND ".join(f"({r})" for r in residual)) if residual else None
    # `@plan(bucket='true')` (r14): the streaming hot-key insurance
    # tier from QL text — epoch-widened equi keys bound per-key state
    # probes (SCALEBENCH r14: plain DNFs on a 400 k-event key where
    # the bucketed join takes 28.6 s). 'auto' is batch-only (the pick
    # needs a stats job): run the pick on a batch sample, then write
    # bucket='true'.
    bucket_hint = _plan_hints(q).get("bucket")
    bucket = False
    if bucket_hint == "auto":
        raise ValueError(
            "@plan(bucket='auto') is batch-only — run the pick on a "
            "batch sample, then write @plan(bucket='true') in the "
            "streaming app"
        )
    if bucket_hint == "true":
        if how != "inner":
            raise ValueError(
                "@plan(bucket='true') applies to inner stream-stream "
                "joins (the epoch explode would fabricate multiplicity "
                "on outer rows)"
            )
        bucket = True
    j = SJ.stream_stream_join(
        left, right,
        left_ts=ts_col, right_ts=ts_col,
        equi_keys=equi, within_seconds=within,
        watermark=watermark, extra_cond=extra, how=how,
        bucket=bucket,
    )
    if q.select:
        sel = []
        for i, it in enumerate(q.select):
            expr = re.sub(rf"\b{lname}\.", "l.", it.expr)
            expr = re.sub(rf"\b{rname}\.", "r.", expr)
            sel.append(F.expr(expr).alias(_auto_alias(it, i)))
        return j.select(*sel)
    return j


# The keyed state ops a streaming single-input query routes to, per
# window kind: (direct API named when a select item falls outside the
# table, passthrough output columns, aggregate → output column). The
# `value` passthrough is the expression window's budget column.
_KEYED_STATE_OPS = {
    "length": (
        "streaming.windows.length_window",
        ("key", "event_id", "ts"),
        {"count": "n_in_window", "sum": "sum_value", "avg": "avg_value"},
    ),
    "expression": (
        "streaming.windows.expression_window",
        ("key", "event_id", "ts", "value"),
        {"count": "win_n", "sum": "win_sum"},
    ),
    "reorder": (
        "streaming.reorder",
        ("key", "event_id", "ts", "late_us", "slack_us"),
        {},
    ),
}


def _route_streaming_keyed(
    env: dict, model: AppModel, q, inp, ts_col: str, id_col: str
) -> DataFrame:
    """QL `#window.length(n)`, `#window.expression('sum(col) <= L')` and
    `#reorder:kslack(ts, K)` / `#reorder:akslack(ts)` in streaming mode
    → their keyed state ops (`streaming.windows.length_window` /
    `expression_window`, `streaming.reorder.kslack_stateful` /
    `akslack`), keyed by :func:`_single_key`, state grouped by the key
    or — under `@app:stateBuckets` — by hash bucket (one python call
    per bucket per micro-batch; measured 6–8× at ×100 for high-churn
    key spaces, SCALEBENCH r5).

    The select maps each item onto the op's output through
    :data:`_KEYED_STATE_OPS`: the key, the passthroughs, and the
    aggregates over ONE value column (the expression window's budget
    column; cent-scaled exactly like the batch runner's
    `expression_sliding`, so both engines share the integer
    membership test). The key comes back cast to its source type.
    Anything wider raises with a pointer to the op's API. Both reorder
    ops keep the drop contract, so the same app text yields the same
    row set as the batch runner (ADVICE r10)."""
    from ..streaming import reorder as SR
    from ..streaming import windows as SW

    win = inp.window
    kind = win.kind.split(":")[0]
    api, passthrough, agg_cols = _KEYED_STATE_OPS[kind]
    what = f"streaming #{'' if kind == 'reorder' else 'window.'}{win.kind}"
    key = _single_key(q, what)
    op_ts, value_col, op_args = ts_col, None, {}
    if kind == "length":
        op = SW.length_window
        op_args["n"] = int(win.args[0])
    elif kind == "expression":
        op = SW.expression_window
        value_col, limit = _retain_args(win.args)
        op_args["limit"] = int(round(limit * 100))
    else:
        op_ts, ms = _reorder_args(win.kind, win.args, ts_col)
        op, op_args = (
            (SR.akslack, {}) if ms is None
            else (SR.kslack_stateful, {"slack_ms": ms})
        )
    role = {"key": key, "event_id": id_col, "ts": op_ts, "value": value_col}
    names = {role.get(c, c): c for c in passthrough}
    plan = []  # (state-op output column, alias)
    for i, it in enumerate(q.select):
        expr = it.expr.strip()
        m = re.fullmatch(
            r"(count)\(\s*\*?\s*\)|(sum|avg)\(\s*(\w+)\s*\)", expr, re.I
        )
        fn = m and (m.group(1) or m.group(2)).lower()
        if expr in names:
            plan.append((names[expr], _auto_alias(it, i)))
        elif fn in agg_cols:
            if m.group(3):
                if value_col not in (None, m.group(3)):
                    raise ValueError(
                        f"{what} aggregates one value column (got "
                        f"{value_col!r} and {m.group(3)!r})"
                    )
                value_col = m.group(3)
            plan.append((agg_cols[fn], _auto_alias(it, i)))
        else:
            raise ValueError(
                f"{what} select supports "
                + ", ".join([*names, *(f"{f}()" for f in agg_cols)])
                + f" — got {expr!r}; use {api} directly"
            )
    if kind != "reorder":
        op_args["value_col"] = value_col or "value"
    src = env[inp.stream]
    if inp.filter_expr:
        src = src.filter(F.expr(inp.filter_expr))
    out = op(
        src, key=key, n_buckets=_state_buckets(model), ts=op_ts,
        id_col=id_col, **op_args,
    )
    if not plan:
        return out
    key_type = src.schema[key].dataType
    return out.select(
        *[
            (F.col(c).cast(key_type) if c == "key" else F.col(c)).alias(alias)
            for c, alias in plan
        ]
    )


def run_app_streaming(
    app: str | AppModel,
    sources: dict[str, DataFrame] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    pattern_key: str = "user_id",
    spark: SparkSession | None = None,
    watermark: str = "1 minute",
) -> dict[str, DataFrame]:
    """Execute a SiddhiQL app in STREAMING mode (entry point A on
    Structured Streaming): returns {output stream: unbounded DataFrame}
    for the caller to attach `writeStream` sinks to.

    Scope: single-input queries — filters, projections, and the
    natively-streaming windows (`timeBatch`/`externalTimeBatch` →
    `window()`, `session` → `session_window`, `delay` → event-time
    shift), with `withWatermark(ts, …)` applied before any stateful
    aggregation (the engine's late-data contract, SURVEY.md §3.10) —
    plus PATTERN queries, which route to the streaming NFA / absence
    timer (`..streaming.cep`, see ``_run_pattern_streaming``), and
    `#window.length`, `#window.expression` and `#reorder:kslack/akslack`,
    which route through one keyed route (``_route_streaming_keyed``) to
    keyed `applyInPandasWithState` operators (`..streaming.windows`,
    `..streaming.reorder`). Each of those
    keyed operators — the NFA too — runs one kernel whose state groups
    by the key, or by hash bucket under `@app:stateBuckets('N')`.
    Sources come from ``sources`` (streaming frames) or from
    `@source(type='file', @map(...))` annotations (directory source).
    Other shapes outside the supported select forms raise with a
    pointer to the operator API.

    ``@plan`` in this runner: ``bucket='true'`` on stream-stream joins
    takes the epoch insurance tier; ``bucket='auto'`` raises (the pick
    runs a batch stats job — run it on a batch sample, then write
    ``@plan(bucket='true')``).  ``impl=`` hints are a no-op for
    streaming pattern queries: the streaming NFA's state layout
    (`@app:stateBuckets`, `..streaming.cep`) IS the streaming pattern
    hot-key answer — there is no scan/join regime to pick."""
    from ..sources import stream_file_source, stream_http_source

    model = parse_app(app) if isinstance(app, str) else app
    env: dict[str, DataFrame] = dict(sources or {})
    if spark is None:
        if not env:
            raise ValueError("run_app_streaming needs `sources` or `spark`")
        spark = next(iter(env.values())).sparkSession
    for name, sdef in model.streams.items():
        if name not in env and not sdef.is_table:
            loaded = stream_file_source(spark, sdef)
            if loaded is None:
                loaded = stream_http_source(spark, sdef)
            if loaded is not None:
                env[name] = loaded
    outputs: dict[str, DataFrame] = {}

    def _emit(q, df: DataFrame) -> None:
        # shared output routing: having filter + StreamJunction fan-in
        # (queries inserting into the same stream union their emissions)
        if q.having:
            df = df.filter(F.expr(q.having))
        if q.out_stream in outputs:
            outputs[q.out_stream] = outputs[q.out_stream].unionByName(df)
        else:
            outputs[q.out_stream] = df
        env[q.out_stream] = outputs[q.out_stream]

    for q in model.queries:
        inp = q.input
        if isinstance(inp, PatternInput):
            df = _run_pattern_streaming(
                env, q, inp, ts_col, id_col, q.partition_key or pattern_key,
                watermark, state_buckets=_state_buckets(model),
            )
            _emit(q, df)
            continue
        if not isinstance(inp, SingleInput):
            if isinstance(inp, JoinInput) and inp.per is None:
                df = _run_join_streaming(
                    env, model, q, inp, ts_col, watermark
                )
                _emit(q, df)
                continue
            raise ValueError(
                "streaming runner covers single-input queries, patterns, "
                "stream-stream windowed joins and stream-table joins; "
                "aggregation retrieval (`per`) is a batch/serving query"
            )
        # `from W …` where W is a named window: the shared definition
        # applies, exactly as in batch (`[core] window/Window.java` —
        # one instance, many readers; the producer query's output IS
        # the junction feed in env)
        if inp.stream in model.windows and inp.window is None:
            inp = dataclasses.replace(
                inp, window=model.windows[inp.stream].window
            )
        if inp.window is not None and inp.window.kind == "time" and any(
            _AGG_RE.search(it.expr) for it in q.select
        ):
            # sliding time(t) + aggregation: the reference emits per
            # arrival; in streaming that maps to overlapping window
            # PANES (see streaming.windows.sliding_agg) — each event
            # is aggregated in every pane covering it, panes finalize
            # as the watermark passes
            from ..streaming.windows import sliding_agg

            src = env[inp.stream]
            if inp.filter_expr:
                src = src.filter(F.expr(inp.filter_expr))
            dur_s = int(time_constant_seconds(inp.window.args[0]))
            slide_s = max(dur_s // 6, 1)
            agg_items = [
                (i, it)
                for i, it in enumerate(q.select)
                if _AGG_RE.search(it.expr)
            ]
            aggs = [
                F.expr(it.expr).alias(_auto_alias(it, i)) for i, it in agg_items
            ]
            keys = q.group_by or (
                [q.partition_key] if q.partition_key else []
            )
            dropped = [
                it.expr
                for i, it in enumerate(q.select)
                if (i, it) not in agg_items and it.expr.strip() not in keys
            ]
            if dropped:
                # the pane aggregation can only carry keys + aggregates;
                # silently losing a projected column would desync this
                # route from the batch runner's per-event emission
                raise ValueError(
                    f"streaming sliding time() aggregation emits window "
                    f"panes of (keys, aggregates); non-key projection(s) "
                    f"{dropped} are not representable — drop them or use "
                    "streaming.windows.sliding_agg/expression_window "
                    "directly"
                )
            df = sliding_agg(
                src,
                ts_col,
                f"{dur_s} seconds",
                f"{slide_s} seconds",
                watermark,
                keys=keys,
                aggs=aggs,
            )
            _emit(q, df)
            continue
        if (
            inp.window is not None
            and inp.window.kind.split(":")[0] in _KEYED_STATE_OPS
        ):
            # the keyed `applyInPandasWithState` ops: count and
            # retain-while windows, and the §3.9 reorder processors
            df = _route_streaming_keyed(env, model, q, inp, ts_col, id_col)
            _emit(q, df)
            continue
        if inp.window is not None and inp.window.kind not in (
            "timeBatch",
            "externalTimeBatch",
            "session",
            "delay",
            "time",  # non-aggregating time() is routing; span handled above
        ):
            raise ValueError(
                f"window {inp.window.kind!r} is stateful-custom in "
                "streaming mode: use streaming.windows / "
                "streaming.frequent operators"
            )
        src = env[inp.stream]
        if inp.filter_expr and re.search(r"\b\w+\s+in\s+\w+", inp.filter_expr):
            # `attr in Table` — stream-static broadcast join + flag
            src, nf, flags = _rewrite_table_membership(
                src, inp.filter_expr, env, model
            )
            if flags:
                src = src.filter(F.expr(nf)).drop(*flags)
                inp = dataclasses.replace(inp, filter_expr=None)
        has_agg = any(_AGG_RE.search(it.expr) for it in q.select)
        if has_agg:
            wm_col = (
                inp.window.args[0]
                if inp.window is not None and inp.window.kind == "externalTimeBatch"
                else ts_col
            )
            src = src.withWatermark(wm_col, watermark)
        df = _run_single(src, q, inp, ts_col, id_col)
        _emit(q, df)
    return outputs
