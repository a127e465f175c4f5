"""App object model — the analog of the reference's query-api IR
(`[qapi] SiddhiApp.java`, `execution/query/Query.java`,
`definition/StreamDefinition.java`)."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class StreamDef:
    name: str
    attributes: list[tuple[str, str]]  # (name, siddhi type)
    is_table: bool = False
    annotations: list[str] = field(default_factory=list)


@dataclass
class WindowSpec:
    kind: str  # time | timeBatch | length | lengthBatch | session | sort | externalTime* | delay
    args: list[str]


@dataclass
class SingleInput:
    stream: str
    filter_expr: str | None = None
    window: WindowSpec | None = None
    # `from S … as x` — the join-side reference name (grammar
    # `join_source: … (AS alias)?`); defaults to the stream name
    alias: str | None = None


@dataclass
class JoinInput:
    left: SingleInput
    right: SingleInput
    kind: str  # inner | left outer | right outer | full outer
    on_expr: str
    within_seconds: float | None = None
    # aggregation retrieval (`join AggA … within '…','…' per 'day'`):
    within_range: tuple[str, str] | None = None
    per: str | None = None


@dataclass
class PatternStep:
    alias: str
    stream: str
    predicate: str | None
    # count quantifier `<m:n>` (`CountPreStateProcessor.java`) and the
    # regex sugar `*` = <0:>, `+` = <1:>, `?` = <0:1>:
    # min_count == max_count == 1 means unquantified; max_count None is
    # unbounded (batch unrolls to a documented cap, streaming collects
    # greedily under `within`)
    min_count: int = 1
    max_count: int | None = 1
    # absence step `not S[c] for t` (`AbsentStreamPreStateProcessor.java`)
    negated: bool = False
    for_seconds: float | None = None


@dataclass
class LogicalStep:
    """`e1=A[p] and e2=B[q]` / `or` / `not A[p] and e2=B[q]`
    (`LogicalPreStateProcessor.java`, `AbsentLogicalPreStateProcessor.java`)."""

    op: str  # "and" | "or"
    a: PatternStep
    b: PatternStep


@dataclass
class PatternInput:
    steps: list[PatternStep | LogicalStep]
    every: bool
    within_seconds: float | None = None
    strict: bool = False  # sequence (`,`) vs followed-by (`->`)


@dataclass
class SelectItem:
    expr: str  # SQL-translated expression
    alias: str | None


@dataclass
class OutputRate:
    """`output [all|first|last] every N sec|N events` — grammar rule
    `output_rate` (`[core] query/output/ratelimit/`, SURVEY.md §3.10)."""

    which: str  # all | first | last
    every_n: float
    unit: str  # seconds | events


@dataclass
class TableAction:
    """Table DML output — `update T … on cond`, `delete T on cond`,
    `update or insert into T on cond` (`[core] query/output/callback/
    {UpdateTableCallback,DeleteTableCallback,
    UpdateOrInsertTableCallback}.java`)."""

    kind: str  # update | delete | upsert
    table: str
    on_expr: str  # translated condition, e.g. `T.k = user_id`
    set_items: list[tuple[str, str]] = field(default_factory=list)  # (T.col, expr)


@dataclass
class QueryDef:
    input: SingleInput | JoinInput | PatternInput
    select: list[SelectItem]  # empty = select *
    group_by: list[str] = field(default_factory=list)
    having: str | None = None
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (col, asc)
    limit: int | None = None
    out_stream: str = ""
    output_rate: OutputRate | None = None
    partition_key: str | None = None  # set when inside `partition with`
    # range-partition form: ordered (condition SQL, label) pairs —
    # `RangePartitionExecutor.java`; partition_key is the derived bucket
    partition_ranges: list[tuple[str, str]] | None = None
    table_action: TableAction | None = None
    # `insert [current|expired|all] events into` — QuerySelector's
    # output event type (`[core] query/selector/QuerySelector.java`)
    event_type: str = "current"
    # query-level annotations (`@info(name='q1')`, and the r14 engine
    # extension `@plan(impl=..., bucket=...)`, the one way to set the
    # hot-key insurance tier from QL — 'auto' runs the pick
    # (`operators/joins.py::_hot_key_pick`); to pin it, run the pick
    # on a batch sample, then write `@plan(...)`; the reference's
    # annotation surface is `[qapi] annotation/Annotation.java`)
    annotations: list[str] = field(default_factory=list)


@dataclass
class WindowDef:
    """`define window W (…) time(1 min) output all events;` —
    `[qapi] definition/WindowDefinition.java`: a shared window instance
    queryable by many queries."""

    name: str
    attributes: list[tuple[str, str]]
    window: WindowSpec
    output_policy: str = "all"  # current | expired | all


@dataclass
class AggregationDef:
    """`define aggregation A from S select … aggregate by ts every
    hour…day;` — `[qapi] definition/AggregationDefinition.java`."""

    name: str
    source: str
    select: list[SelectItem]
    by_attr: str
    granularities: list[str]  # finest … coarsest


@dataclass
class TriggerDef:
    """`define trigger T at every 5 min;` / `at 'cron'` / `at 'start'`
    — `[qapi] definition/TriggerDefinition.java`. A timer stream with
    one `triggered_time long` attribute."""

    name: str
    every_seconds: float | None = None  # periodic
    cron: str | None = None  # cron expression (streaming driver only)
    at_start: bool = False


@dataclass
class FunctionDef:
    """`define function f[python] return double { <expr> };` —
    `[core] function/Script.java` script UDFs. The reference ships
    JS/R; ours is Python (SURVEY.md §3.11) — the body is an expression
    over the declared parameter names, compiled once and run as a
    vectorized pandas UDF."""

    name: str
    lang: str
    return_type: str  # siddhi type name
    params: list[str]
    body: str


@dataclass
class AppModel:
    streams: dict[str, StreamDef] = field(default_factory=dict)
    windows: dict[str, WindowDef] = field(default_factory=dict)
    aggregations: dict[str, AggregationDef] = field(default_factory=dict)
    triggers: dict[str, TriggerDef] = field(default_factory=dict)
    functions: dict[str, FunctionDef] = field(default_factory=dict)
    queries: list[QueryDef] = field(default_factory=list)
    annotations: list[str] = field(default_factory=list)
