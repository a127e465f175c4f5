"""Suite: queries expressed as SiddhiQL TEXT, compiled by the front
end (parser → app model → DataFrame builder) and checked against the
same DuckDB oracles — end-to-end evidence for entry point A
(SURVEY.md §4.1): SiddhiQL string in, correct relational result out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..siddhiql import run_app
from .registry import _materialize, register

_EVENTS_DEF = """
define stream events (event_id long, ts string, user_id long,
                      event_type string, value double);
"""


@register(
    "siddhiql_filter",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND value > 200
    """,
    tags=("siddhiql", "filter"),
)
def siddhiql_filter(spark: SparkSession, sf: str) -> DataFrame:
    """`from events[event_type == 'purchase' and value > 200]` via the
    SiddhiQL string front end."""
    app = (
        _EVENTS_DEF
        + """
    from events[event_type == 'purchase' and value > 200]
    select event_id, user_id, value
    insert into BigBuys;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["BigBuys"]


@register(
    "siddhiql_timebatch_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           round(1e-9 + sum(value), 4) AS total, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("siddhiql", "window"),
)
def siddhiql_timebatch_agg(spark: SparkSession, sf: str) -> DataFrame:
    app = (
        _EVENTS_DEF
        + """
    from events#window.timeBatch(1 hour)
    select event_type, round(1e-9 + sum(value), 4) as total, count() as n
    group by event_type
    insert into Hourly;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Hourly"]


@register(
    "siddhiql_pattern",
    oracle="""
    SELECT signup_id, purchase_id
    FROM (
      SELECT a.event_id AS signup_id, b.event_id AS purchase_id,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "pattern"),
)
def siddhiql_pattern(spark: SparkSession, sf: str) -> DataFrame:
    app = (
        _EVENTS_DEF
        + """
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conversions;
    """
    )
    return run_app(
        app, {"events": load(spark, sf, "events")}, pattern_key="user_id"
    )["Conversions"]


@register(
    "siddhiql_pattern_auto",
    oracle="""
    SELECT signup_id, purchase_id
    FROM (
      SELECT a.event_id AS signup_id, b.event_id AS purchase_id,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "pattern"),
)
def siddhiql_pattern_auto(spark: SparkSession, sf: str) -> DataFrame:
    """r14 (r13 verdict #1): the derived pattern regime pick is
    reachable from the QL front end — `@plan(impl='auto')` routes this
    query through `choose_pattern_impl` (one memoized stats job; at
    driver-gate density it picks the join tier, on a pathologically
    dense key it picks the fanout-free scan —
    `tests/test_siddhiql.py` pins both plan shapes). Output must be
    row-identical to `siddhiql_pattern` — same oracle."""
    app = (
        _EVENTS_DEF
        + """
    @plan(impl='auto')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conversions;
    """
    )
    return run_app(
        app, {"events": load(spark, sf, "events")}, pattern_key="user_id"
    )["Conversions"]


@register(
    "siddhiql_join_windowed_auto",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
    tags=("siddhiql", "join"),
)
def siddhiql_join_windowed_auto(spark: SparkSession, sf: str) -> DataFrame:
    """r14 (r13 verdict #1): the derived join regime pick is reachable
    from the QL front end — `@plan(bucket='auto')` routes this
    windowed self-join through `derive_join_bucket` (one memoized
    stats job; at driver-gate density it stays on the plain keyed
    join, on a pathologically dense key it widens the equi keys with
    `within`-wide epochs — `tests/test_siddhiql.py` pins both plan
    shapes). Same oracle as the streaming twin
    `streaming_join_windowed`."""
    app = (
        _EVENTS_DEF
        + """
    @plan(bucket='auto')
    from events[event_type == 'click']#window.time(5 min) as a
      join events[event_type == 'view']#window.time(5 min) as b
      on a.user_id == b.user_id
    select a.user_id as user_id, a.event_id as click_id,
           b.event_id as view_id
    insert into Pairs;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Pairs"]


@register(
    "siddhiql_join",
    oracle="""
    SELECT e.event_id, c.c_mktsegment AS segment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value > 100
    """,
    tags=("siddhiql", "join"),
)
def siddhiql_join(spark: SparkSession, sf: str) -> DataFrame:
    app = (
        _EVENTS_DEF
        + """
    define table customer (c_custkey long, c_name string, c_nationkey int,
                           c_acctbal double, c_mktsegment string);
    from events[value > 100] join customer
      on events.user_id == customer.c_custkey
    select events.event_id as event_id, customer.c_mktsegment as segment,
           events.value as value
    insert into Enriched;
    """
    )
    return run_app(
        app,
        {
            "events": load(spark, sf, "events"),
            "customer": load(spark, sf, "customer"),
        },
    )["Enriched"]


@register(
    "siddhiql_partition",
    oracle="""
    SELECT user_id, round(1e-9 + sum(value), 4) AS total, count(*) AS n
    FROM events
    GROUP BY user_id
    """,
    tags=("siddhiql", "partition"),
)
def siddhiql_partition(spark: SparkSession, sf: str) -> DataFrame:
    """`partition with (user_id of events) begin … end`
    (`[qapi] execution/partition/Partition.java`): the partition key
    becomes the shuffle key of the inner aggregation."""
    app = (
        _EVENTS_DEF
        + """
    partition with (user_id of events)
    begin
      from events
      select user_id, round(1e-9 + sum(value), 4) as total, count() as n
      insert into PerUser;
    end;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["PerUser"]


@register(
    "siddhiql_sequence",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             lead(event_id) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT user_id, event_id AS id1, next_id AS id2
    FROM seq
    WHERE event_type = 'signup' AND next_type = 'purchase'
    """,
    tags=("siddhiql", "sequence", "cep"),
)
def siddhiql_sequence(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence (contiguous) matching: `e1=S[c], e2=S[c2]` — the next
    event per user must match (grammar rule `sequence`;
    `StreamPreStateProcessor` strict mode)."""
    app = (
        _EVENTS_DEF
        + """
    from every e1=events[event_type == 'signup'],
               e2=events[event_type == 'purchase']
    select e1.user_id as user_id, e1.event_id as id1, e2.event_id as id2
    insert into Seqs;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Seqs"]


@register(
    "siddhiql_output_rate_last",
    oracle="""
    SELECT event_id, user_id, value FROM (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY time_bucket(INTERVAL '10 minutes', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "ratelimit"),
)
def siddhiql_output_rate_last(spark: SparkSession, sf: str) -> DataFrame:
    """`output last every 10 min` (`LastPerTimeOutputRateLimiter.java`):
    one event — the newest — per emission interval."""
    app = (
        _EVENTS_DEF
        + """
    from events select event_id, ts, user_id, value
    output last every 10 min
    insert into Sampled;
    """
    )
    out = run_app(app, {"events": load(spark, sf, "events")})["Sampled"]
    return out.select("event_id", "user_id", "value")


@register(
    "siddhiql_named_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           round(1e-9 + sum(value), 4) AS total, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("siddhiql", "window", "named"),
)
def siddhiql_named_window(spark: SparkSession, sf: str) -> DataFrame:
    """`define window` shared instance (`[core] window/Window.java`):
    one query inserts into the window, another aggregates from it —
    the window spec lives on the definition, not the reader."""
    app = (
        _EVENTS_DEF
        + """
    define window HourW (event_id long, ts string, user_id long,
                         event_type string, value double)
                  timeBatch(1 hour) output all events;
    from events select * insert into HourW;
    from HourW
    select event_type, round(1e-9 + sum(value), 4) as total, count() as n
    group by event_type
    insert into PerType;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["PerType"]


@register(
    "siddhiql_define_aggregation",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           event_type,
           round(1e-9 + sum(value), 4) AS total,
           count(*) AS n,
           round(1e-9 + sum(value) / count(*), 4) AS avg_v
    FROM events
    GROUP BY 1, 2
    """,
    tags=("siddhiql", "aggregation", "incremental"),
)
def siddhiql_define_aggregation(spark: SparkSession, sf: str) -> DataFrame:
    """`define aggregation … aggregate by ts every hour ... day`
    (`AggregationParser.java` analog): the day granularity is derived
    from the hour rollup (composable state), never from a raw re-scan."""
    app = (
        _EVENTS_DEF
        + """
    define aggregation EventAgg
    from events
    select event_type, sum(value) as total, count() as n, avg(value) as avg_v
    aggregate by ts every hour ... day;
    """
    )
    day = run_app(app, {"events": load(spark, sf, "events")})["EventAgg__day"]
    return day.select(
        "bucket_start",
        "event_type",
        F.round(F.lit(1e-9) + F.col("total"), 4).alias("total"),
        "n",
        F.round(F.lit(1e-9) + F.col("avg_v"), 4).alias("avg_v"),
    )


@register(
    "siddhiql_table_upsert",
    oracle="""
    WITH base AS (SELECT DISTINCT user_id, 0.0 AS score FROM events),
    last_p AS (
      SELECT user_id, score FROM (
        SELECT user_id, value AS score,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    )
    SELECT b.user_id, round(1e-9 + coalesce(l.score, b.score), 4) AS score
    FROM base b LEFT JOIN last_p l ON b.user_id = l.user_id
    """,
    tags=("siddhiql", "table", "dml"),
)
def siddhiql_table_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """`update or insert into T on T.k == k`
    (`UpdateOrInsertTableCallback.java`): last purchase per user
    overwrites the seed row; the batch fixed point is last-writer-wins
    replay over table ∪ mutations."""
    events = load(spark, sf, "events")
    seed = events.select("user_id").distinct().withColumn("score", F.lit(0.0))
    app = (
        _EVENTS_DEF
        + """
    define table UserT (user_id long, score double);
    from events[event_type == 'purchase']
    select user_id, value as score, ts, event_id
    update or insert into UserT on UserT.user_id == user_id;
    """
    )
    out = run_app(app, {"events": events, "UserT": seed})["UserT"]
    return out.select(
        "user_id", F.round(F.lit(1e-9) + F.col("score"), 4).alias("score")
    )


@register(
    "siddhiql_partition_range",
    oracle="""
    SELECT CASE WHEN value < 50 THEN 'low'
                WHEN value < 200 THEN 'mid'
                ELSE 'high' END AS _range_key,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS total
    FROM events
    GROUP BY 1
    """,
    tags=("siddhiql", "partition", "range"),
)
def siddhiql_partition_range(spark: SparkSession, sf: str) -> DataFrame:
    """Range partition (`RangePartitionExecutor.java`): ordered
    condition→label terms become a CASE WHEN bucket used as the
    shuffle key of the inner aggregation."""
    app = (
        _EVENTS_DEF
        + """
    partition with (value < 50.0 as 'low' or value < 200.0 as 'mid'
                    or value >= 200.0 as 'high' of events)
    begin
      from events
      select count() as n, round(1e-9 + sum(value), 4) as total
      insert into ByBucket;
    end;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["ByBucket"]


@register(
    "siddhiql_join_aggregation",
    oracle="""
    WITH day_agg AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
             event_type, round(1e-9 + sum(value), 4) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, a.total
    FROM events e JOIN day_agg a
      ON e.event_type = a.event_type
    WHERE e.event_type = 'purchase'
      AND a.bucket_start >= TIMESTAMP '2024-01-01'
      AND a.bucket_start < TIMESTAMP '2024-02-01'
    """,
    tags=("siddhiql", "aggregation", "join"),
)
def siddhiql_join_aggregation(spark: SparkSession, sf: str) -> DataFrame:
    """`join EventAgg … within '2024-01' per 'days'`
    (`IncrementalAggregateCompileCondition.java`): granularity pick +
    partition-prunable range filter + equi join — the full retrieval
    path through the string front end."""
    app = (
        _EVENTS_DEF
        + """
    define aggregation EventAgg
    from events
    select event_type, sum(value) as total
    aggregate by ts every hour ... day;
    from events[event_type == 'purchase']
    join EventAgg
    on events.event_type == EventAgg.event_type
    within '2024-01' per 'days'
    select events.event_id as event_id,
           round(1e-9 + EventAgg.total, 4) as total
    insert into Enriched;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Enriched"]


@register(
    "siddhiql_count_quantifier",
    oracle="""
    WITH seq AS (
      SELECT event_id, ts, user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id AS first_id, c.event_id AS last_id,
           d.event_id AS purchase_id
    FROM seq a
    JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    JOIN seq c ON c.user_id = a.user_id AND c.rn = a.rn + 2
    JOIN seq d ON d.user_id = a.user_id AND d.rn = a.rn + 3
    WHERE a.event_type = 'click' AND b.event_type = 'click'
      AND c.event_type = 'click' AND d.event_type = 'purchase'
    """,
    tags=("siddhiql", "pattern", "quantifier"),
)
def siddhiql_count_quantifier(spark: SparkSession, sf: str) -> DataFrame:
    """Count quantifier through the string front end:
    `e=events[click]<3>, f=events[purchase]` — exactly three contiguous
    clicks immediately followed by a purchase, with `e[0]` / `e[last]`
    index access (`CountPreStateProcessor.java`, grammar
    `collection_stream`). The quantified step expands to an
    adjacency-chained join plan; see `_run_pattern_quantified`."""
    app = (
        _EVENTS_DEF
        + """
    from e=events[event_type == 'click']<3>,
         f=events[event_type == 'purchase']
    select e[0].user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, f.event_id as purchase_id
    insert into Runs;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Runs"]


@register(
    "siddhiql_absence_pattern",
    oracle="""
    SELECT a.user_id, a.event_id AS signup_id
    FROM events a
    WHERE a.event_type = 'signup'
      AND NOT EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      )
    """,
    tags=("siddhiql", "pattern", "absence"),
)
def siddhiql_absence_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing absence through the string front end:
    `e1=events[signup] -> not events[purchase] for 1 hour`
    (`AbsentStreamPreStateProcessor.java`) — the timer the reference
    arms at e1 becomes a time-bounded left-anti join."""
    app = (
        _EVENTS_DEF
        + """
    from e1=events[event_type == 'signup']
         -> not events[event_type == 'purchase'] for 1 hour
    select e1.user_id as user_id, e1.event_id as signup_id
    insert into Quiet;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Quiet"]


@register(
    "siddhiql_absence_auto",
    oracle="""
    SELECT a.user_id, a.event_id AS signup_id
    FROM events a
    WHERE a.event_type = 'signup'
      AND NOT EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      )
    """,
    tags=("siddhiql", "pattern", "absence"),
)
def siddhiql_absence_auto(spark: SparkSession, sf: str) -> DataFrame:
    """r14: the absence pattern's regime pick is QL-reachable too —
    the anti-join is ALSO per-key quadratic on a dense key (absence
    output means the per-probe group scan never short-circuits);
    `@plan(impl='auto')` routes the single-prefix form through
    `choose_pattern_impl` and, on a hot key, the fanout-free
    nearest-probe scan (`tests/test_siddhiql.py` pins the plan flip).
    Same oracle as `siddhiql_absence_pattern` — row-identical."""
    app = (
        _EVENTS_DEF
        + """
    @plan(impl='auto')
    from e1=events[event_type == 'signup']
         -> not events[event_type == 'purchase'] for 1 hour
    select e1.user_id as user_id, e1.event_id as signup_id
    insert into Quiet;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Quiet"]


@register(
    "siddhiql_logical_and_pattern",
    oracle="""
    SELECT user_id, a_id AS error_id, b_id AS purchase_id
    FROM (
      SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
             row_number() OVER (
               PARTITION BY a.user_id, a.event_id
               ORDER BY abs(epoch_us(b.ts) - epoch_us(a.ts)), b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'error' AND b.event_type = 'purchase'
       AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 600000000
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "pattern", "logical"),
)
def siddhiql_logical_and_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Logical pattern through the string front end:
    `e1=events[error] and e2=events[purchase] within 10 min`
    (`LogicalPreStateProcessor.java`) — both present in either order;
    each error pairs with its nearest purchase."""
    app = (
        _EVENTS_DEF
        + """
    from e1=events[event_type == 'error'] and e2=events[event_type == 'purchase']
    within 10 min
    select e1.user_id as user_id, e1.event_id as error_id,
           e2.event_id as purchase_id
    insert into Pairs;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Pairs"]


@register(
    "siddhiql_file_source",
    oracle="""
    SELECT user_id, count(*) AS n, min(epoch_ms(ts)) AS first_ms
    FROM events
    WHERE event_type = 'error'
    GROUP BY user_id
    """,
    tags=("siddhiql", "source", "mapper"),
)
def siddhiql_file_source(spark: SparkSession, sf: str) -> DataFrame:
    """Annotation-driven file source + json mapper
    (`[ext:io-file] FileSource`, `[ext:map-json] JsonSourceMapper`):
    the error events are staged as JSON lines, then the app loads them
    itself via `@source(type='file', @map(type='json'))` — no frame is
    passed in — and aggregates per user. Proves the §3.1 connector
    path end-to-end against the same oracle data."""
    import os

    from pyspark.sql import functions as F

    stage = f"/tmp/spark_graft_filesrc_{os.path.basename(os.path.normpath(sf))}"
    (
        load(spark, sf, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "event_id", F.unix_millis("ts").alias("ts_ms"), "user_id", "value"
        )
        .write.mode("overwrite")
        .json(stage)
    )
    app = f"""
    @source(type='file', dir.uri='file:{stage}', @map(type='json'))
    define stream ErrEvents (event_id long, ts_ms long, user_id long,
                             value double);
    from ErrEvents
    select user_id, count() as n, min(ts_ms) as first_ms
    group by user_id
    insert into PerUser;
    """
    return run_app(app, spark=spark)["PerUser"]


@register(
    "siddhiql_logical_or_pattern",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN event_id END AS error_id,
           CASE WHEN event_type <> 'error' THEN event_id END AS other_id,
           CASE WHEN event_type = 'error' THEN 'e1' ELSE 'e2' END AS branch
    FROM events
    WHERE event_type = 'error' OR value > 400
    """,
    tags=("siddhiql", "pattern", "logical"),
)
def siddhiql_logical_or_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Logical OR through the string front end:
    `e1=events[error] or e2=events[value > 400]`
    (`LogicalPreStateProcessor.java` OR mode) — tagged union; an event
    satisfying both completes via the first-declared branch."""
    app = (
        _EVENTS_DEF
        + """
    from e1=events[event_type == 'error'] or e2=events[value > 400]
    select e1.event_id as error_id, e2.event_id as other_id, branch
    insert into Either;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Either"]


@register(
    "pattern_optional_step",
    oracle="""
    SELECT user_id, CAST(NULL AS BIGINT) AS signup_id,
           event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id, signup_id, purchase_id FROM (
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
             row_number() OVER (PARTITION BY s.user_id, s.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM events s JOIN events p
        ON p.user_id = s.user_id
       AND s.event_type = 'signup' AND p.event_type = 'purchase'
       AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "pattern", "quantifier"),
)
def pattern_optional_step(spark: SparkSession, sf: str) -> DataFrame:
    """`?` = `<0:1>` (grammar `SiddhiQL.g4` sequence suffixes,
    `CountPreStateProcessor.java` zero-min): a lone purchase matches
    with NULL signup (the optional step skipped); a bound signup pairs
    with its earliest purchase within the hour. The oracle is the
    union of both variants."""
    app = (
        _EVENTS_DEF
        + """
    from every a=events[event_type == 'signup']?
         -> b=events[event_type == 'purchase']
         within 1 hour
    select b.user_id as user_id, a[0].event_id as signup_id,
           b.event_id as purchase_id
    insert into Out;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Out"]


@register(
    "siddhiql_star_quantifier",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS fseq
      FROM events WHERE event_type = 'click'
    ), starts AS (
      SELECT user_id, first_id, fseq, purchase_id, p_ts FROM (
        SELECT c.user_id, c.event_id AS first_id, c.fseq,
               p.event_id AS purchase_id, p.ts AS p_ts,
               row_number() OVER (PARTITION BY c.user_id, c.event_id
                                  ORDER BY p.ts, p.event_id) AS rn
        FROM clicks c JOIN events p
          ON p.user_id = c.user_id AND p.event_type = 'purchase'
         AND p.ts > c.ts
      ) WHERE rn = 1
    ), runs AS (
      SELECT s.user_id, s.first_id, s.fseq, s.purchase_id,
             LEAST(8, count(*)) AS n
      FROM starts s JOIN clicks c2
        ON c2.user_id = s.user_id AND c2.fseq >= s.fseq AND c2.ts < s.p_ts
      GROUP BY s.user_id, s.first_id, s.fseq, s.purchase_id
    )
    SELECT r.user_id, r.first_id, l.event_id AS last_id,
           CAST(r.n AS BIGINT) AS n, r.purchase_id
    FROM runs r JOIN clicks l
      ON l.user_id = r.user_id AND l.fseq = r.fseq + r.n - 1
    UNION ALL
    SELECT user_id, CAST(NULL AS BIGINT) AS first_id,
           CAST(NULL AS BIGINT) AS last_id, CAST(0 AS BIGINT) AS n,
           event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("siddhiql", "pattern", "quantifier"),
)
def siddhiql_star_quantifier(spark: SparkSession, sf: str) -> DataFrame:
    """`*` = `<0:>` — zero-or-more greedily collected clicks before the
    earliest following purchase, unrolled in batch to the documented
    UNROLL_CAP (8) reps; the zero-length variant emits every purchase
    with NULL run bounds. The oracle computes the same greedy fixed
    point relationally: per start click, the first later purchase and
    the capped count of consecutive clicks before it."""
    app = (
        _EVENTS_DEF
        + """
    from every e=events[event_type == 'click']*
         -> f=events[event_type == 'purchase']
    select f.user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, e__count as n,
           f.event_id as purchase_id
    insert into Out;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Out"]


@register(
    "siddhiql_trigger",
    oracle="""
    WITH b AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events)
    SELECT epoch_ms(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)))
             AS triggered_time
    FROM b
    """,
    tags=("siddhiql", "trigger"),
)
def siddhiql_trigger(spark: SparkSession, sf: str) -> DataFrame:
    """Batch `define trigger T at every 1 hour`
    (`[core] trigger/PeriodicTrigger.java`): ticks spanning the
    inputs' event-time range — the oracle is DuckDB's generate_series
    over the same [min(ts), max(ts)] window."""
    app = (
        _EVENTS_DEF
        + """
    define trigger Hourly at every 1 hour;
    from Hourly select triggered_time insert into Ticks;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Ticks"]


@register(
    "siddhiql_define_function",
    oracle="""
    SELECT event_id,
           round(1e-9 + value * 1.18, 4) AS taxed,
           round(1e-9 + value * 0.5, 4)  AS halved
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("siddhiql", "udf", "function"),
)
def siddhiql_define_function(spark: SparkSession, sf: str) -> DataFrame:
    """`define function f[python] return T { … }` — the script-UDF
    surface (`[core] function/Script.java` analog): two inline Python
    functions registered per-app and called from the select, executed
    as Series-at-a-time pandas UDFs (one eval per Arrow batch)."""
    app = (
        _EVENTS_DEF
        + """
    define function taxed[python] return double (v, rate) { v * (1.0 + rate) };
    define function halve[python] return double (x) { x * 0.5 };
    from events[event_type == 'purchase']
    select event_id, taxed(value, 0.18) as taxed, halve(value) as halved
    insert into Out;
    """
    )
    out = run_app(app, {"events": load(spark, sf, "events")})["Out"]
    from ..fpround import r4

    return out.select(
        "event_id",
        r4("taxed", 4).alias("taxed"),
        r4("halved", 4).alias("halved"),
    )


@register(
    "siddhiql_cr_process",
    oracle="""
    SELECT user_id, count(*) AS n, round(1e-9 + sum(value), 4) AS total
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
    tags=("siddhiql", "cr", "entrypointB"),
)
def siddhiql_cr_process(spark: SparkSession, sf: str) -> DataFrame:
    """Entry point B end-to-end (SURVEY.md §4.2 — the reference
    operator's LITERAL user input): the example SiddhiProcess CR YAML
    (`kubectl apply` manifest, `spec.apps[0].script`) is parsed by
    `load_cr_scripts`, its SiddhiQL script compiled by the front end,
    and the result must match the relational oracle — a user's
    existing CR runs on this engine unchanged."""
    from ..fpround import r4
    from ..siddhiql.cr import load_cr_scripts

    text = open("/root/repo/examples/user_activity_process.yaml").read()
    (script,) = load_cr_scripts(text)
    out = run_app(script, {"Events": load(spark, sf, "events")})[
        "PurchaseTotals"
    ]
    return out.select(
        "user_id", F.col("n"), r4(F.col("total"), 4).alias("total")
    )


@register(
    "siddhiql_streaming_filter_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           user_id,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sv
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
    tags=("siddhiql", "streaming"),
)
def siddhiql_streaming_filter_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Entry point A in STREAMING mode, through the correctness gate:
    the SiddhiQL string compiles via `run_app_streaming` onto a
    watermarked tumbling aggregation over a real file-source replay —
    QL text in, Structured Streaming plan out, relational oracle
    match. (The wider multi-query example app is pinned in
    tests/test_siddhiql.py; this row keeps one QL-streaming path
    inside the per-round driver gate.)"""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events[event_type == 'purchase']#window.timeBatch(1 hour)
    select user_id, count() as n, sum(value) as sv
    group by user_id
    insert into Hourly;
    """
    outs = run_app_streaming(
        app, {"events": load_events_stream(spark, sf)}, watermark="10 minutes"
    )
    name = _materialize(outs["Hourly"], "complete")
    return spark.sql(
        f"SELECT window_start, user_id, n, round(sv + 1e-9, 4) AS sv "
        f"FROM {name}"
    )


@register(
    "siddhiql_streaming_join_bucket",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
    tags=("siddhiql", "streaming", "join"),
)
def siddhiql_streaming_join_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """r14: the streaming hot-key insurance tier from QL TEXT —
    `@plan(bucket='true')` in a streaming app widens the
    stream-stream join's state keys with `within`-wide epochs
    (SCALEBENCH r14: plain DNFs on a 400 k-event key, the bucketed
    join takes 28.6 s). Output must match the plain range-join oracle
    — the epoch keys only partition the state; the raw time-range
    condition still decides membership and eviction."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    define stream Clicks (event_id long, ts string, user_id long,
                          event_type string, value double);
    define stream Views (event_id long, ts string, user_id long,
                         event_type string, value double);
    @plan(bucket='true')
    from Clicks#window.time(5 min) join Views#window.time(5 min)
      on Clicks.user_id == Views.user_id
    select Clicks.user_id as user_id, Clicks.event_id as click_id,
           Views.event_id as view_id
    insert into Pairs;
    """
    cs = load_events_stream(spark, sf).filter(F.col("event_type") == "click")
    vs = load_events_stream(spark, sf).filter(F.col("event_type") == "view")
    outs = run_app_streaming(
        app, {"Clicks": cs, "Views": vs}, watermark="10 minutes"
    )
    name = _materialize(outs["Pairs"], "append")
    return spark.table(name)


@register(
    "siddhiql_bucketed_length_window",
    oracle="""
    SELECT user_id, event_id,
           round(1e-9 + sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS sv
    FROM events
    """,
    tags=("siddhiql", "streaming", "state-buckets"),
)
def siddhiql_bucketed_length_window(spark: SparkSession, sf: str) -> DataFrame:
    """`@app:stateBuckets('16')` driving the COARSE-bucket state
    layout from SiddhiQL text (r8 verdict ask #6): the 6–8× bucketed
    tiers were library-level only — a ported app now opts into the
    high-churn layout with one annotation and no Python. The QL
    length-window query routes onto `streaming.windows.length_window`
    with ``n_buckets=16`` (state keyed by hash(key) % 16, one python
    call per bucket per micro-batch); output must equal the per-key
    layout, which the batch ROWS-frame oracle proves here and
    tests/test_streaming.py pins at the routing level."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    @app:stateBuckets('16')
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events#window.length(5)
    select user_id, event_id, sum(value) as sv
    group by user_id
    insert into O;
    """
    outs = run_app_streaming(
        app, {"events": load_events_stream(spark, sf)}
    )
    name = _materialize(outs["O"], "append")
    return spark.sql(
        f"SELECT user_id, event_id, round(sv + 1e-9, 4) AS sv FROM {name}"
    )


@register(
    "siddhiql_bucketed_pattern",
    oracle="""
    SELECT user_id, sid, pid FROM (
      SELECT a.user_id, a.event_id AS sid, b.event_id AS pid,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "streaming", "pattern", "state-buckets"),
)
def siddhiql_bucketed_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """`@app:stateBuckets('16')` driving the COARSE-bucket CEP NFA
    from SiddhiQL text (r9 verdict ask #5): the bucketed NFA layout
    (7.8× measured at ×100 for high-churn key spaces, SCALEBENCH r5)
    routes from one annotation — `run_app_streaming` passes the
    bucket count into `streaming.cep.pattern_nfa`, which keys state
    by hash(key) % 16 so one python call advances every key in a
    bucket per micro-batch. Matches must equal the per-key layout
    AND the relational fixed point of `every signup -> purchase
    within 1h` (the `streaming_cep_followed_by` oracle);
    tests/test_streaming.py pins per-key == bucketed at the routing
    level."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    @app:stateBuckets('16')
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase'] within 1 hour
    select e1.user_id as user_id, e1.event_id as sid,
           e2.event_id as pid
    insert into O;
    """
    outs = run_app_streaming(
        app, {"events": load_events_stream(spark, sf)}
    )
    name = _materialize(outs["O"], "append")
    return spark.table(name)


@register(
    "siddhiql_bucketed_expression_window",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS b,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS cum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id,
           CAST(count(*) AS INTEGER)    AS win_n,
           round(1e-9 + sum(k.value), 4) AS win_sum
    FROM base a JOIN base k
      ON k.user_id = a.user_id AND k.rn <= a.rn
     AND a.cum - (k.cum - k.b) <= 100000
    GROUP BY a.user_id, a.event_id
    """,
    tags=("siddhiql", "streaming", "window", "expression",
          "state-buckets"),
)
def siddhiql_bucketed_expression_window(
    spark: SparkSession, sf: str
) -> DataFrame:
    """`#window.expression('sum(value) <= 1000')` from SiddhiQL text
    in STREAMING mode, on the coarse-bucket state layout (r9 verdict
    ask #5 — `_route_streaming_keyed` is the QL surface; the
    6.1×-measured bucket layout of `expression_window` routes from
    `@app:stateBuckets('16')`). The retain-while budget cent-scales
    exactly like the batch translation, so the keyed range self-join
    oracle proves the vectorized bucket state machine event for
    event. `having win_n > 0` drops own-budget busters — the same
    emission contract as `streaming_expression_window`."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    @app:stateBuckets('16')
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events#window.expression('sum(value) <= 1000')
    select user_id, event_id, count() as win_n, sum(value) as win_sum
    group by user_id
    having win_n > 0
    insert into O;
    """
    outs = run_app_streaming(
        app, {"events": load_events_stream(spark, sf)}
    )
    name = _materialize(outs["O"], "append")
    return spark.sql(
        f"SELECT user_id, event_id, win_n, "
        f"round(win_sum + 1e-9, 4) AS win_sum FROM {name}"
    )


@register(
    "siddhiql_reorder_akslack",
    oracle=None,  # set right below to the shared akslack fixed point
    tags=("siddhiql", "streaming", "reorder", "state-buckets"),
)
def siddhiql_reorder_akslack(spark: SparkSession, sf: str) -> DataFrame:
    """`from events#reorder:akslack(ts)` — the §3.9 [ext:reorder]
    stream processor routed from SiddhiQL text (r10 QL surface; the
    operators shipped in r9/r10), here onto the COARSE-bucket state
    layout via `@app:stateBuckets('16')` (`akslack` with
    ``n_buckets=16``, the 2.7×-at-×100 layout). The md5-jittered replay is applied to the
    SOURCE handed to the app (the same disorder model as the
    `streaming_reorder_akslack` row), and the QL output must land on
    the identical relational fixed point — same oracle SQL."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    @app:stateBuckets('16')
    define stream events (event_id long, ts string, user_id long);
    from events#reorder:akslack(ts)
    select event_id, user_id, ts, late_us, slack_us
    group by user_id
    insert into O;
    """
    src = load_events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    outs = run_app_streaming(app, {"events": src})
    # the shared _AKSLACK_ORACLE is only valid for a one-trigger
    # replay (per-batch quantile re-derivation, ADVICE r10)
    name = _materialize(outs["O"], "append", expect_single_batch=True)
    return spark.table(name)


from .registry import REGISTRY as _REG  # noqa: E402
from .streaming_suite import _AKSLACK_ORACLE as _AKS  # noqa: E402
from .streaming_suite import _JITTER_LATE_CTES as _JLC  # noqa: E402

_REG["siddhiql_reorder_akslack"].oracle = _AKS


@register(
    "siddhiql_reorder_kslack",
    oracle=f"""
    WITH {_JLC}
    SELECT event_id, user_id, ts, late_us,
           CAST(3600000000 AS BIGINT) AS slack_us
    FROM l
    WHERE late_us <= 3600000000
    """,
    tags=("siddhiql", "streaming", "reorder"),
)
def siddhiql_reorder_kslack(spark: SparkSession, sf: str) -> DataFrame:
    """`from events#reorder:kslack(ts, 3600000)` routed from QL text
    onto the STREAMING runner's constant-K drop filter
    (`streaming.reorder.kslack_stateful` — r11, closing the ADVICE
    r10 runner-divergence: the batch runner's `kslack_batch` and this
    path now share one relational oracle, the md5-jittered lateness
    fixed point with a constant 1-hour slack, so the same app text
    provably yields the same row set in both engines)."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    define stream events (event_id long, ts string, user_id long);
    from events#reorder:kslack(ts, 3600000)
    select event_id, user_id, ts, late_us, slack_us
    group by user_id
    insert into O;
    """
    src = load_events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    outs = run_app_streaming(app, {"events": src})
    # constant-K lateness still re-derives the running max per
    # trigger from arrival order — single-trigger replay required for
    # the relational oracle, exactly like the akslack rows
    name = _materialize(outs["O"], "append", expect_single_batch=True)
    return spark.table(name)


@register(
    "siddhiql_reorder_kslack_bucketed",
    oracle=f"""
    WITH {_JLC}
    SELECT event_id, user_id, ts, late_us,
           CAST(3600000000 AS BIGINT) AS slack_us
    FROM l
    WHERE late_us <= 3600000000
    """,
    tags=("siddhiql", "streaming", "reorder", "state-buckets"),
)
def siddhiql_reorder_kslack_bucketed(
    spark: SparkSession, sf: str
) -> DataFrame:
    """`#reorder:kslack(ts, 3600000)` under `@app:stateBuckets('16')`
    — the QL routing seam the r11 verdict named (missing #2): the
    annotation must route the constant-K drop contract onto the
    coarse-bucket state layout (`streaming.reorder.kslack_stateful`
    with ``n_buckets=16``, passed by
    `siddhiql/builder._route_streaming_keyed`), and the row set must
    land on the
    SAME relational fixed point as the per-key QL row and the direct
    bucketed-op row — one oracle across all kslack tiers."""
    from ..catalog import load_events_stream
    from ..siddhiql import run_app_streaming

    app = """
    @app:stateBuckets('16')
    define stream events (event_id long, ts string, user_id long);
    from events#reorder:kslack(ts, 3600000)
    select event_id, user_id, ts, late_us, slack_us
    group by user_id
    insert into O;
    """
    src = load_events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    outs = run_app_streaming(app, {"events": src})
    name = _materialize(outs["O"], "append", expect_single_batch=True)
    return spark.table(name)


@register(
    "siddhiql_custom_window_plugin",
    oracle="""
    SELECT event_id, user_id, value FROM (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE (rn - 1) % 3 = 0
    """,
    tags=("siddhiql", "spi", "window"),
)
def siddhiql_custom_window_plugin(spark: SparkSession, sf: str) -> DataFrame:
    """Custom `WindowProcessor` plugin SPI end-to-end (SURVEY.md §3.11,
    `[core] .../window/WindowProcessor.java` + `@Extension`): the
    worked `custom:stride` plugin — registered through
    `operators.windows.register_window_processor`, routed by the front
    end for any namespaced window kind it does not know — is used from
    SiddhiQL text exactly like a built-in window. Per-key stride-3
    down-sampling inside a partition block; one keyed shuffle."""
    app = (
        _EVENTS_DEF
        + """
    partition with (user_id of events)
    begin
      from events#window.custom:stride('3')
      select event_id, user_id, value
      insert into Sampled;
    end;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Sampled"]


@register(
    "siddhiql_custom_source_plugin",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM (VALUES
      (1, 'click', 10.5), (2, 'view', 3.0), (4, 'click', 7.25)
    ) t(event_id, event_type, value)
    WHERE value > 5
    """,
    tags=("siddhiql", "spi", "source"),
)
def siddhiql_custom_source_plugin(spark: SparkSession, sf: str) -> DataFrame:
    """Custom `Source` transport SPI end-to-end (SURVEY.md §3.11,
    `[core] stream/input/source/Source.java` + `@Extension`): a stream
    declared with `@source(type='inline', ...)` — a type no built-in
    loader knows — loads through the plugin registry
    (`sources.register_source`) and feeds a filter query like any
    file/kafka-backed stream."""
    app = """
    @source(type='inline',
            data='1,click,10.5; 2,view,3.0; 3,view,1.0; 4,click,7.25')
    define stream Inline (event_id long, event_type string, value double);
    from Inline[value > 5]
    select event_id, event_type, value
    insert into Big;
    """
    return run_app(app, spark=spark)["Big"]


@register(
    "siddhiql_playback",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           round(1e-9 + sum(value), 4) AS sv, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("siddhiql", "playback"),
)
def siddhiql_playback(spark: SparkSession, sf: str) -> DataFrame:
    """`@app:playback` (§2.1 time model, `SiddhiAppRuntimeBuilder`
    playback mode): the reference swaps its runtime clock from wall
    time to event timestamps; this engine is event-time-NATIVE, so the
    annotation parses, is surfaced via `playback_config`, and the app
    computes identical results with it present — windows are driven by
    the event's own timestamps either way. The row pins both halves:
    the annotation round-trips through the front end (asserted) and
    the windowed aggregation lands on the event-time fixed point."""
    from ..siddhiql import parse_app
    from ..siddhiql.builder import playback_config

    app = (
        "@app:playback(idle.time='100 millisec', increment='1 sec')\n"
        + _EVENTS_DEF
        + """
    from events#window.timeBatch(1 hour)
    select event_type, round(1e-9 + sum(value), 4) as sv, count() as n
    group by event_type
    insert into Hourly;
    """
    )
    model = parse_app(app)
    cfg = playback_config(model)
    if cfg != {"idle.time": 0.1, "increment": 1.0}:  # gate contract
        raise RuntimeError(f"playback annotations mis-parsed: {cfg}")
    return run_app(model, {"events": load(spark, sf, "events")})["Hourly"]


@register(
    "siddhiql_plan_scan_pinned",
    oracle="""
    SELECT signup_id, purchase_id
    FROM (
      SELECT a.event_id AS signup_id, b.event_id AS purchase_id,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("siddhiql", "pattern", "plan-pinned"),
)
def siddhiql_plan_scan_pinned(spark: SparkSession, sf: str) -> DataFrame:
    """A pinned `@plan(impl='scan')` — the tier a user writes after
    running the pick on a batch sample — plans the canonical
    followed-by on the SCAN tier with ZERO stats jobs
    (`tests/test_siddhiql.py::test_ql_plan_pinned_hints_zero_jobs`
    pins the job count; this row pins the tier's OUTPUT against the
    join-tier relational oracle — the row-identical contract the tiers
    must keep under every routing door)."""
    app = (
        _EVENTS_DEF
        + """
    @plan(impl='scan')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conversions;
    """
    )
    return run_app(
        app,
        {"events": load(spark, sf, "events")},
        pattern_key="user_id",
    )["Conversions"]


@register(
    "siddhiql_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT min(ts)                          AS session_start,
           max(ts) + INTERVAL 30 MINUTES    AS session_end,
           user_id,
           count(*)                         AS n,
           round(1e-9 + sum(value), 4)      AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("siddhiql", "window", "session"),
)
def siddhiql_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """r15: `#window.session(gap, key)` through the BATCH QL runner —
    previously the only batch session door with no oracle row, and it
    ran native `session_window` (measured 1.52× slower than gap-island
    at ×1000, SCALEBENCH r14, with a strict-gap merge where the
    reference merges boundary-touching events).  The runner now routes
    batch session windows through the gap-island island ids
    (`builder.py::_apply_window_groupby`), bounds re-derived as
    min/max aggregates; streaming keeps native `session_window` (the
    incremental-merge requirement).  Same oracle as `window_session`
    with the bounds leading (the runner's output column order)."""
    app = (
        _EVENTS_DEF
        + """
    from events#window.session(30 min, user_id)
    select user_id, count() as n, round(1e-9 + sum(value), 4) as sum_value
    insert into Sessions;
    """
    )
    return run_app(app, {"events": load(spark, sf, "events")})["Sessions"]
