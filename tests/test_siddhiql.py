"""SiddhiQL front-end tests: parse + execute app scripts, including
the operator repo's own example app (FIXTURES.md §B.5,
`[op] deploy/examples/example-stateful-log-app.yaml`'s
PowerSurgeDetection)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from siddhi_operator_spark.siddhiql import parse_app, run_app


def test_parse_definitions_and_annotations():
    app = parse_app(
        """
        @App:name('PowerSurgeDetection')
        @source(type='http', receiver.url='http://0.0.0.0:8280/power',
                @map(type='json'))
        define stream DevicePowerStream (type string, deviceID string, power int);
        define table StockTable (symbol string, price double);
        """
    )
    assert set(app.streams) == {"DevicePowerStream", "StockTable"}
    assert app.streams["StockTable"].is_table
    assert app.streams["DevicePowerStream"].attributes[2] == ("power", "int")
    assert any("@source" in a for a in app.streams["DevicePowerStream"].annotations)


def test_operator_example_filter_app(spark):
    """The smoke-test app from the operator's deploy/examples."""
    app = """
    @App:name('PowerSurgeDetection')
    define stream DevicePowerStream (type string, deviceID string, power int);
    @sink(type='log', prefix='LOGGER')
    define stream PowerSurgeAlertStream (deviceID string, power int);
    @info(name='surge-detector')
    from DevicePowerStream[power > 340]
    select deviceID, power
    insert into PowerSurgeAlertStream;
    """
    src = spark.createDataFrame(
        [("mon", "d1", 300), ("mon", "d2", 350), ("dry", "d3", 400)],
        "type string, deviceID string, power int",
    )
    out = run_app(app, {"DevicePowerStream": src}, ts_col="", id_col="")
    rows = sorted(
        (r.deviceID, r.power) for r in out["PowerSurgeAlertStream"].collect()
    )
    assert rows == [("d2", 350), ("d3", 400)]


def test_timebatch_group_agg(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events#window.timeBatch(1 hour)
    select event_type, sum(value) as total, count() as n
    group by event_type
    insert into HourlyStream;
    """
    out = run_app(app, {"events": events_df})["HourlyStream"]
    rows = {
        (r.window_start.isoformat(), r.event_type): (r.total, r.n)
        for r in out.collect()
    }
    assert rows[("2024-01-01T00:00:00", "click")] == (7.0, 2)
    assert rows[("2024-01-01T01:00:00", "click")] == (24.0, 3)


def test_filter_with_siddhi_equality_and_fn(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events[event_type == 'purchase' and math:ceil(value) >= 50]
    select event_id, str:upper(event_type) as et, value
    insert into BigBuys;
    """
    out = run_app(app, {"events": events_df})["BigBuys"]
    rows = sorted((r.event_id, r.et) for r in out.collect())
    assert rows == [(3, "PURCHASE"), (6, "PURCHASE")]


def test_length_window_agg(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events#window.length(2)
    select event_id, sum(value) as s2
    group by user_id
    insert into Rolling;
    """
    out = run_app(app, {"events": events_df})["Rolling"]
    rows = {r.event_id: r.s2 for r in out.collect()}
    assert rows[3] == 105.0  # events 2,3 for user 1
    assert rows[9] == 17.0


def test_join_within(spark, events_df):
    app = """
    define stream clicks (event_id long, ts string, user_id long,
                          event_type string, value double);
    define stream buys (event_id long, ts string, user_id long,
                        event_type string, value double);
    from clicks#window.time(10 min) join buys#window.time(10 min)
      on clicks.user_id == buys.user_id
    select clicks.event_id as click_id, buys.event_id as buy_id
    insert into Pairs;
    """
    clicks = events_df.filter(F.col("event_type") == "click")
    buys = events_df.filter(F.col("event_type") == "purchase")
    out = run_app(app, {"clicks": clicks, "buys": buys})["Pairs"]
    rows = sorted((r.click_id, r.buy_id) for r in out.collect())
    assert rows == [(2, 3)]


def test_pattern_followed_by(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conversions;
    """
    out = run_app(app, {"events": events_df}, pattern_key="user_id")["Conversions"]
    rows = sorted((r.signup_id, r.purchase_id) for r in out.collect())
    assert rows == [(1, 3), (4, 6)]


def test_sort_window_topk(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events#window.sort(1, value, 'desc')
    select user_id, event_id, value
    group by user_id
    insert into TopPerUser;
    """
    out = run_app(app, {"events": events_df})["TopPerUser"]
    rows = {r.user_id: r.event_id for r in out.collect()}
    assert rows == {1: 3, 2: 6}


def test_shared_output_stream_union(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events[value > 90] select event_id insert into Alerts;
    from events[event_type == 'error'] select event_id insert into Alerts;
    """
    out = run_app(app, {"events": events_df})["Alerts"]
    assert sorted(r.event_id for r in out.collect()) == [3, 10]


def test_partition_block(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    partition with (user_id of events)
    begin
      from events select user_id, sum(value) as total, count() as n
      insert into PerUser;
    end;
    """
    out = run_app(app, {"events": events_df})["PerUser"]
    rows = {r.user_id: (r.total, r.n) for r in out.collect()}
    assert rows[1] == (139.0, 6) and rows[2] == (53.0, 4)


def test_sequence_strict_adjacency(spark, events_df):
    # e1=signup followed IMMEDIATELY (per user) by e2
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from every e1=events[event_type == 'signup'], e2=events
    select e1.user_id as user_id, e1.event_id as id1, e2.event_id as id2
    insert into Seqs;
    """
    out = run_app(app, {"events": events_df})["Seqs"]
    got = sorted((r.user_id, r.id1, r.id2) for r in out.collect())
    # user 1: signup e1 → next is e2; user 2: signup e4 → next is e5
    assert got == [(1, 1, 2), (2, 4, 5)]


def test_output_rate_last_every_events(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events select event_id, ts, user_id, value
    output last every 5 events
    insert into Sampled;
    """
    out = run_app(app, {"events": events_df})["Sampled"]
    # global arrival order (ts, id): every 5th event → e5, e10
    assert sorted(r.event_id for r in out.collect()) == [5, 10]


def test_output_rate_first_every_time(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events select event_id, ts, user_id, value
    output first every 1 hour
    insert into Sampled;
    """
    out = run_app(app, {"events": events_df})["Sampled"]
    # first event in each 1h bucket: e1 (00:xx), e7 (01:10), e10 (02:00)
    assert sorted(r.event_id for r in out.collect()) == [1, 7, 10]


def test_define_window_shared(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define window HourW (event_id long, ts string, user_id long,
                         event_type string, value double)
                  timeBatch(1 hour) output all events;
    from events select * insert into HourW;
    from HourW select event_type, sum(value) as total, count() as n
    group by event_type insert into PerType;
    """
    out = run_app(app, {"events": events_df})["PerType"]
    rows = {(r.window_start.hour, r.event_type): (r.total, r.n) for r in out.collect()}
    # hour 0: clicks e2(5)+e5(2)=7, n=2
    assert rows[(0, "click")] == (7.0, 2)
    # hour 1: clicks e7+e8+e9 = 24, n=3
    assert rows[(1, "click")] == (24.0, 3)


def test_define_aggregation_cascade(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define aggregation EventAgg
    from events
    select event_type, sum(value) as total, count() as n, avg(value) as avg_v
    aggregate by ts every hour ... day;
    """
    outs = run_app(app, {"events": events_df})
    assert set(outs) == {"EventAgg__hour", "EventAgg__day"}
    hour = {
        (r.bucket_start.hour, r.event_type): (r.total, r.n)
        for r in outs["EventAgg__hour"].collect()
    }
    assert hour[(0, "click")] == (7.0, 2)
    day = {r.event_type: r.total for r in outs["EventAgg__day"].collect()}
    assert day["click"] == 31.0 and day["purchase"] == 150.0


def test_table_dml_upsert(spark, events_df):
    table = spark.createDataFrame(
        [(1, "old1", 0.0), (3, "old3", 3.0)], "user_id long, tag string, score double"
    )
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define table UserT (user_id long, tag string, score double);
    from events[event_type == 'purchase']
    select user_id, event_type as tag, value as score, ts, event_id
    update or insert into UserT on UserT.user_id == user_id;
    """
    out = run_app(app, {"events": events_df, "UserT": table})["UserT"]
    rows = {r.user_id: (r.tag, r.score) for r in out.collect()}
    # user 1: purchase e3 (100.0) overwrites old1; user 2: purchase e6
    # (50.0) inserted; user 3 untouched
    assert rows[1] == ("purchase", 100.0)
    assert rows[2] == ("purchase", 50.0)
    assert rows[3] == ("old3", 3.0)


def test_table_dml_update_additive(spark, events_df):
    table = spark.createDataFrame(
        [(1, 1000.0), (2, 2000.0)], "user_id long, balance double"
    )
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define table Acct (user_id long, balance double);
    from events[event_type == 'click']
    select user_id, value
    update Acct set Acct.balance = Acct.balance + value
    on Acct.user_id == user_id;
    """
    out = run_app(app, {"events": events_df, "Acct": table})["Acct"]
    rows = {r.user_id: r.balance for r in out.collect()}
    # user 1 clicks: 5+7+8+9=29; user 2 clicks: 2
    assert rows[1] == 1029.0 and rows[2] == 2002.0


def test_table_dml_delete(spark, events_df):
    table = spark.createDataFrame(
        [(1, "a"), (2, "b"), (9, "c")], "user_id long, tag string"
    )
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define table T (user_id long, tag string);
    from events[event_type == 'error']
    select user_id
    delete T on T.user_id == user_id;
    """
    out = run_app(app, {"events": events_df, "T": table})["T"]
    # user 2 has the only error event → deleted
    assert sorted(r.user_id for r in out.collect()) == [1, 9]


def test_define_function_python_udf(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define function taxed[python] return double (v, rate) { v * (1.0 + rate) };
    from events[event_type == 'purchase']
    select event_id, taxed(value, 0.1) as gross
    insert into Taxed;
    """
    out = run_app(app, {"events": events_df})["Taxed"]
    rows = {r.event_id: round(r.gross, 6) for r in out.collect()}
    assert rows[3] == 110.0 and rows[6] == 55.0


def test_define_trigger_batch_ticks(spark, events_df):
    """Batch triggers generate a tick table over the inputs' event-time
    range: `every p` ticks at lo, lo+p, ... <= hi; `'start'` is one
    tick at lo (PeriodicTrigger/StartTrigger batch fixed point)."""
    from siddhi_operator_spark.siddhiql.parser import parse_app

    app = """
    define trigger FiveMin at every 5 min;
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    from events select event_id insert into Out;
    """
    model = parse_app(app)
    assert model.triggers["FiveMin"].every_seconds == 300.0
    ticks_app = app + "\nfrom FiveMin select triggered_time insert into Ticks;"
    out = run_app(ticks_app, {"events": events_df})["Ticks"]
    got = [r.triggered_time for r in out.orderBy("triggered_time").collect()]
    # fixture spans 00:00:01 .. 02:00:00 → 24 five-minute ticks
    assert len(got) == 24
    assert got[1] - got[0] == 300_000
    start_app = (
        "define trigger Boot at 'start';\n" + app.split(";", 1)[1].lstrip()
        + "\nfrom Boot select triggered_time insert into Ticks;"
    )
    out2 = run_app(start_app, {"events": events_df})["Ticks"]
    assert out2.count() == 1


def test_partition_range_form(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    partition with (value < 5.0 as 'small' or value < 50.0 as 'mid'
                    or value >= 50.0 as 'big' of events)
    begin
      from events select count() as n insert into ByBucket;
    end;
    """
    out = run_app(app, {"events": events_df})["ByBucket"]
    rows = {r._range_key: r.n for r in out.collect()}
    # small: values < 5 → e4(1), e5(2), e10(0) = 3
    # mid: 5≤v<50 → e1(10), e2(5), e7(7), e8(8), e9(9) ... e2=5.0 → mid
    assert rows == {"small": 3, "mid": 5, "big": 2}


def test_join_aggregation_within_per(spark, events_df):
    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    define aggregation EventAgg
    from events
    select event_type, sum(value) as total, count() as n
    aggregate by ts every hour ... day;
    from events[event_type == 'purchase']
    join EventAgg
    on events.event_type == EventAgg.event_type
    within '2024-01-01' per 'days'
    select events.event_id as event_id, EventAgg.total as total
    insert into Enriched;
    """
    out = run_app(app, {"events": events_df})["Enriched"]
    rows = {r.event_id: r.total for r in out.collect()}
    # purchases e3, e6; day rollup total for 'purchase' = 150.0
    assert rows == {3: 150.0, 6: 150.0}


_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)
_QDEF = (
    "define stream events (event_id long, ts string, user_id long, "
    "event_type string, value double);\n"
)


def _quant_df(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, typ, off):
        return (i, t0 + dt.timedelta(seconds=off), user, typ, 1.0)

    rows = [
        # user 1: c c c p — three adjacent clicks then purchase
        ev(1, 1, "click", 0),
        ev(2, 1, "click", 1),
        ev(3, 1, "click", 2),
        ev(4, 1, "purchase", 3),
        # user 2: c c p — only two adjacent clicks
        ev(10, 2, "click", 0),
        ev(11, 2, "click", 1),
        ev(12, 2, "purchase", 2),
        # user 3: c c p c p — greedy <2:3> must stop at the first
        # purchase (earliest completion), not stretch to three clicks
        ev(20, 3, "click", 0),
        ev(21, 3, "click", 1),
        ev(22, 3, "purchase", 2),
        ev(23, 3, "click", 3),
        ev(24, 3, "purchase", 4),
    ]
    return spark.createDataFrame(rows, _EVENTS_SCHEMA)


def test_count_quantifier_strict_exact(spark):
    """`e=S[c]<3>, f=S[d]` — exactly three contiguous clicks then a
    purchase (sequence mode: contiguity over ALL arrivals)."""
    app = (
        _QDEF
        + """
    from e=events[event_type == 'click']<3>, f=events[event_type == 'purchase']
    select e[0].user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, f.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _quant_df(spark)})["Out"]
    assert [tuple(r) for r in out.orderBy("user_id").collect()] == [(1, 1, 3, 4)]


def test_count_quantifier_pattern_greedy(spark):
    """`every e=S[c]<2:3> -> f=S[d]` — greedy count state: collects
    matching events until the next step's event arrives (earliest
    completion wins), longest run preferred on ties; `every` restarts
    per start event."""
    app = (
        _QDEF
        + """
    from every e=events[event_type == 'click']<2:3>
         -> f=events[event_type == 'purchase']
    select e[0].user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, e__count as n, f.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _quant_df(spark)})["Out"]
    got = sorted((r.user_id, r.first_id, r.last_id, r.n, r.purchase_id)
                 for r in out.collect())
    assert (1, 1, 3, 3, 4) in got  # greedy takes all three clicks
    assert (2, 10, 11, 2, 12) in got
    # user 3: stops at purchase 22 with two clicks; the later click 23
    # pairs with the restart at click 21 (fseq adjacency skips 22)
    assert (3, 20, 21, 2, 22) in got
    assert (3, 21, 23, 2, 24) in got
    assert (3, 20, 23, 3, 24) not in got  # would overshoot first purchase


def test_count_quantifier_parse_errors():
    with pytest.raises(ValueError, match="> 16"):
        parse_app(_QDEF + "from e=events[value > 0]<1:40> select e[0].event_id insert into O;")
    with pytest.raises(ValueError, match="bad count quantifier"):
        parse_app(_QDEF + "from e=events[value > 0]<3:2> select e[0].event_id insert into O;")


def test_quantifier_sugar_parses():
    """`*` = <0:>, `+` = <1:>, `?` = <0:1>, and unbounded `<m:>`
    (grammar `SiddhiQL.g4` sequence suffixes)."""
    app = parse_app(
        _QDEF
        + "from a=events[value > 0]? -> b=events[value > 1]+ -> c=events[true]<2:> "
        "select a.event_id insert into O;"
    )
    steps = app.queries[0].input.steps
    assert (steps[0].min_count, steps[0].max_count) == (0, 1)
    assert (steps[1].min_count, steps[1].max_count) == (1, None)
    assert (steps[2].min_count, steps[2].max_count) == (2, None)


def _abs_df(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, typ, off):
        return (i, t0 + dt.timedelta(seconds=off), user, typ, 1.0)

    rows = [
        # user 1: error, then purchase at +30s — absence of purchase fails
        ev(1, 1, "error", 0),
        ev(2, 1, "purchase", 30),
        # user 2: error with NO purchase within 60s (next at +120s)
        ev(10, 2, "error", 0),
        ev(11, 2, "purchase", 120),
        # user 3: lone purchase (for logical tests), no error before it
        ev(20, 3, "purchase", 50),
        # user 4: error at 10, purchase at 40 (error 30s before purchase)
        ev(30, 4, "error", 10),
        ev(31, 4, "purchase", 40),
    ]
    return spark.createDataFrame(rows, _EVENTS_SCHEMA)


def test_pattern_trailing_absence(spark):
    """`e1=S[error] -> not S[purchase] for 1 min` — errors with no
    purchase in the following minute (timer fixed point = anti-join)."""
    app = (
        _QDEF
        + """
    from e1=events[event_type == 'error'] -> not events[event_type == 'purchase'] for 1 min
    select e1.user_id as user_id, e1.event_id as error_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _abs_df(spark)})["Out"]
    assert sorted(tuple(r) for r in out.collect()) == [(2, 10)]


def test_pattern_logical_and(spark):
    """`e1=S[error] and e2=S[purchase]` within 2 min — both present,
    nearest pairing."""
    app = (
        _QDEF
        + """
    from e1=events[event_type == 'error'] and e2=events[event_type == 'purchase'] within 2 min
    select e1.user_id as user_id, e1.event_id as error_id, e2.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _abs_df(spark)})["Out"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 1, 2), (2, 10, 11), (4, 30, 31)]


def test_pattern_logical_absence(spark):
    """`not S[error] for 1 min and e2=S[purchase]` — purchases with no
    error in the minute before (backward anti-join)."""
    app = (
        _QDEF
        + """
    from not events[event_type == 'error'] for 1 min and e2=events[event_type == 'purchase']
    select e2.user_id as user_id, e2.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _abs_df(spark)})["Out"]
    # user1 purchase@30 has error@0 before it; user2 purchase@120 has
    # error@0 at 120s before — outside 60s, so clean; user4 has error 30s before
    assert sorted(tuple(r) for r in out.collect()) == [(2, 11), (3, 20)]


def test_pattern_logical_or(spark):
    """`e1=S[error] or e2=S[value > 0.5]` — tagged union with branch
    priority to the first-declared side."""
    app = (
        _QDEF
        + """
    from e1=events[event_type == 'error'] or e2=events[event_type == 'purchase']
    select e1.event_id as error_id, e2.event_id as purchase_id, branch
    insert into Out;
    """
    )
    out = run_app(app, {"events": _abs_df(spark)})["Out"]
    rows = {(r.error_id, r.purchase_id, r.branch) for r in out.collect()}
    assert (1, None, "e1") in rows and (10, None, "e1") in rows
    assert (None, 2, "e2") in rows and (None, 20, "e2") in rows


def test_insert_expired_and_all_events(spark, events_df):
    """`insert expired events into` / `insert all events into` through
    the front end (QuerySelector output event type): length(2) per-user
    eviction retractions."""
    from siddhi_operator_spark.siddhiql import run_app

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from E#window.length(2)
    select event_id, user_id
    group by user_id
    insert expired events into Exp;
    """
    out = run_app(app, {"E": events_df}, spark=spark)["Exp"]
    assert "expired_ts" in out.columns
    got = sorted((r.user_id, r.event_id) for r in out.collect())
    # user 1 events (1,2,3,7,8,9): 1..3,7 expire (2 ahead exists);
    # user 2 events (4,5,6,10): 4,5 expire
    assert got == [(1, 1), (1, 2), (1, 3), (1, 7), (2, 4), (2, 5)]

    app_all = app.replace("insert expired events into Exp",
                          "insert all events into Allv")
    out2 = run_app(app_all, {"E": events_df}, spark=spark)["Allv"]
    rows = [(r.etype, r.event_id) for r in out2.collect()]
    assert sum(1 for t, _ in rows if t == "current") == 10
    assert sum(1 for t, _ in rows if t == "expired") == 6


def test_extension_windows_through_front_end(spark, events_df):
    """r2 window family reachable from the language: unique:deduplicate,
    unique:timeBatch, extrema:maxByLength, extrema:topK, batch(),
    cron(), expression()."""
    from siddhi_operator_spark.siddhiql import run_app

    decl = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    """

    # unique:deduplicate — suppress events within 60s of prior same-user
    out = run_app(
        decl + "from E#unique:deduplicate(user_id, 1 min) "
        "select event_id, user_id insert into D;",
        {"E": events_df}, spark=spark,
    )["D"]
    got = sorted(r.event_id for r in out.collect())
    # user1: 1 kept, 2/3 within 60s dropped; 7 kept, 8/9 dropped;
    # user2: 4 kept, 5 (9:48 later) kept, 6 kept, 10 kept
    assert got == [1, 4, 5, 6, 7, 10]

    # unique:timeBatch — latest per user per hour bucket
    out = run_app(
        decl + "from E#unique:timeBatch(user_id, 1 hour) "
        "select event_id, user_id insert into U;",
        {"E": events_df}, spark=spark,
    )["U"]
    # user1 hour00→3, hour01→9; user2 hour00→6 (4,5 older), hour02→10
    assert sorted(r.event_id for r in out.collect()) == [3, 6, 9, 10]

    # extrema:maxByLength — best value among last 2 per user
    out = run_app(
        decl + "from E#extrema:maxByLength(value, 2) "
        "select event_id, max_by_id group by user_id insert into M;",
        {"E": events_df}, spark=spark,
    )["M"]
    m = {r.event_id: r.max_by_id for r in out.collect()}
    assert m[3] == 3 and m[9] == 9 and m[2] == 1  # 100>5, 9>8, 10>5

    # extrema:topK — most frequent event_type per user
    out = run_app(
        decl + "from E#extrema:topK(event_type, 1) "
        "select event_type, freq, rank group by user_id insert into T;",
        {"E": events_df}, spark=spark,
    )["T"]
    rows = sorted((r.event_type, r.freq) for r in out.collect())
    # user1: 4 clicks; user2: all types tie at 1, 'click' wins the
    # alphabetical tiebreak
    assert rows == [("click", 1), ("click", 4)]

    # batch() — whole-chunk aggregation
    out = run_app(
        decl + "from E#window.batch() select count() as n, sum(value) as s "
        "group by event_type insert into B;",
        {"E": events_df}, spark=spark,
    )["B"]
    assert sum(r.n for r in out.collect()) == 10

    # cron — hourly fires at :30
    out = run_app(
        decl + "from E#window.cron('0 30 * * * ?') select count() as n "
        "group by event_type insert into C;",
        {"E": events_df}, spark=spark,
    )["C"]
    assert sum(r.n for r in out.collect()) == 10

    # expression sliding — per-user budget window
    out = run_app(
        decl + "from E#window.expression('sum(value) <= 15') "
        "select count() as win_n group by user_id insert into X;",
        {"E": events_df}, spark=spark,
    )["X"]
    assert out.count() > 0


def test_app_playback_annotation(spark, events_df):
    """`@app:playback` parses and surfaces; the engine is event-time
    native so the app's results are identical with or without it."""
    from siddhi_operator_spark.siddhiql import parse_app, run_app
    from siddhi_operator_spark.siddhiql.builder import playback_config

    decl = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from E[value > 50] select event_id insert into Out;
    """
    app = "@app:playback(idle.time = '100 millisec', increment = '2 sec')\n" + decl
    model = parse_app(app)
    cfg = playback_config(model)
    assert cfg == {"idle.time": 0.1, "increment": 2.0}
    assert playback_config(parse_app(decl)) is None
    a = sorted(r.event_id for r in run_app(app, {"E": events_df}, spark=spark)["Out"].collect())
    b = sorted(r.event_id for r in run_app(decl, {"E": events_df}, spark=spark)["Out"].collect())
    assert a == b == [3]


def test_window_args_quote_aware_split():
    """Quartz comma lists inside quoted cron expressions must survive
    the window-arg split (round-2 advice: a bare split broke
    `cron('0 0,30 * * * ?')` into two args)."""
    from siddhi_operator_spark.siddhiql.parser import _parse_single_input

    inp = _parse_single_input("E#window.cron('0 0,30 * * * ?')")
    assert inp.window.kind == "cron"
    assert inp.window.args == ["'0 0,30 * * * ?'"]
    # top-level commas still split; nested call parens do not
    inp2 = _parse_single_input("E#window.expression('count() < 5', foo(a, b))")
    assert inp2.window.args == ["'count() < 5'", "foo(a, b)"]


def test_optional_step_pattern(spark):
    """`a=S[c]? -> b=S[d]` — `?` = <0:1>: b alone matches with a NULL,
    and a bound `a` pairs with its first b."""
    app = (
        _QDEF
        + """
    from every a=events[event_type == 'click']? -> b=events[event_type == 'purchase']
    select a[0].user_id as a_user, b.user_id as user_id,
           a[0].event_id as click_id, b.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _quant_df(spark)})["Out"]
    got = {(r.user_id, r.click_id, r.purchase_id) for r in out.collect()}
    # every purchase emits a skipped-a match; every click start pairs
    # with its earliest following purchase
    assert (1, None, 4) in got
    assert (1, 1, 4) in got and (1, 3, 4) in got
    assert (3, None, 22) in got and (3, None, 24) in got
    assert (3, 20, 22) in got and (3, 23, 24) in got


def test_plus_quantifier_unbounded_greedy(spark):
    """`e=S[c]+ -> f=S[d]` — `+` = <1:>: greedy run of clicks before
    the earliest following purchase (unrolled to the documented cap)."""
    app = (
        _QDEF
        + """
    from every e=events[event_type == 'click']+
         -> f=events[event_type == 'purchase']
    select e[0].user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, e__count as n, f.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _quant_df(spark)})["Out"]
    got = sorted(
        (r.user_id, r.first_id, r.last_id, r.n, r.purchase_id)
        for r in out.collect()
    )
    assert (1, 1, 3, 3, 4) in got  # greedy: all three clicks
    assert (1, 2, 3, 2, 4) in got  # every: start at click 2 too
    assert (1, 3, 3, 1, 4) in got
    assert (2, 10, 11, 2, 12) in got
    # user 3: run stops at the earliest purchase (22), click 23 starts anew
    assert (3, 20, 21, 2, 22) in got
    assert (3, 23, 23, 1, 24) in got
    assert (3, 20, 23, 3, 24) not in got


def test_cross_step_pattern_predicate(spark):
    """`o=S[o.x == c.x]` — a step predicate referencing a PRIOR alias
    (the reference's partial-match-state evaluation,
    `StreamPreStateProcessor`): must join-filter, not pre-filter, and
    first-match means first event satisfying the FULL predicate."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: click sku A, order sku B (skipped), order sku A
        (1, t0 + dt.timedelta(seconds=1), 1, "click", "A"),
        (2, t0 + dt.timedelta(seconds=2), 1, "order", "B"),
        (3, t0 + dt.timedelta(seconds=3), 1, "order", "A"),
        (4, t0 + dt.timedelta(seconds=4), 1, "order", "A"),  # later match loses
        # user 2: click sku 'order' — quoted literal must not rewrite
        (5, t0 + dt.timedelta(seconds=5), 2, "click", "order"),
        (6, t0 + dt.timedelta(seconds=6), 2, "order", "order"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, sku string"
    )
    app = (
        "define stream events (event_id long, ts string, user_id long, "
        "event_type string, sku string);\n"
        + """
    from every c=events[event_type == 'click']
         -> o=events[event_type == 'order' and o.sku == c.sku]
    select c.event_id as click_id, o.event_id as order_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": df})["Out"]
    got = {(r.click_id, r.order_id) for r in out.collect()}
    assert got == {(1, 3), (5, 6)}


def test_partition_inner_stream_keeps_window_marker(spark):
    """`S#window.lengthBatch(n)` INSIDE a partition body: the inner-
    stream `#` strip must not eat window-attachment markers."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1 + i % 2, 10.0 * (1 + i))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    app = """
    define stream S (event_id long, ts string, user_id long, value double);
    partition with (user_id of S)
    begin
      from S#window.lengthBatch(2)
      select user_id, sum(value) as spend
      insert into #Spend;

      from #Spend[spend > 100.0]
      select user_id, spend
      insert into Big;
    end;
    """
    out = run_app(app, {"S": df})["Big"]
    got = sorted((r.user_id, r.spend) for r in out.collect())
    # user 1 events: v=10,30,50,70 -> batches (10+30)=40, (50+70)=120
    # user 2 events: v=20,40,60,80 -> batches 60, 140
    assert got == [(1, 120.0), (2, 140.0)]


def test_or_step_mid_chain(spark):
    """`every (x or y) -> z`: or-steps inside a followed-by chain
    expand per arm with branch priority; the other arm's columns are
    NULL in each emission."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=1), 1, "a", 1.0),
        (2, t0 + dt.timedelta(seconds=2), 1, "b", 2.0),
        (3, t0 + dt.timedelta(seconds=3), 1, "c", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    app = _QDEF + """
    from every (x=events[event_type == 'a'] or y=events[event_type == 'b'])
         -> z=events[event_type == 'c']
    select x.event_id as x_id, y.event_id as y_id, z.event_id as z_id
    insert into Out;
    """
    out = run_app(app, {"events": df})["Out"]
    got = {(r.x_id, r.y_id, r.z_id) for r in out.collect()}
    assert got == {(1, None, 3), (None, 2, 3)}


def test_or_step_branch_priority_mid_chain(spark):
    """An event matching BOTH or-arms takes the first-declared branch
    (reference `LogicalPreStateProcessor` priority), also mid-chain."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=1), 1, "a", 9.0),  # matches both arms
        (2, t0 + dt.timedelta(seconds=2), 1, "c", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    app = _QDEF + """
    from every (x=events[value > 5.0] or y=events[event_type == 'a'])
         -> z=events[event_type == 'c']
    select x.event_id as x_id, y.event_id as y_id, z.event_id as z_id
    insert into Out;
    """
    out = run_app(app, {"events": df})["Out"]
    got = {(r.x_id, r.y_id, r.z_id) for r in out.collect()}
    assert got == {(1, None, 2)}


def test_two_arg_cast_and_rate_limit_projection(spark, events_df):
    """Siddhi's `cast(x,'type')` two-arg form, and `output last every`
    when the projection drops the event-time column (the engine must
    thread ts through invisibly and strip it after)."""
    app = _QDEF + """
    from events
    select event_id, cast(value, 'long') as lv
    output last every 10 min
    insert into Out;
    """
    out = run_app(app, {"events": events_df})["Out"]
    assert dict(out.dtypes)["lv"] == "bigint"
    assert set(out.columns) == {"event_id", "lv"}
    assert out.count() >= 1


def test_in_table_membership_filter(spark, events_df):
    """`attr in Table` (IN condition): broadcast-semi semantics with
    arbitrary boolean composition (`not (… in …)`)."""
    bl = events_df.sparkSession.createDataFrame(
        [("click",)], "event_type string"
    )
    app = _QDEF + """
    define table BlockList (event_type string);
    from events[not (event_type in BlockList)]
    select event_id, event_type
    insert into Out;
    """
    out = run_app(app, {"events": events_df, "BlockList": bl})["Out"]
    got = {r.event_type for r in out.collect()}
    assert "click" not in got and len(got) > 0


def test_time_fns_arg_reorder(spark, events_df):
    """time:dateAdd/dateSub/extract use Siddhi arg order; the parser
    reorders into timestampadd/extract SQL."""
    app = _QDEF + """
    from events
    select event_id, time:dateAdd(ts, 2, 'hour') as plus2,
           time:dateSub(ts, 30, 'minute') as minus30,
           time:extract('hour', ts) as hr, default(value, 0.0) as v2
    insert into Out;
    """
    out = run_app(app, {"events": events_df})["Out"]
    r = out.orderBy("event_id").first()
    base = events_df.orderBy("event_id").first()
    import datetime as dt

    assert r.plus2 - base.ts == dt.timedelta(hours=2)
    assert base.ts - r.minus30 == dt.timedelta(minutes=30)
    assert r.hr == base.ts.hour and r.v2 == base.value


def test_streaming_cross_step_predicate_clear_error(spark, events_df):
    """Cross-step predicate refs in streaming mode fail with guidance,
    not an unresolved-column AnalysisException; own-alias refs are
    stripped and work."""
    import pytest as _pytest
    from siddhi_operator_spark.siddhiql import parse_app
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    app = _QDEF + """
    from every c=events[event_type == 'click']
         -> o=events[event_type == 'purchase' and o.value > c.value]
    select c.event_id as c_id, o.event_id as o_id
    insert into Out;
    """
    with _pytest.raises(ValueError, match="batch mode"):
        run_app_streaming(app, {"events": events_df})


def test_output_snapshot_front_end(spark, events_df):
    """`output snapshot every N sec` through the front end: periodic
    current-state emissions at bucket boundaries."""
    app = _QDEF + """
    from events
    select user_id, value
    output snapshot every 30 min
    insert into Out;
    """
    out = run_app(app, {"events": events_df})["Out"]
    rows = out.collect()
    assert len(rows) >= 1
    assert set(out.columns) == {"user_id", "value"}


def test_join_side_aliases(spark, events_df):
    """`from A … as l join B … as r on l.x == r.x` — per-side `as`
    aliases must qualify the join condition AND must not swallow the
    window spec they follow."""
    app = """
    define stream A (event_id long, ts string, user_id long,
                     event_type string, value double);
    define stream B (event_id long, ts string, user_id long,
                     event_type string, value double);
    from A#window.time(5 min) as l join B#window.time(5 min) as r
      on l.user_id == r.user_id and l.event_id != r.event_id
    select l.event_id as a_id, r.event_id as b_id, l.user_id as u
    insert into J;
    """
    out = run_app(app, {"A": events_df, "B": events_df})["J"]
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) == {"a_id", "b_id", "u"}
    assert all(r.a_id != r.b_id for r in rows)


def test_pattern_bare_attribute_select(spark, events_df):
    """Unaliased pattern steps allow bare attribute references in the
    select when unambiguous (here only the positive step has
    attributes — the absence step contributes none)."""
    app = _QDEF + """
    from events[event_type == 'signup']
      -> not events[event_type == 'purchase'] for 30 min
    select event_id as signup_id, value
    insert into Stuck;
    """
    out = run_app(app, {"events": events_df})["Stuck"]
    assert set(out.columns) == {"signup_id", "value"}
    assert out.count() > 0


def test_expression_group_by_key(spark, events_df):
    """`group by <expression>` — non-identifier keys (function calls,
    possibly with commas inside) are materialized as derived columns so
    grouping, having, and grouped projection all resolve."""
    app = _QDEF + """
    from events
    select str:upper(event_type) as etype, sum(value) as total
    group by str:upper(event_type)
    having total > 0
    insert into Out;
    """
    out = run_app(app, {"events": events_df})["Out"]
    rows = {r.etype: r.total for r in out.collect()}
    assert set(out.columns) == {"etype", "total"}
    assert rows and all(k == k.upper() for k in rows)

    expect = {
        r.k: r.t
        for r in events_df.groupBy(F.upper("event_type").alias("k"))
        .agg(F.sum("value").alias("t"))
        .collect()
        if r.t > 0  # mirror the `having total > 0`
    }
    assert rows == pytest.approx(expect)


def test_example_app_user_activity_monitoring(spark):
    """The canonical multi-feature example app runs end-to-end: table
    enrichment, named-window fan-out, recovery pattern, partitioned
    totals — each output cross-checked against its direct DataFrame
    equivalent."""
    from siddhi_operator_spark.catalog import load

    e = load(spark, "/root/testdata/sf0.001", "events")
    vip = spark.createDataFrame(
        [(i, "gold" if i % 2 else "silver") for i in range(50)],
        "user_id long, tier string",
    )
    app = open("/root/repo/examples/user_activity_monitoring.siddhi").read()
    outs = run_app(app, {"Events": e, "VipUsers": vip})

    assert set(outs) == {
        "VipPurchases", "RecentErrors", "ErrorCounts", "Recovered",
        "TypeTotals",
    }
    # unaliased qualified projections keep the attribute name
    assert outs["VipPurchases"].columns == ["user_id", "value", "tier"]
    want_vip = (
        e.filter(F.col("event_type") == "purchase").join(vip, "user_id").count()
    )
    assert outs["VipPurchases"].count() == want_vip
    n_err = e.filter(F.col("event_type") == "error").count()
    assert outs["RecentErrors"].count() == n_err
    assert outs["ErrorCounts"].count() == n_err  # per-arrival emission
    want_types = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    )
    got_types = {r["event_type"]: (r["n"], r["total"]) for r in outs["TypeTotals"].collect()}
    for r in want_types:
        n, total = got_types[r["event_type"]]
        assert n == r["n"] and abs(total - r["total"]) < 1e-6


def test_run_app_streaming_stream_stream_join(spark, tmp_path):
    """Streaming QL stream⋈stream windowed join (watermarked, state
    bounded by the window span) must emit exactly the batch runner's
    rows — equi terms from the ON conjunction become the join keys,
    the comparison term stays a residual.  Only top-level conjuncts
    split: an `and` inside a string literal or an `or` group does not,
    and an ON condition with no top-level equi term raises."""
    import uuid

    from siddhi_operator_spark.catalog import load, load_events_stream
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    app = """
    define stream Clicks (event_id long, ts string, user_id long, event_type string, value double);
    define stream Views (event_id long, ts string, user_id long, event_type string, value double);
    from Clicks#window.time(12 hour) join Views#window.time(12 hour)
      on Clicks.user_id == Views.user_id and Clicks.value > Views.value
    select Clicks.user_id as user_id, Clicks.event_id as click_id, Views.event_id as view_id
    insert into Pairs;
    """
    sf = "/root/testdata/sf0.001"
    e = load(spark, sf, "events")
    want = sorted(
        tuple(r)
        for r in run_app(
            app,
            {
                "Clicks": e.filter(F.col("event_type") == "click"),
                "Views": e.filter(F.col("event_type") == "view"),
            },
        )["Pairs"].collect()
    )
    assert want  # the fixture must actually produce matches
    cs = load_events_stream(spark, sf).filter(F.col("event_type") == "click")
    vs = load_events_stream(spark, sf).filter(F.col("event_type") == "view")
    outs = run_app_streaming(
        app, {"Clicks": cs, "Views": vs}, watermark="13 hours"
    )
    name = f"sj_{uuid.uuid4().hex[:8]}"
    q = (
        outs["Pairs"].writeStream.format("memory")
        .queryName(name).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.table(name).collect())
    assert got == want

    schema = "event_id long, ts string, user_id long, s string, value double"
    sides = {
        "A": [
            (1, "2024-01-01 00:00:00", 1, "x and y", 6.0),
            (2, "2024-01-01 00:00:10", 2, "z", 1.0),
            (3, "2024-01-01 00:00:20", 1, "w", 7.0),
        ],
        "B": [
            (11, "2024-01-01 00:00:05", 1, "x and y", 3.0),
            (12, "2024-01-01 00:00:15", 2, "z", 2.5),
            (13, "2024-01-01 00:00:25", 1, "q", 1.0),
        ],
    }
    batch, streams = {}, {}
    for side, rows in sides.items():
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.write.parquet(str(tmp_path / side))
        batch[side] = df
        streams[side] = spark.readStream.schema(df.schema).parquet(
            str(tmp_path / side)
        )

    def on_app(on: str) -> str:
        return f"""
        define stream A ({schema});
        define stream B ({schema});
        from A#window.time(1 min) join B#window.time(1 min) on {on}
        select A.event_id as a_id, B.event_id as b_id
        insert into Pairs;
        """

    def stream_rows(app: str) -> list:
        outs = run_app_streaming(app, streams, watermark="2 minutes")
        name = f"sjon_{uuid.uuid4().hex[:8]}"
        q = (
            outs["Pairs"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(tuple(r) for r in spark.table(name).collect())

    for on in (
        "A.user_id == B.user_id and A.s == 'x and y'",
        "A.user_id == B.user_id and (A.value > 6.5 or B.value > 2.8)"
        " and A.s != 'z'",
    ):
        want = sorted(tuple(r) for r in run_app(on_app(on), batch)["Pairs"].collect())
        assert want
        assert stream_rows(on_app(on)) == want, on
    # the equi terms sit inside the `or` group: no top-level key
    grouped = on_app(
        "A.value > 5.0 or (A.user_id == B.user_id and A.s == B.s"
        " and B.value > 2.0)"
    )
    assert len(run_app(grouped, batch)["Pairs"].collect()) == 7
    with pytest.raises(ValueError, match="equi term"):
        run_app_streaming(grouped, streams, watermark="2 minutes")


def test_run_app_streaming_stream_table_join(spark):
    """Streaming QL stream⋈table: stream-static broadcast probe, same
    rows as batch."""
    import uuid

    from siddhi_operator_spark.catalog import load, load_events_stream
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    define table Vip (user_id long, tier string);
    from Events join Vip on Events.user_id == Vip.user_id
    select Events.event_id as event_id, Vip.tier as tier
    insert into Enriched;
    """
    sf = "/root/testdata/sf0.001"
    vip = spark.createDataFrame(
        [(i, "g") for i in range(30)], "user_id long, tier string"
    )
    want = run_app(
        app, {"Events": load(spark, sf, "events"), "Vip": vip}
    )["Enriched"].count()
    outs = run_app_streaming(
        app, {"Events": load_events_stream(spark, sf), "Vip": vip}
    )
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        outs["Enriched"].writeStream.format("memory")
        .queryName(name).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.table(name).count() == want


def test_distinct_count_through_ql(spark, events_df):
    """`distinctCount(x)` must compile to SQL `count(DISTINCT x)` —
    `count_distinct` is a DataFrame-API-only name and previously failed
    analysis inside F.expr."""
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events select event_type, distinctCount(user_id) as du
    group by event_type having du >= 1 insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    got = {r["event_type"]: r["du"] for r in out.collect()}
    want = {
        r["event_type"]: r["du"]
        for r in events_df.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("du"))
        .collect()
    }
    assert got == want


def test_agg_over_join_through_ql(spark, events_df):
    """`join … select k, sum(x) group by k` — aggregation over a joined
    stream (previously raised MISSING_GROUP_BY)."""
    vip = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    define table Vip (user_id long, tier string);
    from Events join Vip on Events.user_id == Vip.user_id
    select Vip.tier as tier, sum(Events.value) as s, count() as n
    group by Vip.tier
    insert into O;
    """
    out = run_app(app, {"Events": events_df, "Vip": vip})["O"]
    got = {r["tier"]: (round(r["s"], 4), r["n"]) for r in out.collect()}
    want = {
        r["tier"]: (round(r["s"], 4), r["n"])
        for r in events_df.join(vip, "user_id")
        .groupBy("tier")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_grouped_output_rate_limit_last(spark, events_df):
    """`group by k output last every N sec`: per interval per group,
    the LAST update of the running aggregate (the reference's
    GroupByPerTimeOutputRateLimiter semantics)."""
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events select user_id, sum(value) as s group by user_id
    output last every 1 hour insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    got = sorted((r["user_id"], round(r["s"], 4)) for r in out.collect())
    rows = sorted(
        (r["ts"], r["event_id"], r["user_id"], r["value"])
        for r in events_df.collect()
    )
    run: dict[int, float] = {}
    best: dict[tuple, float] = {}
    for ts, _eid, u, v in rows:
        run[u] = run.get(u, 0.0) + v
        best[(ts.replace(minute=0, second=0, microsecond=0), u)] = run[u]
    want = sorted((u, round(s, 4)) for (_b, u), s in best.items())
    assert got == want


def test_script_udf_body_with_semicolons(spark, events_df):
    """Statement splitting must not break inside a function body
    containing `;` (brace depth tracked)."""
    app = """
    define function halve[python] return double (x) { x * 0.5; };
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events select halve(value) as v, event_id insert into O;
    """
    # a python expression statement with a trailing `;` still evals
    out = run_app(app, {"Events": events_df})["O"]
    assert out.count() == events_df.count()
    want = events_df.agg(F.max("value")).first()[0] * 0.5
    assert abs(out.agg(F.max("v")).first()[0] - want) < 1e-9


def test_declared_table_starts_empty(spark, events_df):
    """`define table` with no bound data starts EMPTY (the reference's
    in-memory table initial state); DML queries populate it."""
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    define table Totals (user_id long, total double);
    from Events select user_id, sum(value) as total group by user_id
    update or insert into Totals on Totals.user_id == user_id;
    """
    out = run_app(app, {"Events": events_df})["Totals"]
    got = {r["user_id"]: round(r["total"], 4) for r in out.collect()}
    want = {
        r["user_id"]: round(r["t"], 4)
        for r in events_df.groupBy("user_id")
        .agg(F.sum("value").alias("t"))
        .collect()
    }
    assert got == want


def test_streaming_pattern_key_reference(spark, events_df):
    """Streaming pattern selects may reference the pattern key by its
    original attribute name (`e1.user_id`) — it resolves to the match
    key, cast back to the source type, and exactly matches the batch
    runner's output columns and rows."""
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC
    import tempfile

    app = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from every e1=E[event_type == 'signup'] -> e2=E[event_type == 'purchase'] within 1 hour
    select e1.user_id as u, e1.event_id as sid, e2.event_id as pid
    insert into O;
    """
    want = sorted(
        tuple(r) for r in run_app(app, {"E": events_df})["O"].collect()
    )
    assert want
    d = tempfile.mkdtemp(prefix="replay_kp_")
    SRC.replay_dir(events_df, d, "ts", 2)
    s = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
    outs = run_app_streaming(app, {"E": s})
    name = f"kp_{uuid.uuid4().hex[:8]}"
    q = (
        outs["O"].writeStream.format("memory")
        .queryName(name).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.table(name).columns == ["u", "sid", "pid"]
    got = sorted(tuple(r) for r in spark.table(name).collect())
    assert got == want
    assert str(spark.table(name).schema["u"].dataType) == "LongType()"


def test_instanceof_through_ql(spark, events_df):
    """`instanceOfDouble(value)` etc. compile to typeof checks in SQL
    text (previously UNRESOLVED_ROUTINE through the front end)."""
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events
    select event_id, instanceOfDouble(value) as isd,
           instanceOfString(event_type) as iss,
           instanceOfLong(coalesce(user_id, event_id)) as isl,
           instanceOfFloat(value) as isf
    insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    r = out.first()
    assert r["isd"] is True and r["iss"] is True and r["isl"] is True
    assert r["isf"] is False  # double, not float


def test_agg_over_join_same_named_group_keys(spark, events_df):
    """Two group keys sharing an attribute name (`Events.user_id,
    Vip.user_id`) must not collide: colliding keys get stream-alias-
    qualified output columns, and a bare ambiguous select item raises
    a clear error instead of silently picking one side."""
    import pytest as _pytest

    vip = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    define table Vip (user_id long, tier string);
    from Events join Vip on Events.user_id == Vip.user_id
    select Events.user_id as eu, Vip.user_id as vu, count() as n
    group by Events.user_id, Vip.user_id
    insert into O;
    """
    out = run_app(app, {"Events": events_df, "Vip": vip})["O"]
    assert out.columns == ["eu", "vu", "n"]
    for r in out.collect():
        assert r["eu"] == r["vu"]  # equi-join: both sides agree

    ambiguous = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    define table Vip (user_id long, tier string);
    from Events join Vip on Events.user_id == Vip.user_id
    select user_id, count() as n
    group by Events.user_id, Vip.user_id
    insert into O;
    """
    with _pytest.raises(ValueError, match="ambiguous"):
        run_app(ambiguous, {"Events": events_df, "Vip": vip})


def test_table_store_annotation_binds_external_data(spark, events_df, tmp_path):
    """`define table … @store(type='parquet', path=…)` loads the table
    from the external store through the @store seam — a stream⋈table
    probe then joins against the stored rows (rdbms/mongodb translate
    the same way, with connector jars at deploy time)."""
    path = f"{tmp_path}/vip_store"
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).write.parquet(path)
    app = f"""
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    @store(type='parquet', path='{path}')
    define table Vip (user_id long, tier string);
    from Events join Vip on Events.user_id == Vip.user_id
    select Events.event_id as event_id, Vip.tier as tier
    insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    got = {r["event_id"]: r["tier"] for r in out.collect()}
    want = {
        r["event_id"]: r["tier"]
        for r in events_df.join(
            spark.read.parquet(path), "user_id"
        ).collect()
    }
    assert got == want and got


def test_frequent_windows_through_ql(spark, events_df):
    """`#window.frequent(n, attr)` and `#window.lossyFrequent(support,
    error, attr)` route through the QL front end onto the batch
    heavy-hitter operators (exact fixed points of the reference's
    Misra-Gries / lossy-counting sketches)."""
    from siddhi_operator_spark.operators import windows as W

    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#window.frequent(3, user_id)
    select user_id, freq group by event_type insert into Top;
    """
    out = run_app(app, {"Events": events_df})["Top"]
    want = W.frequent(events_df, 3, keys=["event_type"], group_cols=["user_id"])
    assert sorted(map(tuple, out.select("user_id", "freq").collect())) == sorted(
        map(tuple, want.select("user_id", "freq").collect())
    )

    app2 = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#window.lossyFrequent(0.2, 0.01, user_id)
    select user_id, freq group by event_type insert into Hot;
    """
    out2 = run_app(app2, {"Events": events_df})["Hot"]
    want2 = W.lossy_frequent(
        events_df, 0.2, keys=["event_type"], group_cols=["user_id"]
    )
    assert sorted(map(tuple, out2.select("user_id", "freq").collect())) == sorted(
        map(tuple, want2.select("user_id", "freq").collect())
    )


def test_timelength_and_externaltime_through_ql(spark, events_df):
    """`#window.timeLength(t, n)` = whichever bound evicts first (any
    aggregate: per-row pick between the RANGE and ROWS frames);
    `#window.externalTime(ts, t)` = the sliding frame on the declared
    attribute clock."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W_

    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#window.timeLength(10 min, 3)
    select event_id, sum(value) as s, count() as n group by user_id
    insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    ev = events_df.withColumn("ts_t", F.col("ts").cast("timestamp"))
    wr = (
        W_.partitionBy("user_id")
        .orderBy(F.unix_micros("ts_t"))
        .rangeBetween(-600_000_000, 0)
    )
    wn = W_.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    cnt = F.count(F.lit(1)).over(wr)
    want = ev.select(
        "event_id",
        F.when(cnt <= 3, F.sum("value").over(wr))
        .otherwise(F.sum("value").over(wn))
        .alias("s"),
        F.when(cnt <= 3, F.count(F.lit(1)).over(wr))
        .otherwise(F.count(F.lit(1)).over(wn))
        .alias("n"),
    )
    got = sorted((r["event_id"], round(r["s"], 4), r["n"]) for r in out.collect())
    exp = sorted((r["event_id"], round(r["s"], 4), r["n"]) for r in want.collect())
    assert got == exp

    app2 = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#window.externalTime(ts, 10 min)
    select event_id, count() as n group by user_id insert into O2;
    """
    out2 = run_app(app2, {"Events": events_df})["O2"]
    want2 = ev.select(
        "event_id", F.count(F.lit(1)).over(wr).alias("n")
    )
    assert sorted(map(tuple, out2.collect())) == sorted(
        (r["event_id"], r["n"]) for r in want2.collect()
    )


def test_extrema_by_time_through_ql(spark, events_df):
    """`#extrema:maxByTime(attr, t)`: the arg-max event within the
    trailing window per key, cross-checked against a brute-force
    pandas fold."""
    import pandas as pd

    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#extrema:maxByTime(value, 10 min)
    select event_id, max_by_id, max_by_val group by user_id insert into O;
    """
    out = run_app(app, {"Events": events_df})["O"]
    rows = events_df.select("event_id", "ts", "user_id", "value").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (pd.Timestamp(r.ts), r.event_id, r.value)
        )
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        for t, eid, v in evs:
            window = [
                (x_v, x_id)
                for (x_t, x_id, x_v) in evs
                if t - pd.Timedelta(minutes=10) <= x_t <= t
            ]
            best_v, best_id = max(window, key=lambda p: (round(p[0], 4), p[1]))
            expect[eid] = best_id
    got = {r["event_id"]: r["max_by_id"] for r in out.collect()}
    assert got == expect


def test_example_app_user_activity_monitoring_streaming(spark):
    """The canonical multi-feature example app runs end-to-end in
    STREAMING mode — ≥2 queries feeding shared streams (the
    reference's StreamJunction fan-in): table enrichment, named-window
    producer→consumer, recovery pattern, partitioned totals. Each
    sink is cross-checked against the batch runner / a direct
    DataFrame recompute."""
    import uuid

    from siddhi_operator_spark.catalog import load, load_events_stream
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    sf = "/root/testdata/sf0.001"
    e = load(spark, sf, "events")
    vip = spark.createDataFrame(
        [(i, "gold" if i % 2 else "silver") for i in range(50)],
        "user_id long, tier string",
    )
    app = open("/root/repo/examples/user_activity_monitoring.siddhi").read()
    batch = run_app(app, {"Events": e, "VipUsers": vip})

    outs = run_app_streaming(
        app,
        {"Events": load_events_stream(spark, sf), "VipUsers": vip},
        watermark="10 minutes",
    )
    assert set(outs) == {
        "VipPurchases", "RecentErrors", "ErrorCounts", "Recovered",
        "TypeTotals",
    }

    def drain(df, mode):
        name = f"ua_{uuid.uuid4().hex[:8]}"
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode(mode).start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)

    # enrichment: stream-static broadcast join, same rows as batch
    assert drain(outs["VipPurchases"], "append").count() == batch[
        "VipPurchases"
    ].count()
    # recovery pattern: the streaming NFA equals the batch runner
    got_rec = sorted(tuple(r) for r in drain(outs["Recovered"], "append").collect())
    assert got_rec == sorted(tuple(r) for r in batch["Recovered"].collect())
    # partitioned totals: complete-mode aggregation equals batch
    got_tot = {
        r.event_type: (r.n, round(r.total, 4))
        for r in drain(outs["TypeTotals"], "complete").collect()
    }
    want_tot = {
        r.event_type: (r.n, round(r.total, 4))
        for r in batch["TypeTotals"].collect()
    }
    assert got_tot == want_tot
    # named-window consumer: per-arrival emission maps to sliding
    # PANES — every emitted pane must equal the direct recompute of
    # errors per user in [window_start, window_end)
    panes = drain(outs["ErrorCounts"], "append")
    rows = panes.collect()
    assert rows  # watermark must have closed some panes
    errs = e.filter(F.col("event_type") == "error")
    for r in rows[:20]:
        want = errs.filter(
            (F.col("user_id") == r.user_id)
            & (F.col("ts") >= r.window_start)
            & (F.col("ts") < r.window_end)
        ).count()
        assert r.n == want, (r.user_id, str(r.window_start))


def test_run_app_streaming_length_window(spark):
    """QL `#window.length(3)` + group-by aggregation routes to the
    per-key count-window state machine in streaming mode and emits
    exactly the batch ROWS-frame rows."""
    import uuid

    from siddhi_operator_spark.catalog import load, load_events_stream
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    app = """
    define stream Events (event_id long, ts string, user_id long, event_type string, value double);
    from Events#window.length(3)
    select user_id, event_id, count() as n, sum(value) as sv
    group by user_id
    insert into Rolling;
    """
    sf = "/root/testdata/sf0.001"
    e = load(spark, sf, "events")
    want = sorted(
        (r.user_id, r.event_id, r.n, round(r.sv, 4))
        for r in run_app(app, {"Events": e})["Rolling"].collect()
    )
    outs = run_app_streaming(app, {"Events": load_events_stream(spark, sf)})
    name = f"lw_{uuid.uuid4().hex[:8]}"
    q = (
        outs["Rolling"].writeStream.format("memory")
        .queryName(name).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.user_id, r.event_id, r.n, round(r.sv, 4))
        for r in spark.table(name).collect()
    )
    assert got == want
    # unsupported shapes fail loudly with a pointer, not silently wrong
    import pytest as _pytest

    bad = app.replace("sum(value) as sv", "max(value) as sv")
    with _pytest.raises(ValueError, match="length_window directly"):
        run_app_streaming(bad, {"Events": load_events_stream(spark, sf)})


def test_custom_window_plugin_spi(spark, events_df):
    """§3.11 WindowProcessor SPI: a freshly-registered plugin window is
    usable from SiddhiQL text immediately, and an unknown kind still
    raises."""
    import pytest

    from siddhi_operator_spark.operators.windows import (
        register_window_processor,
    )
    from siddhi_operator_spark.siddhiql import run_app

    @register_window_processor("custom:firstk")
    def firstk(df, args, *, keys=(), ts_col="ts", id_col="event_id"):
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy(*keys).orderBy(ts_col, id_col)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(args[0]))
            .drop("_rn")
        )

    app = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    partition with (user_id of events)
    begin
      from events#window.custom:firstk('2')
      select event_id, user_id insert into FirstTwo;
    end;
    """
    out = run_app(app, {"events": events_df})["FirstTwo"]
    counts = out.groupBy("user_id").count().collect()
    assert counts and all(r["count"] <= 2 for r in counts)

    bad = app.replace("custom:firstk", "custom:nosuch")
    with pytest.raises(ValueError, match="unsupported extension window"):
        run_app(bad, {"events": events_df})


def test_custom_source_plugin_spi(spark):
    """§3.11 Source SPI: a registered transport type loads a declared
    stream; an unregistered type leaves the stream unloaded (the
    existing 'output-only stream' behavior)."""
    from siddhi_operator_spark.siddhiql import run_app
    from siddhi_operator_spark.sources import register_source

    @register_source("constant")
    def constant(spark_, stream_def, ann):
        import pyspark.sql.functions as F

        n = int(ann.options.get("n", "3"))
        return spark_.range(n).select(
            F.col("id").alias("event_id"), F.lit(1.0).alias("value")
        )

    app = """
    @source(type='constant', n='4')
    define stream C (event_id long, value double);
    from C select event_id, value insert into Out;
    """
    assert run_app(app, spark=spark)["Out"].count() == 4


def test_siddhiql_filter_select_fuzz(spark, events_df):
    """Grammar fuzz for entry point A: randomly generated
    filter/projection/aggregation apps must compile and agree with the
    directly-built DataFrame — the parser/builder expression
    translation tested over ~30 random shapes, not just the curated
    suite queries."""
    import random

    import pyspark.sql.functions as F

    from siddhi_operator_spark.siddhiql import run_app

    rng = random.Random(2024)

    def gen_cond(depth=0):
        r = rng.random()
        if depth < 2 and r < 0.35:
            a, qa = gen_cond(depth + 1)
            b, qb = gen_cond(depth + 1)
            op = rng.choice(["and", "or"])
            return (
                (a & b) if op == "and" else (a | b),
                f"({qa} {op} {qb})",
            )
        if depth < 2 and r < 0.45:
            a, qa = gen_cond(depth + 1)
            return ~a, f"(not {qa})"
        leaf = rng.choice(["value", "user_id", "event_type"])
        if leaf == "value":
            thr = rng.choice([50.0, 200.0, 700.0])
            op = rng.choice([">", "<", ">=", "<="])
            col = F.col("value")
            expr = {
                ">": col > thr,
                "<": col < thr,
                ">=": col >= thr,
                "<=": col <= thr,
            }[op]
            return expr, f"value {op} {thr}"
        if leaf == "user_id":
            m = rng.choice([2, 5, 7])
            return (F.col("user_id") % m == 0), f"user_id % {m} == 0"
        t = rng.choice(["click", "view", "purchase"])
        return (F.col("event_type") == t), f"event_type == '{t}'"

    for trial in range(30):
        cond, qcond = gen_cond()
        grouped = rng.random() < 0.4
        if grouped:
            app = f"""
            define stream events (event_id long, ts string, user_id long,
                                  event_type string, value double);
            from events[{qcond}]
            select event_type, count() as n,
                   round(1e-9 + sum(value), 4) as sv
            group by event_type
            insert into Out;
            """
            expect = (
                events_df.filter(cond)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("value") + 1e-9, 4).alias("sv"),
                )
            )
            key = lambda r: (r.event_type,)  # noqa: E731
        else:
            app = f"""
            define stream events (event_id long, ts string, user_id long,
                                  event_type string, value double);
            from events[{qcond}]
            select event_id, user_id, value
            insert into Out;
            """
            expect = events_df.filter(cond).select(
                "event_id", "user_id", "value"
            )
            key = lambda r: (r.event_id,)  # noqa: E731
        got = run_app(app, {"events": events_df})["Out"]
        g = sorted(map(tuple, got.collect()))
        e = sorted(map(tuple, expect.collect()))
        assert g == e, f"trial {trial}: {qcond!r}\n{g[:3]} != {e[:3]}"


def test_siddhiql_window_fuzz(spark, events_df):
    """Window-clause fuzz: random timeBatch durations and grouped
    aggregation sets must agree with the directly-built tumbling
    aggregation — parser duration handling and the builder's
    window+group routing over ~12 shapes."""
    import random

    import pyspark.sql.functions as F

    from siddhi_operator_spark.siddhiql import run_app

    rng = random.Random(77)
    aggs = [
        ("count() as n", F.count(F.lit(1)).alias("n")),
        (
            "round(1e-9 + sum(value), 4) as sv",
            F.round(F.sum("value") + 1e-9, 4).alias("sv"),
        ),
        (
            "round(1e-9 + max(value), 4) as mx",
            F.round(F.max("value") + 1e-9, 4).alias("mx"),
        ),
        (
            "round(1e-9 + min(value), 4) as mn",
            F.round(F.min("value") + 1e-9, 4).alias("mn"),
        ),
    ]
    for trial in range(12):
        n, unit, dur = rng.choice(
            [(1, "hour", "1 hour"), (2, "hour", "2 hour"),
             (30, "min", "30 minutes"), (6, "hour", "6 hour")]
        )
        chosen = rng.sample(aggs, rng.randint(1, 3))
        key = rng.choice(["event_type", "user_id"])
        ql_aggs = ", ".join(q for q, _ in chosen)
        app = f"""
        define stream events (event_id long, ts string, user_id long,
                              event_type string, value double);
        from events#window.timeBatch({n} {unit})
        select {key}, {ql_aggs}
        group by {key}
        insert into Out;
        """
        got = run_app(app, {"events": events_df})["Out"]
        expect = (
            events_df.groupBy(
                F.window("ts", dur)["start"].alias("window_start"),
                key,
            )
            .agg(*[e for _, e in chosen])
        )
        g = sorted(map(tuple, got.collect()))
        e = sorted(map(tuple, expect.collect()))
        assert g == e, f"trial {trial}: {n} {unit} by {key}"


def test_ql_reorder_batch_routes(spark, events_df):
    """Batch `from E#reorder:akslack(ts) ... group by user_id` routes
    to akslack_batch (same rows), and `#reorder:kslack(ts, K)` to the
    constant-K twin — the §3.9 [ext:reorder] processors reachable
    from QL text in BOTH runners."""
    from siddhi_operator_spark.streaming import reorder

    app_a = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#reorder:akslack(ts)
    select event_id, user_id, late_us, slack_us
    group by user_id
    insert into O;
    """
    got = sorted(
        tuple(r) for r in run_app(app_a, {"E": events_df})["O"].collect()
    )
    want = sorted(
        (r.event_id, r.user_id, r.late_us, r.slack_us)
        for r in reorder.akslack_batch(
            events_df, ts="ts", key="user_id", q_pct=90
        ).collect()
    )
    assert got == want and got
    app_k = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#reorder:kslack(ts, 600000)
    select event_id, user_id, late_us
    group by user_id
    insert into O;
    """
    got_k = sorted(
        tuple(r) for r in run_app(app_k, {"E": events_df})["O"].collect()
    )
    want_k = sorted(
        (r.event_id, r.user_id, r.late_us)
        for r in reorder.kslack_batch(
            events_df, ts="ts", key="user_id", slack_ms=600000
        ).collect()
    )
    assert got_k == want_k and got_k


def test_ql_plan_hints_route_derived_picks(spark):
    """r14 (r13 verdict #1): `@plan(impl='auto')` / `@plan(bucket=
    'auto')` route the derived hot-key regime picks through the QL
    front end — the hot-key fixture flips the PHYSICAL PLAN (scan
    shape / epoch Generate), constant density stays on the plain
    join, outputs are row-identical either way, and a typo'd hint
    raises instead of silently running the unprotected plan."""
    from siddhi_operator_spark.operators import joins as J

    J.clear_decision_cache()

    def mk(n_keys: int, per_key: int):
        n = n_keys * per_key * 2
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            (F.col("id") % n_keys).alias("user_id"),
            F.when((F.col("id") % 2) == 0, "signup")
            .otherwise("purchase")
            .alias("event_type"),
        )

    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    pat = """
    @plan(impl='auto')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase'] within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conv;
    """

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    hot, flat = mk(1, 1200), mk(1000, 2)
    # hot key -> the scan shape: the nearest-probe Window pass (its
    # `_probe` struct is the tier's plan signature). The only joins
    # left are the payload re-attach joins on the globally UNIQUE
    # event id (`__id1`/`__id2` — fanout 1, key density irrelevant);
    # no join on the pattern key remains (the join tier's `k`/`k2`
    # equi pair is what blows up on a dense key).
    hot_out = run_app(defs + pat, {"events": hot}, pattern_key="user_id")["Conv"]
    hp = plan_of(hot_out)
    assert "_probe" in hp and "Window" in hp
    assert "[k2#" not in hp  # the join tier's pattern-key equi pair
    # constant density -> the join tier
    flat_out = run_app(defs + pat, {"events": flat}, pattern_key="user_id")["Conv"]
    assert "_probe" not in plan_of(flat_out)
    assert "Join" in plan_of(flat_out)
    # row-identity: auto == no-hint join tier on both fixtures
    for src in (hot, flat):
        a = run_app(defs + pat, {"events": src}, pattern_key="user_id")["Conv"]
        b = run_app(
            defs + pat.replace("@plan(impl='auto')", ""),
            {"events": src},
            pattern_key="user_id",
        )["Conv"]
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # explicit scan on an inexpressible shape raises; auto falls back
    three_step = """
    @plan(impl='scan')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         -> e3=events[event_type == 'signup'] within 1 hour
    select e1.event_id as a, e3.event_id as b
    insert into Conv;
    """
    with pytest.raises(ValueError, match="two-step"):
        run_app(defs + three_step, {"events": hot}, pattern_key="user_id")
    auto3 = run_app(
        defs + three_step.replace("impl='scan'", "impl='auto'"),
        {"events": flat},
        pattern_key="user_id",
    )["Conv"]
    assert "Join" in plan_of(auto3)  # fell back to the join chain

    # --- windowed join: bucket hint
    jq = """
    @plan(bucket='auto')
    from events[event_type == 'signup']#window.time(1 min) as a
      join events[event_type == 'purchase']#window.time(1 min) as b
      on a.user_id == b.user_id
    select a.user_id as user_id, a.event_id as l_id, b.event_id as r_id
    insert into Pairs;
    """
    hot_j = run_app(defs + jq, {"events": hot})["Pairs"]
    assert "Generate" in plan_of(hot_j)  # the epoch explode
    flat_j = run_app(defs + jq, {"events": flat})["Pairs"]
    assert "Generate" not in plan_of(flat_j)
    plain_j = run_app(
        defs + jq.replace("@plan(bucket='auto')", ""), {"events": hot}
    )["Pairs"]
    assert sorted(map(tuple, hot_j.collect())) == sorted(
        map(tuple, plain_j.collect())
    )

    # --- hint validation
    for bad in (
        "@plan(impl='scna')",
        "@plan(bucket='maybe')",
        "@plan(shuffle='auto')",
    ):
        with pytest.raises(ValueError, match="@plan"):
            run_app(
                defs + pat.replace("@plan(impl='auto')", bad),
                {"events": flat},
                pattern_key="user_id",
            )
    # EXPLICIT bucket='true' on a join without an equi term raises;
    # 'auto' is lenient (safe as an app-level default on every shape)
    # and silently stays on the plain join
    no_equi = jq.replace(
        "on a.user_id == b.user_id", "on a.event_id > b.event_id"
    )
    with pytest.raises(ValueError, match="equi"):
        run_app(
            defs + no_equi.replace("bucket='auto'", "bucket='true'"),
            {"events": hot},
        )
    lenient = run_app(defs + no_equi, {"events": flat.limit(40)})["Pairs"]
    assert "Generate" not in plan_of(lenient)


def test_ql_absence_scan_tier(spark):
    """r14: `@plan(impl='auto'|'scan')` routes the trailing-absence
    pattern through the fanout-free nearest-probe scan on a hot key
    (the anti-join's per-probe group scan never short-circuits on
    absence output); row-identical to the join tier; explicit scan on
    inexpressible shapes raises."""
    from siddhi_operator_spark.operators import joins as J

    J.clear_decision_cache()

    def mk(n_keys: int, per_key: int):
        n = n_keys * per_key * 2
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 7).alias("ts"),
            (F.col("id") % n_keys).alias("user_id"),
            F.when((F.col("id") % 2) == 0, "signup")
            .otherwise("purchase")
            .alias("event_type"),
        )

    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    ab = """
    @plan(impl='auto')
    from e1=events[event_type == 'signup']
         -> not events[event_type == 'purchase'] for 10 sec
    select e1.user_id as user_id, e1.event_id as signup_id
    insert into Quiet;
    """

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    hot, flat = mk(1, 1200), mk(1000, 2)
    hot_out = run_app(defs + ab, {"events": hot}, pattern_key="user_id")["Quiet"]
    hp = plan_of(hot_out)
    assert "_probe" in hp  # the scan tier's nearest-probe struct
    assert "LeftAnti" not in hp
    flat_out = run_app(defs + ab, {"events": flat}, pattern_key="user_id")["Quiet"]
    assert "_probe" not in plan_of(flat_out)  # join tier at low density
    # row-identity auto vs join tier on both fixtures
    for src in (hot, flat):
        a = run_app(defs + ab, {"events": src}, pattern_key="user_id")["Quiet"]
        b = run_app(
            defs + ab.replace("@plan(impl='auto')", ""),
            {"events": src},
            pattern_key="user_id",
        )["Quiet"]
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # forced scan == join as well (the explicit tier, not just auto)
    s = run_app(
        defs + ab.replace("impl='auto'", "impl='scan'"),
        {"events": hot},
        pattern_key="user_id",
    )["Quiet"]
    assert sorted(map(tuple, s.collect())) == sorted(
        map(
            tuple,
            run_app(
                defs + ab.replace("@plan(impl='auto')", ""),
                {"events": hot},
                pattern_key="user_id",
            )["Quiet"].collect(),
        )
    )
    # explicit scan on a multi-step-prefix absence raises
    multi = """
    @plan(impl='scan')
    from e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase']
         -> not events[event_type == 'signup'] for 10 sec
    within 1 hour
    select e1.event_id as a, e2.event_id as b
    insert into Quiet;
    """
    with pytest.raises(ValueError, match="absence"):
        run_app(defs + multi, {"events": flat}, pattern_key="user_id")
    # explicit scan on a logical form raises rather than silently
    # running the unprotected join
    logical = """
    @plan(impl='scan')
    from e1=events[event_type == 'signup'] and e2=events[event_type == 'purchase']
    within 1 hour
    select e1.event_id as a, e2.event_id as b
    insert into Both;
    """
    with pytest.raises(ValueError, match="logical"):
        run_app(defs + logical, {"events": flat}, pattern_key="user_id")


def test_ql_backward_absence_scan_tier(spark):
    """r14: the backward (logical) absence `not S[p] for t and
    e2=S[q]` reaches the mirrored nearest-probe scan under
    `@plan(impl='auto'|'scan')`, row-identical to the anti-join."""
    from siddhi_operator_spark.operators import joins as J

    J.clear_decision_cache()

    def mk(n_keys: int, per_key: int):
        n = n_keys * per_key * 2
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 7).alias("ts"),
            (F.col("id") % n_keys).alias("user_id"),
            F.when((F.col("id") % 2) == 0, "signup")
            .otherwise("purchase")
            .alias("event_type"),
        )

    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    ab = """
    @plan(impl='auto')
    from not events[event_type == 'signup'] for 10 sec
         and e2=events[event_type == 'purchase']
    select e2.user_id as user_id, e2.event_id as purchase_id
    insert into Cold;
    """
    hot, flat = mk(1, 1200), mk(1000, 2)
    hp = run_app(defs + ab, {"events": hot}, pattern_key="user_id")["Cold"]
    assert "_probe" in hp._jdf.queryExecution().executedPlan().toString()
    for src, tag in ((hot, "hot"), (flat, "flat")):
        a = run_app(defs + ab, {"events": src}, pattern_key="user_id")["Cold"]
        j = run_app(
            defs + ab.replace("@plan(impl='auto')", ""),
            {"events": src},
            pattern_key="user_id",
        )["Cold"]
        s = run_app(
            defs + ab.replace("impl='auto'", "impl='scan'"),
            {"events": src},
            pattern_key="user_id",
        )["Cold"]
        ja = sorted(map(tuple, j.collect()))
        assert sorted(map(tuple, a.collect())) == ja, tag
        assert sorted(map(tuple, s.collect())) == ja, tag


def test_ql_plan_auto_null_hot_key_picks_scan(spark):
    """A NULL pattern key is its own key in the QL runners, so the
    `@plan(impl='auto')` pick counts it: with all the density on a
    NULL `user_id` (1600 signups × 800 purchases, past the 1e6-pair
    floor) the followed-by and the trailing-absence queries plan the
    scan tier, row-identical to `@plan(impl='join')`."""
    from siddhi_operator_spark.operators import joins as J

    J.clear_decision_cache()
    events = spark.range(2400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 7).alias("ts"),
        F.lit(None).cast("long").alias("user_id"),
        F.when((F.col("id") % 3) == 0, "purchase")
        .otherwise("signup")
        .alias("event_type"),
    )
    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    queries = {
        "Conv": """
    @plan(impl='auto')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase'] within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conv;
    """,
        "Quiet": """
    @plan(impl='auto')
    from e1=events[event_type == 'signup']
         -> not events[event_type == 'purchase'] for 10 sec
    select e1.user_id as user_id, e1.event_id as signup_id
    insert into Quiet;
    """,
    }
    for out_name, q in queries.items():
        auto = run_app(defs + q, {"events": events}, pattern_key="user_id")[out_name]
        join = run_app(
            defs + q.replace("impl='auto'", "impl='join'"),
            {"events": events},
            pattern_key="user_id",
        )[out_name]
        assert "_probe" in auto._jdf.queryExecution().executedPlan().toString()
        assert "_probe" not in join._jdf.queryExecution().executedPlan().toString()
        rows = sorted(map(tuple, auto.collect()))
        assert rows == sorted(map(tuple, join.collect()))
        # a purchase follows every signup but the last two; the NULL
        # key disarms each signup 7 s before one, not those 14 s before
        assert len(rows) == {"Conv": 1598, "Quiet": 801}[out_name]


def test_run_app_streaming_join_bucket_hint(spark):
    """r14: `@plan(bucket='true')` in a STREAMING QL app routes the
    stream-stream join through the epoch-widened hot-key tier —
    row-identical to the plain streaming join; `bucket='auto'` raises
    (batch-only stats job)."""
    import uuid

    from siddhi_operator_spark.catalog import load, load_events_stream
    from siddhi_operator_spark.operators import joins as J
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming

    app = """
    define stream Clicks (event_id long, ts string, user_id long, event_type string, value double);
    define stream Views (event_id long, ts string, user_id long, event_type string, value double);
    @plan(bucket='true')
    from Clicks#window.time(12 hour) join Views#window.time(12 hour)
      on Clicks.user_id == Views.user_id
    select Clicks.user_id as user_id, Clicks.event_id as click_id, Views.event_id as view_id
    insert into Pairs;
    """
    sf = "/root/testdata/sf0.001"
    e = load(spark, sf, "events")
    want = sorted(
        tuple(r)
        for r in run_app(
            app.replace("@plan(bucket='true')", ""),
            {
                "Clicks": e.filter(F.col("event_type") == "click"),
                "Views": e.filter(F.col("event_type") == "view"),
            },
        )["Pairs"].collect()
    )
    assert want
    cs = load_events_stream(spark, sf).filter(F.col("event_type") == "click")
    vs = load_events_stream(spark, sf).filter(F.col("event_type") == "view")
    before = J.STATS_JOBS_RUN
    outs = run_app_streaming(
        app, {"Clicks": cs, "Views": vs}, watermark="13 hours"
    )
    assert J.STATS_JOBS_RUN == before  # a pinned tier runs no stats job
    name = f"sjb_{uuid.uuid4().hex[:8]}"
    q = (
        outs["Pairs"].writeStream.format("memory")
        .queryName(name).outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.table(name).collect())
    assert got == want
    with pytest.raises(ValueError, match="batch-only"):
        run_app_streaming(
            app.replace("bucket='true'", "bucket='auto'"),
            {"Clicks": cs, "Views": vs},
            watermark="13 hours",
        )


def test_ql_plan_pinned_hints_zero_jobs(spark):
    """A pinned `@plan(...)` — what a user writes after running the
    pick on a batch sample — takes its tier with ZERO stats jobs:
    'scan'/'true' plan the insurance tiers, 'join'/'false' the plain
    ones even on a hot key (explicit hints win), row-identical either
    way; queries without a pattern or windowed join ignore the hint,
    and 'auto' stays lenient on a stream-table join."""
    from siddhi_operator_spark.operators import joins as J

    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    app = defs + """
    @plan(impl='scan')
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase'] within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Conv;

    @plan(bucket='true')
    from events[event_type == 'signup']#window.time(1 min) as a
      join events[event_type == 'purchase']#window.time(1 min) as b
      on a.user_id == b.user_id
    select a.user_id as user_id, a.event_id as l_id, b.event_id as r_id
    insert into Pairs;

    @plan(impl='scan', bucket='true')
    from events[event_type == 'signup']
    select event_id, user_id
    insert into Plain;
    """
    hot = spark.range(2400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.when((F.col("id") % 2) == 0, "signup")
        .otherwise("purchase")
        .alias("event_type"),
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    before = J.STATS_JOBS_RUN
    pinned = run_app(app, {"events": hot}, pattern_key="user_id")
    assert J.STATS_JOBS_RUN == before
    assert "_probe" in plan_of(pinned["Conv"])
    assert "Generate" in plan_of(pinned["Pairs"])
    assert pinned["Plain"].count() == 1200
    plain_app = app.replace("impl='scan'", "impl='join'").replace(
        "bucket='true'", "bucket='false'"
    )
    plain = run_app(plain_app, {"events": hot}, pattern_key="user_id")
    assert J.STATS_JOBS_RUN == before
    assert "_probe" not in plan_of(plain["Conv"])
    assert "Generate" not in plan_of(plain["Pairs"])
    for k in ("Conv", "Pairs"):
        assert sorted(map(tuple, pinned[k].collect())) == sorted(
            map(tuple, plain[k].collect())
        )
    # 'auto' on a stream-table probe (no time window) stays plain
    tbl_app = defs + """
    define table vip (user_id long, tier string);
    @plan(impl='auto', bucket='auto')
    from events join vip on events.user_id == vip.user_id
    select events.event_id as event_id, vip.tier as tier
    insert into Enriched;
    """
    vip = spark.createDataFrame([(0, "gold")], "user_id long, tier string")
    out = run_app(tbl_app, {"events": hot.limit(50), "vip": vip})
    assert out["Enriched"].count() == 50


def test_ql_plan_hint_strict_parse(spark):
    """r15 (r14 advice): a @plan body mixing one valid pair with a
    malformed token raises instead of silently dropping the typo'd
    hint — e.g. an unquoted bucket=true must not run unprotected."""
    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string);
    """
    pat = """
    @plan(impl='auto', bucket=true)
    from every e1=events[event_type == 'signup']
         -> e2=events[event_type == 'purchase'] within 1 hour
    select e1.event_id as a, e2.event_id as b
    insert into Conv;
    """
    src = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 1, "signup")],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="@plan"):
        run_app(defs + pat, {"events": src}, pattern_key="user_id")


def test_equi_pairs_paren_and_quote_balance():
    """The ON splitter (`_split_on`, behind the batch bucket pick and
    the streaming equi keys) takes equi pairs from top-level conjuncts
    only: none from inside OR-nested groups or string literals, while
    a redundant outer paren around a genuine top-level conjunction
    still yields its keys.  Residuals keep their string literals."""
    from siddhi_operator_spark.siddhiql.builder import _split_on

    def equi(on: str) -> list:
        return _split_on(on, "a", "b")[0]

    # OR-nested group: neither fragment is a top-level conjunct
    assert equi("a.c > 1 or (a.k = b.k and a.j = b.j)") == []
    # string literal containing ' and ' must not corrupt extraction
    assert _split_on("a.k = b.k and a.s = 'x and y'", "a", "b") == (
        [("k", "k")],
        ["l.s = 'x and y'"],
    )
    # side names inside a literal are not rewritten
    assert _split_on("b.k = a.k and a.s = 'a.b'", "a", "b") == (
        [("k", "k")],
        ["l.s = 'a.b'"],
    )
    # redundant outer parens around top-level ANDs still work
    assert equi("(a.k = b.k and a.ts > b.ts)") == [("k", "k")]
    # a `between … and …` term stays one conjunct
    assert _split_on("a.v between 1 and 5 and a.k = b.k", "a", "b") == (
        [("k", "k")],
        ["l.v between 1 and 5"],
    )
    # plain top-level conjunction unchanged
    assert equi("a.k = b.k and a.j = b.j") == [("k", "k"), ("j", "j")]


def test_ql_session_prefix_routing(spark):
    """r15: batch QL session queries whose aggregates are
    count/sum/avg (incl. the suite's round(1e-9 + agg, n) wrapper)
    plan through the prefix-sum tier — NO aggregate operator; shapes
    the tier cannot express (min/max) fall back to gap-island ids +
    hash aggregate with identical rows; streaming is untouched."""
    from siddhi_operator_spark.catalog import load

    e = load(spark, "/root/testdata/sf0.001", "events")
    defs = """
    define stream events (event_id long, ts string, user_id long,
                          event_type string, value double);
    """
    prefix_app = defs + """
    from events#window.session(30 min, user_id)
    select user_id, count() as n, round(1e-9 + sum(value), 4) as sum_value
    insert into Sessions;
    """
    fallback_app = defs + """
    from events#window.session(30 min, user_id)
    select user_id, count() as n, min(value) as mn
    insert into Sessions;
    """

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    a = run_app(prefix_app, {"events": e})["Sessions"]
    assert "HashAggregate" not in plan_of(a)
    assert a.columns == ["session_start", "session_end", "user_id", "n", "sum_value"]
    b = run_app(fallback_app, {"events": e})["Sessions"]
    assert "HashAggregate" in plan_of(b)
    assert b.columns == ["session_start", "session_end", "user_id", "n", "mn"]
    # (key, bounds, n) agree between the two routings
    ka = sorted((r.user_id, r.session_start, r.session_end, r.n) for r in a.collect())
    kb = sorted((r.user_id, r.session_start, r.session_end, r.n) for r in b.collect())
    assert ka == kb


def test_quantifier_run_collapse_plan_shape(spark):
    """r15 OPT: the unrolled quantifier chain is gone — a length-L run
    is contiguous on its adjacency axis, so each variant carries ONE
    lead() window instead of L-1 adjacency self-joins. For `*` with
    UNROLL_CAP 8 the old plan held 36 intra-run joins (72 join nodes
    physical); now joins appear only BETWEEN steps: one per non-empty
    variant. Semantics pinned by the greedy tests above + the DuckDB
    oracle rows (`siddhiql_star_quantifier`, `siddhiql_count_quantifier`,
    `pattern_optional_step`, `streaming_cep_count_quantifier`)."""
    app = (
        _QDEF
        + """
    from every e=events[event_type == 'click']*
         -> f=events[event_type == 'purchase']
    select f.user_id as user_id, e[0].event_id as first_id,
           e[last].event_id as last_id, e__count as n,
           f.event_id as purchase_id
    insert into Out;
    """
    )
    out = run_app(app, {"events": _quant_df(spark)})["Out"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join ")
    # lengths 1..8 each join the run frame to the purchase step; the
    # zero-length variant is purchase-only (no join)
    assert n_joins == 8, f"expected 8 between-step joins, saw {n_joins}"
    # greedy semantics survive the collapse (user 1: three clicks then
    # purchase -> longest run wins; zero-length variant emits the
    # purchase with NULL bounds only where no run precedes it)
    got = sorted(
        ((r.user_id, r.first_id, r.last_id, r.n, r.purchase_id)
         for r in out.collect()),
        key=lambda t: tuple(-1 if v is None else v for v in t),
    )
    assert (1, 1, 3, 3, 4) in got
    assert (2, 10, 11, 2, 12) in got
