"""Streaming semantics tests — deterministic, event-time based
(SURVEY.md §6.2 item 3): file-replay multi-batch sequences via
``replay_dir`` + ``maxFilesPerTrigger=1``; memory sink;
``processAllAvailable``. No sleeps, no wall-clock dependence."""

from __future__ import annotations

import tempfile
import uuid

import pyspark.sql.functions as F
import pytest

from siddhi_operator_spark.streaming import cep, sinks, sources
from siddhi_operator_spark.streaming import windows as SW


def _stream_events(spark, events_df, n_splits=3):
    d = tempfile.mkdtemp(prefix="replay_")
    sources.replay_dir(events_df, d, "ts", n_splits)
    return sources.file_stream(
        spark, d, events_df.schema, max_files_per_trigger=1
    )


def _run(stream, name, mode="append"):
    q = sinks.memory_sink(stream, name, output_mode=mode)
    q.processAllAvailable()
    q.stop()
    return name


def test_streaming_tumbling_agg(spark, events_df):
    s = _stream_events(spark, events_df)
    agg = SW.tumbling_agg(
        s,
        "ts",
        "1 hour",
        watermark="10 minutes",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")],
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    _run(agg, name, "complete")
    rows = {
        (r.window_start.isoformat(), r.event_type): (r.n, r.s)
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert rows[("2024-01-01T00:00:00", "click")] == (2, 7.0)
    assert rows[("2024-01-01T01:00:00", "click")] == (3, 24.0)
    assert rows[("2024-01-01T00:00:00", "signup")] == (2, 11.0)


def test_streaming_session(spark, events_df):
    s = _stream_events(spark, events_df)
    agg = SW.session_agg(
        s,
        "ts",
        "30 minutes",
        watermark="5 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    _run(agg, name, "complete")
    sess = sorted(
        (r.user_id, r.n) for r in spark.sql(f"select * from {name}").collect()
    )
    assert sess == [(1, 3), (1, 3), (2, 1), (2, 1), (2, 2)]


def test_streaming_length_window_state_across_batches(spark, events_df):
    """The per-key deque must survive micro-batch boundaries: with 3
    file-batches, user 1's 6 events arrive in different batches but
    the last-2 window is continuous."""
    s = _stream_events(spark, events_df, n_splits=3)
    out = SW.length_window(s, 2, key="user_id")
    name = f"l_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = {r.event_id: (r.n_in_window, r.sum_value) for r in spark.sql(
        f"select * from {name}").collect()}
    assert rows[1] == (1, 10.0)
    assert rows[3] == (2, 105.0)
    assert rows[7] == (2, 107.0)  # crosses a batch boundary
    assert rows[9] == (2, 17.0)


def test_streaming_length_batch(spark, events_df):
    # events 11-13: copies of 1-3 on a NULL user_id
    nulls = events_df.filter("event_id <= 3").select(
        (F.col("event_id") + 10).alias("event_id"),
        "ts",
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        "value",
    )
    s = _stream_events(spark, events_df.unionByName(nulls), n_splits=2)
    out = SW.length_batch_window(s, 3, key="user_id")
    name = f"lb_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (
            (r.key, r.batch_seq, r.first_id, r.last_id, r.sum_value)
            for r in spark.sql(f"select * from {name}").collect()
        ),
        key=lambda t: (t[0] is None, t),
    )
    # user1: 6 events → two full batches of 3; user2: 4 events → one
    # full batch (4,5,6), event 10 stays buffered in state; the NULL
    # key is its own group and is emitted as NULL, never 'None'
    assert rows == [
        ("1", 0, 1, 3, 115.0),
        ("1", 1, 7, 9, 24.0),
        ("2", 0, 4, 6, 53.0),
        (None, 0, 11, 13, 115.0),
    ]


def test_streaming_cep_followed_by(spark, events_df):
    s = _stream_events(spark, events_df, n_splits=3)
    out = cep.pattern_nfa(
        s,
        key="user_id",
        step_predicates=["event_type = 'signup'", "event_type = 'purchase'"],
        within_seconds=3600,
    )
    name = f"c_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_id, r.e2_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    assert rows == [("1", 1, 3), ("2", 4, 6)]


def test_streaming_cep_within_expiry(spark, events_df):
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=["event_type = 'signup'", "event_type = 'purchase'"],
        within_seconds=10,
    )
    name = f"cw_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_id, r.e2_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    assert rows == [("1", 1, 3)]


def test_streaming_cep_three_step_sequence(spark, events_df):
    """click,click,click contiguous (strict) for user 1 events 7,8,9."""
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=[
            "event_type = 'click'",
            "event_type = 'click'",
            "event_type = 'click'",
        ],
        strict=True,
        every=False,
    )
    name = f"c3_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_id, r.e2_id, r.e3_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    assert ("1", 7, 8, 9) in rows


def test_streaming_cep_logical_and(spark, events_df):
    """`e1=S[signup] and e2=S[purchase]` — both branches must bind,
    either order (`LogicalPreStateProcessor.java` AND mode)."""
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=[("and", "event_type = 'signup'", "event_type = 'purchase'")],
    )
    name = f"la_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1a_id, r.e1b_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    # signup 1 pairs with purchase 3; signup 4 with purchase 6; the
    # purchase-armed partials (3, 6) never see a later signup
    assert rows == [("1", 1, 3), ("2", 4, 6)]


def test_streaming_cep_logical_or(spark, events_df):
    """`e1=S[signup] or e2=S[error]` — either branch completes
    (`LogicalPreStateProcessor.java` OR mode)."""
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=[("or", "event_type = 'signup'", "event_type = 'error'")],
    )
    name = f"lo_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_id) for r in spark.sql(f"select * from {name}").collect()
    )
    assert rows == [("1", 1), ("2", 4), ("2", 10)]


def test_streaming_cep_count_takeover(spark, events_df):
    """`e1=S[click]<1:2> -> e2=S[purchase]`: with >= m clicks
    collected, a purchase takes over and closes the count group
    (`CountPreStateProcessor.java` min/max semantics)."""
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=[
            ("count", "event_type = 'click'", 1, 2),
            "event_type = 'purchase'",
        ],
    )
    name = f"cq_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_first_id, r.e1_last_id, r.e2_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    # user1: click 2 then purchase 3 takes over; user2: click 5 then
    # purchase 6; clicks 7-9 never see a purchase
    assert rows == [("1", 2, 2, 3), ("2", 5, 5, 6)]


def test_streaming_cep_count_full(spark, events_df):
    """`e=S[click]<3:3>` strict — exactly 3 contiguous clicks
    (user 1's events 7,8,9)."""
    out = cep.pattern_nfa(
        _stream_events(spark, events_df, n_splits=2),
        key="user_id",
        step_predicates=[("count", "event_type = 'click'", 3, 3)],
        strict=True,
    )
    name = f"cf_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.key, r.e1_first_id, r.e1_last_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    assert rows == [("1", 7, 9)]


def test_streaming_upsert_table(spark, events_df, tmp_path):
    s = _stream_events(spark, events_df, n_splits=3)
    table = sinks.ParquetUpsertTable(
        spark, str(tmp_path / "tbl"), keys=["user_id"]
    )
    q = table.sink(s, str(tmp_path / "ckpt"), order_col="ts")
    q.processAllAvailable()
    q.stop()
    snap = {r.user_id: r.event_id for r in table.snapshot().collect()}
    assert snap == {1: 9, 2: 10}


def test_streaming_stream_stream_join(spark, events_df):
    from siddhi_operator_spark.streaming.joins import stream_stream_join

    s1 = _stream_events(spark, events_df, n_splits=2)
    s2 = _stream_events(spark, events_df, n_splits=2)
    clicks = s1.filter(F.col("event_type") == "click")
    buys = s2.filter(F.col("event_type") == "purchase")
    j = stream_stream_join(
        clicks,
        buys,
        "ts",
        "ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=600,
        watermark="30 minutes",
    )
    out = j.select(
        F.col("l.event_id").alias("click_id"), F.col("r.event_id").alias("buy_id")
    )
    name = f"j_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    rows = sorted(
        (r.click_id, r.buy_id) for r in spark.sql(f"select * from {name}").collect()
    )
    assert rows == [(2, 3)]  # click@5s → purchase@9s same user within 10m


def test_checkpoint_recovery_exactly_once(spark, events_df, tmp_path):
    """Structured Streaming checkpointing — the engine's answer to the
    reference's snapshot persistence (`SnapshotService.java`,
    SURVEY.md §3.10): stop mid-stream, restart from the same
    checkpoint, and the sink holds each input exactly once (offsets +
    sink epoch tracking; no replayed duplicates, no gaps)."""
    import pyspark.sql.functions as F
    from siddhi_operator_spark.streaming import sinks, sources

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = events_df.filter(F.col("event_id") <= 5)
    rest = events_df.filter(F.col("event_id") > 5)
    sources.replay_dir(first, src, "ts", 2)

    def start():
        s = sources.file_stream(
            spark, src, events_df.schema, max_files_per_trigger=1
        )
        return sinks.parquet_sink(s.withColumn("doubled", F.col("value") * 2), out, ckpt)

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 5

    # new files arrive while "down"; restart from the same checkpoint
    import glob, shutil, tempfile, time

    tmp2 = tempfile.mkdtemp()
    sources.replay_dir(rest, tmp2, "ts", 1)
    time.sleep(1.1)  # distinct mtime so the source sees it as new
    for i, f in enumerate(sorted(glob.glob(tmp2 + "/*.parquet"))):
        shutil.copy(f, src + f"/late_{i}.parquet")

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == 10  # no duplicates, no gaps
    assert sorted(r.event_id for r in got.select("event_id").collect()) == list(
        range(1, 11)
    )


def test_front_end_pattern_routes_to_nfa(spark, events_df):
    """A SiddhiQL pattern query under run_app_streaming must route to
    the streaming NFA and honor alias.id/ts select references. A NULL
    key is its own key in both runners: a NULL-user_id signup pairs
    with the NULL-user_id purchase after it, and run_app gives the
    same matches."""
    from siddhi_operator_spark.siddhiql import run_app, run_app_streaming

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from every e1=E[event_type == 'signup'] -> e2=E[event_type == 'purchase']
         within 1 hour
    select e1.event_id as signup_id, e2.event_id as purchase_id
    insert into Matches;
    """
    null_keyed = spark.createDataFrame(
        [
            (11, "2024-01-01 03:00:00", None, "signup", 3.0),
            (12, "2024-01-01 03:00:30", None, "purchase", 4.0),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    events = events_df.unionByName(null_keyed)
    s = _stream_events(spark, events, n_splits=3)
    outs = run_app_streaming(app, {"E": s})
    name = f"fe_{uuid.uuid4().hex[:8]}"
    _run(outs["Matches"], name)
    rows = sorted(
        ((r.key, r.signup_id, r.purchase_id)
         for r in spark.sql(f"select * from {name}").collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert rows == [("1", 1, 3), ("2", 4, 6), (None, 11, 12)]
    batch = run_app(app, {"E": events})["Matches"].collect()
    assert sorted((r.signup_id, r.purchase_id) for r in batch) == [
        (1, 3), (4, 6), (11, 12)
    ]


def test_front_end_absence_routes_to_timer(spark, events_df):
    """`e1 -> not E[p] for t` under run_app_streaming → absence_nfa.
    A signup on a NULL user_id fires with its key projected as NULL
    (the key is cast back to the source type), like the batch runner.
    A NULL key is its own key in both runners and in both batch tiers
    (join and `@plan(impl='scan')`): a NULL-user_id purchase within
    the budget disarms a NULL-user_id signup."""
    from siddhi_operator_spark.siddhiql import run_app, run_app_streaming

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from e1=E[event_type == 'signup'] -> not E[event_type == 'purchase'] for 10 sec
    select e1.event_id as signup_id, e1.user_id as user_id
    insert into NoPurchase;
    """
    null_keyed = spark.createDataFrame(
        [
            (11, "2024-01-01 00:30:00", None, "signup", 3.0),
            (12, "2024-01-01 03:00:00", None, "signup", 4.0),
            (13, "2024-01-01 03:00:05", None, "purchase", 5.0),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    events = events_df.unionByName(null_keyed)
    s = _stream_events(spark, events, n_splits=4)
    outs = run_app_streaming(app, {"E": s})
    name = f"fa_{uuid.uuid4().hex[:8]}"
    _run(outs["NoPurchase"], name)

    def _rows(df):
        return sorted(
            ((r.user_id, r.signup_id) for r in df.collect()),
            key=lambda t: (t[0] is None, t),
        )

    rows = _rows(spark.sql(f"select * from {name}"))
    assert rows == [(2, 4), (None, 11)]
    assert rows == _rows(run_app(app, {"E": events})["NoPurchase"])
    # the batch scan tier keeps the same NULL-key semantics
    scan_app = app.replace("from e1=", "@plan(impl='scan')\n    from e1=")
    assert rows == _rows(run_app(scan_app, {"E": events})["NoPurchase"])


def test_front_end_count_pattern_streaming(spark, events_df):
    """`e=E[click]<3>` strict sequence through the streaming front end
    with e[0]/e[last] select access."""
    from siddhi_operator_spark.siddhiql import run_app_streaming

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from e=E[event_type == 'click']<2:2>, f=E[true]
    select e[0].event_id as first_id, e[last].event_id as last_id,
           f.event_id as next_id
    insert into Runs;
    """
    s = _stream_events(spark, events_df, n_splits=2)
    outs = run_app_streaming(app, {"E": s})
    name = f"fc_{uuid.uuid4().hex[:8]}"
    _run(outs["Runs"], name)
    rows = sorted(
        (r.key, r.first_id, r.last_id, r.next_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    # user1 clicks 7,8 complete the <2:2>, click 9 binds f
    assert rows == [("1", 7, 8, 9)]


def test_table_change_feed_with_deletes(spark, tmp_path):
    """CDC analog over the versioned keyed table: inserts, update
    pre/post images, and deletes across commits."""
    from siddhi_operator_spark.streaming.sinks import ParquetUpsertTable

    # a plain path and a file:// URI (state paths may use any Hadoop
    # scheme; a local-only listing once read the URI as an empty table)
    for path in [str(tmp_path / "t"), (tmp_path / "t_uri").as_uri()]:
        t = ParquetUpsertTable(spark, path, keys=["k"])
        v0 = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "k long, v string, o int"
        )
        t.upsert_batch(v0, 0, order_col="o")
        # v1: update k=1, insert k=3; simulate a delete of k=2 by writing
        # the snapshot directly (upserts never delete)
        v1 = spark.createDataFrame(
            [(1, "a2", 2), (3, "c", 2)], "k long, v string, o int"
        )
        v1.write.mode("overwrite").parquet(f"{path}/v=1")
        feed = t.changes(0, 1)
        got = sorted(
            (r.k, r.v, r._change_type, r._commit_version) for r in feed.collect()
        )
        assert got == [
            (1, "a", "update_preimage", 1),
            (1, "a2", "update_postimage", 1),
            (2, "b", "delete", 1),
            (3, "c", "insert", 1),
        ], path
        # a replayed epoch overwrites its own version: epochs 0, 1, then
        # 1 again leave versions [0, 1] and the same change feed
        r = ParquetUpsertTable(spark, f"{path}_replay", keys=["k"])
        r.upsert_batch(v0, 0, order_col="o")
        r.upsert_batch(v1, 1, order_col="o")
        before = sorted(r.changes(0, 1).collect())
        r.upsert_batch(v1, 1, order_col="o")
        assert r.store.versions() == [0, 1], path
        assert sorted(r.changes(0, 1).collect()) == before, path


def test_streaming_cep_count_interloper_keeps_collecting(spark):
    """A non-matching interloper inside an open count group must NOT
    close the group (the reference's CountPreStateProcessor keeps
    collecting up to n while the next state is active): over
    click, view, click, purchase with <1:3> clicks -> purchase, the
    last bound click is click#3, not click#1."""
    rows = [
        (1, "2024-01-01 00:00:01", 1, "click", 1.0),
        (2, "2024-01-01 00:00:02", 1, "view", 1.0),
        (3, "2024-01-01 00:00:03", 1, "click", 1.0),
        (4, "2024-01-01 00:00:04", 1, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cep.pattern_nfa(
        _stream_events(spark, df, n_splits=2),
        key="user_id",
        step_predicates=[
            ("count", "event_type = 'click'", 1, 3),
            "event_type = 'purchase'",
        ],
        every=False,
    )
    name = f"ci_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    got = sorted(
        (r.key, r.e1_first_id, r.e1_last_id, r.e2_id)
        for r in spark.sql(f"select * from {name}").collect()
    )
    assert got == [("1", 1, 3, 4)]


def test_front_end_or_pattern_streaming(spark, events_df):
    """or-steps emit a single e{i} stem — both aliases must resolve to
    it (round-2 advice: alias mapping used e{i}a/e{i}b and every
    or-select failed with AnalysisException)."""
    from siddhi_operator_spark.siddhiql import run_app_streaming

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from every (e1=E[event_type == 'error'] or e2=E[event_type == 'purchase'])
    select e1.event_id as hit_id, e1.event_id + 1.5 as shifted
    insert into Alerts;
    """
    s = _stream_events(spark, events_df, n_splits=2)
    outs = run_app_streaming(app, {"E": s})
    name = f"orp_{uuid.uuid4().hex[:8]}"
    _run(outs["Alerts"], name)
    got = sorted(
        (r.key, r.hit_id, r.shifted)
        for r in spark.sql(f"select * from {name}").collect()
    )
    # purchases 3 (u1), 6 (u2) and error 10 (u2) each complete the or
    assert got == [("1", 3, 4.5), ("2", 6, 7.5), ("2", 10, 11.5)]


def test_streaming_cep_star_quantifier_and_skip_arming(spark):
    """`e1=S[click]* -> e2=S[purchase]`: zero-min collects greedily,
    arms through the skippable step (a lone purchase matches with NULL
    e1), unbounded max is allowed."""
    rows = [
        (1, "2024-01-01 00:00:01", 1, "click", 1.0),
        (2, "2024-01-01 00:00:02", 1, "click", 1.0),
        (3, "2024-01-01 00:00:03", 1, "purchase", 1.0),
        (4, "2024-01-01 00:00:04", 2, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cep.pattern_nfa(
        _stream_events(spark, df, n_splits=2),
        key="user_id",
        step_predicates=[
            ("count", "event_type = 'click'", 0, None),
            "event_type = 'purchase'",
        ],
    )
    name = f"st_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    got = {
        (r.key, r.e1_first_id, r.e1_last_id, r.e2_id)
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert ("1", 1, 2, 3) in got          # greedy full run
    assert ("1", 2, 2, 3) in got          # every re-arms at click 2
    assert ("1", None, None, 3) in got    # skip-armed at the purchase
    assert ("2", None, None, 4) in got    # lone purchase, NULL e1


def test_streaming_cep_trailing_plus_closes_on_nonmatch(spark):
    """A trailing `+` run closes greedily when a non-matching event
    arrives with >= m collected."""
    rows = [
        (1, "2024-01-01 00:00:01", 1, "signup", 1.0),
        (2, "2024-01-01 00:00:02", 1, "click", 1.0),
        (3, "2024-01-01 00:00:03", 1, "click", 1.0),
        (4, "2024-01-01 00:00:04", 1, "error", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cep.pattern_nfa(
        _stream_events(spark, df, n_splits=2),
        key="user_id",
        step_predicates=[
            "event_type = 'signup'",
            ("count", "event_type = 'click'", 1, None),
        ],
        every=False,
    )
    name = f"tp_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    got = {
        (r.key, r.e1_id, r.e2_first_id, r.e2_last_id)
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == {("1", 1, 2, 3)}


def test_streaming_cep_trailing_zero_min_rejected():
    with pytest.raises(ValueError, match="trailing zero-min"):
        cep._normalize_steps(["event_type = 'a'", ("count", "true", 0, None)])


def test_streaming_named_window_shared_hop(spark, events_df, tmp_path):
    """`define window W` shared by two streaming consumers: the source
    executes in exactly ONE query (the hop materializer); both
    consumers read the hop, not the source, and agree with the batch
    fixed point."""
    from siddhi_operator_spark.streaming.share import SharedStreamHop

    src_dir = tempfile.mkdtemp(prefix="share_src_")
    sources.replay_dir(events_df, src_dir, "ts", 2)
    src = sources.file_stream(spark, src_dir, events_df.schema, max_files_per_trigger=1)
    windowed = src.filter(F.col("value") > 1.0)  # the shared named window

    hop = SharedStreamHop(windowed, str(tmp_path / "hop"))
    hop.process_available()

    c1 = hop.consumer(spark).groupBy("user_id").count()
    c2 = hop.consumer(spark).groupBy("event_type").count()
    n1 = f"sh1_{uuid.uuid4().hex[:8]}"
    n2 = f"sh2_{uuid.uuid4().hex[:8]}"
    q1 = sinks.memory_sink(c1, n1, output_mode="complete")
    q2 = sinks.memory_sink(c2, n2, output_mode="complete")
    q1.processAllAvailable()
    q2.processAllAvailable()

    # exactly one active query reads the source directory — the hop's
    # materializer; every consumer's file source is the hop path
    active = spark.streams.active
    src_readers = [
        q for q in active if src_dir in (q.lastProgress or {}).get(
            "sources", [{}])[0].get("description", "")
    ]
    assert len(src_readers) == 1 and src_readers[0].id == hop.query.id
    for q in (q1, q2):
        desc = (q.lastProgress or {}).get("sources", [{}])[0].get("description", "")
        assert str(tmp_path / "hop") in desc and src_dir not in desc

    expected = events_df.filter(F.col("value") > 1.0)
    got1 = {(r.user_id, r["count"]) for r in spark.sql(f"select * from {n1}").collect()}
    want1 = {
        (r.user_id, r["count"])
        for r in expected.groupBy("user_id").count().collect()
    }
    assert got1 == want1
    got2 = {(r.event_type, r["count"]) for r in spark.sql(f"select * from {n2}").collect()}
    want2 = {
        (r.event_type, r["count"])
        for r in expected.groupBy("event_type").count().collect()
    }
    assert got2 == want2
    q1.stop()
    q2.stop()
    hop.stop()


def test_front_end_session_key_arg_streaming(spark, events_df):
    """`#window.session(gap, key)` in streaming mode: the key argument
    is the partition — no explicit `group by` required."""
    from siddhi_operator_spark.siddhiql import run_app_streaming

    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    from E#window.session(30 sec, user_id)
    select user_id, count() as n
    insert into Out;
    """
    s = _stream_events(spark, events_df, n_splits=2)
    outs = run_app_streaming(app, {"E": s})
    name = f"sk_{uuid.uuid4().hex[:8]}"
    q = (
        outs["Out"]
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"select * from {name}").collect()
    assert len(rows) > 0
    assert {c for c in spark.sql(f"select * from {name}").columns} >= {
        "user_id", "n"
    }


def test_front_end_membership_filter_streaming(spark, events_df):
    """`attr in Table` in streaming mode: stream-static broadcast
    join + flag, appended rows exclude blocked keys."""
    from siddhi_operator_spark.siddhiql import run_app_streaming

    bl = spark.createDataFrame([("click",)], "event_type string")
    app = """
    define stream E (event_id long, ts string, user_id long,
                     event_type string, value double);
    define table BL (event_type string);
    from E[not (event_type in BL)]
    select event_id, event_type
    insert into Out;
    """
    s = _stream_events(spark, events_df, n_splits=2)
    outs = run_app_streaming(app, {"E": s, "BL": bl})
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = outs["Out"].writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    got = {r.event_type for r in spark.sql(f"select * from {name}").collect()}
    assert "click" not in got and len(got) > 0


def test_state_buckets_annotation_routes_pattern(spark, events_df):
    """`@app:stateBuckets('7')` opts pattern queries into the coarse-
    bucket NFA state layout through the front end — same matches as
    the default per-key layout."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC

    base = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from every s=E[event_type=='signup'] -> p=E[event_type=='purchase'] within 1 hour
    select s.event_id as sid, p.event_id as pid insert into O;
    """
    results = {}
    for variant, app in (
        ("per_key", base),
        ("bucketed", "@app:stateBuckets('7')\n" + base),
    ):
        d = tempfile.mkdtemp(prefix="replay_sb_")
        SRC.replay_dir(events_df, d, "ts", 2)
        s = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
        outs = run_app_streaming(app, {"E": s})
        name = f"sb_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        results[variant] = sorted(map(tuple, spark.table(name).collect()))
    assert results["per_key"] == results["bucketed"]


def test_streaming_dedup_watermark_expires_state(spark):
    """dropDuplicatesWithinWatermark semantics across micro-batches:
    a duplicate inside the delay window is dropped, but once the
    watermark passes (first_ts + delay) the key's state expires and a
    later identical key is a FRESH emission — bounded state, not
    forever-dedup (that distinction is the whole point vs
    dropDuplicates)."""
    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (2, "2024-01-01 00:00:30", 1, "click", 1.0),  # dup inside delay
        (3, "2024-01-01 00:01:00", 2, "click", 1.0),
        (4, "2024-01-01 01:00:00", 9, "noise", 0.0),  # advances watermark
        (6, "2024-01-01 01:30:00", 8, "noise", 0.0),  # extra batch: state
        # eviction runs at commit with the PREVIOUS batch's watermark,
        # so expiry lands one batch after the advance
        (5, "2024-01-01 02:00:00", 1, "click", 1.0),  # state expired → emits
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    s = _stream_events(spark, df, n_splits=6).withWatermark("ts", "10 minutes")
    out = s.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    name = f"dedupwm_{uuid.uuid4().hex[:8]}"
    _run(out, name)
    got = spark.table(name).collect()
    assert len(got) == 5
    u1 = sorted(str(r.ts) for r in got if r.user_id == 1)
    assert u1 == ["2024-01-01 00:00:00", "2024-01-01 02:00:00"]


def test_streaming_store_sink_jdbc_derby(spark, events_df, tmp_path):
    """Streaming @store sink: micro-batches append into a real JDBC
    table (embedded Derby) through the annotation-resolved writer —
    the RDBMS-sink contract, end-to-end."""
    from siddhi_operator_spark.siddhiql import parse_app
    from siddhi_operator_spark.sources.stores import store_options
    from siddhi_operator_spark.sources import parse_annotation

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    ann_txt = (
        f"@store(type='rdbms', jdbc.url='{url}', table.name='EVENTS_OUT', "
        "jdbc.driver.name='org.apache.derby.jdbc.EmbeddedDriver')"
    )
    # seed the table so JDBC append has a target schema
    fmt, opts = store_options(parse_annotation(ann_txt))
    spark.createDataFrame([], "event_id long, value double").write.format(
        fmt
    ).options(**opts).mode("overwrite").save()

    app = parse_app(f"""
    {ann_txt}
    define table EVENTS_OUT (event_id long, value double);
    define stream S (event_id long, value double);
    """)
    s = _stream_events(spark, events_df, n_splits=3).select("event_id", "value")
    q = sinks.store_sink(
        s, app.streams["EVENTS_OUT"], str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.format(fmt).options(**opts).load()
    assert back.count() == events_df.count()
    assert {r.event_id for r in back.collect()} == {
        r.event_id for r in events_df.collect()
    }


def test_streaming_incremental_neardup_emits_once_at_later_arrival(
    spark, tmp_path
):
    """Incremental LSH service semantics: a near-dup pair surfaces in
    the micro-batch where its LATER member arrives, exactly once, and
    the union over batches equals the batch pairing."""
    from siddhi_operator_spark.pipeline import dedup as D
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "unrelated text one here"),
        (3, "alpha beta gamma delta"),   # dup of 1, later batch
        (4, "other filler words two"),
        (5, "delta gamma beta alpha"),   # token-set dup of 1&3, last batch
        (6, "completely different six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 3)  # batches [1,2] [3,4] [5,6]
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = str(tmp_path / "state")
    q = SD.incremental_neardup_sink(s, state, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    got = SD.read_pairs(spark, state)
    pairs = sorted((r.id_a, r.id_b, r.n_sig_match) for r in got.collect())
    batch = sorted(
        (r.id_a, r.id_b, r.n_sig_match)
        for r in D.lsh_candidate_pairs(
            D.minhash_signature(docs, 32), max_bucket=None
        ).collect()
    )
    assert pairs == batch
    assert [p[:2] for p in pairs] == [(1, 3), (1, 5), (3, 5)]
    assert len(pairs) == len(set(p[:2] for p in pairs))  # emitted once


def test_streaming_incremental_neardup_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash the last epoch is
    REPLAYED. The per-epoch overwrite layout must make that replay
    idempotent — no duplicated pairs, no duplicated signature/band
    state multiplying later joins. Simulate the crash by deleting the
    newest commit marker from the checkpoint and restarting. A second
    stream (fresh checkpoint) on the used state dir must then fail
    loudly and leave the state as it was."""
    import os

    from siddhi_operator_spark.pipeline import dedup as D
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "unrelated text one here"),
        (3, "alpha beta gamma delta"),
        (4, "delta gamma beta alpha"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 2)  # batches [1,2] [3,4]
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q = SD.incremental_neardup_sink(s, state, ckpt)
    q.processAllAvailable()
    q.stop()

    # crash simulation: drop the newest commit marker → on restart the
    # engine re-runs that epoch's foreachBatch with the same epoch_id
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"  # stale checksum would
    if os.path.exists(crc):  # read as a concurrent writer on rewrite
        os.remove(crc)
    s2 = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q2 = SD.incremental_neardup_sink(s2, state, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = sorted(
        (r.id_a, r.id_b, r.n_sig_match)
        for r in SD.read_pairs(spark, state).collect()
    )
    want = sorted(
        (r.id_a, r.id_b, r.n_sig_match)
        for r in D.lsh_candidate_pairs(
            D.minhash_signature(docs, 32), max_bucket=None
        ).collect()
    )
    assert got == want  # exactly-once despite the replay
    # state must not be duplicated either (it would multiply later joins)
    sig_ids = [
        r.doc_id
        for r in sinks.EpochStore(spark, f"{state}/sigs").read().collect()
    ]
    assert sorted(sig_ids) == [1, 2, 3, 4]

    # a second stream (fresh checkpoint) on the used state dir must fail
    # loudly, not overwrite the first stream's epochs
    s3 = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q3 = SD.incremental_neardup_sink(s3, state, str(tmp_path / "ckpt_fresh"))
    with pytest.raises(Exception, match="below the latest committed"):
        q3.processAllAvailable()
    q3.stop()
    assert sorted(
        (r.id_a, r.id_b, r.n_sig_match)
        for r in SD.read_pairs(spark, state).collect()
    ) == want


def test_streaming_incremental_neardup_property_random(spark, tmp_path):
    """Randomized replay parity: for random corpora (dup clusters,
    token shuffles, unique docs) split into random batch counts, the
    streaming service's accumulated pairs must equal the batch
    lsh_candidate_pairs output exactly."""
    import random

    from siddhi_operator_spark.pipeline import dedup as D
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(12)]
    for trial in range(3):
        rows = []
        for doc_id in range(rng.randint(6, 14)):
            if rows and rng.random() < 0.4:  # near-dup of an earlier doc
                base = rng.choice(rows)[1].split()
                rng.shuffle(base)
                if rng.random() < 0.5:
                    base = base + [rng.choice(vocab)]
                rows.append((doc_id, " ".join(base)))
            else:
                rows.append(
                    (doc_id, " ".join(rng.choices(vocab, k=rng.randint(3, 8))))
                )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        d = str(tmp_path / f"replay{trial}")
        n_splits = rng.randint(1, min(4, len(rows)))
        SRC.replay_dir(docs, d, "doc_id", n_splits)
        s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
        state = str(tmp_path / f"state{trial}")
        q = SD.incremental_neardup_sink(s, state, str(tmp_path / f"ck{trial}"))
        q.processAllAvailable()
        q.stop()
        got = sorted(
            map(tuple, SD.read_pairs(spark, state).collect())
        )
        want = sorted(
            map(
                tuple,
                D.lsh_candidate_pairs(
                    D.minhash_signature(docs, 32), max_bucket=None
                ).collect(),
            )
        )
        assert got == want, f"trial {trial} ({n_splits} splits)"


def test_streaming_line_dedup_retroactive_drop_equals_batch(spark, tmp_path):
    """Line-dedup service semantics: a line crossing min_docs in a
    LATER batch drops retroactively from the earlier doc too, each
    position emitted exactly once, and the read-face refold equals
    the batch operator output — also on empty and whitespace-only
    docs."""
    from siddhi_operator_spark.pipeline import text as X
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (1, "shared boiler plate line\nunique first content here"),
        (2, "totally unrelated text body"),
        (3, "unique third doc words\nshared boiler plate line"),  # makes 1's line shared
        (4, "shared boiler plate line"),  # already-shared at arrival
        (5, ""),  # degenerate text: empty
        (6, "   \n  "),  # degenerate text: whitespace-only lines
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 3)  # batches [1,2] [3,4] [5,6]
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = str(tmp_path / "state")
    q = SD.incremental_line_dedup_sink(s, state, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in SD.read_line_dedup(spark, state).collect()
    }
    want = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in X.dedup_lines(docs).collect()
    }
    assert got == want
    assert got[1] == (2, 1, "unique first content here")  # retroactive
    assert got[2] == (1, 0, "totally unrelated text body")
    assert got[4] == (1, 1, "")
    assert got[5] == (1, 0, "") and got[6] == (2, 0, "   \n  ")
    # each dropped position emitted exactly once across epochs
    drops = sinks.EpochStore(spark, f"{state}/drops").read().collect()
    assert len(drops) == len({(r.doc_id, r.idx) for r in drops}) == 3


def test_streaming_line_dedup_replay_idempotent(spark, tmp_path):
    """Crash-replay of the last epoch (commit marker deleted, query
    restarted from the same checkpoint) must not double-emit drops or
    duplicate the count/position state — same exactly-once layout
    contract as the near-dup service."""
    import os

    from siddhi_operator_spark.pipeline import text as X
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (1, "shared boiler plate line\nunique first content here"),
        (2, "totally unrelated text body"),
        (3, "unique third doc words\nshared boiler plate line"),
        (4, "shared boiler plate line"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q = SD.incremental_line_dedup_sink(s, state, ckpt)
    q.processAllAvailable()
    q.stop()

    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    s2 = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q2 = SD.incremental_line_dedup_sink(s2, state, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in SD.read_line_dedup(spark, state).collect()
    }
    want = {
        r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
        for r in X.dedup_lines(docs).collect()
    }
    assert got == want
    # counts state not duplicated (it would inflate totals forever)
    cnt = (
        sinks.EpochStore(spark, f"{state}/linecounts").read()
        .groupBy("h")
        .sum("nd")
        .collect()
    )
    assert max(r["sum(nd)"] for r in cnt) == 3  # the shared line: docs 1,3,4


def test_streaming_span_removal_retroactive_equals_batch(spark, tmp_path):
    """Span-removal service semantics: a winnow fingerprint crossing
    min_docs in a LATER batch masks the earlier doc's covered tokens
    retroactively, and the read-face refold equals the batch operator
    output exactly — also on empty and whitespace-only docs."""
    from siddhi_operator_spark.pipeline import curation as C
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    boiler = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {boiler} four five"),
        (2, "totally unrelated text body here now"),
        (3, f"{boiler} six seven eight nine ten"),  # makes 1's span shared
        (4, "short doc"),  # below k+w-1 tokens: never fingerprinted
        (5, ""),  # degenerate text: empty
        (6, "  \n\t "),  # degenerate text: whitespace only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 3)  # batches [1,2] [3,4] [5,6]
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = str(tmp_path / "state")
    q = SD.incremental_span_removal_sink(s, state, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in SD.read_span_removal(spark, state).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in C.remove_repeated_spans(docs).collect()
    }
    assert got == want
    assert got[1][1] > 0  # retroactive mask hit doc 1
    assert got[2] == (6, 0, "totally unrelated text body here now")
    assert got[4] == (2, 0, "short doc")
    assert got[5] == got[6] == (0, 0, "")


def test_streaming_span_removal_replay_idempotent(spark, tmp_path):
    """Crash-replay of the last epoch must not double-emit hits or
    duplicate fp-count state (which would inflate totals forever)."""
    import os

    from siddhi_operator_spark.pipeline import curation as C
    from siddhi_operator_spark.streaming import dedup as SD
    from siddhi_operator_spark.streaming import sources as SRC

    boiler = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {boiler} four five"),
        (2, "totally unrelated text body here now"),
        (3, f"{boiler} six seven eight nine ten"),
        (4, f"start {boiler} end plus filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q = SD.incremental_span_removal_sink(s, state, ckpt)
    q.processAllAvailable()
    q.stop()

    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    s2 = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    q2 = SD.incremental_span_removal_sink(s2, state, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in SD.read_span_removal(spark, state).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in C.remove_repeated_spans(docs).collect()
    }
    assert got == want
    cnt = (
        sinks.EpochStore(spark, f"{state}/fpcounts").read()
        .groupBy("fp")
        .sum("nd")
        .collect()
    )
    assert max(r["sum(nd)"] for r in cnt) == 3  # boiler fp: docs 1,3,4


def test_state_buckets_annotation_routes_length_window(spark, events_df):
    """`@app:stateBuckets('5')` opts QL length-window queries into the
    coarse-bucket state layout (streaming.windows.length_window with
    ``n_buckets``) through the front end — identical rows to the
    per-key default, and the routing itself is pinned (the bucketed
    plan carries the __bucket state key, the per-key plan does not)."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC

    base = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#window.length(3)
    select user_id, event_id, sum(value) as sv
    group by user_id
    insert into O;
    """
    results = {}
    for variant, app in (
        ("per_key", base),
        ("bucketed", "@app:stateBuckets('5')\n" + base),
    ):
        d = tempfile.mkdtemp(prefix="replay_lb_")
        SRC.replay_dir(events_df, d, "ts", 2)
        s = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
        outs = run_app_streaming(app, {"E": s})
        plan = outs["O"]._jdf.queryExecution().analyzed().toString()
        if variant == "bucketed":
            assert "__bucket" in plan  # routed to the coarse layout
        else:
            assert "__bucket" not in plan
        name = f"lb_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        results[variant] = sorted(
            (r.user_id, r.event_id, round(r.sv, 6))
            for r in spark.table(name).collect()
        )
    assert results["per_key"] == results["bucketed"]
    assert results["per_key"]


def test_state_buckets_annotation_routes_expression_window(spark, events_df):
    """`@app:stateBuckets('5')` opts QL `#window.expression` queries
    into the coarse-bucket retain-while layout (streaming.windows.
    expression_window with ``n_buckets``) through the front end —
    identical rows to the per-key default, routing pinned by the
    state key in the plan (only the bucketed plan carries
    __bucket)."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC

    base = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#window.expression('sum(value) <= 120')
    select user_id, event_id, count() as win_n, sum(value) as win_sum
    group by user_id
    having win_n > 0
    insert into O;
    """
    results = {}
    for variant, app in (
        ("per_key", base),
        ("bucketed", "@app:stateBuckets('5')\n" + base),
    ):
        d = tempfile.mkdtemp(prefix="replay_eb_")
        SRC.replay_dir(events_df, d, "ts", 2)
        s = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
        outs = run_app_streaming(app, {"E": s})
        plan = outs["O"]._jdf.queryExecution().analyzed().toString()
        if variant == "bucketed":
            assert "__bucket" in plan
        else:
            assert "__bucket" not in plan
        name = f"eb_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        results[variant] = sorted(
            (r.user_id, r.event_id, r.win_n, round(r.win_sum, 6))
            for r in spark.table(name).collect()
        )
    assert results["per_key"] == results["bucketed"]
    assert results["per_key"]


def test_state_buckets_annotation_routes_reorder_akslack(spark, events_df):
    """`from E#reorder:akslack(ts)` routes to the streaming adaptive
    K-slack through the front end (r10 QL surface); with
    `@app:stateBuckets('5')` it lands on the coarse-bucket layout —
    identical rows, routing pinned by the state key in the plan."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC

    base = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#reorder:akslack(ts)
    select event_id, user_id, ts, late_us, slack_us
    group by user_id
    insert into O;
    """
    results = {}
    for variant, app in (
        ("per_key", base),
        ("bucketed", "@app:stateBuckets('5')\n" + base),
    ):
        d = tempfile.mkdtemp(prefix="replay_ra_")
        SRC.replay_dir(events_df, d, "ts", 2)
        s = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
        outs = run_app_streaming(app, {"E": s})
        plan = outs["O"]._jdf.queryExecution().analyzed().toString()
        assert ("__bucket" in plan) == (variant == "bucketed")
        name = f"ra_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        results[variant] = sorted(map(tuple, spark.table(name).collect()))
        # key cast back to the source attribute type
        assert str(spark.table(name).schema["user_id"].dataType) == "LongType()"
    assert results["per_key"] == results["bucketed"]
    assert results["per_key"]


def test_ql_reorder_kslack_streaming_drops_like_batch(spark, events_df):
    """`#reorder:kslack(ts, K)` in streaming mode enforces the DROP
    contract in-operator (ADVICE r10: the earlier watermark
    passthrough emitted every event, so the same app text yielded
    different row sets across runners) — a single-batch replay is
    row-identical to the batch runner / `kslack_batch`."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import reorder, sources as SRC

    base = """
    define stream E (event_id long, ts string, user_id long, event_type string, value double);
    from E#reorder:kslack(ts, 600000)
    select event_id, user_id, ts, late_us, slack_us
    group by user_id
    insert into O;
    """
    # disorder the fixture (shift every even event 20 min early) so
    # the 10-minute slack actually drops rows on both sides
    jittered = events_df.withColumn(
        "ts",
        F.when(
            F.col("event_id") % 2 == 0,
            F.col("ts") - F.expr("INTERVAL 20 MINUTES"),
        ).otherwise(F.col("ts")),
    )
    want = sorted(
        (r.event_id, r.user_id, r.ts, r.late_us, r.slack_us)
        for r in reorder.kslack_batch(
            jittered, ts="ts", key="user_id", slack_ms=600000
        ).collect()
    )
    for app in (base, "@app:stateBuckets('5')\n" + base):
        d = tempfile.mkdtemp(prefix="replay_rk_")
        SRC.replay_dir(jittered, d, "ts", 1)  # single trigger: the
        # lateness seam (arrival order restarts per micro-batch) is
        # the same one the akslack twins pin with expect_single_batch
        s = SRC.file_stream(spark, d, events_df.schema)
        outs = run_app_streaming(app, {"E": s})
        plan = outs["O"]._jdf.queryExecution().analyzed().toString()
        assert ("__bucket" in plan) == app.startswith("@app")
        name = f"rk_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        got = sorted(
            (r.event_id, r.user_id, r.ts, r.late_us, r.slack_us)
            for r in spark.table(name).collect()
        )
        assert got == want
        assert got  # and the drop contract actually bites here
        assert len(got) < events_df.count()


def test_ql_reorder_kslack_arg_validation(spark, events_df):
    """`#reorder:kslack(ts)` without K and a non-numeric K raise
    descriptive ValueErrors in BOTH runners (ADVICE r10: these were a
    bare IndexError / unrouted int() ValueError)."""
    import pytest

    from siddhi_operator_spark.siddhiql.builder import (
        run_app,
        run_app_streaming,
    )

    head = "define stream E (event_id long, ts string, user_id long, event_type string, value double);"
    for bad, msg in (
        ("#reorder:kslack(ts)", "second argument"),
        ("#reorder:kslack(ts, 'soon')", "integer millisecond"),
    ):
        app = (
            f"{head}\nfrom E{bad} select event_id, user_id, ts, "
            "late_us, slack_us group by user_id insert into O;"
        )
        with pytest.raises(ValueError, match=msg):
            run_app(app, {"E": events_df})
        with pytest.raises(ValueError, match=msg):
            run_app_streaming(app, {"E": events_df})


def test_streaming_shard_assign_equals_batch(spark, tmp_path):
    """Shard-assignment service semantics: docs arriving across
    micro-batches get the SAME final global shard ids as the batch
    operator — the per-source running totals stitch the cumsum across
    the batch boundary exactly."""
    from siddhi_operator_spark.pipeline import curation as C
    from siddhi_operator_spark.streaming import curation as SC
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (i, " ".join(["w"] * (3 + (i * 7) % 5)), "s%d" % (i % 3))
        for i in range(1, 31)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    offsets = C.shard_offsets(docs)
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = str(tmp_path / "state")
    q = SC.incremental_shard_sink(
        s, state, str(tmp_path / "ckpt"), offsets, budget=8
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.shard_id)
        for r in SC.read_shard_assign(spark, state).collect()
    }
    want = {
        (r.source, r.doc_id): (r.n_tokens, r.shard_id)
        for r in C.shard_assign(docs, budget=8, offsets=offsets).collect()
    }
    assert got == want and len(got) == 30
    # state really is per-epoch additive: three committed epochs
    assert sinks.EpochStore(spark, f"{state}/running").versions() == [0, 1, 2]


def test_streaming_shard_assign_replay_idempotent(spark, tmp_path):
    """Crash-replay of the last epoch (commit marker deleted, restart
    from the same checkpoint) must not shift any shard id — the
    per-epoch overwrite layout recomputes the epoch byte-identically."""
    import os

    from siddhi_operator_spark.pipeline import curation as C
    from siddhi_operator_spark.streaming import curation as SC
    from siddhi_operator_spark.streaming import sources as SRC

    rows = [
        (i, " ".join(["w"] * (2 + (i * 5) % 7)), "s%d" % (i % 2))
        for i in range(1, 21)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    offsets = C.shard_offsets(docs)
    d = str(tmp_path / "replay")
    SRC.replay_dir(docs, d, "doc_id", 2)
    schema = docs.schema
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    s = SRC.file_stream(spark, d, schema, max_files_per_trigger=1)
    q = SC.incremental_shard_sink(s, state, ckpt, offsets, budget=8)
    q.processAllAvailable()
    q.stop()
    # crash-replay the last epoch: delete its streaming commit marker
    # and restart from the same checkpoint (the at-least-once path)
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    s2 = SRC.file_stream(spark, d, schema, max_files_per_trigger=1)
    q2 = SC.incremental_shard_sink(s2, state, ckpt, offsets, budget=8)
    q2.processAllAvailable()
    q2.stop()
    got = {
        (r.source, r.doc_id): r.shard_id
        for r in SC.read_shard_assign(spark, state).collect()
    }
    want = {
        (r.source, r.doc_id): r.shard_id
        for r in C.shard_assign(docs, budget=8, offsets=offsets).collect()
    }
    assert got == want and len(got) == 20


def test_replay_dir_per_split_row_order(spark, tmp_path):
    """Pinned per the r15 verdict: `replay_dir`'s single dynamic-
    partition write (r15 OPT) relies on the parquet writer preserving
    the ntile window's per-partition row order — each batch file must
    hold its rows in ascending split_col order (the old per-split
    sorted writes guaranteed this by construction). Assert the FILE
    CONTENT, not the Spark read: pyarrow reads the rows in physical
    order, so a writer change that reorders rows fails here."""
    import glob

    import pyarrow.parquet as pq

    rows = [(int(v),) for v in [7, 1, 9, 3, 5, 2, 8, 6, 4, 10, 12, 11]]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    d = str(tmp_path / "replay_order")
    sources.replay_dir(df, d, "k", 3)
    files = sorted(glob.glob(f"{d}/batch_*.parquet"))
    assert len(files) == 3
    prev_max = None
    seen = []
    for f in files:
        vals = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert vals == sorted(vals), f"{f}: rows not in split-col order"
        if prev_max is not None:
            assert vals[0] >= prev_max, f"{f}: split tiling broken"
        prev_max = vals[-1]
        seen.extend(vals)
    assert sorted(seen) == [r[0] for r in sorted(rows)]


def test_derived_state_partitions(spark, monkeypatch):
    """r16 OPT (guide §5): the state-partition pick is DERIVED from the
    state-size estimate — small state collapses to few stores (the
    per-store open/commit overhead floor), huge state saturates at the
    session's initialPartitionNum ceiling (production unchanged at
    corpus scale). Measured on the five stream-stream join rows
    (fresh-process alternated A/B, fingerprints identical): 1.5-2.9x,
    state commit time 143-331k ms -> ~1k ms."""
    from pyspark.sql.streaming.query import StreamingQuery

    from siddhi_operator_spark.streaming import derived_state_partitions

    ceiling = int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )
    assert derived_state_partitions(spark, 1000) == 1
    assert derived_state_partitions(spark, 65537) == 2
    assert derived_state_partitions(spark, 10**12) == ceiling

    # _materialize restores the session conf right after start(): the
    # query snapshots the conf when it starts, so it still runs on the
    # derived partition count while the session is already restored
    from siddhi_operator_spark.suite import streaming_suite as SS

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "2"
    seen = {}
    drain = StreamingQuery.processAllAvailable

    def spy(q):
        seen["conf"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["query"] = q
        return drain(q)

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", spy)
    s = _stream_events(spark, spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 1, "click", 1.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")), n_splits=1)
    SS._materialize(
        s.groupBy("user_id").count(), "complete", state_partitions=2
    )
    assert seen["conf"] == prev
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    stores = {
        op["numStateStoreInstances"]
        for p in seen["query"].recentProgress
        if p["numInputRows"] > 0
        for op in p["stateOperators"]
    }
    assert stores == {2}
