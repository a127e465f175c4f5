"""Streaming extras: Misra-Gries heavy hitters, sort-window top-k
retention, rate-limit first/last, kslack watermark, error-handling
dead letter."""

from __future__ import annotations

import datetime
import itertools
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest

from siddhi_operator_spark.streaming import frequent as FR
from siddhi_operator_spark.streaming import ratelimit as RL
from siddhi_operator_spark.streaming import reorder, sinks, sources


# key-column inputs (SQL over the input) for the per-key vs bucketed
# layout tests: the fixture's keys, an all-NULL key column, one hot key
_DEGENERATE_KEYS = {
    "fixture": "user_id",
    "null_key": "CAST(NULL AS BIGINT)",
    "hot_key": "CAST(7 AS BIGINT)",
}


def _stream(spark, df, n_splits=2):
    d = tempfile.mkdtemp(prefix="replay_x_")
    sources.replay_dir(df, d, "ts", n_splits)
    return sources.file_stream(spark, d, df.schema, max_files_per_trigger=1)


def _with_null_key(spark, df, key):
    """``df`` plus event 11: user 1 clicks at 00:30, with ``key`` NULL."""
    extra = spark.createDataFrame(
        [(11, datetime.datetime(2024, 1, 1, 0, 30), 1, "click", 1.0)], df.schema
    ).withColumn(key, F.lit(None).cast(df.schema[key].dataType))
    return df.unionByName(extra)


def _run(stream, mode="append"):
    name = f"x_{uuid.uuid4().hex[:8]}"
    q = sinks.memory_sink(stream, name, output_mode=mode)
    q.processAllAvailable()
    q.stop()
    return name


def test_misra_gries_unit():
    sketch: dict[str, int] = {}
    for x in ["a", "a", "a", "b", "b", "c", "d"]:
        FR.misra_gries(sketch, x, 2)
    # 'a' must survive (true count 3 > m/(k+1))
    assert "a" in sketch


def test_frequent_stream(spark, events_df):
    s = _stream(spark, _with_null_key(spark, events_df, "event_type"), n_splits=2)
    out = FR.frequent_stream(s, 2, key="event_type", item_col="user_id")
    name = _run(out)
    rows = spark.sql(
        f"select * from {name} order by batch_seq desc"
    ).collect()
    # the NULL event_type is its own group, emitted as NULL
    assert {r.item for r in rows if r.key is None} == {"1"}
    assert "None" not in {r.key for r in rows}
    # final sketch for 'click': user 1 has 4 clicks, user 2 has 1 →
    # user 1 must be a surviving candidate in the last batch's emission
    last_seq = max(r.batch_seq for r in rows if r.key == "click")
    click_items = {
        r.item for r in rows if r.key == "click" and r.batch_seq == last_seq
    }
    assert "1" in click_items


def test_sort_window_stream(spark, events_df):
    s = _stream(spark, _with_null_key(spark, events_df, "user_id"), n_splits=2)
    out = FR.sort_window_stream(s, 2, key="user_id", sort_col="value")
    name = _run(out)
    rows = spark.sql(f"select * from {name}").collect()
    # the NULL user_id is its own group, emitted as NULL
    assert {(r.rank, r.item_id) for r in rows if r.key is None} == {(1, 11)}
    assert "None" not in {r.key for r in rows}
    last_seq = max(r.batch_seq for r in rows if r.key == "1")
    final = sorted(
        (r.rank, r.item_id)
        for r in rows
        if r.key == "1" and r.batch_seq == last_seq
    )
    # user 1 values: 10,5,100,7,8,9 → top-2 = events 3 (100) and 1 (10)
    assert final == [(1, 3), (2, 1)]


def test_ratelimit_first_last_stream(spark, events_df):
    s = _stream(spark, events_df, n_splits=2)
    first = RL.first_every_stream(
        s, "ts", "1 hour", watermark="0 seconds", keys=["user_id"]
    )
    name = _run(first, "append")
    got = {
        (r.bucket.isoformat(), r.user_id): r.event_id
        for r in spark.sql(f"select * from {name}").collect()
    }
    # hour 0 for user 1: first event is id 1 (00:00:01)
    assert got.get(("2024-01-01T00:00:00", 1)) == 1

    s2 = _stream(spark, events_df, n_splits=2)
    last = RL.last_every_stream(
        s2, "ts", "1 hour", watermark="0 seconds", keys=["user_id"]
    )
    name2 = _run(last, "append")
    got2 = {
        (r.bucket.isoformat(), r.user_id): r.event_id
        for r in spark.sql(f"select * from {name2}").collect()
    }
    assert got2.get(("2024-01-01T00:00:00", 1)) == 3  # last in hour 0


def test_kslack_is_watermark(spark, events_df):
    s = _stream(spark, events_df)
    out = reorder.kslack(s, "ts", "2 minutes")
    # watermark annotation present in the logical plan
    assert "EventTimeWatermark" in out._jdf.queryExecution().logical().toString()


def test_dead_letter_on_error(spark, events_df, tmp_path):
    s = _stream(spark, events_df, n_splits=2)
    dl = str(tmp_path / "dead")

    def failing(batch, epoch_id):
        raise RuntimeError("sink down")

    q = (
        s.writeStream.foreachBatch(
            sinks.dead_letter_foreach_batch(failing, dl)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    dead = spark.read.parquet(dl)
    assert dead.count() == events_df.count()
    assert "_epoch" in dead.columns


def test_lossy_counting_stream(spark, events_df):
    s = _stream(spark, _with_null_key(spark, events_df, "event_type"), n_splits=2)
    # support 0.5, error 0.1 → emit items with count ≥ 0.4·N per key
    out = FR.lossy_counting_stream(
        s, support=0.5, error=0.1, key="event_type", item_col="user_id"
    )
    name = _run(out)
    rows = spark.sql(f"select * from {name}").collect()
    # the NULL event_type is its own group, emitted as NULL
    assert {(r.item, r.n_seen) for r in rows if r.key is None} == {("1", 1)}
    assert "None" not in {r.key for r in rows}
    # clicks: user 1 has 4/5, user 2 has 1/5 → only user 1 ≥ 0.4·N in
    # the final emission
    last_seq = max(r.batch_seq for r in rows if r.key == "click")
    final = {r.item for r in rows if r.key == "click" and r.batch_seq == last_seq}
    assert final == {"1"}


def test_lossy_counting_prunes_state(spark):
    # 1 heavy item + many singletons: sketch must stay ≪ distinct count
    rows = [(i, "2024-01-01 00:00:%02d" % (i % 60), "k", 
             "hot" if i % 2 == 0 else f"rare{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "i long, ts string, k string, item string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    s = _stream(spark, df, n_splits=1)
    out = FR.lossy_counting_stream(s, support=0.4, error=0.05, key="k", item_col="item")
    name = _run(out)
    got = spark.sql(f"select * from {name}").collect()
    last_seq = max(r.batch_seq for r in got)
    final = [r for r in got if r.batch_seq == last_seq]
    # only the heavy hitter passes the support threshold
    assert {r.item for r in final} == {"hot"}
    assert all(r.count_lb >= 0.35 * r.n_seen for r in final)


def test_streaming_ql_construct_coverage(spark, events_df):
    """One pass over streaming-runner constructs probed in round 4:
    delay window, externalTimeBatch, having, table membership, count
    patterns — each must run and match its batch twin's row count."""
    import tempfile
    import uuid

    from siddhi_operator_spark.siddhiql import run_app
    from siddhi_operator_spark.siddhiql.builder import run_app_streaming
    from siddhi_operator_spark.streaming import sources as SRC

    S = (
        "define stream E (event_id long, ts string, user_id long, "
        "event_type string, value double);"
    )
    vip = spark.createDataFrame([(1, "g"), (2, "g")], "user_id long, tier string")
    cases = [
        (S + "from E#window.delay(5 min) select event_id, ts insert into O;", "append"),
        (S + "from E#window.externalTimeBatch(ts, 1 hour) select count() as n group by event_type insert into O;", "complete"),
        (S + "define table Vip (user_id long, tier string); from E[user_id in Vip] select event_id insert into O;", "append"),
        (S + "from every e=E[event_type=='click']<2:2> select e[0].event_id as a, e[last].event_id as b insert into O;", "append"),
    ]
    for app, mode in cases:
        srcs = {"E": events_df}
        if "Vip" in app:
            srcs["Vip"] = vip
        want = run_app(app, dict(srcs))["O"].count()
        d = tempfile.mkdtemp(prefix="replay_cov_")
        SRC.replay_dir(events_df, d, "ts", 2)
        srcs["E"] = SRC.file_stream(spark, d, events_df.schema, max_files_per_trigger=1)
        outs = run_app_streaming(app, srcs)
        name = f"cov_{uuid.uuid4().hex[:8]}"
        q = (
            outs["O"].writeStream.format("memory")
            .queryName(name).outputMode(mode).start()
        )
        q.processAllAvailable()
        q.stop()
        assert spark.table(name).count() == want, app[:80]


def test_debezium_stream_equals_batch(spark, tmp_path):
    """parse_debezium is pure Catalyst, so the SAME decode must yield
    identical rows over readStream (tailing a change-log dir) as over
    spark.read (backfill) — the batch≡stream contract of the CDC
    source."""
    import json as _json
    import uuid

    from siddhi_operator_spark.siddhiql.model import StreamDef
    from siddhi_operator_spark.sources.cdc_source import parse_debezium

    lines = [
        _json.dumps(
            {
                "payload": {
                    "op": "u" if i % 3 else "d",
                    "before": {"id": i, "v": i * 1.5} if i % 3 == 0 else None,
                    "after": {"id": i, "v": i * 1.5} if i % 3 else None,
                    "ts_ms": 1000 + i,
                }
            }
        )
        for i in range(30)
    ]
    log_dir = tmp_path / "cdclog"
    log_dir.mkdir()
    (log_dir / "part-0.txt").write_text("\n".join(lines) + "\n")

    stream_def = StreamDef(
        name="T", attributes=[("id", "long"), ("v", "double")], annotations=[]
    )
    batch = parse_debezium(spark.read.text(str(log_dir)), stream_def)

    s = parse_debezium(spark.readStream.text(str(log_dir)), stream_def)
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (
        s.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(map(tuple, spark.table(name).collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_length_window_bucketed_equals_per_key(spark, tmp_path):
    """The coarse-bucket state layout of the streaming length window
    must emit the same rows as the per-key layout across multiple
    micro-batches (the per-group-overhead amortization must not change
    semantics) — also on degenerate keys: an all-NULL key column (one
    NULL-keyed segment, emitted as NULL, never the string 'None') and
    one hot key. Sums compare under the engine's rounding contract —
    the bucket-wide vectorized prefix scan accumulates in a different
    FP order (~1e-9 relative), which the suite's 4-decimal epsilon
    rounding absorbs by design."""
    import uuid

    from siddhi_operator_spark.catalog import load_events_stream
    from siddhi_operator_spark.streaming import windows as SW

    outs = {}
    for (label, key_col), (variant, buckets) in itertools.product(
        _DEGENERATE_KEYS.items(), (("per_key", None), ("bucketed", 7))
    ):
        s = load_events_stream(spark, "/root/testdata/sf0.001")
        win = SW.length_window(
            s.withColumn("user_id", F.expr(key_col)), 5, "user_id",
            n_buckets=buckets,
        )
        name = f"lw_{variant}_{uuid.uuid4().hex[:6]}"
        q = (
            win.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        outs[label, variant] = sorted(
            (r["key"], r["event_id"], r["ts"], r["n_in_window"],
             round(r["sum_value"], 6))
            for r in spark.table(name).select(
                "key", "event_id", "ts", "n_in_window", "sum_value"
            ).collect()
        )
    for label in _DEGENERATE_KEYS:
        assert outs[label, "per_key"] == outs[label, "bucketed"], label
        assert len(outs[label, "per_key"]) > 0, label
    assert {r[0] for r in outs["null_key", "per_key"]} == {None}
    assert max(r[3] for r in outs["hot_key", "per_key"]) == 5


def test_cep_nfa_bucketed_equals_per_key(spark):
    """The coarse-bucket NFA state layout must produce the identical
    match set as the per-key layout (one kernel, two groupings; this
    pins the state (de)serialization and segment routing) — also on
    an all-NULL key column (matches keyed NULL) and one hot key."""
    import uuid

    from siddhi_operator_spark.catalog import load_events_stream
    from siddhi_operator_spark.streaming import cep

    outs = {}
    for (label, key_col), (variant, buckets) in itertools.product(
        _DEGENERATE_KEYS.items(), (("per_key", None), ("bucketed", 7))
    ):
        s = load_events_stream(spark, "/root/testdata/sf0.001")
        out = cep.pattern_nfa(
            s.withColumn("user_id", F.expr(key_col)),
            key="user_id",
            step_predicates=[
                "event_type = 'signup'",
                "event_type = 'purchase'",
            ],
            within_seconds=3600,
            state_buckets=buckets,
        )
        name = f"nfa_{variant}_{uuid.uuid4().hex[:6]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        outs[label, variant] = sorted(map(tuple, spark.table(name).collect()))
    for label in _DEGENERATE_KEYS:
        assert outs[label, "per_key"] == outs[label, "bucketed"], label
        assert len(outs[label, "per_key"]) > 0, label
    assert {r[0] for r in outs["null_key", "per_key"]} == {None}


def test_snapshot_every_stream_idle_key_ticks(spark):
    """The distinctive snapshot behavior: a key with NO new events
    still ticks (forward-filled) via the event-time timeout — user 1
    stops at 00:30 but must keep emitting its last value for every
    later closed bucket; user 2's late event updates its own carry."""
    rows = [
        (1, "2024-01-01 00:10:00", 10, 1.0),
        (1, "2024-01-01 00:30:00", 11, 2.0),
        (2, "2024-01-01 00:20:00", 12, 5.0),
        (2, "2024-01-01 02:10:00", 13, 7.0),
        # sentinel far ahead advances the watermark so hourly buckets
        # 0..2 all close (same trick as streaming_cep_absence)
        (3, "2024-01-01 09:00:00", 99, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = _stream(spark, df, n_splits=2)
    out = RL.snapshot_every_stream(
        s, "ts", "1 hour", "10 minutes", keys=("user_id",),
        tiebreak="event_id", value_col="value",
    )
    name = _run(out)
    got = {
        (r.user_id, str(r.bucket)): r.value
        for r in spark.table(name).collect()
    }
    # user 1: bucket 0 → last value 2.0, then forward-filled ticks
    assert got[(1, "2024-01-01 00:00:00")] == 2.0
    assert got[(1, "2024-01-01 01:00:00")] == 2.0  # idle tick
    assert got[(1, "2024-01-01 02:00:00")] == 2.0  # idle tick
    # user 2: bucket 0 → 5.0, idle bucket 1 → 5.0, bucket 2 → 7.0
    assert got[(2, "2024-01-01 00:00:00")] == 5.0
    assert got[(2, "2024-01-01 01:00:00")] == 5.0
    assert got[(2, "2024-01-01 02:00:00")] == 7.0
    # no pre-first-event rows
    assert (2, "2023-12-31 23:00:00") not in got


def test_snapshot_every_stream_tiebreak_same_ts(spark):
    """Two events on the same timestamp: the higher tiebreak id wins
    the snapshot (ORDER BY ts DESC, event_id DESC contract)."""
    rows = [
        (1, "2024-01-01 00:10:00", 20, 1.0),
        (1, "2024-01-01 00:10:00", 21, 9.0),
        (3, "2024-01-01 05:00:00", 99, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = _stream(spark, df, n_splits=1)
    out = RL.snapshot_every_stream(s, "ts", "1 hour", "10 minutes")
    name = _run(out)
    got = {
        (r.user_id, str(r.bucket)): r.value
        for r in spark.table(name).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == 9.0


def test_expression_window_stream_evicts_and_busts(spark):
    """Retain-while state machine: front eviction when the budget
    breaks, empty-window suppression when a single arrival busts the
    limit alone (it stays resident as a later-window candidate), state
    carried across micro-batches; a negative budget fails loudly."""
    from siddhi_operator_spark.streaming import windows as SW

    rows = [  # (user, ts, id, value) — limit 100.00 (cents 10000)
        (1, "2024-01-01 00:01:00", 1, 60.0),
        (1, "2024-01-01 00:02:00", 2, 60.0),   # evicts id1 → {2}
        (1, "2024-01-01 00:03:00", 3, 30.0),   # {2,3} = 90
        (2, "2024-01-01 00:01:00", 4, 150.0),  # busts alone → no emit
        (2, "2024-01-01 00:02:00", 5, 30.0),   # {5} = 30 (4 evicted)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = _stream(spark, df, n_splits=2)
    out = SW.expression_window(s, limit=10000, key="user_id")
    name = _run(out)
    got = {
        r.event_id: (r.win_n, r.win_sum)
        for r in spark.table(name).filter("win_n > 0").collect()
    }
    assert got[1] == (1, 60.0)
    assert got[2] == (1, 60.0)   # id1 evicted
    assert got[3] == (2, 90.0)
    assert 4 not in got          # empty window: batch twin emits no row
    assert got[5] == (1, 30.0)
    # a negative budget breaks the monotone prefix sum: a loud error
    neg = df.withColumn("value", F.when(F.col("event_id") == 3, -1.0)
                        .otherwise(F.col("value")))
    with pytest.raises(Exception, match="non-negative"):
        _run(SW.expression_window(
            _stream(spark, neg, n_splits=1), limit=10000, key="user_id"
        ))


def test_expression_window_bucketed_equivalence(spark):
    """The bucketed retain-while layout (searchsorted over prefix-sum
    budgets) must emit exactly the per-key layout's rows — including
    own-budget busts and cross-batch carry — on a random multi-key
    multi-batch workload, and on the same workload with an all-NULL
    key column and with one hot key."""
    import random

    from siddhi_operator_spark.streaming import windows as SW

    rng = random.Random(41)
    rows = []
    eid = 0
    for _ in range(120):
        eid += 1
        rows.append(
            (
                rng.randint(1, 9),
                f"2024-01-01 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00",
                eid,
                round(rng.uniform(0.0, 80.0), 2),
            )
        )
    base = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def run_op(df, n_buckets):
        s = _stream(spark, df, n_splits=3)
        name = _run(
            SW.expression_window(
                s, limit=10000, key="user_id", n_buckets=n_buckets
            )
        )
        return sorted(
            (r.key, r.event_id, r.win_n, r.win_sum)
            for r in spark.table(name).collect()
        )

    for label, key_col in _DEGENERATE_KEYS.items():
        df = base.withColumn("user_id", F.expr(key_col))
        per_key = run_op(df, None)
        assert per_key == run_op(df, 4), label
        assert len(per_key) == 120, label
        if label == "null_key":
            assert {r[0] for r in per_key} == {None}


def test_snapshot_every_stream_property_random_vs_batch(spark):
    """Randomized replay parity for the snapshot rate limiter: for
    random per-key event sets split into random batch counts, every
    emitted tick must equal the BATCH snapshot_every row for that
    (bucket, key) — and every batch row whose bucket closed under the
    final watermark must have been emitted."""
    import random

    from siddhi_operator_spark.operators.ratelimit import snapshot_every
    from siddhi_operator_spark.streaming import ratelimit as RL

    rng = random.Random(29)
    for trial in range(3):
        rows = []
        eid = 0
        for _ in range(rng.randint(10, 30)):
            eid += 1
            rows.append(
                (
                    rng.randint(1, 4),
                    f"2024-01-01 {rng.randint(0, 20):02d}:"
                    f"{rng.randint(0, 59):02d}:00",
                    eid,
                    round(rng.uniform(1.0, 9.0), 2),
                )
            )
        df = spark.createDataFrame(
            rows, "user_id long, ts string, event_id long, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        s = _stream(spark, df, n_splits=rng.randint(1, 3))
        out = RL.snapshot_every_stream(
            s, "ts", "1 hour", "10 minutes", keys=("user_id",)
        )
        name = _run(out)
        got = {
            (r.user_id, r.bucket): r.value for r in spark.table(name).collect()
        }
        batch = {
            (r.user_id, r.bucket): r.value
            for r in snapshot_every(
                df, "ts", "1 hour", keys=["user_id"], tiebreak="event_id"
            )
            .select("bucket", "user_id", "value")
            .collect()
        }
        # every streamed tick matches the batch scaffold exactly
        for k, v in got.items():
            assert batch[k] == v, (trial, k)
        # completeness: batch buckets strictly below the max emitted
        # bucket per key must all have streamed (watermark passed them)
        if got:
            hi = max(b for (_, b) in got)
            want = {k for k in batch if k[1] < hi}
            assert want <= set(got), (trial, want - set(got))


def test_snapshot_every_stream_out_of_order_before_first_tick(spark):
    """An in-watermark event for a bucket EARLIER than anything seen so
    far (normal with an out-of-order source) must lower the first-tick
    anchor, not be silently dropped — the scaffold must still start at
    the key's true first bucket, matching the batch oracle."""
    from siddhi_operator_spark.streaming import ratelimit as RL

    rows = [
        # replay_dir splits by event_id → batch1=[id1], batch2=[id2],
        # batch3=[sentinel]; id2 is OLDER in event time than id1 but
        # inside the 2h watermark when it arrives
        (1, "2024-01-01 02:30:00", 1, 5.0),
        (1, "2024-01-01 01:50:00", 2, 3.0),
        (3, "2024-01-01 12:00:00", 9, 0.0),  # advances the watermark
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = tempfile.mkdtemp(prefix="snap_ooo_")
    sources.replay_dir(df, d, "event_id", 3)
    s = sources.file_stream(spark, d, df.schema, max_files_per_trigger=1)
    out = RL.snapshot_every_stream(s, "ts", "1 hour", "2 hours")
    name = _run(out)
    got = {
        (r.user_id, str(r.bucket)): r.value
        for r in spark.table(name).collect()
    }
    # first tick is the out-of-order event's bucket, with its value
    assert got[(1, "2024-01-01 01:00:00")] == 3.0
    # the newer event still wins its own and later buckets
    assert got[(1, "2024-01-01 02:00:00")] == 5.0
    assert got[(1, "2024-01-01 03:00:00")] == 5.0


def test_dead_letter_replay_is_idempotent(spark, events_df, tmp_path):
    """foreachBatch is at-least-once: a replayed FAILED epoch must
    overwrite its own dead-letter subdir, not double-append (r7
    state-idempotence audit)."""
    dl = str(tmp_path / "dead")

    def failing(batch, epoch_id):
        raise RuntimeError("sink down")

    wrapped = sinks.dead_letter_foreach_batch(failing, dl)
    wrapped(events_df, 7)
    n1 = spark.read.parquet(dl).count()
    wrapped(events_df, 7)  # replay of the same epoch
    assert spark.read.parquet(dl).count() == n1 == events_df.count()


def test_akslack_single_batch_equals_batch_twin(spark):
    """`reorder:akslack` streaming vs batch twin: a single-batch
    replay must be row-identical (same rank-based discrete quantile,
    same integer lateness arithmetic) — the property that lets the
    relational oracle prove the streaming path."""
    from siddhi_operator_spark.catalog import load, load_events_stream

    jit = F.expr(
        "ts - make_interval(0, 0, 0, 0, 0, 0, "
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
        "16, 10) AS BIGINT) % 86400)"
    ).alias("ts")
    batch_in = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", jit
    )
    expected = sorted(
        (r.event_id, str(r.user_id), r.ts, r.late_us, r.slack_us)
        for r in reorder.akslack_batch(batch_in, q_pct=90).collect()
    )
    assert expected, "jittered fixture must actually discriminate"
    assert any(r[3] > 0 for r in expected)  # real disorder survives
    s = load_events_stream(spark, "/root/testdata/sf0.001").select(
        "event_id", "user_id", jit
    )
    name = _run(reorder.akslack(s, q_pct=90))
    got = sorted(
        (r.event_id, r.key, r.ts, r.late_us, r.slack_us)
        for r in spark.table(name).collect()
    )
    assert got == expected


def test_akslack_adapts_across_batches(spark, tmp_path):
    """The slack re-derives per micro-batch from OBSERVED disorder
    (the 'alterable' in AlterableKSlack) and the running max carries
    across batches: an ordered second batch still sees lateness
    against the first batch's max, and the two batches derive
    different slacks."""
    rows = [
        # batch split on event_id: 1-4 | 5-8 (replay_dir splits sorted)
        (1, "2024-01-01 00:10:00", 1, "a", 1.0),
        (2, "2024-01-01 00:00:00", 1, "a", 1.0),   # 10 min late
        (3, "2024-01-01 00:10:01", 1, "a", 1.0),
        (4, "2024-01-01 00:09:00", 1, "a", 1.0),   # 61 s late vs e3
        (5, "2024-01-01 00:20:00", 1, "a", 1.0),
        (6, "2024-01-01 00:19:30", 1, "a", 1.0),   # 30 s late
        (7, "2024-01-01 00:21:00", 1, "a", 1.0),
        (8, "2024-01-01 00:05:00", 1, "a", 1.0),   # 16 min late (vs b1 max)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = tempfile.mkdtemp(prefix="akslack_")
    sources.replay_dir(df, d, "event_id", 2)
    s = sources.file_stream(spark, d, df.schema, max_files_per_trigger=1)
    name = _run(reorder.akslack(s, q_pct=75))
    got = {r.event_id: r for r in spark.table(name).collect()}
    # batch 1: latenesses [0, 600 s, 0, 61 s]; ceil(.75*4)=3rd smallest=61 s
    assert set(got) >= {1, 3, 4}
    assert 2 not in got  # 600 s > 61 s slack: dropped
    assert got[4].slack_us == 61_000_000
    # batch 2: run max carried (00:10:01): latenesses [0, 30s, 0, 16min];
    # 3rd smallest = 30 s -> event 8 dropped, event 6 kept at the NEW slack
    assert 8 not in got
    assert got[6].slack_us == 30_000_000  # slack adapted batch-to-batch
    assert got[6].late_us == 30_000_000
    assert set(got) == {1, 3, 4, 5, 6, 7}


def test_akslack_bucketed_equals_per_key(spark, tmp_path):
    """The coarse-bucket akslack layout (r10 ×100 measurement: the
    per-key layout's 150 k group calls dominated 24 s of wall) must be
    row-identical to per-key state across a MULTI-batch replay —
    running max carried per key inside the bucket arrays, quantile
    re-derived per (key, batch), same integer arithmetic — also with
    an all-NULL key column and with one hot key."""
    from siddhi_operator_spark.catalog import load

    jit = F.expr(
        "ts - make_interval(0, 0, 0, 0, 0, 0, "
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
        "16, 10) AS BIGINT) % 86400)"
    ).alias("ts")
    base = (
        load(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", jit)
    )
    for label, key_col in _DEGENERATE_KEYS.items():
        df = base.withColumn("user_id", F.expr(key_col))
        d = tempfile.mkdtemp(prefix="akslack_bkt_")
        sources.replay_dir(df, d, "event_id", 3)
        results = {}
        for variant, buckets in (("per_key", None), ("bucketed", 7)):
            s = sources.file_stream(
                spark, d, df.schema, max_files_per_trigger=1
            ).select("event_id", "user_id", "ts")
            name = _run(reorder.akslack(s, q_pct=90, n_buckets=buckets))
            results[variant] = sorted(
                (r.event_id, r.key, r.ts, r.late_us, r.slack_us)
                for r in spark.table(name).collect()
            )
        assert results["per_key"] == results["bucketed"], label
        assert results["per_key"], label
        assert any(r[3] > 0 for r in results["per_key"]), label
        if label == "null_key":
            assert {r[1] for r in results["per_key"]} == {None}


def test_kslack_bucketed_equals_per_key(spark, tmp_path):
    """`kslack_stateful` (the constant-K drop contract, r11) must be
    row-identical on the coarse-bucket and per-key state layouts
    across a MULTI-batch replay — same running-max carry, same
    constant slack, bucket arrays only change the state keying — also
    with an all-NULL key column and with one hot key."""
    from siddhi_operator_spark.catalog import load

    jit = F.expr(
        "ts - make_interval(0, 0, 0, 0, 0, 0, "
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
        "16, 10) AS BIGINT) % 86400)"
    ).alias("ts")
    base = (
        load(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", jit)
    )
    for label, key_col in _DEGENERATE_KEYS.items():
        df = base.withColumn("user_id", F.expr(key_col))
        d = tempfile.mkdtemp(prefix="kslack_bkt_")
        sources.replay_dir(df, d, "event_id", 3)
        results = {}
        for variant, buckets in (("per_key", None), ("bucketed", 5)):
            s = sources.file_stream(
                spark, d, df.schema, max_files_per_trigger=1
            ).select("event_id", "user_id", "ts")
            name = _run(
                reorder.kslack_stateful(
                    s, slack_ms=3_600_000, n_buckets=buckets
                )
            )
            results[variant] = sorted(
                (r.event_id, r.key, r.ts, r.late_us, r.slack_us)
                for r in spark.table(name).collect()
            )
        assert results["per_key"] == results["bucketed"], label
        assert results["per_key"], label
        # constant slack emitted, and the drop contract actually bites
        assert all(r[4] == 3_600_000_000 for r in results["per_key"])
        assert len(results["per_key"]) < df.count(), label
        if label == "null_key":
            assert {r[1] for r in results["per_key"]} == {None}


def test_derive_state_buckets_geometry():
    """Bucket-count derivation targets ~1.5 k keys/bucket (r11 — the
    regime both decade legs measured throughput-flat): the ×100
    fixture's 150 k keys land on the measured-good 128, the ×1000
    fixture's 1.5 M keys on 1024 (~1.5 k keys/bucket instead of the
    12 k that cost 36 % throughput), clamped to [16, 32768]."""
    d = reorder.derive_state_buckets
    assert d(150_000) == 128
    assert d(1_500_000) == 1024
    assert d(100) == 16            # floor: tiny key sets
    assert d(10**9) == 32768       # ceiling: shuffle-width bound
    with pytest.raises(ValueError):
        d(0)
    # akslack derives the bucket count from approx_keys when n_buckets
    # is omitted (neither = per-key state) — geometry only; row
    # identity is pinned above
    import inspect

    sig = inspect.signature(reorder.akslack)
    assert sig.parameters["n_buckets"].default is None
    assert "approx_keys" in sig.parameters
    # approx_keys=0 is a measurement error, not "use the default":
    # it must reach derive_state_buckets and raise there, for the
    # constant-K kslack delegate too (ADVICE r11)
    df_dummy = None
    with pytest.raises(ValueError, match="n_keys"):
        reorder.akslack(df_dummy, approx_keys=0)
    with pytest.raises(ValueError, match="n_keys"):
        reorder.kslack_stateful(df_dummy, approx_keys=0)


def test_state_store_session_defaults(spark):
    """The streaming state contract (OPTIMIZATION_r15.md Part III):
    RocksDB provider (state ≫ heap at scale) WITH changelog
    checkpointing — commit cost O(batch delta), not O(state size); a
    full-snapshot-per-commit default is the scale-killer at 100 TB
    state. Measured output-identical and wall-neutral at fixture
    scale, so the production default is also the local default."""
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    ).endswith("RocksDBStateStoreProvider")
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
        == "true"
    )
