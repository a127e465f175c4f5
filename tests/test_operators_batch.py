"""Operator unit tests mirroring the reference's test style
(SURVEY.md §6.1: tiny event list in → exact rows out; cf.
`[core] …/test/java/io/siddhi/core/query/FilterTestCase1.java`,
`LengthWindowTestCase`, `JoinTestCase1`, pattern test cases)."""

from __future__ import annotations

import pyspark.sql.functions as F

from siddhi_operator_spark.operators import patterns as P
from siddhi_operator_spark.operators import tables as TB
from siddhi_operator_spark.operators import windows as W


def test_filter(events_df):
    out = events_df.filter(F.col("value") > 5).select("event_id").collect()
    assert sorted(r.event_id for r in out) == [3, 6, 7, 8, 9, 1][:6] or True
    assert sorted(r.event_id for r in out) == [1, 3, 6, 7, 8, 9]


def test_length_window(events_df):
    out = W.length(
        events_df,
        2,
        keys=["user_id"],
        order=[F.col("ts"), F.col("event_id")],
        aggs={"s": F.sum("value")},
    )
    rows = {r.event_id: r.s for r in out.collect()}
    # user 1: events 1,2,3,7,8,9 → last-2 sums
    assert rows[1] == 10.0
    assert rows[2] == 15.0
    assert rows[3] == 105.0
    assert rows[7] == 107.0
    assert rows[9] == 17.0


def test_length_batch(events_df):
    out = W.length_batch(
        events_df, 2, keys=["user_id"], order=[F.col("ts"), F.col("event_id")]
    )
    rows = {(r.user_id, r.batch_id): r.event_id for r in out.collect() if True}
    # user 1 has 6 events → batches 0,0,1,1,2,2
    ids = [
        r.batch_id
        for r in out.filter(F.col("user_id") == 1).orderBy("ts", "event_id").collect()
    ]
    assert ids == [0, 0, 1, 1, 2, 2]


def test_sort_topk(events_df):
    out = W.sort_topk(
        events_df, 1, keys=["user_id"], order=[F.desc("value"), F.asc("event_id")]
    )
    top = {r.user_id: r.event_id for r in out.collect()}
    assert top == {1: 3, 2: 6}


def test_unique_last(events_df):
    out = W.unique_last(
        events_df, keys=["user_id"], order=[F.desc("ts"), F.desc("event_id")]
    )
    last = {r.user_id: r.event_id for r in out.collect()}
    assert last == {1: 9, 2: 10}


def test_session_window(spark, events_df):
    out = W.session(
        events_df,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    sessions = sorted(
        (r.user_id, r.n) for r in out.collect()
    )
    # user1: [1,2,3] then [7,8,9] ; user2: [4,5] then [6] then [10]
    assert sessions == [(1, 3), (1, 3), (2, 1), (2, 1), (2, 2)]


def test_followed_by_first_match(events_df):
    out = P.followed_by(
        events_df,
        key="user_id",
        ts="ts",
        first_pred=F.col("event_type") == "signup",
        second_pred=F.col("event_type") == "purchase",
        within_seconds=3600,
    )
    rows = sorted((r.user_id, r.e1_id, r.e2_id) for r in out.collect())
    assert rows == [(1, 1, 3), (2, 4, 6)]


def test_followed_by_within_expires(events_df):
    out = P.followed_by(
        events_df,
        key="user_id",
        ts="ts",
        first_pred=F.col("event_type") == "signup",
        second_pred=F.col("event_type") == "purchase",
        within_seconds=10,
    )
    rows = sorted((r.user_id, r.e1_id, r.e2_id) for r in out.collect())
    assert rows == [(1, 1, 3)]  # user2's purchase is 47 min later


def test_absence(events_df):
    out = P.absence(
        events_df,
        key="user_id",
        ts="ts",
        first_pred=F.col("event_type") == "signup",
        absent_pred=F.col("event_type") == "purchase",
        within_seconds=10,
    )
    assert [r.e1_id for r in out.collect()] == [4]


def test_pattern_scan_tier_row_identical(events_df):
    """The r12 opt-in impl='scan' tier (fanout-free single-shuffle
    nearest-probe pass — hot-key insurance; the ×1000 A/B kept the
    join as default, SCALEBENCH r12) must be row-identical to the
    join formulation for followed_by, absence, and absence_logical,
    and must reject the shapes it cannot express."""
    import pytest

    fb = dict(
        key="user_id", ts="ts",
        first_pred=F.col("event_type") == "signup",
        second_pred=F.col("event_type") == "purchase",
    )
    for within in (10, 3600, 86400):
        a = P.followed_by(events_df, within_seconds=within, **fb)
        b = P.followed_by(events_df, within_seconds=within, impl="scan", **fb)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
    ab = dict(
        key="user_id", ts="ts",
        first_pred=F.col("event_type") == "signup",
        absent_pred=F.col("event_type") == "purchase",
    )
    for within in (10, 3600):
        a = P.absence(events_df, within_seconds=within, **ab)
        b = P.absence(events_df, within_seconds=within, impl="scan", **ab)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
    al = dict(
        key="user_id", ts="ts",
        present_pred=F.col("event_type") == "purchase",
        absent_pred=F.col("event_type") == "click",
    )
    for within in (10, 3600):
        a = P.absence_logical(events_df, within_seconds=within, **al)
        b = P.absence_logical(
            events_df, within_seconds=within, impl="scan", **al
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
    with pytest.raises(ValueError, match="impl"):
        P.followed_by(events_df, within_seconds=10, impl="scna", **fb)
    with pytest.raises(ValueError, match="scan"):
        P.followed_by(
            events_df, within_seconds=10, impl="scan",
            first_match_only=False, **fb,
        )


def test_pattern_scan_tier_null_keys_match_join(spark):
    """r15 (r14 advice, medium): NULL pattern keys must behave
    identically across tiers.  The join tier never matches them
    (`k == k2` is null) while `Window.partitionBy` groups all NULLs
    into one partition — so the scan tier drops NULL-key PROBE rows,
    giving NULL-key arms `_probe = null` (followed-by drops the arm,
    absence keeps it), row-identical to the join."""
    rows = [
        (1, "2024-01-01 00:00:01", None, "signup", 1.0),
        (2, "2024-01-01 00:00:02", None, "purchase", 2.0),
        (3, "2024-01-01 00:00:03", 7, "signup", 3.0),
        (4, "2024-01-01 00:00:04", 7, "purchase", 4.0),
        (5, "2024-01-01 00:00:05", None, "signup", 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    fb = dict(
        key="user_id", ts="ts",
        first_pred=F.col("event_type") == "signup",
        second_pred=F.col("event_type") == "purchase",
    )
    a = P.followed_by(df, within_seconds=60, **fb)
    b = P.followed_by(df, within_seconds=60, impl="scan", **fb)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # only the non-NULL key pairs up
    assert [r.e1_id for r in b.collect()] == [3]
    ab = dict(
        key="user_id", ts="ts",
        first_pred=F.col("event_type") == "signup",
        absent_pred=F.col("event_type") == "purchase",
    )
    a = P.absence(df, within_seconds=60, **ab)
    b = P.absence(df, within_seconds=60, impl="scan", **ab)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # NULL-key signups have no matching purchase in EITHER tier
    assert sorted(r.e1_id for r in b.collect()) == [1, 5]


def test_pattern_impl_auto_derives_regime(spark, events_df):
    """r13: the pattern-tier regime pick is DERIVED from measured key
    density (`choose_pattern_impl`) — the hot-key shape auto-picks the
    fanout-free scan, the constant-density shape auto-picks the
    measured-faster join, explicit `impl=` stays honored, and shapes
    the scan cannot express fall back to the join tier."""
    import pytest

    sig = F.col("event_type") == "signup"
    pur = F.col("event_type") == "purchase"

    def mk(n_keys: int, per_key: int):
        # per_key signups + per_key purchases per key, 1 s apart
        n = n_keys * per_key * 2
        return (
            spark.range(n)
            .select(
                F.col("id").alias("event_id"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.col("id") % n_keys).alias("user_id"),
                F.when((F.col("id") % 2) == 0, "signup")
                .otherwise("purchase")
                .alias("event_type"),
            )
        )

    # ONE key, 1200 signups x 1200 purchases: max per-key pair
    # production 1.44e6 > max(total/4, 1e6) -> scan
    hot = mk(n_keys=1, per_key=1200)
    assert P.choose_pattern_impl(hot, "user_id", sig, pur) == "scan"
    # 1000 keys x 2+2 events: max product 4 << 1e6 floor -> join
    flat = mk(n_keys=1000, per_key=2)
    assert P.choose_pattern_impl(flat, "user_id", sig, pur) == "join"
    # no matching rows at all -> join (either tier is a no-op)
    assert (
        P.choose_pattern_impl(
            flat, "user_id", F.col("event_type") == "x", F.col("event_type") == "y"
        )
        == "join"
    )

    # auto is row-identical to the explicit tiers on the canonical fixture
    fb = dict(
        key="user_id", ts="ts",
        first_pred=sig, second_pred=pur, within_seconds=3600,
    )
    a = P.followed_by(events_df, impl="auto", **fb)
    j = P.followed_by(events_df, impl="join", **fb)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, j.collect()))
    # auto on the hot-key shape actually EXECUTES via the scan tier
    # (ADVICE r13: run impl='auto' END-TO-END and assert the physical
    # plan has the scan shape — WindowExec, no join — not just that
    # choose_pattern_impl returns 'scan')
    auto_hot_df = P.followed_by(
        hot, key="user_id", ts="ts",
        first_pred=sig, second_pred=pur, within_seconds=10, impl="auto",
    )
    auto_plan = auto_hot_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in auto_plan  # no SMJ/BHJ/BNLJ — the scan tier
    assert "Window" in auto_plan  # the keyed running-min pass
    # and it is row-identical to the explicit scan tier on that shape
    scan_hot_df = P.followed_by(
        hot, key="user_id", ts="ts",
        first_pred=sig, second_pred=pur, within_seconds=10, impl="scan",
    )
    assert sorted(map(tuple, auto_hot_df.collect())) == sorted(
        map(tuple, scan_hot_df.collect())
    )
    # inexpressible shapes: auto falls back to join instead of raising
    nf = P.followed_by(events_df, impl="auto", every=False, **fb)
    assert nf.count() >= 0  # plan builds and runs on the join tier
    # absence / absence_logical accept auto too
    ab = P.absence(
        events_df, key="user_id", ts="ts",
        first_pred=sig, absent_pred=pur, within_seconds=10, impl="auto",
    )
    assert [r.e1_id for r in ab.collect()] == [4]
    al = P.absence_logical(
        events_df, key="user_id", ts="ts",
        present_pred=pur, absent_pred=F.col("event_type") == "click",
        within_seconds=10, impl="auto",
    )
    assert al.count() == P.absence_logical(
        events_df, key="user_id", ts="ts",
        present_pred=pur, absent_pred=F.col("event_type") == "click",
        within_seconds=10, impl="join",
    ).count()
    with pytest.raises(ValueError, match="impl"):
        P.followed_by(events_df, impl="atuo", **fb)


def test_sequence_adjacent(events_df):
    out = P.sequence_adjacent(
        events_df,
        key="user_id",
        ts="ts",
        order_tiebreak="event_id",
        preds=[
            ("e1", F.col("e1_event_type") == "click"),
            ("e2", F.col("e2_event_type") == "purchase"),
        ],
    )
    rows = sorted((r.user_id, r.e1_event_id) for r in out.collect())
    # user1: click(2) → purchase(3) contiguous; user2: click(5) → purchase(6)
    assert rows == [(1, 2), (2, 5)]


def test_sequence_adjacent_needs_every_position_and_a_key(spark):
    """A sequence matches n events that all exist: a step with no real
    predicate (`F.lit(True)`) does not match past a key's last event.
    And, like its sibling operators, a NULL key never matches, while a
    QL sequence keeps a NULL key as its own key."""
    from siddhi_operator_spark.siddhiql import run_app

    rows = [
        (1, "2024-01-01 00:00:01", 7, "a", 1.0),
        (2, "2024-01-01 00:00:02", 7, "b", 2.0),
        (3, "2024-01-01 00:00:03", 7, "a", 3.0),
        (4, "2024-01-01 00:00:04", None, "a", 4.0),
        (5, "2024-01-01 00:00:05", None, "b", 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def ids(preds):
        out = P.sequence_adjacent(
            df, key="user_id", ts="ts", order_tiebreak="event_id", preds=preds
        )
        return sorted((r.e1_event_id, r.e2_event_id) for r in out.collect())

    assert ids([("e1", F.col("e1_event_type") == "a"), ("e2", F.lit(True))]) == [(1, 2)]
    assert ids(
        [("e1", F.col("e1_event_type") == "a"), ("e2", F.col("e2_event_type") == "b")]
    ) == [(1, 2)]
    app = """
    define stream S (event_id long, ts string, user_id long,
                     event_type string, value double);
    from every e1=S[event_type == 'a'], e2=S
    select e1.event_id as id1, e2.event_id as id2
    insert into Out;
    """
    out = run_app(app, {"S": df}, pattern_key="user_id")["Out"]
    assert sorted(map(tuple, out.collect())) == [(1, 2), (4, 5)]


def test_upsert_replay(events_df):
    state = TB.upsert_replay(
        events_df, keys=["user_id"], order=[F.col("ts").desc(), F.col("event_id").desc()]
    )
    rows = {r.user_id: r.event_id for r in state.collect()}
    assert rows == {1: 9, 2: 10}


def test_delete_replay(spark, events_df):
    table = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    errs = events_df.filter(F.col("event_type") == "error")
    out = TB.delete_replay(table, errs, key="k", mut_key="user_id")
    assert sorted(r.k for r in out.collect()) == [1, 3]


def test_lossy_frequent(events_df):
    # user 1 has 6/10 events, user 2 has 4/10: support 0.5 keeps only user 1
    out = W.lossy_frequent(events_df, 0.5, keys=[], group_cols=["user_id"])
    # keyless variant: single global group
    rows = out.collect()
    assert [(r.user_id, r.freq) for r in rows] == [(1, 6)]


def test_expression_batch_retain_while(events_df):
    # per user, newest-first suffix while cumulative value <= 20
    out = W.expression_batch(
        events_df,
        keys=["user_id"],
        order=[F.col("ts"), F.col("event_id")],
        budget_col="value",
        limit=20.0,
    )
    got = sorted(r.event_id for r in out.collect())
    # user 1 newest-first: e9(9)+e8(8)=17 ok, +e7(7)=24 stops → {8,9}
    # user 2 newest-first: e10(0)... user 2 events: e4(1),e5(2),e6(50),e10(0)
    #   e10(0)+e6(50)=50 > 20 → only e10
    assert got == [8, 9, 10]


def test_count_min_sketch_overcounts(spark, events_df):
    from siddhi_operator_spark.operators import sketches as SK

    sk = SK.count_min_build(events_df, F.col("event_type"), depth=3, width=8)
    items = events_df.select("event_type").distinct()
    est = SK.count_min_estimate(sk, items, "event_type", depth=3, width=8)
    exact = {
        r.event_type: r.c
        for r in events_df.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    for r in est.collect():
        assert r.cms_estimate >= exact[r.event_type]


def test_range_partition_labels(spark, events_df):
    from siddhi_operator_spark.operators.partitions import range_partition

    b = range_partition(F.col("value"), [(5.0, "low"), (50.0, "mid")], "high")
    got = {r.event_id: r.b for r in events_df.select("event_id", b.alias("b")).collect()}
    assert got[4] == "low" and got[2] == "mid" and got[3] == "high"


def test_group_concat_sorted(events_df):
    from siddhi_operator_spark.operators import aggregates as A

    out = (
        events_df.withColumn("u", F.col("user_id").cast("string"))
        .groupBy()
        .agg(A.group_concat("u", distinct=True).alias("g"))
        .collect()
    )
    assert out[0].g == "1,2"


def test_unidirectional_join(events_df):
    from siddhi_operator_spark.operators import joins as J

    clicks = events_df.filter(F.col("event_type") == "click")
    purch = events_df.filter(F.col("event_type") == "purchase")
    out = J.windowed_stream_join(
        clicks, purch, "ts", "ts", [("user_id", "user_id")],
        within_seconds=600, unidirectional=True,
    )
    pairs = sorted(
        (r["l.event_id"] if "l.event_id" in r else r[0])
        for r in out.select(F.col("l.event_id")).collect()
    )
    # only clicks AFTER (≤10 min) a purchase trigger: user 1 purchase
    # e3 @00:00:09 → clicks e2? e2 is before e3 → no; none within.
    # user 2 purchase e6 @00:59 → no later clicks within 10 min.
    # bidirectional would match (e2,e3): verify the asymmetry
    bi = J.windowed_stream_join(
        clicks, purch, "ts", "ts", [("user_id", "user_id")],
        within_seconds=600,
    )
    assert bi.count() > out.count()


def test_absence_logical(events_df):
    from siddhi_operator_spark.operators import patterns as P

    out = P.absence_logical(
        events_df,
        key="user_id",
        ts="ts",
        present_pred=F.col("event_type") == "purchase",
        absent_pred=F.col("event_type") == "click",
        within_seconds=300,
    )
    # user 1 purchase e3 @00:00:09 has click e2 @00:00:05 before → excluded
    # user 2 purchase e6 @00:59 — last click e5 @00:10 is >5min before → kept
    assert [r.e2_id for r in out.collect()] == [6]


def test_time_current_time_format(spark):
    """`time:currentTime` returns wall-clock "HH:mm:ss" (reference
    CurrentTimeFunctionExecutor string shape)."""
    import re as _re

    from siddhi_operator_spark.functions import REGISTRY

    row = spark.range(1).select(REGISTRY["time:currentTime"]().alias("t")).first()
    assert _re.fullmatch(r"\d{2}:\d{2}:\d{2}", row.t)


def test_extrema_by_length_overflow_fails_loudly(spark):
    """Values outside the fixed-width encodable range [0, 1e12) must
    raise, not silently mis-rank (round-2 advice: 1e8 used to overflow
    the 12-char field and lexicographic max picked the wrong event)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from siddhi_operator_spark.operators import windows as W

    big = spark.createDataFrame(
        [(1, 1, 99999999.9999), (2, 1, 100000000.0)],
        "event_id long, user_id long, value double",
    )
    ok = W.extrema_by_length(
        big, 2, ["user_id"], ["event_id"], F.col("value"), "event_id", "max"
    )
    # in-range values now encode correctly: the true max wins
    assert ok.orderBy("event_id").collect()[-1].max_by_id == 2
    bad = spark.createDataFrame(
        [(1, 1, 1e12)], "event_id long, user_id long, value double"
    )
    out = W.extrema_by_length(
        bad, 2, ["user_id"], ["event_id"], F.col("value"), "event_id", "max"
    )
    with _pytest.raises(Exception, match="encodable range"):
        out.collect()


def test_collection_json_fns_round3(spark):
    """Round-3 registry completions vs SURVEY §3.9: map:putAll/remove/
    containsValue/clone/collect, list:addAll, str:coalesce,
    json:setElement/getObject and the json:group aggregation."""
    from pyspark.sql import functions as F
    from siddhi_operator_spark.functions import REGISTRY as R

    df = spark.createDataFrame(
        [(1, '{"a": "1", "b": "2"}'), (2, '{"a": "9"}')],
        "id long, js string",
    )
    m = F.from_json("js", "map<string,string>")
    row = df.filter("id = 1").select(
        R["map:remove"](m, "a").alias("removed"),
        R["map:containsValue"](m, F.lit("2")).alias("has2"),
        R["map:putAll"](m, F.create_map(F.lit("c"), F.lit("3"))).alias("merged"),
        R["list:addAll"](F.array(F.lit(1)), F.array(F.lit(2))).alias("cat"),
        R["str:coalesce"](F.lit(None).cast("string"), F.lit("x")).alias("co"),
        R["json:setElement"](F.col("js"), F.lit("b"), F.lit(7)).alias("set_b"),
        R["json:getObject"](F.col("js"), "$.a").alias("obj_a"),
    ).first()
    assert row.removed == {"b": "2"} and row.has2 and row.merged["c"] == "3"
    assert row.cat == [1, 2] and row.co == "x" and row.obj_a == "1"
    assert '"b":"7"' in row.set_b.replace(" ", "")

    agg = df.agg(
        R["json:group"](F.col("js")).alias("grouped"),
        R["map:collect"](F.col("id").cast("string"), F.col("js")).alias("m"),
    ).first()
    assert agg.grouped.startswith("[{") and agg.grouped.endswith("}]")
    assert set(agg.m.keys()) == {"1", "2"}


def test_instanceof_fns(spark):
    """instanceOf* resolve from the static schema via typeof."""
    from pyspark.sql import functions as F
    from siddhi_operator_spark.functions import REGISTRY as R

    row = spark.createDataFrame([(1, "a", 1.5)], "i long, s string, d double").select(
        R["instanceOfLong"](F.col("i")).alias("il"),
        R["instanceOfString"](F.col("s")).alias("ss"),
        R["instanceOfDouble"](F.col("d")).alias("dd"),
        R["instanceOfInteger"](F.col("i")).alias("ii"),
    ).first()
    assert row.il and row.ss and row.dd and not row.ii


def test_asof_join_basic_ties_and_tolerance(spark):
    from siddhi_operator_spark.operators import joins as J

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "user_id long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 90, "c1", 9.0), (1, 100, "c2", 10.0), (1, 150, "c3", 15.0),
         (2, 60, "c4", 6.0)],
        "user_id long, ts long, cid string, v double",
    )
    out = {
        r.pid: (r.r_cid, r.r_ts)
        for r in J.asof_join(
            left, right, keys=["user_id"], right_cols=["cid", "v"]
        ).collect()
    }
    # equal timestamps match (ASOF >= semantics): p1@100 sees c2@100
    assert out["p1"] == ("c2", 100)
    assert out["p2"] == ("c3", 150)
    # no right row at or before ts=50 for user 2 → null match
    assert out["p3"] == (None, None)

    # tolerance: p2@200 matched c3@150 (lag 50) — a 30s tolerance nulls it
    tol = {
        r.pid: r.r_cid
        for r in J.asof_join(
            left, right, keys=["user_id"], right_cols=["cid", "v"],
            tolerance_seconds=30,
        ).collect()
    }
    assert tol["p1"] == "c2" and tol["p2"] is None


def test_range_interval_join_boundaries(spark):
    from siddhi_operator_spark.operators import joins as J

    pts = spark.createDataFrame(
        [(1, 100), (2, 600), (3, 599), (4, 1200), (5, 99)],
        "pid long, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ivs = spark.createDataFrame(
        [(10, 100, 600)], "iid long, s long, e long"
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = sorted(
        r.pid
        for r in J.range_interval_join(
            pts, ivs, point_ts="ts", start_ts="s", end_ts="e",
            bucket_seconds=250,
        ).collect()
    )
    # start inclusive (100), end exclusive (600), 599 in, outside out
    assert got == [1, 3]


def test_token_budget_sample_prefix_property(spark, docs_df=None):
    from siddhi_operator_spark.pipeline import curation as C

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 7 + 1).cast("int"))).alias("text"),
    )
    out = C.token_budget_sample(df, budget_tokens=300).collect()
    assert out, "budget should admit some docs"
    assert max(r.cum_tok for r in out) <= 300
    # cum_tok is a true prefix sum over the hash order: sorting by it
    # reproduces consecutive partial sums of n_tok
    rows = sorted(out, key=lambda r: r.cum_tok)
    run = 0
    for r in rows:
        run += r.n_tok
        assert r.cum_tok == run


def test_bucketed_windowed_join_matches_plain(spark, events_df):
    """The opt-in epoch-bucketed join strategy (hot-key insurance) must
    produce exactly the plain keyed join's rows, symmetric and
    unidirectional, including window-boundary pairs."""
    from siddhi_operator_spark.operators import joins as J
    from siddhi_operator_spark.operators import patterns as P

    clicks = events_df.filter(F.col("event_type") == "click")
    other = events_df.filter(F.col("event_type") != "click")

    for uni in (False, True):
        want = sorted(
            (r[0], r[1])
            for r in J.windowed_stream_join(
                clicks, other, "ts", "ts", [("user_id", "user_id")],
                within_seconds=60, unidirectional=uni,
            ).select(F.col("l.event_id"), F.col("r.event_id")).collect()
        )
        got = sorted(
            (r[0], r[1])
            for r in J.windowed_stream_join(
                clicks, other, "ts", "ts", [("user_id", "user_id")],
                within_seconds=60, unidirectional=uni, bucket=True,
            ).select(F.col("l.event_id"), F.col("r.event_id")).collect()
        )
        assert got == want, f"unidirectional={uni}"

    plain = sorted(
        (r["e1_id"], r["e2_id"])
        for r in P.followed_by(
            events_df, "user_id", "ts",
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            within_seconds=600,
        ).collect()
    )
    bucketed = sorted(
        (r["e1_id"], r["e2_id"])
        for r in P.followed_by(
            events_df, "user_id", "ts",
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            within_seconds=600, bucket=True,
        ).collect()
    )
    assert bucketed == plain


def test_asof_join_property_vs_merge_asof(spark):
    """Randomized parity with pandas merge_asof (backward, exact
    matches allowed) — the union+window formulation must agree with
    the reference implementation on every row, including no-match
    nulls, across random key/time layouts."""
    import random

    import pandas as pd

    from siddhi_operator_spark.operators import joins as J

    rng = random.Random(13)
    for trial in range(3):
        rights = sorted({(rng.randint(1, 4), rng.randint(0, 500))
                         for _ in range(60)})
        right_rows = [(k, ts, float(ts) + k) for k, ts in rights]
        left_rows = [(i, rng.randint(1, 4), rng.randint(0, 500))
                     for i in range(80)]
        left = spark.createDataFrame(left_rows, "lid long, user_id long, ts long")
        right = spark.createDataFrame(right_rows, "user_id long, ts long, v double")
        got = {
            r.lid: (r.r_ts, r.r_v)
            for r in J.asof_join(
                left, right, keys=["user_id"], right_cols=["v"]
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["lid", "user_id", "ts"]).sort_values("ts")
        rp = pd.DataFrame(right_rows, columns=["user_id", "ts", "v"]).sort_values("ts")
        ref = pd.merge_asof(
            lp, rp, on="ts", by="user_id", direction="backward",
            suffixes=("", "_r"),
        )
        for _, row in ref.iterrows():
            want = (None, None) if pd.isna(row["v"]) else (
                # matched right ts is not emitted by merge_asof; check v
                got[row["lid"]][0], row["v"])
            assert got[row["lid"]][1] == want[1] or (
                got[row["lid"]][1] is None and want[1] is None
            ), f"trial {trial} lid {row['lid']}: {got[row['lid']]} != {want}"


def test_salted_distinct_count_exact(spark):
    """Salted distinct counts must equal plain countDistinct on every
    key, including values colliding across salts."""
    from siddhi_operator_spark.operators.aggregates import salted_distinct_count

    df = spark.createDataFrame(
        [(i % 3, f"u{i % 17}") for i in range(500)], "k long, v string"
    )
    got = {r.k: r.distinct_count
           for r in salted_distinct_count(df, "k", "v", n_salts=8).collect()}
    want = {r.k: r.n for r in df.groupBy("k").agg(
        F.countDistinct("v").alias("n")).collect()}
    assert got == want


def test_join_bucket_auto_derives_regime(spark, events_df):
    """r13: the windowed join's plain-vs-epoch-coarsened pick is
    DERIVED from measured key density (`derive_join_bucket`) — the
    hot-key shape picks the coarsened tier, constant density stays on
    the plain keyed join, `bucket='auto'` is row-identical to the
    explicit tiers, and outer joins never coarsen."""
    import pytest

    from siddhi_operator_spark.operators import joins as J

    def mk(n_keys: int, per_key: int):
        n = n_keys * per_key * 2
        return (
            spark.range(n)
            .select(
                F.col("id").alias("event_id"),
                F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
                (F.col("id") % n_keys).alias("user_id"),
                F.when((F.col("id") % 2) == 0, "click")
                .otherwise("view")
                .alias("event_type"),
            )
        )

    keys = [("user_id", "user_id")]
    hot = mk(1, 1200)
    hc, hv = (
        hot.filter(F.col("event_type") == "click"),
        hot.filter(F.col("event_type") == "view"),
    )
    assert J.derive_join_bucket(hc, hv, keys) is True
    flat = mk(1000, 2)
    fc, fv = (
        flat.filter(F.col("event_type") == "click"),
        flat.filter(F.col("event_type") == "view"),
    )
    assert J.derive_join_bucket(fc, fv, keys) is False
    # empty side -> either plan is a no-op -> plain
    assert J.derive_join_bucket(fc.limit(0), fv, keys) is False

    clicks = events_df.filter(F.col("event_type") == "click")
    other = events_df.filter(F.col("event_type") != "click")
    want = sorted(
        (r[0], r[1])
        for r in J.windowed_stream_join(
            clicks, other, "ts", "ts", keys, within_seconds=60,
        ).select(F.col("l.event_id"), F.col("r.event_id")).collect()
    )
    got = sorted(
        (r[0], r[1])
        for r in J.windowed_stream_join(
            clicks, other, "ts", "ts", keys, within_seconds=60,
            bucket="auto",
        ).select(F.col("l.event_id"), F.col("r.event_id")).collect()
    )
    assert got == want
    # outer joins never coarsen (the epoch explode would fabricate
    # multiplicity on unmatched rows) — auto resolves to plain
    outer = J.windowed_stream_join(
        clicks, other, "ts", "ts", keys, within_seconds=60,
        how="left", bucket="auto",
    )
    assert outer.count() >= len(want)
    with pytest.raises(ValueError, match="bucket"):
        J.windowed_stream_join(
            clicks, other, "ts", "ts", keys, within_seconds=60,
            bucket="atuo",
        )


def test_derived_pick_memo_stats_and_guards(spark):
    """The hot-key pick behind both derived families (pattern
    ``impl="auto"``, join ``bucket="auto"``) is MEMOIZED — one stats
    job for a first pick, zero for a repeat, one counter for both —
    applies one rule (checked on the pure rule function), counts a
    NULL key as one key unless the caller filters it out (the operator
    probe filter, the windowed join's NULL-key drop), and raises a clear
    ValueError on streaming inputs instead of an opaque
    AnalysisException."""
    import pytest

    from siddhi_operator_spark.operators import joins as J
    from siddhi_operator_spark.operators import patterns as P

    def mk(n_keys: int, per_key: int, null_key: bool = False):
        n = n_keys * per_key * 2
        uid = F.lit(None).cast("long") if null_key else (F.col("id") % n_keys)
        return spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            uid.alias("user_id"),
            F.when((F.col("id") % 2) == 0, "signup")
            .otherwise("purchase")
            .alias("event_type"),
        )

    sig = F.col("event_type") == "signup"
    pur = F.col("event_type") == "purchase"
    keys = [("user_id", "user_id")]

    # --- memoization: one job per first pick, zero per repeat
    J.clear_decision_cache()
    hot = mk(1, 1200)
    before = J.STATS_JOBS_RUN
    assert P.choose_pattern_impl(hot, "user_id", sig, pur) == "scan"
    assert J.STATS_JOBS_RUN == before + 1
    assert P.choose_pattern_impl(hot, "user_id", sig, pur) == "scan"
    # a rebuilt identical frame is the same analyzed plan: a hit too
    assert P.choose_pattern_impl(mk(1, 1200), "user_id", sig, pur) == "scan"
    assert J.STATS_JOBS_RUN == before + 1  # cache hits, zero extra jobs
    hs, hp = hot.filter(sig), hot.filter(pur)
    assert J.derive_join_bucket(hs, hp, keys) is True
    assert J.STATS_JOBS_RUN == before + 2
    assert J.derive_join_bucket(hs, hp, keys) is True
    assert J.STATS_JOBS_RUN == before + 2  # cache hit
    # a DIFFERENT predicate/plan is a different cache key
    assert P.choose_pattern_impl(mk(1000, 2), "user_id", sig, pur) == "join"
    assert P.choose_pattern_impl(hot, "user_id", pur, sig) == "scan"
    assert J.STATS_JOBS_RUN == before + 4
    J.clear_decision_cache()

    # --- the rule: worst key's pairs > max(total // 4, 1e6)
    assert J._hot_key_rule(2_000_000, 100) is True
    assert J._hot_key_rule(10, 100) is False
    assert J._hot_key_rule(1_000_000, 100) is False  # the 1e6 floor
    assert J._hot_key_rule(1_000_001, 100) is True
    assert J._hot_key_rule(2_000_000, 8_000_000) is False  # total / 4
    assert J._hot_key_rule(2_000_001, 8_000_000) is True

    # --- ALL the density on a NULL key: the pick counts it as one key
    # (the QL runners pair NULL with NULL); the operator form's probe
    # filter leaves it no probe rows, and the windowed join, which
    # never matches a NULL equi key, drops those rows
    nullhot = mk(1, 1200, null_key=True)
    assert P.choose_pattern_impl(nullhot, "user_id", sig, pur) == "scan"
    not_null = pur & F.col("user_id").isNotNull()
    assert P.choose_pattern_impl(nullhot, "user_id", sig, not_null) == "join"
    assert (
        J.derive_join_bucket(nullhot.filter(sig), nullhot.filter(pur), keys)
        is False
    )

    # --- streaming guard: clear ValueError, not an AnalysisException
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 10).alias("user_id"),
            F.when((F.col("value") % 2) == 0, "signup")
            .otherwise("purchase")
            .alias("event_type"),
        )
    )
    with pytest.raises(ValueError, match="batch-only"):
        P.followed_by(
            rate, key="user_id", ts="ts", first_pred=sig, second_pred=pur,
            within_seconds=10, impl="auto",
        )
    with pytest.raises(ValueError, match="batch-only"):
        J.windowed_stream_join(
            rate, rate, "ts", "ts", keys, within_seconds=10, bucket="auto",
        )
    # the streaming twin rejects 'auto' at its own door too
    from siddhi_operator_spark.streaming import joins as SJ

    with pytest.raises(ValueError, match="batch-only"):
        SJ.stream_stream_join(
            rate, rate, "ts", "ts", keys, within_seconds=10,
            watermark="1 minute", bucket="auto",
        )


def test_session_prefix_tier_matches_agg_tier(spark):
    """r15: structured (op, col, alias) aggs route session() through
    the prefix-sum tier (zero aggregate operators — the x1000 profile
    attributed ~36% of the wall to a redundant partial+final hash
    agg). Must be row-identical to the Column-aggs gap-island tier on
    adversarial data: negative values (a running-sum max would pick a
    wrong start), NULL values (null-exact sums), equal timestamps,
    single-event sessions, and multiple keys."""
    import random

    rng = random.Random(7)
    rows = []
    eid = 0
    for uid in range(1, 20):
        t = 1700000000
        for _ in range(rng.randint(1, 60)):
            t += rng.choice([1, 5, 30, 100, 2000, 0])  # 0 = equal ts ties
            v = rng.choice([None, -5.25, 3.5, 100.0, -0.125])
            rows.append((eid, t, uid, v))
            eid += 1
    df = (
        spark.createDataFrame(
            rows, "event_id long, tsec long, user_id long, value double"
        )
        .withColumn("ts", F.timestamp_seconds(F.col("tsec")))
        .drop("tsec")
    )
    a = W.session(
        df, "ts", "10 minutes", keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.avg("value").alias("av"),
            F.count("value").alias("nv"),
        ],
    )
    b = W.session(
        df, "ts", "10 minutes", keys=["user_id"],
        aggs=[
            ("count", None, "n"),
            ("sum", "value", "sv"),
            ("avg", "value", "av"),
            ("count", "value", "nv"),
        ],
    )
    assert a.columns == b.columns
    ra = sorted(
        (r.user_id, r.session_start, r.session_end, r.n,
         None if r.sv is None else round(r.sv, 9),
         None if r.av is None else round(r.av, 9), r.nv)
        for r in a.collect()
    )
    rb = sorted(
        (r.user_id, r.session_start, r.session_end, r.n,
         None if r.sv is None else round(r.sv, 9),
         None if r.av is None else round(r.av, 9), r.nv)
        for r in b.collect()
    )
    assert ra == rb
    # the prefix plan must carry NO aggregate operator
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert plan.count("Window") >= 1
    # unsupported ops raise with a pointer
    import pytest as _pt
    with _pt.raises(ValueError, match="count/sum/avg"):
        W.session(
            df, "ts", "10 minutes", keys=["user_id"],
            aggs=[("min", "value", "mn")],
        )
