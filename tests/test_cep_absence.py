"""Absence pattern (`not X for t`) — event-time timer path
(`AbsentStreamPreStateProcessor.java` analog)."""

from __future__ import annotations

import tempfile
import uuid

import pyspark.sql.functions as F

from siddhi_operator_spark.streaming import cep, sinks, sources


def test_absence_timer_fires_and_disarms(spark, events_df):
    # event 11: a signup on a NULL user_id, never followed by a purchase
    null_signup = spark.createDataFrame(
        [(11, "2024-01-01 00:30:00", None, "signup", 3.0)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    events = events_df.unionByName(null_signup)
    d = tempfile.mkdtemp(prefix="replay_abs_")
    sources.replay_dir(events, d, "ts", 4)
    s = sources.file_stream(spark, d, events.schema, max_files_per_trigger=1)
    out = cep.absence_nfa(
        s,
        key="user_id",
        arm_predicate="event_type = 'signup'",
        absent_predicate="event_type = 'purchase'",
        for_seconds=10,
        watermark="1 minute",
    )
    name = f"abs_{uuid.uuid4().hex[:8]}"
    q = sinks.memory_sink(out, name)
    q.processAllAvailable()
    q.stop()
    rows = sorted(
        ((r.key, r.e1_id) for r in spark.sql(f"select * from {name}").collect()),
        key=lambda t: (t[0] is None, t),
    )
    # user1 signup(1)@00:00:01 → purchase(3)@00:00:09 inside 10s: disarmed.
    # user2 signup(4)@00:00:12 → no purchase within 10s: fires.
    # the NULL-key signup(11) fires with its key emitted as NULL.
    assert rows == [("2", 4), (None, 11)]
