"""Incremental-aggregation cascade: materialization layout, partition
pruning on retrieval, @purge retention."""

from __future__ import annotations

import pyspark.sql.functions as F

from siddhi_operator_spark.operators import incremental as I


def test_cascade_materialize_query_purge(spark, events_df, tmp_path):
    cascade = I.rollup_cascade(
        events_df, "ts", "value", keys=("event_type",), granularities=("hour", "day")
    )
    paths = I.materialize_cascade(cascade, str(tmp_path / "agg"))

    hourly = spark.read.parquet(paths["hour"])
    # retrieval is partition-prunable: filter on p_date prunes dirs
    plan = (
        hourly.filter(F.col("p_date") == "2024-01-01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan

    # finalize derived measures from composable state
    fin = I.finalize(hourly)
    row = fin.filter(
        (F.col("bucket_start") == "2024-01-01 00:00:00")
        & (F.col("event_type") == "click")
    ).collect()[0]
    assert row.cnt == 2 and row.sum_v == 7.0 and row.avg_v == 3.5

    # purge: drop everything before a cutoff; retained data untouched
    removed = I.purge_before(spark, paths["hour"], "2024-01-02")
    assert removed >= 1
    remaining = [
        d.name for d in (tmp_path / "agg" / "gran=hour").glob("p_date=*")
    ]
    assert all(name >= "p_date=2024-01-02" for name in remaining)


def test_streaming_cascade_matches_batch(spark, events_df, tmp_path):
    """Streaming foreachBatch merge-add over micro-batches must land on
    exactly the batch cascade's state (composable state is order-free),
    and coarser granularities derive from the streamed base state."""
    from siddhi_operator_spark.operators.incremental import rollup_up
    from siddhi_operator_spark.streaming import sources
    from siddhi_operator_spark.streaming.incremental import (
        IncrementalStateTable,
        incremental_agg_sink,
    )

    src = str(tmp_path / "src")
    sources.replay_dir(events_df, src, "ts", 3)
    stream = sources.file_stream(
        spark, src, events_df.schema, max_files_per_trigger=1
    )
    state = IncrementalStateTable(
        spark, str(tmp_path / "agg_hour"), keys=["event_type"]
    )
    q = incremental_agg_sink(
        stream, state, ts="ts", value="value", gran="hour",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    streamed = state.current()
    batch = I.rollup_cascade(
        events_df, "ts", "value", keys=("event_type",), granularities=("hour",)
    )["hour"]
    key = lambda r: (r.bucket_start, r.event_type)  # noqa: E731
    sgot = {key(r): (r.cnt, r.sum_v, r.min_v, r.max_v) for r in streamed.collect()}
    bgot = {key(r): (r.cnt, r.sum_v, r.min_v, r.max_v) for r in batch.collect()}
    assert sgot == bgot

    # day granularity derives from the streamed hour state
    day = rollup_up(streamed, "day", keys=("event_type",))
    dgot = {r.event_type: (r.cnt, r.sum_v) for r in day.collect()}
    assert dgot["click"] == (5, 31.0) and dgot["purchase"] == (2, 150.0)


def test_state_table_replay_is_exactly_once(spark, tmp_path):
    """r7 state-idempotence audit: the pre-r7 epoch high-water-mark
    file had a crash window between the state overwrite and the
    marker write — a replayed epoch then merge-ADDED a second time
    and doubled every sum. The versioned layout must absorb (a) a
    replay of a fully-committed epoch, and (b) a replay after a TORN
    write (v=N exists without _SUCCESS), and (c) refuse fresh epochs
    below the latest committed one (a second stream on a used state
    dir) instead of dropping them. Runs on a plain path and on a
    ``file://`` URI (state paths may use any Hadoop scheme)."""
    import datetime
    import os

    import pytest

    from siddhi_operator_spark.streaming.incremental import (
        IncrementalStateTable,
    )

    def bstate(rows):
        return spark.createDataFrame(
            [(b, k, c, s, sq, lo, hi) for (b, k, c, s, sq, lo, hi) in rows],
            "bucket_start timestamp, k string, cnt long, sum_v double,"
            " sum_sq double, min_v double, max_v double",
        )

    b0 = datetime.datetime(2024, 1, 1)
    for local, path in [
        (tmp_path / "st", str(tmp_path / "st")),
        (tmp_path / "st_uri", (tmp_path / "st_uri").as_uri()),
    ]:
        state = IncrementalStateTable(spark, path, keys=["k"])
        state.merge_batch(bstate([(b0, "a", 2, 10.0, 60.0, 4.0, 6.0)]), 0)
        state.merge_batch(bstate([(b0, "a", 1, 5.0, 25.0, 5.0, 5.0)]), 1)

        def snap():
            return {
                (r.bucket_start, r.k): (r.cnt, r.sum_v)
                for r in state.current().collect()
            }

        after = snap()
        assert after[(b0, "a")] == (3, 15.0), path

        # (a) replay of a committed epoch: no double-add
        state.merge_batch(bstate([(b0, "a", 1, 5.0, 25.0, 5.0, 5.0)]), 1)
        assert snap() == after

        # (b) torn write: drop v=1's _SUCCESS, replay epoch 1 — it must
        # recompute from v=0 and land on the same state, not on a double
        os.remove(str(local / "v=1" / "_SUCCESS"))
        state.merge_batch(bstate([(b0, "a", 1, 5.0, 25.0, 5.0, 5.0)]), 1)
        assert snap() == after

        # (c) a fresh checkpoint's epoch 0 on the used dir raises loudly
        with pytest.raises(ValueError, match="below the latest committed"):
            state.merge_batch(bstate([(b0, "a", 7, 7.0, 7.0, 7.0, 7.0)]), 0)
        assert snap() == after


def test_state_table_prunes_old_versions(spark, tmp_path):
    """Retention: only the last _KEEP_VERSIONS committed snapshots
    survive (checkpoint replay never revisits older epochs) — and the
    pruning path actually runs (a missing import here once hid behind
    the 3-version threshold)."""
    import datetime
    import os

    from siddhi_operator_spark.streaming.incremental import (
        IncrementalStateTable,
    )

    state = IncrementalStateTable(spark, str(tmp_path / "st"), keys=["k"])
    b0 = datetime.datetime(2024, 1, 1)
    for e in range(5):
        bs = spark.createDataFrame(
            [(b0, "a", 1, 1.0, 1.0, 1.0, 1.0)],
            "bucket_start timestamp, k string, cnt long, sum_v double,"
            " sum_sq double, min_v double, max_v double",
        )
        state.merge_batch(bs, e)
    vs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(str(tmp_path / "st"))
        if d.startswith("v=")
    )
    assert vs == [2, 3, 4]
    row = state.current().collect()[0]
    assert (row.cnt, row.sum_v) == (5, 5.0)
