"""Streaming incremental aggregation — the `define aggregation`
runtime path (SURVEY.md §3.5: `[core] aggregation/IncrementalExecutor
.java`, `IncrementalAggregationProcessor.java`).

Each micro-batch is aggregated to composable state (cnt/sum/sum²/min/
max per bucket×keys) and MERGED — by addition, not replacement — into
a parquet state table. Out-of-order events within the watermark simply
land in their (already existing) bucket and merge-add correctly:
composable state is order-free, which is exactly why the reference
stores it. Coarser granularities re-derive from the base state table
(`rollup_up`), never from raw events.

Scale: the merge touches only buckets present in the micro-batch
(broadcast the batch aggregate against the state table when small);
the state table is date-partitioned in production
(`operators.incremental.materialize_cascade`) so retention is
partition deletion and retrieval prunes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.incremental import base_rollup
from ..pipeline.similarity import _hfs
from .sinks import EpochStore

_STATE_COLS = ("cnt", "sum_v", "sum_sq", "min_v", "max_v")


class IncrementalStateTable:
    """Parquet-backed composable-state table keyed by
    (bucket_start, *keys): an :class:`~.sinks.EpochStore` of ``v=<epoch>``
    snapshots (see there for the exactly-once layout). Epoch N's merge
    reads the latest committed version strictly below N and writes
    ``v=N``, so a replay recomputes byte-identical state instead of
    merge-ADDing twice."""

    _KEEP_VERSIONS = 3

    def __init__(
        self, spark: SparkSession, path: str, keys: Sequence[str]
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.store = EpochStore(spark, path, prefix="v")

    def current(self, below: int | None = None) -> DataFrame | None:
        """Latest committed snapshot (lazy). Snapshot-lifetime
        contract — same as Delta/Iceberg VACUUM retention: the
        returned frame reads its pinned version directory, which the
        retention pruner deletes after ``_KEEP_VERSIONS`` further
        epochs commit. Materialize (collect/write) promptly, or raise
        ``_KEEP_VERSIONS`` for long-lived readers."""
        return self.store.read(below=below, latest=True)

    def merge_batch(self, batch_state: DataFrame, epoch_id: int) -> None:
        """Merge-ADD a batch's composable state into the table:
        matching buckets combine (sum/sum/sum/min/max), new buckets
        append — the `IncrementalExecutor` bucket-accumulator update,
        expressed as one keyed aggregation over old ∪ new."""
        cur = self.current(below=epoch_id)
        combined = batch_state if cur is None else cur.unionByName(batch_state)
        merged = combined.groupBy("bucket_start", *self.keys).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        self.store.write(merged, epoch_id)
        # retention: checkpoint replay only ever revisits the latest
        # epoch, so anything older than a few versions is unreachable —
        # prune it (delete only AFTER the new commit)
        P, fs = _hfs(self.spark, self.path)
        for v in self.store.versions()[: -self._KEEP_VERSIONS]:
            fs.delete(P(self.store.dir(v)), True)


def incremental_agg_sink(
    stream: DataFrame,
    state: IncrementalStateTable,
    ts: str,
    value: str,
    gran: str,
    checkpoint: str,
) -> StreamingQuery:
    """`define aggregation` streaming runtime: per micro-batch, roll
    the batch up to the base granularity's composable state and merge
    into the state table."""

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        bstate = base_rollup(batch, ts, value, tuple(state.keys), gran)
        state.merge_batch(bstate, epoch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
