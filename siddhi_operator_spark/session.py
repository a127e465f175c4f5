"""SparkSession construction tuned for this engine.

Defaults chosen for correctness-vs-oracle and for scale:
- UTC session timezone (parquet timestamps compare bit-identically with
  DuckDB's UTC-naive timestamps).
- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition number is always wrong; AQE re-plans from runtime
  stats.
- Arrow enabled for the pandas-UDF escape hatches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "siddhi-operator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a real cluster ``master``/``shuffle_partitions`` come from the
    submit environment; locally we default to ``local[N]`` with
    shuffle partitions ≈ cores so tiny test data isn't shredded into
    200 empty tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces DOWN from the initial partition count but never
        # splits UP past it, so `shuffle.partitions ≈ cores` silently
        # becomes the ceiling on reduce-side parallelism-per-bytes: at
        # events ×10000 (1 B rows) each of 32 reducers sorted ~31 M
        # rows and the sort-heavy shapes went spill-bound
        # (join_windowed_self 79 s, window_session 322 s — SCALEBENCH
        # r12 ×10000). A high initial count costs only shuffle-block
        # metadata on small inputs (AQE folds them back to a few
        # tasks); it is what keeps per-reducer state memory-resident
        # when the input is 1000× the test fixture. The default is
        # max(32 × cores, shuffle_partitions) — an explicit
        # ``shuffle_partitions`` larger than 32 × local cores (the
        # cluster-submit path) must never be silently CAPPED by a
        # local-cpu-derived initial count (ADVICE r12).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(32 * cpus, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # write timestamps as TIMESTAMP(MICROS), not legacy INT96 —
        # every modern reader (DuckDB, pyarrow, Spark) takes the fast
        # path, and the footer-sniffing events loader stays trivial
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ×100 A/B sweep (SCALEBENCH.md round 4): 8192 is ~8% faster on
        # scan+agg shapes than the 4096 default, neutral elsewhere
        .config("spark.sql.parquet.columnarReaderBatchSize", "8192")
        # streaming state: RocksDB scales past heap for big keyed state
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Without changelog checkpointing RocksDB commits a FULL state
        # snapshot per store per micro-batch — commit cost O(state size)
        # every batch. With it the commit writes only the batch's
        # changelog and snapshots amortise in the background maintenance
        # thread: the right regime whenever state ≫ batch delta (the
        # 100 TB case). At fixture scale the interleaved fresh-process
        # A/B measured it NEUTRAL (state is ~10²–10⁴ rows/store, so the
        # snapshot is as cheap as the changelog; a naive warm-vs-cold
        # comparison shows a fake 2–3× — OPTIMIZATION_r15.md Part III)
        # and output row-identical, so the production default costs the
        # local bench nothing.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
