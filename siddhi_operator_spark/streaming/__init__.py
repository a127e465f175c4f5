"""Structured Streaming execution layer (SURVEY.md §3.10, §8.1 L1-L2).

Streaming twins of the batch operators: event-time windows with
watermarks (native), stream-stream/stream-static joins (native),
stateful custom operators via ``applyInPandasWithState`` for the
semantics Spark lacks (count windows, CEP NFA, absence timers), and
sinks including the keyed-table upsert (`foreachBatch` merge).

Checkpointing (offsets + state store) replaces the reference's
snapshot persistence (`[core] util/snapshot/SnapshotService.java`) —
strictly stronger: exactly-once with idempotent sinks vs the
reference's at-least-once NATS redelivery.
"""

from __future__ import annotations  # noqa: E402

import math  # noqa: E402
import os  # noqa: E402


def derived_state_partitions(spark, est_state_rows: int) -> int:
    """Derive the state-partition count for a stateful streaming query
    from an estimate of its TOTAL state rows (r16 OPT, guide §5 / r15
    verdict item 6).

    A stateful operator opens + commits one state store per shuffle
    partition per micro-batch, and that per-store cost is a FIXED
    overhead (RocksDB open/changelog-commit, measured ~1.9 s per
    watermark-advance batch at 32 partitions × 2 stores on ~10³-row
    state — pure machinery, zero data work). The partition count is
    pinned by the checkpoint at the FIRST batch, so it must be chosen
    up front, and `spark.sql.shuffle.partitions` is the only knob.

    Derivation (same derived-geometry pattern as the engine's LSH
    bands / state buckets / join epochs — parameterised, never a
    local-core constant):

        partitions = clamp(ceil(state_rows / rows_per_store), 1, ceiling)

    - ``rows_per_store`` (`SPARK_GRAFT_STATE_ROWS_PER_STORE`, default
      65536): below ~64k rows a store's fixed open/commit overhead
      dominates its data work, so splitting smaller state across more
      stores only multiplies overhead; at ~100 B/row it also keeps a
      store's working set ~6 MB — memtable-resident.
    - ``ceiling``: the session's AQE `initialPartitionNum` (32 ×
      cores locally, the cluster-submit value in production) — the
      same scale ceiling the batch side uses, reached only when state
      is genuinely huge (⇒ production behavior unchanged at corpus
      scale, where state_rows / 65536 ≫ cluster width).

    Callers pass the bounded replay input's row count (state ≤ input
    rows for every replayed fixture — an upper bound, so the pick errs
    toward MORE partitions). Local effect: small-state rows collapse
    from 32 stores/operator to 1-2; fingerprints unchanged (state
    partitioning never affects results, pinned by the interleaved A/B
    recorded in OPTIMIZATION_r16.md §3).
    """
    rows_per_store = int(os.environ.get("SPARK_GRAFT_STATE_ROWS_PER_STORE", 65536))
    if rows_per_store <= 0:  # escape hatch: disable the derivation
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        ceiling = int(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        )
    except Exception:  # noqa: BLE001 — vanilla session without the knob
        ceiling = spark.sparkContext.defaultParallelism * 32
    n = math.ceil(max(1, est_state_rows) / rows_per_store)
    return max(1, min(n, ceiling))
