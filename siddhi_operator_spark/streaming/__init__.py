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

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, GroupedData  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

_ROWS_PER_STORE = 65536


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

        partitions = clamp(ceil(state_rows / _ROWS_PER_STORE), 1, ceiling)

    - ``_ROWS_PER_STORE`` (65536): below ~64k rows a store's fixed
      open/commit overhead dominates its data work, so splitting
      smaller state across more stores only multiplies overhead; at
      ~100 B/row it also keeps a store's working set ~6 MB —
      memtable-resident.
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
    try:
        ceiling = int(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        )
    except Exception:  # noqa: BLE001 — vanilla session without the knob
        ceiling = spark.sparkContext.defaultParallelism * 32
    n = math.ceil(max(1, est_state_rows) / _ROWS_PER_STORE)
    return max(1, min(n, ceiling))


def keyed_groups(
    stream: DataFrame, key: str, n_buckets: int | None
) -> GroupedData:
    """The one grouping of every keyed state op: adds ``__sem_key``
    (``key`` cast to string; a NULL key stays NULL) and groups by it
    when ``n_buckets`` is None — a state op then emits its group key
    ``key_tuple[0]`` as it is — else by ``pmod(hash(key), n_buckets)``,
    the coarse-bucket layout, where one python call per micro-batch
    handles every key in a bucket (the kernels split a bucket's rows
    into keys by ``__sem_key``).

    `applyInPandasWithState` pays a python call per (group ×
    micro-batch), so keying the STATE by the semantic key makes
    high-cardinality streams overhead-bound (measured on 4 cores: the
    pattern NFA's state update costs ~5.6 ms per key per batch, 17–19 s
    for a 3,000-key batch against 2.3 s with 4 or 16 buckets); buckets
    amortize that over |keys|/n_buckets keys.
    Trade-off: each batch rewrites the whole bucket's state, so size
    n_buckets so one bucket's state fits a task comfortably, and keep
    per-key grouping for sparse-key streams. The bucket hash input is
    ``key`` as given (a bucketed checkpoint pins it), so an op that
    hashes the string key passes ``__sem_key`` itself."""
    projected = stream.withColumn("__sem_key", F.col(key).cast("string"))
    if n_buckets is None:
        return projected.groupBy("__sem_key")
    return projected.withColumn(
        "__bucket", F.pmod(F.hash(F.col(key)), F.lit(n_buckets))
    ).groupBy("__bucket")


def key_segments(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Order rows into contiguous per-key segments (``keys`` = their
    key column, e.g. carried state rows followed by a batch's rows):
    returns (order, seg_start, seg_end) — the permutation, and per
    permuted row the first/last index of its key's segment. The sort
    is stable, so within a key rows keep their incoming order (state
    rows before batch rows). Keys are factorized, not compared as
    strings: a NULL key is its own segment (never the string
    'None')."""
    codes = pd.factorize(keys, use_na_sentinel=False)[0]
    order = np.argsort(codes, kind="stable")
    c = codes[order]
    change = np.concatenate([[True], c[1:] != c[:-1]])
    first = np.nonzero(change)[0]
    last = np.concatenate([first[1:], [len(c)]]) - 1
    seg_id = np.cumsum(change) - 1
    return order, first[seg_id], last[seg_id]
