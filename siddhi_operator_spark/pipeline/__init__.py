"""LLM-training-data pipeline operators (BASELINE.json north star):
deduplication, similarity search, text analysis, multimodal plumbing —
first-class components alongside the reference-parity surface, designed
for 100 TB inputs (keyed shuffles only, no driver-side loops, candidate
generation before any pairwise work).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_array(arr: Column, body: Callable[[Column], Column]) -> Column:
    """Let-bind an array-typed expression: evaluate ``arr`` ONCE per row
    and expose it to ``body`` as a cheap lambda variable (a ``transform``
    over a single-element array, unwrapped with ``[0]``).

    Guards against the interpreted-HOF re-embedding blowup (guide §1.2
    per-task work): a Column expression referenced N times is COPIED N
    times into the plan (Catalyst inlines aliases when projections
    collapse, and HOFs are CodegenFallback, so no common-subexpression
    elimination applies) — and a copy referenced inside a HOF lambda
    re-evaluates PER ELEMENT. Measured r15: the DSIR uni+bigram feature
    array spelled inline carried 18 regexp_replace copies and re-split
    the document per bigram (O(words²)); let-bound it is 0.66 → 0.15 s
    at sf0.1 (4.4×), byte-identical output."""
    return F.transform(F.array(arr), body)[0]


def ensure_input_parallelism(df: DataFrame) -> DataFrame:
    """Spread an under-parallel scan across the cluster before
    CPU-heavy per-row work (guide §2.5 "input skew": one small or
    unsplittable file yields one scan task — a single parquet row
    group cannot be split by ``minPartitionNum``, only moved).

    A corpus fixture that fits one row group is ONE scan task, so
    every pre-exchange stage built on it (per-token hashing, char/word
    explodes, n-gram folds, pairwise scoring probes) runs serially
    regardless of core count. Measured r15 across the document
    pipeline (OPTIMIZATION_r15.md §3, identical sorted rows per
    arm): minhash bench row 2.61 → 1.07 s, dsir 10.1 → 1.9 s,
    shingles 3.0 → 0.4 s, token-jaccard 5.3 → 1.4 s, char-LM 3.2 →
    1.1 s, repeated-spans 7.4 → 4.7 s at 32 cores.

    Scale-adaptive by construction: at corpus scale the scan already
    carries ≥ cores partitions and this is a no-op; the repartition
    only fires when the input is narrower than the cluster, and then
    it moves only the narrow input once. Call on raw scan inputs only
    (no upstream exchanges), so the partition-count probe plans but
    never launches a job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        p = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — parallelism probe is best-effort
        return df
    return df.repartition(target) if p < target else df
