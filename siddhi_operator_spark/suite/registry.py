"""Suite registry: name → (spark builder, duckdb oracle SQL, tags).

Conventions enforced here (they ARE the driver contract):
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates are rounded to 4 decimals on BOTH sides so
  summation-order FP noise can't flip the value hash;
- results must be deterministic (no collect_set ordering, no ties
  broken arbitrarily — always add a tiebreak column to row_number).
"""

from __future__ import annotations

import hashlib
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def module_code_token(mod) -> str:
    """8-hex md5 of a module's source file — THE stale-cache key
    ingredient for every `_READY`-gated scratch layout in the suite
    (r12 review: three hand-rolled copies of this idiom had already
    drifted into existence; one helper keeps the contract — "a code
    change to the writer invalidates layouts it wrote" — in one
    place)."""
    with open(mod.__file__, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()[:8]


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate suite query {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


def _materialize(
    stream: DataFrame,
    mode: str,
    expect_single_batch: bool = False,
    state_partitions: int | None = None,
) -> str:
    """Drain a bounded replay stream into a uniquely named memory-sink
    table and return its name: start → ``processAllAvailable`` → stop."""
    name = f"mq_{uuid.uuid4().hex[:10]}"
    spark = stream.sparkSession
    # r16 OPT (guide §5, r15 verdict item 6): state-heavy rows pass a
    # corpus-stat-derived partition count
    # (streaming.derived_state_partitions) so a small-state query does
    # not open+commit 32 RocksDB stores per operator per micro-batch.
    # The query snapshots the session conf at `start()` and its first
    # batch pins the partition count in the checkpoint, so the conf is
    # restored right after `start()` and nothing else in the session
    # sees it.
    prev = spark.conf.get("spark.sql.shuffle.partitions") if state_partitions else None
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .start()
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    # rows whose relational oracle is only valid for a one-trigger
    # replay (e.g. akslack's per-batch quantile re-derivation) must
    # FAIL LOUDLY if the fixture ever splits into multiple triggers
    # (ADVICE r9) — a maxFilesPerTrigger option or a multi-part
    # fixture would otherwise make a correct implementation gate red
    # with no hint why
    if expect_single_batch and len(fed) > 1:  # must survive python -O
        raise RuntimeError(
            f"oracle assumes a single-trigger replay; stream fed "
            f"{len(fed)} non-empty micro-batches"
        )
    return name
