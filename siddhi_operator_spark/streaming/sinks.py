"""Stream sinks (SURVEY.md §3.1, §3.2 —
`[core] stream/output/sink/Sink.java` SPI, `LogSink`, table callbacks).

- log sink              → `format("console")`
- inMemory sink         → `format("memory")` (test transport)
- file sink             → parquet append with checkpoint
- table upsert sink     → `foreachBatch` keyed MERGE into a parquet
  table (`UpdateOrInsertTableCallback.java`): last-writer-wins per key
  within the batch, then anti-join + union against the current table
  snapshot. With Delta/Iceberg on the classpath this becomes a real
  MERGE INTO; the parquet implementation keeps the same contract
  (idempotent per epoch → exactly-once with checkpointing).
- :class:`EpochStore`   → the one committed-state layout behind every
  foreachBatch service and table (`[core] util/snapshot/
  SnapshotService.java` + `FilePersistenceStore` analog).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.similarity import _hfs


class EpochStore:
    """Exactly-once committed state for at-least-once foreachBatch
    bodies: one parquet dir per version, ``path/<prefix>=N``
    (``epoch=N`` for the services, ``v=N`` for the tables), read and
    written through the Hadoop FS API so any scheme works (local,
    ``file://``, ``hdfs://``, ``s3a://``).

    - **Write** (:meth:`write`): ``mode("overwrite")`` into version N's
      own dir. A replayed epoch overwrites its dir with a recomputation
      from the same inputs.
    - **Commit**: a version is visible only once its dir carries the
      writer's ``_SUCCESS`` marker. A crash mid-write leaves a torn,
      invisible dir that the replay overwrites.
    - **Read** (:meth:`read`): every committed version below N, or only
      the latest one. Epoch N's body reads strictly below N, so its
      recomputation is byte-identical even after a half-committed first
      attempt. Additive state (counts, token sums) stores per-epoch
      partials; each document lives in exactly one epoch, so the sum of
      the partials below N is the pre-batch total.
    - **Replay rule**: checkpoint replay only ever revisits the latest
      epoch, so writing version N equal to the latest committed one is a
      replay, and N BELOW it raises: a second stream (a fresh
      checkpoint) is writing to a used state dir, and overwriting the
      first stream's epochs would silently corrupt both. (A dir whose
      only committed epoch is 0 cannot tell a fresh stream's epoch 0
      from a replay.)
    - Any other entry in ``path`` (e.g. a pre-epoch flat parquet
      append) raises instead of being read as empty state.
    """

    def __init__(self, spark: SparkSession, path: str, prefix: str = "epoch"):
        self.spark = spark
        self.path = path
        self.prefix = prefix

    def dir(self, n: int) -> str:
        return f"{self.path}/{self.prefix}={n}"

    def versions(self) -> list[int]:
        """Sorted committed version numbers."""
        P, fs = _hfs(self.spark, self.path)
        if not fs.exists(P(self.path)):
            return []
        found, foreign = [], []
        for st in fs.listStatus(P(self.path)):
            name = st.getPath().getName()
            if name.startswith(f"{self.prefix}="):
                if fs.exists(P(f"{self.path}/{name}/_SUCCESS")):
                    found.append(int(name.split("=", 1)[1]))
            elif not name.startswith(("_", ".")):
                foreign.append(name)
        if foreign:
            raise ValueError(
                f"{self.path} holds entries {foreign[:3]} outside the "
                f"'{self.prefix}=N' layout — this looks like a "
                "pre-epoch-layout (flat append) state store; the "
                "exactly-once layout cannot read it. Rebuild the state by "
                "replaying the corpus, or point state_dir at a fresh path."
            )
        return sorted(found)

    def read(
        self,
        below: int | None = None,
        latest: bool = False,
        like: DataFrame | None = None,
    ) -> DataFrame | None:
        """Union of the committed versions strictly below ``below``
        (all when None), or only the newest of them when ``latest``.
        With ``like``, the read takes its schema and an empty store
        reads as ``like.limit(0)``; without it an empty store is None."""
        vs = [v for v in self.versions() if below is None or v < below]
        if latest:
            vs = vs[-1:]
        if not vs:
            return None if like is None else like.limit(0)
        reader = self.spark.read
        if like is not None:
            reader = reader.schema(like.schema)
        return reader.parquet(*map(self.dir, vs))

    def write(self, df: DataFrame, n: int) -> None:
        """Overwrite version ``n`` under the replay rule."""
        vs = self.versions()
        if vs and n < vs[-1]:
            raise ValueError(
                f"{self.prefix}={n} is below the latest committed "
                f"{self.prefix}={vs[-1]} under {self.path}: another stream "
                "(a fresh checkpoint) already wrote this state dir. Point "
                "it at a fresh path, or restart from that stream's "
                "checkpoint."
            )
        df.write.mode("overwrite").parquet(self.dir(n))


def memory_sink(stream: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    return (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def parquet_sink(
    stream: DataFrame, path: str, checkpoint: str
) -> StreamingQuery:
    return (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def dead_letter_foreach_batch(process, dead_letter_path: str):
    """`@OnError(action='STREAM')` analog (SURVEY.md §3.10 —
    `StreamJunction` fault-stream side channel): wrap a foreachBatch
    body; if it throws, the whole batch lands in the dead-letter
    location (parquet, with an epoch column) instead of killing the
    query — the `!failedStream` consumers read that path."""

    def wrapped(batch: DataFrame, epoch_id: int) -> None:
        try:
            process(batch, epoch_id)
        except Exception:
            # an EpochStore, NOT a flat append: foreachBatch is
            # at-least-once, and a replayed failed epoch would
            # double-append its rows into the dead-letter set
            EpochStore(batch.sparkSession, dead_letter_path).write(
                batch.withColumn("_epoch", F.lit(epoch_id)), epoch_id
            )

    return wrapped


class ParquetUpsertTable:
    """Keyed mutable table backed by parquet — the engine's
    `define table` + `@PrimaryKey` store (`InMemoryTable.java` /
    `@store` analog, durable). Readers get the latest snapshot;
    `upsert_batch` is the foreachBatch target.

    Snapshot layout: an :class:`EpochStore` of ``v=N`` snapshots, one
    per epoch N, with only the latest read — a poor-man's Delta commit
    log; swap for Delta/Iceberg when the jars are available (same
    API)."""

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.store = EpochStore(spark, path, prefix="v")

    def snapshot(self) -> DataFrame | None:
        return self.store.read(latest=True)

    def upsert_batch(self, batch: DataFrame, epoch_id: int, order_col: str) -> None:
        """MERGE: dedupe the batch per key (last writer by order_col),
        then snapshot N = batch ∪ (latest version below N ∖ batch-keys),
        written as ``v=N`` for epoch N under the store's replay rule."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.keys).orderBy(F.desc(order_col))
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        cur = self.store.read(below=epoch_id, latest=True)
        if cur is not None:
            keep = cur.join(
                F.broadcast(latest.select(*self.keys).distinct()),
                on=self.keys,
                how="left_anti",
            )
            merged = keep.unionByName(latest)
        else:
            merged = latest
        self.store.write(merged, epoch_id)

    def changes(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame | None:
        """Change feed over the version history — the engine's
        `[ext:io-cdc] CDCSource` analog (reference: Debezium rows with
        op + before/after images). Emits Delta-CDF-shaped rows: table
        columns + `_change_type` ('insert' | 'update_preimage' |
        'update_postimage' | 'delete') + `_commit_version`, derived by
        keyed full-outer diff of consecutive snapshots. With Delta on
        the classpath this becomes `table_changes(...)` reading the
        commit log instead of diffing; the contract is identical.

        Scale: each version pair is ONE keyed full-outer join (shuffle
        on the primary key) — no cross-version state; at 100 TB the
        snapshots are key-bucketed so the join is co-partitioned."""
        vs = self.store.versions()
        if not vs or to_version == from_version:
            return None
        to_version = vs[-1] if to_version is None else to_version
        chain = [v for v in vs if from_version <= v <= to_version]
        out = None
        for v_prev, v_next in zip(chain, chain[1:]):
            prev = self.spark.read.parquet(self.store.dir(v_prev))
            nxt = self.spark.read.parquet(self.store.dir(v_next))
            val_cols = [c for c in nxt.columns if c not in self.keys]
            n = nxt.withColumn("_pn", F.lit(True)).alias("n")
            p = prev.withColumn("_pp", F.lit(True)).alias("p")
            j = n.join(p, on=self.keys, how="full_outer")
            changed = None
            for c in val_cols:
                neq = ~F.col(f"n.{c}").eqNullSafe(F.col(f"p.{c}"))
                changed = neq if changed is None else (changed | neq)
            is_insert = F.col("_pp").isNull()
            is_delete = F.col("_pn").isNull()

            def _img(side: str, ctype: str, cond) -> DataFrame:
                return j.filter(cond).select(
                    *self.keys,
                    *[F.col(f"{side}.{c}").alias(c) for c in val_cols],
                    F.lit(ctype).alias("_change_type"),
                    F.lit(v_next).alias("_commit_version"),
                )

            is_update = ~is_insert & ~is_delete & changed
            ins = _img("n", "insert", is_insert)
            dels = _img("p", "delete", is_delete)
            upd_post = _img("n", "update_postimage", is_update)
            upd_pre = _img("p", "update_preimage", is_update)
            step = ins.unionByName(dels).unionByName(upd_post).unionByName(upd_pre)
            out = step if out is None else out.unionByName(step)
        return out

    def sink(
        self, stream: DataFrame, checkpoint: str, order_col: str
    ) -> StreamingQuery:
        return (
            stream.writeStream.foreachBatch(
                lambda df, eid: self.upsert_batch(df, eid, order_col)
            )
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .start()
        )


def store_sink(
    stream: DataFrame,
    stream_def,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Stream → `@store`-bound external table (`[ext:store-rdbms]`
    RDBMSTable sink et al.): each micro-batch appends through the
    standard DataSource writer resolved from the `@store` annotation
    (JDBC/Mongo/parquet — `sources.stores.store_options`).

    foreachBatch + checkpointing gives at-least-once into stores
    without transactional writers (JDBC appends are not idempotent on
    replay; exactly-once needs a store-side MERGE keyed by an event id
    — the same caveat the reference's RDBMS sink carries)."""
    from ..sources.stores import write_store

    def _write(batch: DataFrame, epoch_id: int) -> None:
        write_store(batch, stream_def, mode="append")

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )
