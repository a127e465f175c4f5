"""Streaming twins of the corpus-materialization operators
(`pipeline/curation.py`): global token-budget shard assignment as a
RESIDENT ingest service.

Reference parity: the upstream engine has no corpus-curation layer;
this extends the engine's streaming surface in the LLM-data-pipeline
direction (BASELINE.json north star). Its state dirs are
`streaming.sinks.EpochStore`s (the exactly-once layout is documented
there), so ``state_dir`` may use any Hadoop scheme.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .dedup import _foreach_batch
from .sinks import EpochStore


def incremental_shard_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    offsets: list[tuple[str, int]],
    budget: int = 512,
    text_col: str = "text",
) -> StreamingQuery:
    """Global shard assignment (`pipeline.curation.shard_assign`) as a
    streaming ingest service: documents arrive in micro-batches and
    each is assigned its final global shard id AT ARRIVAL, so a
    training job can start consuming shard N while shard N+1 is still
    filling.

    The frozen "model" is the per-source global offset table
    (`pipeline.curation.shard_offsets`, derived ONCE offline from the
    corpus census — source-count-bounded, the same frozen-serving
    shape as the DSIR twin).  The RESIDENT state is the per-source
    running token total:

    - ``running/epoch=N`` stores the batch's per-source token sums
      (summing the partials below N is the pre-batch running total);
    - ``assign/epoch=N`` EMITS the batch's assignments: shard =
      floor((src_offset + prior_running + within-batch preceding
      cumsum) / budget), the batch operator's rule with the cumsum
      split at the batch boundary.

    Arrival-order contract: docs must arrive in ``doc_id`` order
    within each source (the replay harness guarantees it; a real
    ingest front-ends the kslack/akslack reorderers for this).  Both
    dirs are exactly-once `streaming.sinks.EpochStore`s.  Per-batch
    cost is one keyed window over the batch plus two broadcast joins
    against source-count-bounded tables — never a corpus rescan."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        running = EpochStore(spark, f"{state_dir}/running")
        toks = F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
        )
        d = batch.select(
            "source", "doc_id", toks.cast("bigint").alias("n_tokens")
        )
        off_df = spark.createDataFrame(
            offsets, "source string, src_offset bigint"
        )
        run = d.groupBy("source").agg(F.sum("n_tokens").alias("nd"))
        prior = (
            running.read(below=epoch_id, like=run)
            .groupBy("source")
            .agg(F.sum("nd").alias("prior_tokens"))
        )
        win = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("n_tokens").over(win)
        # LEFT join + raise_error: a doc arriving from a source absent
        # from the frozen offset table poisons the query loudly — the
        # inner-join formulation would silently drop it from every
        # shard (same guard as the batch tier).
        off_checked = F.when(
            F.col("src_offset").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "incremental_shard_sink: source absent from "
                        "frozen offset table: "
                    ),
                    F.col("source"),
                )
            ).cast("bigint"),
        ).otherwise(F.col("src_offset"))
        assign = (
            d.join(F.broadcast(off_df), "source", "left")
            .join(F.broadcast(prior), "source", "left")
            .withColumn(
                "prior_tokens", F.coalesce(F.col("prior_tokens"), F.lit(0))
            )
            .select(
                "source",
                "doc_id",
                "n_tokens",
                F.floor(
                    (off_checked + F.col("prior_tokens") + cum - F.col("n_tokens"))
                    / budget
                ).alias("shard_id"),
            )
        )
        EpochStore(spark, f"{state_dir}/assign").write(assign, epoch_id)
        running.write(run, epoch_id)

    return _foreach_batch(stream, process, checkpoint)


def read_shard_assign(spark: SparkSession, state_dir: str) -> DataFrame:
    """The read face of the shard-assignment service: the union of all
    emitted per-epoch assignments — per-doc (source, doc_id, n_tokens,
    shard_id), the BATCH `shard_assign` contract, which is what lets
    the batch DuckDB oracle prove the streaming path."""
    assign = EpochStore(spark, f"{state_dir}/assign").read()
    if assign is None:
        return spark.createDataFrame(
            [],
            "source string, doc_id bigint, n_tokens bigint, shard_id bigint",
        )
    return assign
