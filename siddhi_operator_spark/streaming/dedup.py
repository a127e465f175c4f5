"""Streaming incremental near-dup detection — the minhash/LSH dedup
stack as a RESIDENT service: documents arrive as a stream, each
micro-batch emits exactly the candidate pairs that involve a NEW
document (vs the stored corpus and within the batch), and the
signature/band state grows append-only.

Per-batch cost is new-bands × colliding buckets — never a corpus-wide
recompute. At 100 TB the band store is written bucketed by
(band, band_hash) so the new-vs-stored join prunes to the buckets the
batch actually touches; here it is plain parquet (same contract, no
pruning at test scale). Replaying a corpus through this service yields
the batch `lsh_candidate_pairs` output exactly — every pair (a, b) is
emitted once, in the batch where its LATER member arrives — which is
what lets the batch DuckDB oracle prove the streaming path
(`suite/streaming_suite.streaming_incremental_neardup`).

Every state dir here is a `streaming.sinks.EpochStore` (the
exactly-once layout is documented there), so ``state_dir`` may use any
Hadoop scheme.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import dedup as D
from .sinks import EpochStore


def _foreach_batch(stream: DataFrame, process, checkpoint: str) -> StreamingQuery:
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Union the emitted candidate pairs across all committed epochs
    (the exactly-once read face of the service)."""
    pairs = EpochStore(spark, f"{state_dir}/pairs").read()
    if pairs is None:
        return spark.createDataFrame(
            [], "id_a long, id_b long, n_sig_match int, jaccard_est double"
        )
    return pairs


def incremental_neardup_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    n_hashes: int = 32,
    band_size: int = 8,
) -> StreamingQuery:
    """Attach the incremental near-dup service to a document stream.

    State layout under ``state_dir``: ``sigs/epoch=N`` (doc_id, sig_*)
    and ``bands/epoch=N`` (doc_id, band, band_hash); emitted candidate
    pairs land in ``pairs/epoch=N`` with the same schema as
    `pipeline.dedup.lsh_candidate_pairs` (id_a, id_b, n_sig_match,
    jaccard_est). Read the pairs with :func:`read_pairs`.
    """
    sig_names = [f"sig_{i}" for i in range(n_hashes)]

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        sigs, bands, pairs_out = (
            EpochStore(spark, f"{state_dir}/{n}") for n in ("sigs", "bands", "pairs")
        )
        sigs_new = D.minhash_signature(batch, n_hashes, impl="arrow").select(
            "doc_id", *sig_names
        )
        sigs_new.persist()
        banded_new = D.band_table(sigs_new, n_hashes=n_hashes, band_size=band_size)
        banded_new.persist()
        all_bands = banded_new.unionByName(
            bands.read(below=epoch_id, like=banded_new)
        )
        # pairs where at least one side is NEW: probe side = new bands
        cand = (
            banded_new.alias("a")
            .join(
                all_bands.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a.doc_id") != F.col("b.doc_id"),
                ],
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        all_sigs = sigs_new.unionByName(sigs.read(below=epoch_id, like=sigs_new))
        n_match = sum(
            F.when(F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        )
        pairs = (
            cand.join(all_sigs.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
            .join(all_sigs.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
            .select("id_a", "id_b", n_match.alias("n_sig_match"))
            .withColumn("jaccard_est", F.col("n_sig_match") / F.lit(float(n_hashes)))
        )
        pairs_out.write(pairs, epoch_id)
        bands.write(banded_new, epoch_id)
        sigs.write(sigs_new, epoch_id)
        sigs_new.unpersist()
        banded_new.unpersist()

    return _foreach_batch(stream, process, checkpoint)


def _threshold_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    positions: Callable[[DataFrame], DataFrame],
    key: str,
    pos_col: str,
    counts_dir: str,
    emit_dir: str,
    min_docs: int,
    text_col: str,
) -> StreamingQuery:
    """The one body behind both text-dedup services: ``positions`` maps
    (doc_id, text) to (doc_id, ``pos_col``, ``key``) rows, and a
    position is emitted once its ``key``'s corpus-wide document count
    reaches ``min_docs``. Per epoch N:

    - ``<counts_dir>/epoch=N`` stores the batch's per-key distinct-doc
      counts (summing the partials below N is the pre-batch count);
    - ``positions/epoch=N`` stores the batch's positions (the resident
      probe state);
    - ``<emit_dir>/epoch=N`` EMITS every batch position whose total
      count (stored + batch) is ≥ ``min_docs``, plus every STORED
      position whose key crossed the threshold just now (stored-count
      < min_docs ≤ total). Each position is emitted exactly once — at
      its doc's arrival if the key is already shared, else at the epoch
      the key becomes shared;
    - ``docs/epoch=N`` stores the raw text for the read-face refold.

    Per-batch cost is batch-positions × matched keys — never a corpus
    rescan; at 100 TB the position store is written bucketed by key so
    the newly-shared probe prunes."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        counts, stored, emitted, docs_store = (
            EpochStore(spark, f"{state_dir}/{n}")
            for n in (counts_dir, "positions", emit_dir, "docs")
        )
        docs = batch.select("doc_id", F.col(text_col).alias("text"))
        pos = positions(docs)
        pos.persist()
        bcnt = pos.groupBy(key).agg(F.count_distinct("doc_id").alias("nd"))
        prior = (
            counts.read(below=epoch_id, like=bcnt)
            .groupBy(key)
            .agg(F.sum("nd").alias("nd_before"))
        )
        tot = bcnt.join(prior, key, "left").withColumn(
            "nd_before", F.coalesce(F.col("nd_before"), F.lit(0))
        )
        shared_now = tot.filter(F.col("nd") + F.col("nd_before") >= min_docs)
        newly = shared_now.filter(F.col("nd_before") < min_docs).select(key)
        marks = (
            pos.join(shared_now.select(key), key, "left_semi")
            .unionByName(
                stored.read(below=epoch_id, like=pos).join(newly, key, "left_semi")
            )
            .select("doc_id", pos_col)
        )
        emitted.write(marks, epoch_id)
        counts.write(bcnt, epoch_id)
        stored.write(pos, epoch_id)
        docs_store.write(docs, epoch_id)
        pos.unpersist()

    return _foreach_batch(stream, process, checkpoint)


def _refold_read(
    spark: SparkSession,
    state_dir: str,
    emit_dir: str,
    pos_col: str,
    empty_schema: str,
    refold: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The read face shared by both text services: refold every stored
    document (doc_id, text) against its emitted positions, collected
    per doc into ``_marks``, with the BATCH operator's refold — which is
    what lets the batch DuckDB oracle prove the streaming path."""
    docs = EpochStore(spark, f"{state_dir}/docs").read()
    if docs is None:
        return spark.createDataFrame([], empty_schema)
    marks = (
        EpochStore(spark, f"{state_dir}/{emit_dir}")
        .read()
        .distinct()  # belt-and-braces: the emit contract is once-only
        .groupBy("doc_id")
        .agg(F.collect_set(pos_col).alias("_marks"))
    )
    return refold(docs, marks)


def incremental_line_dedup_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    min_docs: int = 2,
    min_line_tokens: int = 3,
    text_col: str = "text",
) -> StreamingQuery:
    """Line-level boilerplate dedup (`pipeline.text.dedup_lines`) as a
    RESIDENT streaming service — the RefinedWeb-style ingest path: a
    line's corpus-wide document count accumulates as docs arrive, and
    the moment it crosses ``min_docs`` it is dropped from EVERY
    document, past and future.

    Runs :func:`_threshold_sink` over
    `pipeline.text.eligible_line_positions` (shared with the batch
    operator so the tokenizer cannot drift), keyed by the line hash
    ``h`` with positions ``idx``; state dirs ``linecounts``,
    ``positions``, ``drops`` (the emitted positions) and ``docs``,
    each an exactly-once `streaming.sinks.EpochStore`. Read the
    output with :func:`read_line_dedup`."""
    from ..pipeline import text as X

    return _threshold_sink(
        stream, state_dir, checkpoint,
        lambda docs: X.eligible_line_positions(docs, "text", min_line_tokens),
        "h", "idx", "linecounts", "drops", min_docs, text_col,
    )


def read_line_dedup(spark: SparkSession, state_dir: str) -> DataFrame:
    """The read face of the line-dedup service: the BATCH operator's
    output contract (doc_id, n_lines, n_removed, text_clean) and refold
    (`pipeline.text.refold_dropped_lines`) over every stored document."""
    from ..pipeline import text as X

    return _refold_read(
        spark, state_dir, "drops", "idx",
        "doc_id long, n_lines long, n_removed long, text_clean string",
        lambda docs, marks: X.refold_dropped_lines(
            docs.select("doc_id", F.split(F.col("text"), r"\n").alias("_lines")),
            marks.withColumnRenamed("_marks", "_drop"),
        ),
    )


def incremental_span_removal_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    k: int = 3,
    w: int = 4,
    min_docs: int = 2,
    text_col: str = "text",
) -> StreamingQuery:
    """Repeated-span removal (`pipeline.curation.remove_repeated_spans`)
    as a RESIDENT streaming service (`incremental_line_dedup_sink` is
    the exact-line sibling): a winnow fingerprint's corpus-wide
    document count accumulates as docs arrive, and the moment it
    crosses ``min_docs`` every window position carrying it — in stored
    docs and all future ones — is masked out of the cleaned text.

    Runs :func:`_threshold_sink` over `pipeline.curation.winnow_positions`
    (shared with the batch operator, so fingerprints cannot drift),
    keyed by ``fp`` with window positions ``pos``; state dirs
    ``fpcounts``, ``positions``, ``hits`` (the emitted positions) and
    ``docs``, each an exactly-once `streaming.sinks.EpochStore`. Read
    the output with :func:`read_span_removal`."""
    from ..pipeline import curation as C

    return _threshold_sink(
        stream, state_dir, checkpoint,
        lambda docs: C.winnow_positions(docs, "text", k, w),
        "fp", "pos", "fpcounts", "hits", min_docs, text_col,
    )


def read_span_removal(
    spark: SparkSession, state_dir: str, k: int = 3, w: int = 4
) -> DataFrame:
    """The read face of the span-removal service: the BATCH operator's
    output contract (doc_id, n_tokens, n_removed, text_clean) and mask
    (`pipeline.curation.refold_masked_tokens`) over every stored
    document."""
    from ..pipeline import curation as C

    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    return _refold_read(
        spark, state_dir, "hits", "pos",
        "doc_id long, n_tokens long, n_removed long, text_clean string",
        lambda docs, marks: C.refold_masked_tokens(
            docs.select("doc_id", ws.alias("_ws")),
            marks.withColumnRenamed("_marks", "_hits"),
            w + k - 1,
        ),
    )
