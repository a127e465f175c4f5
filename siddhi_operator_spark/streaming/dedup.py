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

Exactly-once layout: foreachBatch alone is at-least-once — a replayed
epoch would re-append pairs AND duplicate signature/band state, which
then multiplies join output in every later batch.  So every state
write lands in a per-epoch subdir (``.../epoch=<id>``) with
mode("overwrite"): replaying epoch N overwrites N's own subdirs with a
byte-identical recomputation (state reads are filtered to epochs
strictly below N, so a half-committed first attempt is invisible), and
the union over epoch dirs is exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import dedup as D


def _epoch_dirs(spark: SparkSession, path: str, below: int | None = None):
    """List COMMITTED ``epoch=N`` subdirs of ``path`` (Hadoop FS, so
    any scheme works), optionally only epochs strictly below ``below``.
    Committed = the subdir carries its `_SUCCESS` marker — a crash
    mid-write leaves no marker and that epoch is invisible until its
    replay overwrites it. A store in any OTHER layout (e.g. the
    pre-r6 flat parquet append) raises loudly instead of being
    silently read as empty state.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    foreign = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith("epoch="):
            if not name.startswith(("_", ".")):
                foreign.append(name)
            continue
        if not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{path}/{name}/_SUCCESS")
        ):
            continue  # uncommitted (crashed mid-write) — replay rewrites it
        e = int(name.split("=", 1)[1])
        if below is None or e < below:
            out.append(f"{path}/{name}")
    if foreign:
        raise ValueError(
            f"{path} holds non-epoch entries {foreign[:3]} — this looks "
            "like a pre-epoch-layout (flat append) state store; the "
            "exactly-once layout cannot read it. Rebuild the state by "
            "replaying the corpus, or point state_dir at a fresh path."
        )
    return out


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Union the emitted candidate pairs across all committed epochs
    (the exactly-once read face of the service)."""
    dirs = _epoch_dirs(spark, f"{state_dir}/pairs")
    if not dirs:
        return spark.createDataFrame(
            [], "id_a long, id_b long, n_sig_match int, jaccard_est double"
        )
    return spark.read.parquet(*dirs)


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
    sig_dir = f"{state_dir}/sigs"
    band_dir = f"{state_dir}/bands"
    pairs_dir = f"{state_dir}/pairs"
    sig_names = [f"sig_{i}" for i in range(n_hashes)]

    def _read_state(spark, path, schema_like, epoch_id):
        dirs = _epoch_dirs(spark, path, below=epoch_id)
        if not dirs:
            return None
        return spark.read.schema(schema_like.schema).parquet(*dirs)

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        sigs_new = D.minhash_signature(batch, n_hashes, impl="arrow").select(
            "doc_id", *sig_names
        )
        sigs_new.persist()
        banded_new = D.band_table(sigs_new, n_hashes=n_hashes, band_size=band_size)
        banded_new.persist()
        stored_bands = _read_state(spark, band_dir, banded_new, epoch_id)
        all_bands = (
            banded_new
            if stored_bands is None
            else banded_new.unionByName(stored_bands)
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
        stored_sigs = _read_state(spark, sig_dir, sigs_new, epoch_id)
        all_sigs = (
            sigs_new if stored_sigs is None else sigs_new.unionByName(stored_sigs)
        )
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
        # per-epoch overwrite = idempotent on replay (state reads above
        # exclude this epoch, so recomputation is byte-identical even
        # after a half-committed first attempt)
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/epoch={epoch_id}")
        banded_new.write.mode("overwrite").parquet(f"{band_dir}/epoch={epoch_id}")
        sigs_new.write.mode("overwrite").parquet(f"{sig_dir}/epoch={epoch_id}")
        sigs_new.unpersist()
        banded_new.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


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

    Per epoch N, for the batch's eligible line positions
    (`pipeline.text.eligible_line_positions` — shared with the batch
    operator so the tokenizer cannot drift):

    - ``linecounts/epoch=N`` stores the batch's per-hash distinct-doc
      counts (each doc lives in exactly one epoch, so summing epoch
      partials is the corpus count — map-side-combinable, the same
      one-keyed-agg shape as the batch operator);
    - ``positions/epoch=N`` stores the batch's positions (the
      resident probe state, the line-dedup analog of the near-dup
      band store above);
    - ``drops/epoch=N`` EMITS the positions that became dropped this
      epoch: every batch position whose total count (stored + batch)
      is ≥ ``min_docs``, plus every STORED position whose hash
      crossed the threshold just now (stored-count < min_docs ≤
      total). Each position is emitted exactly once — at its doc's
      arrival if the line is already shared, else at the epoch the
      line becomes shared;
    - ``docs/epoch=N`` stores the raw text for the read-face refold.

    Same exactly-once layout as the near-dup service: per-epoch
    overwrite subdirs, state reads strictly below the current epoch,
    so an at-least-once foreachBatch replay recomputes its own epoch
    byte-identically. Per-batch cost is batch-positions × matched
    hashes — never a corpus rescan; at 100 TB the position store is
    written bucketed by hash so the newly-shared probe prunes."""
    from ..pipeline import text as X

    counts_dir = f"{state_dir}/linecounts"
    pos_dir = f"{state_dir}/positions"
    drops_dir = f"{state_dir}/drops"
    docs_dir = f"{state_dir}/docs"

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        docs = batch.select("doc_id", F.col(text_col).alias("text"))
        pos = X.eligible_line_positions(docs, "text", min_line_tokens)
        pos.persist()
        bcnt = (
            pos.select("doc_id", "h")
            .distinct()
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("nd"))
        )
        prior_dirs = _epoch_dirs(spark, counts_dir, below=epoch_id)
        if prior_dirs:
            prior = (
                spark.read.parquet(*prior_dirs)
                .groupBy("h")
                .agg(F.sum("nd").alias("nd_before"))
            )
        else:
            prior = None
        if prior is not None:
            tot = bcnt.join(prior, "h", "left").withColumn(
                "nd_before", F.coalesce(F.col("nd_before"), F.lit(0))
            )
        else:
            tot = bcnt.withColumn("nd_before", F.lit(0))
        tot = tot.withColumn("nd_total", F.col("nd") + F.col("nd_before"))
        shared_now = tot.filter(F.col("nd_total") >= min_docs)
        # batch positions whose line is shared as of this epoch
        drops_batch = pos.join(
            shared_now.select("h"), "h", "left_semi"
        ).select("doc_id", "idx")
        # stored positions whose line JUST crossed the threshold
        newly = shared_now.filter(F.col("nd_before") < min_docs).select("h")
        stored_dirs = _epoch_dirs(spark, pos_dir, below=epoch_id)
        if stored_dirs:
            drops_stored = (
                spark.read.parquet(*stored_dirs)
                .join(newly, "h", "left_semi")
                .select("doc_id", "idx")
            )
            drops = drops_batch.unionByName(drops_stored)
        else:
            drops = drops_batch
        drops.write.mode("overwrite").parquet(f"{drops_dir}/epoch={epoch_id}")
        bcnt.write.mode("overwrite").parquet(f"{counts_dir}/epoch={epoch_id}")
        pos.write.mode("overwrite").parquet(f"{pos_dir}/epoch={epoch_id}")
        docs.write.mode("overwrite").parquet(f"{docs_dir}/epoch={epoch_id}")
        pos.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def read_line_dedup(spark: SparkSession, state_dir: str) -> DataFrame:
    """The exactly-once read face of the line-dedup service: refold
    every stored document against the union of emitted drops — the
    output contract (doc_id, n_lines, n_removed, text_clean) and the
    refold implementation (`pipeline.text.refold_dropped_lines`) are
    the BATCH operator's, which is what lets the batch DuckDB oracle
    prove the streaming path."""
    from ..pipeline import text as X

    doc_dirs = _epoch_dirs(spark, f"{state_dir}/docs")
    if not doc_dirs:
        return spark.createDataFrame(
            [], "doc_id long, n_lines long, n_removed long, text_clean string"
        )
    base = spark.read.parquet(*doc_dirs).select(
        "doc_id", F.split(F.col("text"), r"\n").alias("_lines")
    )
    drop_dirs = _epoch_dirs(spark, f"{state_dir}/drops")
    drops = (
        spark.read.parquet(*drop_dirs)
        .distinct()  # belt-and-braces: the emit contract is once-only
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("_drop"))
    )
    return X.refold_dropped_lines(base, drops)


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
    as a RESIDENT streaming service — completes the text-dedup family's
    streaming twins (r7 verdict task 7; `incremental_line_dedup_sink`
    is the exact-line sibling): a winnow fingerprint's corpus-wide
    document count accumulates as docs arrive, and the moment it
    crosses ``min_docs`` every window position carrying it — in stored
    docs and all future ones — is masked out of the cleaned text.

    Per epoch N, over the batch's winnow windows
    (`pipeline.curation.winnow_positions` — shared with the batch
    operator, so fingerprints cannot drift):

    - ``fpcounts/epoch=N``: per-fp distinct-doc counts of THIS batch
      (each doc lives in one epoch; summing partials = corpus count);
    - ``positions/epoch=N``: the batch's (doc_id, pos, fp) windows —
      the resident probe state for retroactive masking;
    - ``hits/epoch=N``: EMITS the window positions that became masked
      this epoch — batch positions whose total count clears
      ``min_docs``, plus stored positions whose fp crossed the
      threshold just now. Exactly-once per position, same argument as
      the line service;
    - ``docs/epoch=N``: raw text for the read-face refold.

    Same per-epoch-overwrite exactly-once layout as the sibling
    services; per-batch cost is batch-windows × matched fps, never a
    corpus rescan."""
    from ..pipeline import curation as C

    counts_dir = f"{state_dir}/fpcounts"
    pos_dir = f"{state_dir}/positions"
    hits_dir = f"{state_dir}/hits"
    docs_dir = f"{state_dir}/docs"

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        docs = batch.select("doc_id", F.col(text_col).alias("text"))
        pos = C.winnow_positions(docs, "text", k, w)
        pos.persist()
        bcnt = pos.groupBy("fp").agg(
            F.count_distinct("doc_id").alias("nd")
        )
        prior_dirs = _epoch_dirs(spark, counts_dir, below=epoch_id)
        if prior_dirs:
            prior = (
                spark.read.parquet(*prior_dirs)
                .groupBy("fp")
                .agg(F.sum("nd").alias("nd_before"))
            )
            tot = bcnt.join(prior, "fp", "left").withColumn(
                "nd_before", F.coalesce(F.col("nd_before"), F.lit(0))
            )
        else:
            tot = bcnt.withColumn("nd_before", F.lit(0))
        tot = tot.withColumn("nd_total", F.col("nd") + F.col("nd_before"))
        shared_now = tot.filter(F.col("nd_total") >= min_docs)
        hits_batch = pos.join(
            shared_now.select("fp"), "fp", "left_semi"
        ).select("doc_id", "pos")
        newly = shared_now.filter(F.col("nd_before") < min_docs).select("fp")
        stored_dirs = _epoch_dirs(spark, pos_dir, below=epoch_id)
        if stored_dirs:
            hits_stored = (
                spark.read.parquet(*stored_dirs)
                .join(newly, "fp", "left_semi")
                .select("doc_id", "pos")
            )
            hits = hits_batch.unionByName(hits_stored)
        else:
            hits = hits_batch
        hits.write.mode("overwrite").parquet(f"{hits_dir}/epoch={epoch_id}")
        bcnt.write.mode("overwrite").parquet(f"{counts_dir}/epoch={epoch_id}")
        pos.write.mode("overwrite").parquet(f"{pos_dir}/epoch={epoch_id}")
        docs.write.mode("overwrite").parquet(f"{docs_dir}/epoch={epoch_id}")
        pos.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def read_span_removal(
    spark: SparkSession, state_dir: str, k: int = 3, w: int = 4
) -> DataFrame:
    """The exactly-once read face of the span-removal service: refold
    every stored document against the union of emitted hit positions —
    output contract and mask implementation
    (`pipeline.curation.refold_masked_tokens`) are the BATCH
    operator's, which is what lets the batch DuckDB oracle prove the
    streaming path."""
    from ..pipeline import curation as C

    doc_dirs = _epoch_dirs(spark, f"{state_dir}/docs")
    if not doc_dirs:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens long, n_removed long, text_clean string",
        )
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    base = spark.read.parquet(*doc_dirs).select("doc_id", ws.alias("_ws"))
    hit_dirs = _epoch_dirs(spark, f"{state_dir}/hits")
    hits = (
        spark.read.parquet(*hit_dirs)
        .distinct()  # belt-and-braces: the emit contract is once-only
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_hits"))
    )
    return C.refold_masked_tokens(base, hits, w + k - 1)
