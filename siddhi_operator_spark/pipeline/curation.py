"""Corpus-curation operators for LLM training-data pipelines: PII
masking, repetition-based quality signals, eval-set decontamination,
deterministic domain re-balancing, sequence packing, and winnowing
fingerprints.

Everything here is pure Catalyst (no Python UDFs): per-row regex /
array work runs inside whole-stage codegen over the parquet scan; the
only shuffles are the explicit keyed aggregations and keyed window
functions, each of which partitions by a corpus key (``doc_id``,
``source``) that remains well-distributed at 100 TB.

Reference parity: the upstream engine has no corpus-curation layer —
these operators extend the engine in the direction BASELINE.json's
"LLM-data-pipeline" north star asks for, alongside
``pipeline/dedup.py`` and ``pipeline/text.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import bind_array
from . import ensure_input_parallelism as _par
from ..fpround import r4

# Redaction patterns (RE2- and java.util.regex-compatible — the same
# strings drive the DuckDB oracle).  Order matters: emails before
# phones (an email local-part may contain digits), IPs before phones
# (dots keep the phone charset from crossing an IP, but masking IPs
# first makes that independent of charset choices).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


def pii_mask(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / phone-shaped digit runs with typed
    placeholder tokens and report per-document redaction counts.

    Pure projection — no shuffle at any scale; the regexes compile
    once per task and run inside codegen (`regexp_replace` /
    `regexp_count` are Catalyst expressions, not UDFs).
    """
    c = F.col(text_col)
    n_email = F.regexp_count(c, F.lit(PII_EMAIL))
    after_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    n_ip = F.regexp_count(after_email, F.lit(PII_IPV4))
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    n_phone = F.regexp_count(after_ip, F.lit(PII_PHONE))
    masked = F.regexp_replace(after_ip, PII_PHONE, "<PHONE>")
    return df.select(
        "doc_id",
        n_email.cast("bigint").alias("n_email"),
        n_ip.cast("bigint").alias("n_ip"),
        n_phone.cast("bigint").alias("n_phone"),
        F.md5(masked).alias("masked_md5"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction and
    top-word fraction (the n=1 instance of "fraction of characters in
    the most common n-gram").

    Two keyed aggregations — (doc_id, word) then doc_id — both
    map-side combinable; the shuffle key cardinality is bounded by the
    vocabulary actually present per partition, so partial aggregation
    absorbs most of the volume before the exchange.
    """
    words = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("n"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("n").alias("top_word_n"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        r4(1.0 - F.col("n_distinct_words") / F.col("n_words"), 4).alias(
            "dup_word_ratio"
        ),
        r4(F.col("top_word_n") / F.col("n_words"), 4).alias("top_word_ratio"),
    )


def _word_ngrams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, pos, gram) word n-grams via a keyed window — the
    per-doc window is narrow (documents, not the corpus, bound the
    partition) so this scales with ordinary keyed parallelism."""
    words = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, n)]
    grams = words.select(
        "doc_id", "pos", F.concat_ws(" ", *parts).alias("gram"),
        parts[-1].alias("_tail"),
    )
    return grams.filter(F.col("_tail").isNotNull()).drop("_tail")


def decontaminate(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    eval_mod: int = 97,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with the held-out eval slice (here: ``doc_id %
    eval_mod == 0``, standing in for an external benchmark table).

    The eval gram set is small by construction — broadcast it and the
    containment check is a map-side semi join over the training grams;
    no large shuffle survives at 100 TB.
    """
    grams = _word_ngrams(df, text_col, n)
    eval_grams = (
        grams.filter(F.col("doc_id") % eval_mod == 0)
        .select(F.col("gram").alias("eg"))
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    hits = train.join(
        F.broadcast(eval_grams), train["gram"] == eval_grams["eg"], "inner"
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_overlap_grams")
    )
    return per_doc.select(
        "doc_id", "n_overlap_grams", F.lit(1).alias("contaminated")
    )


def _bloom_positions(
    col: Column, k: int = 4, hash_fn: str = "xxhash64", bits_log2: int = 20
) -> list[Column]:
    """``k`` ``bits_log2``-bit bloom positions per value. Two tiers
    (same convention as ``dedup.simhash64`` / ``simhash64_md5``):

    - ``xxhash64`` (default): one seeded 64-bit hash per position,
      masked to ``bits_log2`` bits — the fast production tier (~2×
      cheaper than md5+conv at ×100 docs, measured); sizes beyond the
      2^20 default buy set capacity linearly (2^24 = 2 MB holds ~1e6
      keys at <0.1 % FP);
    - ``md5``: non-overlapping 5-hex-digit slices of md5 (20-bit
      only), portable across engines — the DuckDB oracle derives
      byte-identical positions with strpos digit arithmetic.
    """
    if hash_fn == "xxhash64":
        return [
            F.xxhash64(col, F.lit(j)).bitwiseAND(F.lit((1 << bits_log2) - 1))
            for j in range(k)
        ]
    if bits_log2 != 20:
        raise ValueError("md5 slice tier is fixed at 20-bit positions")
    if not 1 <= k <= 6:
        raise ValueError("md5 has 32 hex digits = six 5-digit slices")
    h = F.md5(col)
    return [
        F.conv(F.substring(h, 5 * j + 1, 5), 16, 10).cast("long")
        for j in range(k)
    ]


def bloom_build(
    grams: DataFrame,
    gram_col: str = "gram",
    k: int = 4,
    hash_fn: str = "xxhash64",
    bits_log2: int = 20,
) -> DataFrame:
    """Aggregate a gram set into a 2^``bits_log2``-bit bloom filter
    laid out as (word_idx, word) 64-bit words via ``bit_or`` — at most
    2^(bits_log2-6) rows, i.e. 2^(bits_log2-3) bytes (128 KB at the
    20-bit default, 16 MB at the 27-bit auto-derivation cap)
    REGARDLESS of how large the eval/blocklist set grows. That
    key-count-independent size is the scale story: the exact-gram
    broadcast in :func:`decontaminate` grows linearly with the
    benchmark suite, this one is bounded by its bit geometry."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(gram_col), k, hash_fn, bits_log2))
    ).alias("pos")
    return (
        grams.select(pos)
        .groupBy(F.expr("shiftright(pos, 6)").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("word")
        )
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    gram_col: str = "gram",
    keys: Sequence[str] = ("doc_id",),
    k: int = 4,
    hash_fn: str = "xxhash64",
    bits_log2: int = 20,
) -> DataFrame:
    """Keep the rows whose ``gram_col`` is (probably) in the bloom set:
    every one of the k bit positions must be set (``hash_fn`` must
    match the one the bloom was built with).

    ZERO-shuffle probe: the word table densifies into ONE
    2^(bits_log2-6)-slot array<long> row (every word_idx slot present;
    16 384 slots / 128 KB at the 20-bit default, 2 M slots / 16 MB at
    the 27-bit auto-derivation cap — the densify is one collect_list
    reduction and the single row broadcasts to every task, so the cap
    in the span auto-router is exactly the largest size this stays
    cheap at; round-tripped at 27 bits by unit test) that joins in as
    a broadcast single row; each gram then tests its k bits with
    `element_at(array, idx)` — an O(1) ARRAY INDEX — inside codegen.
    No explode, no per-gram join, no re-fold aggregation: a straight
    filter over the scan. (Two rejected formulations, both measured at
    ×100 docs: explode-×k + (keys, gram) fold = a 46 M-row shuffle,
    18 s; map<long,long> literal = element_at on a Spark MAP is a
    LINEAR scan of all 16 384 entries per probe, 85 s.)"""
    keys = list(keys)
    n_words = 1 << (bits_log2 - 6)
    dense = (
        bloom.sparkSession.range(n_words)
        .select(F.col("id").alias("word_idx"))
        .join(bloom, "word_idx", "left")
        .select("word_idx", F.coalesce("word", F.lit(0)).alias("word"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_idx", "word"))),
                lambda s: s["word"],
            ).alias("_bloom")
        )
    )
    probe = df.select(*keys, gram_col).join(F.broadcast(dense))
    for j, pc in enumerate(
        _bloom_positions(F.col(gram_col), k, hash_fn, bits_log2)
    ):
        probe = probe.withColumn(f"_p{j}", pc.cast("long"))
    cond = None
    for j in range(k):
        c = F.expr(
            f"(shiftright(element_at(_bloom, CAST(shiftright(_p{j}, 6) AS INT) + 1),"
            f" CAST(_p{j} % 64 AS INT)) & 1) = 1"
        )
        cond = c if cond is None else (cond & c)
    return probe.filter(cond).select(*keys, gram_col)


def decontaminate_bloom(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    eval_mod: int = 97,
    k: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB path of
    :func:`decontaminate`. The exact variant broadcasts the eval gram
    STRINGS (grows with the benchmark suite; 13-grams are ~100 B each);
    this one folds them into a 2^20-bit / 16 384-word bloom filter
    (~128 KB, fixed) and probes each training gram with k=4 hashes —
    one tiny broadcast join inside the scan, false-positive rate
    (1 - e^(-k·n/m))^k ≈ 2e-6 at 10 k eval grams, i.e. over-flagging
    a handful of documents per billion, the right trade for a filter
    whose cost must not scale with the eval suite.

    Output matches :func:`decontaminate` (doc_id, n_flagged_grams,
    contaminated) so the two are drop-in interchangeable; the DuckDB
    oracle replays the bit-exact position membership, so the driver
    proves the bloom semantics, FPs included."""
    grams = _word_ngrams(df, text_col, n)
    eval_grams = (
        grams.filter(F.col("doc_id") % eval_mod == 0).select("gram").distinct()
    )
    bloom = bloom_build(eval_grams, "gram", k, hash_fn)
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    flagged = bloom_probe(
        train, bloom, "gram", keys=("doc_id",), k=k, hash_fn=hash_fn
    )
    return (
        flagged.groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_flagged_grams"))
        .select("doc_id", "n_flagged_grams", F.lit(1).alias("contaminated"))
    )


def domain_mix_sample(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified re-balancing toward a uniform domain
    mix: every ``source`` is down-sampled to the size of the smallest
    one via a content-free integer hash gate (Knuth multiplicative
    hash of the key, reduced mod 2^16 — stable across runs AND
    engines, no RNG; the mod-first form keeps the product inside
    int64 at any key magnitude).

    Per-source counts are one map-combinable aggregation; the
    per-source keep-rate table is tiny and broadcast back, so the gate
    itself is a pure projection over the corpus scan.
    """
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    target = counts.select(F.min("n_total").alias("tgt"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "source", "n_total", (F.col("tgt") / F.col("n_total")).alias("rate")
    )
    frac = (
        (F.col(key_col).cast("bigint") % 65536) * F.lit(2654435761)
    ) % 65536 / F.lit(65536.0)
    kept = (
        df.join(F.broadcast(rates), "source")
        .filter(frac < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            r4(F.col("rate"), 4).alias("rate"),
        )
    )


def domain_mix_temperature(
    df: DataFrame, tau: float = 0.5, key_col: str = "doc_id"
) -> DataFrame:
    """Temperature-based domain re-balancing — the multilingual /
    multi-source sampling rule (sampled mass ∝ n_s^τ): keep-rate per
    source = (n_min / n_s)^(1-τ), so the smallest source keeps
    everything and larger sources are down-weighted with temperature
    ``tau`` (τ=1 no change, τ=0 uniform — the :func:`domain_mix_sample`
    special case).

    Same scale shape as the uniform variant: one map-combinable
    per-source count, a tiny broadcast rate table, and a deterministic
    Knuth-hash gate as a pure projection — no RNG, no shuffle of the
    corpus beyond the count.
    """
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    target = counts.select(F.min("n_total").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "source",
        "n_total",
        F.pow(F.col("n_min") / F.col("n_total"), F.lit(1.0 - tau)).alias("rate"),
    )
    frac = (
        (F.col(key_col).cast("bigint") % 65536) * F.lit(2654435761)
    ) % 65536 / F.lit(65536.0)
    kept = (
        df.join(F.broadcast(rates), "source")
        .filter(frac < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        r4(F.col("rate"), 4).alias("rate"),
    )


def seq_pack_bins(
    df: DataFrame, budget: int = 256, text_col: str = "text"
) -> DataFrame:
    """Sequence packing: assign documents, in stable ``doc_id`` order
    within each ``source`` shard, to fixed token-budget bins (bin =
    floor(preceding-cumulative-tokens / budget)) and report per-bin
    fill. The greedy-by-cumsum rule is the shuffle-free analog of
    first-fit packing used by training loaders.

    The window partitions by ``source`` — at 100 TB packing is always
    per-shard (a global order would serialize the corpus through one
    partition), and per-shard order is what a sharded loader consumes.
    """
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != ""))
    d = df.select("source", "doc_id", toks.alias("n_tokens"))
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(win)
    binned = d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / budget).alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


def shard_offsets(df: DataFrame, text_col: str = "text") -> list[tuple[str, int]]:
    """Per-``source`` global token offsets for GLOBAL shard numbering:
    the cumulative token count of every source that sorts before this
    one (lexicographic ``source`` order, ``doc_id`` order within).

    One keyed aggregation produces #sources rows; the driver cumsum
    over them is source-count-bounded (corpus geometry, not corpus
    size — the same bounded-collect class as ``domain_mix_sample``'s
    rate table), so this is NOT a data-proportional collect. The
    offsets are the frozen "model" the streaming twin serves with."""
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != ""))
    totals = (
        df.select("source", toks.alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
        .collect()
    )
    out: list[tuple[str, int]] = []
    off = 0
    for row in sorted(totals, key=lambda r: r["source"]):
        out.append((row["source"], off))
        off += row["src_tokens"]
    return out


def shard_assign(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    offsets: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """GLOBAL deterministic token-budget shard assignment — the
    corpus-materialization step that turns a curated corpus into
    contiguous, reproducibly numbered training shards (shard =
    floor(global-preceding-cumulative-tokens / budget) over the
    canonical (source, doc_id) order).

    ``seq_pack_bins`` above numbers bins per source; a training run
    that resumes from shard N needs ONE global numbering.  The naive
    formulation — a single global ``Window.orderBy(source, doc_id)``
    cumsum — serializes the whole corpus through one partition (one
    task sorts and scans 100 TB).  This is the two-level equivalent:

    - level 1: per-source token totals → driver cumsum → per-source
      global offsets (``shard_offsets``: #sources rows, bounded by
      corpus geometry) broadcast back;
    - level 2: per-source keyed window cumsum (parallel across
      sources, the same shape ``seq_pack_bins`` already pays) plus
      the broadcast offset.

    Identical output to the global window (unit-pinned), but the only
    corpus-sized exchange is the keyed window's partition-by-source —
    the largest source bounds a task, never the corpus."""
    if offsets is None:
        offsets = shard_offsets(df, text_col)
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != ""))
    d = df.select("source", "doc_id", toks.cast("bigint").alias("n_tokens"))
    off_df = df.sparkSession.createDataFrame(
        offsets, "source string, src_offset bigint"
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(win)
    # LEFT join + raise_error on a missing offset: a doc whose source
    # is absent from a PINNED offset table is a frozen-model contract
    # violation — it must fail the job, never silently drop (the
    # inner-join formulation would vanish it).  The guard feeds the
    # shard_id expression, so column pruning cannot elide it.
    off_checked = F.when(
        F.col("src_offset").isNull(),
        F.raise_error(
            F.concat(
                F.lit("shard_assign: source absent from offset table: "),
                F.col("source"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("src_offset"))
    return (
        d.join(F.broadcast(off_df), "source", "left")
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.floor((off_checked + cum - F.col("n_tokens")) / budget).alias(
                "shard_id"
            ),
        )
    )


def shard_manifest(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    offsets: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """The shard manifest a sharded loader consumes: per global shard,
    document count, token fill, and how many sources it spans.  One
    keyed aggregation over ``shard_assign``; shard ids are dense
    0..N so every shard except the last fills to ≥ ``budget`` −
    (largest document − 1) tokens."""
    return (
        shard_assign(df, budget, text_col, offsets)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def token_set_canon(text_col: str = "text") -> Column:
    """Canonical content signature: case-fold, strip non-alphanumerics
    to spaces, then hash the SORTED DISTINCT token set — invariant to
    case, punctuation, word order, and repetition.  The exact-match
    tier of token-set (Jaccard = 1.0) near-dup detection, and the
    normalize-before-hash step every exact-dedup pass should run
    (RefinedWeb/Dolma-style canonicalization).  Pure codegen'd
    expressions; the charset is anchored so the same chain drives the
    DuckDB oracle."""
    toks = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]+", " ")),
            " ",
        ),
        lambda w: w != "",
    )
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def token_set_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-set canonical dedup: group documents by
    ``token_set_canon`` and mark the minimum-``doc_id`` member of each
    group canonical (the row an order/punctuation/case-insensitive
    exact dedup keeps).  One keyed window over the canon hash — hash
    keys stay uniform at 100 TB, and a pathological single-key pileup
    is exactly a duplicate cluster the pass exists to collapse."""
    d = df.select("doc_id", token_set_canon(text_col).alias("canon_hash"))
    w = Window.partitionBy("canon_hash")
    return d.select(
        "doc_id",
        "canon_hash",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


def _winnow_fps(k: int, w: int):
    """Per-document winnowing fingerprints as array expressions — no
    explode, no window, no shuffle: the corpus-sized exchange+sort of
    the pre-r7 Window formulation (measured ~6 GB/partition spill at
    the ×1000 decade) does not exist.

    Higher-order array functions are INTERPRETED, not codegen'd, so
    the per-ELEMENT work inside them must be O(1): a first draft that
    did ``transform(sequence(...), i -> md5(concat_ws(slice(ws,i,k))))``
    allocated a slice per gram and measured 12.5 s at ×100 vs 4.6 s
    for this shape. Instead:

    - k-gram rows come from ``arrays_zip`` of k SHIFTED copies of the
      token array (k slices total, then one cheap concat+md5 per
      element);
    - the w-wide sliding minimum is a sparse-table doubling ladder —
      ``zip_with(cur, shift(cur, span), least)`` O(log w) times —
      never an ``array_min(slice(...))`` per window.

    Returns (n_grams, hs, n_windows, fps) expressions; the caller must
    have projected the token array as ``_ws``. All lengths clamp to ≥0
    so the expressions stay total on short docs.

    r15 OPT (guide §1.2 per-task work): every returned expression
    references ``_ws`` exactly ONCE, with all interior reuse let-bound
    via :func:`..bind_array` — ``fps`` is self-contained (the old form
    read a separately-projected ``_hs`` column, and once Catalyst
    collapsed the caller's projections the k-gram md5 pipeline plus the
    token split were inlined into every reference: the probe plan of
    `remove_repeated_spans` carried 91 split / 16 md5 / 16 arrays_zip
    copies, each re-evaluated per row by the interpreted HOFs).
    Measured at sf0.1, 32 cores (warm medians, probe pipeline
    end-to-end): 4.2 → 0.95 s; the winnow explode is shared by the
    streaming twin; output byte-identical (sorted-collect A/B + oracle
    rows + pinned tests)."""
    ws_col = F.col("_ws")
    # greatest(0, ·) guards: slice() throws on a negative length, and
    # the optimizer is free to evaluate these projections before the
    # caller's size filter (observed: CollapseProject in a join plan) —
    # the expressions must be TOTAL on short docs, which then just
    # produce empty arrays
    n_grams = F.greatest(F.lit(0), F.size(ws_col) - (k - 1))
    n_windows = F.greatest(F.lit(0), n_grams - (w - 1))

    def hs_body(ws: Column) -> Column:
        n = F.size(ws)
        shifted = [ws.alias("g0")] + [
            F.slice(ws, i + 1, n).alias(f"g{i}") for i in range(1, k)
        ]
        return F.slice(
            F.transform(
                F.arrays_zip(*shifted),
                lambda s: F.md5(
                    F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)])
                ),
            ),
            1,
            F.greatest(F.lit(0), n - (k - 1)),
        )

    def ladder(h: Column) -> Column:
        # sparse-table doubling ladder; zip_with pads the shorter slice
        # with nulls and least() skips them, so every level keeps the
        # input length — size(c) at any level equals size(h)
        cur, span = h, 1

        def level(c_in: Column, s: int) -> Column:
            return bind_array(
                c_in,
                lambda c: F.zip_with(
                    c, F.slice(c, s + 1, F.size(c)), lambda a, b: F.least(a, b)
                ),
            )

        while span * 2 <= w:
            cur = level(cur, span)
            span *= 2
        if span < w:
            cur = level(cur, w - span)
        return cur

    hs = bind_array(ws_col, hs_body)
    fps = bind_array(
        ws_col,
        lambda ws: bind_array(
            hs_body(ws),
            lambda h: F.slice(
                ladder(h),
                1,
                F.greatest(F.lit(0), F.size(h) - (w - 1)),
            ),
        ),
    )
    return n_grams, hs, n_windows, fps


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash
    every word k-gram, slide a w-wide window over the hash sequence,
    keep each window's minimum — a guaranteed-coverage rolling-hash
    fingerprint set. Reported per doc: window count and distinct
    fingerprint count (the fingerprint density near-dup detectors key
    on).

    ZERO-shuffle: the whole computation is an array expression per
    row (see :func:`_winnow_fps`) — n_windows and the distinct count
    are ``size``/``array_distinct`` projections, so the plan is a
    bare scan at any corpus size."""
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n_grams, hs, n_windows, fps = _winnow_fps(k, w)
    return (
        df.select("doc_id", ws.alias("_ws"))
        .filter(F.size(F.col("_ws")) >= k + w - 1)
        .select(
            "doc_id",
            n_windows.cast("long").alias("n_windows"),
            F.size(F.array_distinct(fps)).cast("long").alias("n_fingerprints"),
        )
    )


def cross_doc_repeats(
    df: DataFrame, text_col: str = "text", k: int = 3, w: int = 4, min_docs: int = 2
) -> DataFrame:
    """Cross-document repeated-substring detection — the scalable
    stand-in for suffix-array exact-substring dedup: a winnowing
    fingerprint shared by ≥``min_docs`` documents marks a verbatim
    k-gram run they have in common (boilerplate headers, license
    blocks, templated spans — the within-doc-unique, across-corpus-
    repeated text that document-level dedup never removes).

    Same per-doc winnowing pass as :func:`winnow_fingerprints` — one
    array expression per row, in-row ``array_distinct`` replacing the
    old corpus-wide DISTINCT — then ONE fingerprint-keyed aggregation:
    count + min/max doc for each shared fingerprint. The r6 scale
    suite measured the Window formulation of this op at 14.7×/decade
    (vs 10× ideal) with ~6 GB/partition spill at the ×1000 decade:
    the per-doc exchange+sort AND the pair-distinct shuffle are both
    gone now — the only shuffle left is the final map-side-combinable
    fp agg, whose input is already per-doc-deduped. At 100 TB the
    output feeds a span-removal pass keyed back by (doc,
    fingerprint)."""
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    _, hs, _, fps = _winnow_fps(k, w)
    per_doc = (
        df.select("doc_id", ws.alias("_ws"))
        .filter(F.size(F.col("_ws")) >= k + w - 1)
        .select("doc_id", F.explode(F.array_distinct(fps)).alias("fp"))
    )
    return (
        per_doc.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# at most ONE persisted shared-fp tail lives per session: each
# remove_repeated_spans call releases the previous call's handle, so
# the oracle gate + tests (which share a SparkSession) never
# accumulate cached blocks in executor storage memory.  The LAST
# call's tail stays cached until the next call (its consumer — the
# caller's terminal action — runs after this function returns, so
# unpersisting eagerly would force a third corpus-wide winnow pass,
# the 474-vs-366 s regression the persist exists to prevent).
_SPAN_TAIL_CACHE: list[DataFrame] = []

# (picked_prefilter, n_shared_fps, prunable_fraction) of the LAST
# remove_repeated_spans(prefilter="auto") call — observability for
# tests; never consumed by the operator.
LAST_SPAN_PREFILTER: tuple[str, int, float] | None = None


def release_span_tail_cache() -> None:
    """Unpersist the shared-fingerprint tail the last
    `remove_repeated_spans(prefilter='bloom'/'auto')` call cached.
    Called automatically at the start of every subsequent call; expose
    it so long-lived sessions can free the final handle explicitly."""
    while _SPAN_TAIL_CACHE:
        _SPAN_TAIL_CACHE.pop().unpersist(blocking=False)


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_docs: int = 2,
    prefilter: str = "none",
) -> DataFrame:
    """The span-REMOVAL pass the cross-doc detector feeds (the second
    half of suffix-array-style substring dedup): drop from every
    document the token positions covered by any winnow window whose
    fingerprint is shared by ≥``min_docs`` documents — the verbatim
    boilerplate/license/template runs — and keep the rest of the text
    intact. Emits (doc_id, n_tokens, n_removed, text_clean).

    Shape: the per-doc winnow arrays compute in-row (zero shuffle,
    :func:`_winnow_fps`);
    the shared-fingerprint set is ONE map-side-combinable aggregation
    whose output is only the repeated tail; it semi-joins back onto
    the position explode WITHOUT a hard broadcast hint — the
    shared-boilerplate tail grows ~linearly with a web corpus (every
    site's own chrome clears ``min_docs=2``), so a forced broadcast
    is the same sf100 OOM the r6 TPC-H audit flagged; AQE broadcasts
    from runtime stats while small, shuffle-joins on the 16-byte
    binary `fp` when not (r7 verdict #1). Hit positions fold per doc
    (collect_set over ints); the final token mask is array
    expressions in the scan of the original frame. Three keyed
    shuffles total (fp agg, fp probe, doc regroup), none of them
    corpus².

    ``prefilter="bloom"`` adds the large-corpus tier: PERSIST the
    shared tail (it is consumed twice in this branch — and the first
    cut without the persist paid a third corpus-wide winnow pass,
    474 vs 366 s at ×1000) and prune the position explode through a
    fixed 2 MB 2^24-bit bloom before its shuffle (bit-identical
    output — FPs ride into the exact semi join). Measured (SCALEBENCH
    r8, one fresh process per leg, warm page cache): **1.15–1.2× at
    the mixed-sharing ×1000 decade** (369 → [304, 327] s — the regime
    it exists for: the tail outgrew AQE's broadcast, ~70 % of
    positions prunable); parity-to-−10 % at ×100 where AQE already
    broadcasts the tail; NO reliable benefit at full saturation
    (all-shared ×1000: bloom legs [254, 350] vs none [286, 292] —
    nothing to prune, and the large cached tail adds GC pressure).
    Opt-in, not default: use it when most windows are NOT shared and
    the corpus is past broadcast scale.

    ``prefilter="auto"`` computes the regime decision from the data:
    ONE persisted pass over the (fp, n_docs) aggregation yields the
    shared-tail cardinality (vs AQE's 10 MB broadcast threshold) and
    the prunable fraction (distinct-(doc, fp) basis on BOTH sides, via
    an Observation on the same job — vs the saturation wash), and the
    call picks bloom exactly in the regime the measurements carved
    out: tail past broadcast AND ≥30 % of distinct pairs prunable AND
    a ≤16 MB bloom can hold the tail at ~8 bits/key (the r10 mixed
    ×1000 legs found a 19.8 M-fp tail saturating the fixed 2^24 bloom
    to ~96 % FP — auto now derives ``bits_log2`` from the measured
    tail, floor 24 cap 27, and refuses the tier past 2^27/8 keys;
    SCALEBENCH r10). Measured at mixed ×1000: auto picked `none`
    (prunable 0.168) at [278.6, 299.2] s and BEAT both manual legs —
    the persisted decision tail doubles as the probe's cached input. Output is bit-identical across all three prefilter
    modes (pinned by test). The persisted aggregation is released on
    the NEXT call (or via :func:`release_span_tail_cache`)."""
    if prefilter not in ("none", "bloom", "auto"):
        raise ValueError(
            f"prefilter must be 'none', 'bloom' or 'auto', got {prefilter!r}"
        )
    # previous call's cached tail goes now (see _SPAN_TAIL_CACHE) —
    # unconditionally, so no call leaks a prior call's persisted tail
    # across the session
    release_span_tail_cache()
    # narrow-scan guard: the winnow kernel + position explode are the
    # heaviest in-row work in curation (7.38 → 4.69 s probe, 7.89 →
    # 4.19 s bloom at sf0.1, r15 — guide §2.5)
    df = _par(df)
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    _, hs, _, fps = _winnow_fps(k, w)
    span = w + k - 1  # tokens covered by one window: pos .. pos+span-1

    with_fps = (
        df.select("doc_id", ws.alias("_ws"))
        .filter(F.size(F.col("_ws")) >= k + w - 1)
        .withColumn("_fps", fps)
    )
    # the winnow min runs over md5 HEX strings (lexicographic order on
    # hex equals byte order, and the DuckDB oracle mirrors it) — but
    # the join/agg KEY is the unhexed 16-byte binary: the shuffle rows
    # drop from ~44 to ~24 bytes and key comparisons go byte-wise
    # (measured r8: 275 -> 226 s at docs ×1000, where the shared tail
    # outgrows AQE's broadcast threshold and the probe really shuffles)
    pos_fp = with_fps.select(
        "doc_id", F.posexplode("_fps").alias("_p0", "fp")
    ).select(
        "doc_id", (F.col("_p0") + 1).alias("pos"), F.unhex("fp").alias("fp")
    )
    # shared-fp set: per-doc dedup happens IN-ROW (array_distinct)
    # before the explode, so the only corpus-sized shuffle is this
    # one map-side-combinable count — not a (doc, fp) DISTINCT
    fp_counts = (
        with_fps.select(F.explode(F.array_distinct("_fps")).alias("_fphex"))
        .select(F.unhex("_fphex").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nd"))
    )
    bloom_bits = 24  # manual-bloom default; auto derives from the tail
    if prefilter == "auto":
        # regime auto-pick (r8 verdict ask). Decision variables:
        # (a) the shared tail's size vs AQE's 10 MB broadcast
        # threshold (below it the exact semi join broadcasts and
        # pruning is free anyway — measured parity-to-−10 % at
        # ×100; ~40 B/row is the broadcast-relation estimate for a
        # 16-byte binary key), and (b) the fraction of window
        # occurrences the bloom could prune (at full saturation
        # there is nothing to prune — measured wash-with-variance
        # at the all-shared ×1000). Persist ONLY the shared tail —
        # the same artifact the manual bloom leg caches; the full
        # (fp, count) agg at a mixed decade is dominated by the
        # UNSHARED per-doc-unique fps and caching it is the large
        # on-heap tail the r8 GC-thrash lesson warns about.
        # n_shared/w_shared come from the cached tail; the
        # denominator is the SAME distinct-(doc, fp) basis,
        # captured by an Observation on the pre-filter agg in the
        # SAME job that materializes the tail — zero extra corpus
        # passes, and no mixed-basis bias (a raw-position
        # denominator counts within-doc repeats the numerator
        # deduped, inflating `prunable` near the 0.3 threshold on
        # repetition-heavy corpora).
        obs = Observation()
        shared_c = (
            fp_counts.observe(obs, F.sum("_nd").alias("w_all"))
            .filter(F.col("_nd") >= min_docs)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _SPAN_TAIL_CACHE.append(shared_c)
        st = shared_c.agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum("_nd").alias("w_shared"),
        ).first()
        w_all = obs.get["w_all"]
        prunable = 1.0 - float(st.w_shared or 0) / float(w_all or 1)
        # three measured conditions, not two (r10: the mixed-decade
        # legs found a third failure mode — a 19.8 M-fp tail
        # saturates ANY fixed-size bloom; ~8 bits/key is the FP≈2 %
        # regime, so past 2^27/8 keys there is no sane size inside
        # a bounded broadcast and the tier is refused):
        #   (a) tail past AQE's broadcast threshold (else pruning
        #       is free anyway), (b) ≥30 % of distinct (doc, fp)
        #       pairs prunable (else saturation wash), (c) a
        #       ≤16 MB bloom can hold the tail at ~8 bits/key.
        prefilter = (
            "bloom"
            if st.n_shared * 40 > 10 * 1024 * 1024
            and prunable >= 0.3
            and st.n_shared * 8 <= 2**27
            else "none"
        )
        if prefilter == "bloom":
            # derive the bloom size from the MEASURED tail (the
            # mips_ann_bits / ivf n_cells discipline: geometry
            # scales with the corpus, never a fixed constant that
            # silently saturates): ~8 bits per key, floor 2^24.
            bloom_bits = min(
                27, max(24, (int(st.n_shared) * 8 - 1).bit_length())
            )
        # observability: tests read back what auto decided
        # (module-level, like LAST_* in the ml ops)
        global LAST_SPAN_PREFILTER
        LAST_SPAN_PREFILTER = (
            prefilter,
            int(st.n_shared),
            round(prunable, 4),
        )
        shared = shared_c.select("fp")
    else:
        shared = fp_counts.filter(F.col("_nd") >= min_docs).select("fp")
    # (doc_id, pos, fp) semi probe — AQE picks broadcast at small
    # scale, so only the HIT positions (the repeated tail) reach
    # the per-doc regroup; no hard hint (corpus-proportional side)
    probe_in = pos_fp
    if prefilter == "bloom":
        # large-corpus tier (measured, SCALEBENCH r8): when the
        # shared tail has outgrown AQE's 10 MB broadcast threshold
        # (exact rows shuffle-join) but its DISTINCT fp count
        # still fits a 2^24-bit bloom (~≤2e6 fps under ~2 % FP), a
        # fixed 2 MB bloom over the shared set prunes the position
        # explode BEFORE its shuffle — false positives just ride
        # into the exact semi join below, so the output is
        # bit-identical to prefilter="none". At full bloom
        # saturation (every window shared) the pruning buys
        # nothing and the tier measured a wash-with-variance —
        # don't opt in for a fully-boilerplate corpus.
        # the bloom branch consumes `shared` TWICE (build + exact
        # semi join); unpersisted, each consumption re-runs the
        # corpus-wide winnow+agg subtree — measured at docs ×1000
        # that third winnow pass cost more than the bloom saved
        # (474 vs 366 s). Persist the DISTINCT tail so the winnow
        # feeding it runs once. MEMORY_AND_DISK measured best:
        # DISK_ONLY paid serialize+reread for the whole tail
        # (389 s vs 304-327 on the mixed ×1000 leg) — the
        # columnar on-heap cache spills per-batch only when it
        # must. On a saturated corpus (EVERY window shared) the
        # cached tail is large and the tier buys nothing anyway —
        # see the docstring's regime note. (In auto mode the full
        # fp_counts agg is already persisted above and `shared` is
        # a filter over it — don't double-cache.)
        if not _SPAN_TAIL_CACHE:
            shared = shared.persist(StorageLevel.MEMORY_AND_DISK)
            _SPAN_TAIL_CACHE.append(shared)
        bloom = bloom_build(
            shared, "fp", k=4, hash_fn="xxhash64", bits_log2=bloom_bits
        )
        probe_in = bloom_probe(
            pos_fp, bloom, "fp", keys=("doc_id", "pos"), k=4,
            hash_fn="xxhash64", bits_log2=bloom_bits,
        )
    hit_pos = (
        probe_in.join(shared, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_hits"))
    )
    base = df.select("doc_id", ws.alias("_ws"))
    return refold_masked_tokens(base, hit_pos, span)


def winnow_positions(
    df: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """The (doc_id, pos, fp) winnow-window explode
    `remove_repeated_spans` counts and probes — exposed so the
    STREAMING twin (`streaming.dedup.incremental_span_removal_sink`)
    shares the exact fingerprint semantics with the batch operator.
    ``fp`` is the unhexed 16-byte binary (the shuffle-key discipline
    measured in SCALEBENCH r8); ``pos`` is 1-based.

    Deliberately NO narrow-scan guard here (r15 OPT, measured
    negative): the streaming twin feeds single-file micro-batches, and
    after the let-bound winnow rewrite the kernel is cheap enough that
    the per-batch repartition exchange costs more than the spread buys
    (sink A/B: 5.0–5.4 s unguarded vs 5.6–6.1 s guarded per replay)."""
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    _, hs, _, fps = _winnow_fps(k, w)
    with_fps = (
        df.select("doc_id", ws.alias("_ws"))
        .filter(F.size(F.col("_ws")) >= k + w - 1)
        .withColumn("_fps", fps)
    )
    return with_fps.select(
        "doc_id", F.posexplode("_fps").alias("_p0", "fp")
    ).select(
        "doc_id", (F.col("_p0") + 1).alias("pos"), F.unhex("fp").alias("fp")
    )


def refold_masked_tokens(
    base: DataFrame, hit_pos: DataFrame, span: int
) -> DataFrame:
    """Per-doc token-mask refold: ``base`` is (doc_id, _ws),
    ``hit_pos`` is (doc_id, _hits: array<int> of 1-based window start
    positions); each hit covers tokens pos..pos+span-1. Shared by the
    batch operator and the streaming read face. Emits
    (doc_id, n_tokens, n_removed, text_clean)."""
    joined = base.join(hit_pos, "doc_id", "left").withColumn(
        "_covered",
        F.when(F.col("_hits").isNull(), F.array().cast("array<int>")).otherwise(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "_hits", lambda p: F.sequence(p, p + (span - 1))
                    )
                )
            ).cast("array<int>")
        ),
    )
    # sequence(1, 0) on an empty or whitespace-only doc yields [1, 0]
    # (Spark sequence is bidirectional) and element_at then throws —
    # guard the empty case, as `text.refold_dropped_lines` does
    idx = F.when(
        F.size("_ws") > 0, F.sequence(F.lit(1), F.size("_ws"))
    ).otherwise(F.array().cast("array<int>"))
    # array_except is a hash-set difference (O(n + |covered|)) and
    # preserves first-array order — NOT a per-token array_contains
    # scan, which is O(n·|covered|) interpreted work and quadratic on
    # boilerplate-heavy docs (r7 review)
    kept = F.transform(
        F.array_except(idx, F.col("_covered")),
        lambda p: F.element_at("_ws", p),
    )
    return joined.select(
        "doc_id",
        F.size("_ws").cast("long").alias("n_tokens"),
        (F.size("_ws") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_clean"),
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic corpus sampling to a token budget: order documents
    by a hash of their id (a reproducible shuffle) and keep the prefix
    whose cumulative whitespace-token count stays within
    ``budget_tokens`` — the standard "give me ~N tokens of this
    corpus" cut for training-mix construction.

    Scale design — a global running sum over one `ORDER BY hash`
    window would serialize onto a single task. Instead the classic
    distributed prefix sum: documents land in ``n_buckets`` ordered
    hash buckets; pass 1 aggregates per-bucket token totals (a few
    hundred rows, computed map-side), whose running offsets are
    broadcast back; pass 2 runs the cumulative window PER BUCKET
    (parallel across buckets) and adds the bucket offset. Both passes
    are one shuffle each, bucket-partitioned, skew-free (md5 is
    uniform).
    """
    h = F.md5(F.col(id_col).cast("string"))
    docs = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tok"),
        h.alias("__h"),
        # first byte of the hash = ordered bucket (hex sorts like the
        # full string because buckets are a string prefix)
        F.substring(h, 1, 2).alias("__b"),
    )
    per_bucket = docs.groupBy("__b").agg(F.sum("n_tok").alias("__btok"))
    offsets = per_bucket.select(
        "__b",
        (
            F.sum("__btok").over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("__btok")
        ).alias("__off"),
    )
    in_bucket = Window.partitionBy("__b").orderBy("__h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        docs.join(F.broadcast(offsets), "__b")
        .select(
            id_col,
            "n_tok",
            (F.sum("n_tok").over(in_bucket) + F.col("__off")).alias("cum_tok"),
        )
        .filter(F.col("cum_tok") <= F.lit(int(budget_tokens)))
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (A-ES / Efraimidis-
    Spirakis): each row gets key = u^(1/w) — equivalently
    ln(u)/w ordered descending — with u a deterministic md5-derived
    uniform; the global top-k by key IS a weighted sample without
    replacement. Used for weight-proportional corpus subsampling
    (e.g. by document length or per-source priority).

    Scale design: top-k by a computed key needs NO full sort — Spark
    executes it as per-partition partial top-k then a single merge of
    k·partitions rows on the driver-side-free final reduce (the
    `sort().limit()` TakeOrderedAndProject plan). Deterministic across
    runs and cluster layouts because u depends only on the row id.

    Ordering uses the RAW key: distinct ids give keys separated far
    above ln()'s cross-engine ulp noise, while rounding would create
    artificial tie groups (and −0.0 artifacts) near zero. The output
    reports the rank, not the float key.
    """
    # u in (0,1): first 8 hex chars of md5 → uniform 32-bit int
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967298.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    top = (
        df.select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            key.alias("__key"),
        )
        # key is ln(u)/w (negative); the BEST draws are the LEAST
        # negative → descending. TakeOrderedAndProject: partial top-k
        # per partition, never a full sort.
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(int(k))
    )
    rank_w = Window.orderBy(F.col("__key").desc(), F.col(id_col))
    return top.select(
        id_col,
        "weight",
        F.row_number().over(rank_w).cast("bigint").alias("rank"),
    )


def leakage_safe_split(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate-group-aware train/valid/test split — the leakage guard
    plain per-doc hash splits miss: two near-identical documents split
    by `sample_hash_split` can land on opposite sides of the
    train/test boundary and leak the test set into training. Here the
    split key is the duplicate GROUP (bag-of-words fingerprint, the
    same grouping `fingerprint_dedup` collapses), so every member of a
    group shares one assignment by construction.

    One keyed shuffle (the fingerprint window for the group minimum);
    the split gate itself is the usual content-free md5-prefix
    projection. Swap the fingerprint for a minhash connected-component
    id to widen the guard to banded near-dups — same plan shape.
    """
    fp = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(F.split(F.col(text_col), r"\s+"))
            ),
            " ",
        )
    )
    w = Window.partitionBy("_fp")
    with_group = df.withColumn("_fp", fp).withColumn(
        "group_id", F.min("doc_id").over(w)
    )
    bucket = F.substring(F.md5(F.col("group_id").cast("string")), 1, 2)
    return with_group.select(
        "doc_id",
        "group_id",
        bucket.alias("bucket"),
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "valid")
        .otherwise("test")
        .alias("split"),
    )


def stratified_sample(
    df: DataFrame, k_per_group: int, group_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-group quota sampling — "exactly k docs from
    every source" (eval-holdout construction, balanced probe sets):
    rank within each group by the content-free md5 order (a
    reproducible shuffle, no RNG) and keep the first k.

    Compiles to WindowGroupLimit: per-partition top-k heaps per group,
    no full per-group sort materialization — the same plan shape the
    sort/top-k windows ride, safe at any group size."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k_per_group)
        .drop("_rk")
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Global deterministic TRAINING-ORDER shuffle: assign every row
    its position in a reproducible pseudo-random permutation — the
    epoch ordering a training job replays identically across runs,
    restarts and cluster sizes (`df.orderBy(rand())` is none of those:
    its seed is per-partition and its output changes with the
    partition layout).

    The permutation key is the content-free md5 of (seed, id): change
    the seed, get an independent epoch order; same seed, same order on
    any cluster. Dense positions come from a distributed two-pass rank
    — NOT `row_number() OVER (ORDER BY …)`, whose empty window spec
    funnels the whole corpus through ONE task:

    1. the key's leading 16 bits ARE the bucket id (md5 is uniform →
       ~corpus/65536 rows per bucket; the hex prefix is monotonic in
       the full key, so bucket order refines to global order) — an
       EXPLICIT deterministic partitioner, where `repartitionByRange`
       would re-SAMPLE boundaries independently in each consuming
       subtree and desynchronize the two passes;
    2. rank within each bucket (keyed window — per-bucket sort, never
       a global one); per-bucket counts (≤65 536 rows — bounded by the
       bucket space, not the corpus) fold into exclusive prefix
       offsets and broadcast-join back: position = offset + rank."""
    clash = {"position", "_k", "_b", "_rk"} & set(df.columns)
    if clash:  # input validation — must survive python -O
        raise ValueError(
            f"deterministic_shuffle emits 'position' and uses _k/_b/_rk "
            f"internally; rename the colliding input column(s): "
            f"{sorted(clash)}"
        )
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    bucketed = df.withColumn("_k", key).withColumn(
        "_b", F.conv(F.substring("_k", 1, 4), 16, 10).cast("int")
    )
    w_in = Window.partitionBy("_b").orderBy("_k", id_col)
    ranked = bucketed.withColumn("_rk", F.row_number().over(w_in))
    # ≤65 536 rows; the running-sum window over them is bounded by the
    # bucket space, never the corpus — legitimately single-partition
    offsets = (
        bucketed.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_off")
    )
    return (
        ranked.join(F.broadcast(offsets), "_b")
        .select(
            (F.col("_off") + F.col("_rk")).cast("bigint").alias("position"),
            *df.columns,
        )
    )
