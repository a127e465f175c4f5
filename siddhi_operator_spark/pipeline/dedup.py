"""Deduplication operators over a document corpus.

Scale design: every method is "bucket first, compare within bucket".
Exact/fingerprint dedup is one keyed shuffle. MinHash-LSH generates
candidate pairs only for band collisions (the standard
shingle→minhash→band→bucket-join pipeline), so pairwise work is
O(collisions), not O(n²). Hashes are md5-based — portable across
engines (the DuckDB oracles run the byte-identical computation).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ensure_input_parallelism as _ensure_input_parallelism
from ..fpround import r4

TOKEN_SPLIT = r"\s+"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("tokens", F.split(F.col(text_col), TOKEN_SPLIT))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: md5(text) → keep min id per group,
    report group size. One hash-partitioned agg; no pairwise work."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def fingerprint_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bag-of-words fingerprint dedup: md5 of the sorted distinct token
    list — catches word-order shuffles that exact hashing misses
    (document fingerprinting per the text-analysis inventory)."""
    toks = with_tokens(df, text_col)
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("tokens"))), " "))
    return (
        toks.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signature(
    df: DataFrame, n_hashes: int = 32, text_col: str = "text", impl: str = "catalyst"
) -> DataFrame:
    """MinHash signatures: sig_i = min over tokens of md5(i || '|' ||
    token). md5 keeps it engine-portable; the min of a uniform hash
    over the token set is the classic Jaccard estimator. Adds columns
    sig_0..sig_{n-1}. Computed with array transforms — no explode, no
    shuffle.

    ``impl="arrow"``: byte-identical signatures from an Arrow kernel
    that MEMOIZES per-token hash vectors across the partition (md5 of
    a token is recomputed per occurrence in the expression tier, but
    natural-language token frequency is Zipfian — the cache hit rate
    is the repetition rate) and reduces mins with one vectorized
    bytes-min per document. Same hash family, same output (pinned by
    test + the unchanged oracle); kept opt-in like the other Arrow
    tiers."""
    df = _ensure_input_parallelism(df)
    if impl == "arrow":
        return _minhash_signature_arrow(df, n_hashes, text_col)
    toks = with_tokens(df, text_col)
    # array_distinct is hoisted into ONE column instead of appearing in
    # each signature expression — Catalyst does not CSE it across the
    # n_hashes projections (measured ~9 % of pipeline wall at ×100).
    # The signatures are ONE select of SQL text: one parse and one
    # analysis pass, not one `withColumn` (and its py4j round trips)
    # per signature.
    out = toks.withColumn("_dtok", F.array_distinct(F.col("tokens")))
    return out.selectExpr(
        "*",
        *[
            f"array_min(transform(_dtok, t -> md5(concat('{i}|', t)))) AS sig_{i}"
            for i in range(n_hashes)
        ],
    ).drop("_dtok")


def _minhash_signature_arrow(
    df: DataFrame, n_hashes: int, text_col: str
) -> DataFrame:
    """Arrow kernel for `minhash_signature` — see its docstring. The
    token split replicates Spark's `split(text, '\\s+')` (trailing
    empties kept, limit −1) so the `tokens` column and every sig_i are
    byte-identical to the expression tier."""
    import re
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("tokens", T.ArrayType(T.StringType()))]
        + [T.StructField(f"sig_{i}", T.StringType()) for i in range(n_hashes)]
    )
    rx = re.compile(TOKEN_SPLIT)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        cache: dict[str, np.ndarray] = {}
        # bound the memo in BYTES, not entries: each entry is
        # n_hashes × 32 B, so a flat entry cap would scale its real
        # footprint with n_hashes (×32 at the default = ~1 GB/task,
        # multiplied by task concurrency). 64 MiB per task keeps the
        # Zipf head resident (≥2M entries at n_hashes=1, 64k at 32).
        max_entries = (64 << 20) // (n_hashes * 32)

        def tok_vec(tok: str) -> "np.ndarray":
            v = cache.get(tok)
            if v is None:
                v = np.array(
                    [
                        hashlib.md5(f"{i}|{tok}".encode()).hexdigest()
                        for i in range(n_hashes)
                    ],
                    dtype="S32",
                )
                if len(cache) < max_entries:
                    cache[tok] = v
            return v

        for pdf in batches:
            tok_lists = [
                rx.split(t) if t is not None else None
                for t in pdf[text_col]
            ]
            sigs = np.empty((len(pdf), n_hashes), dtype=object)
            for r, toks in enumerate(tok_lists):
                if not toks:
                    sigs[r, :] = None
                    continue
                # np.min lacks a bytes ufunc; column-sort row 0 is the
                # per-signature lexicographic min (token sets are small)
                m = np.sort(np.stack([tok_vec(t) for t in set(toks)]), axis=0)[0]
                sigs[r, :] = [b.decode("ascii") for b in m]
            out = pdf.copy()
            out["tokens"] = tok_lists
            for i in range(n_hashes):
                out[f"sig_{i}"] = sigs[:, i]
            yield out

    return df.mapInPandas(kernel, out_schema)


def band_table(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    band_size: int = 8,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, band, band_hash) rows for a signature frame — ONE explode
    over an array of per-band structs (band hash = md5 of the band's
    sigs). Shared by the batch LSH pairing and the streaming
    incremental dedup service so their band geometry cannot drift.

    ``carry_cols`` are passed through the explode unchanged (r15 OPT:
    the batch pairing tier rides the signature payload itself through
    banding so pair scoring happens inside the bucket self-join — see
    `lsh_candidate_pairs`)."""
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'band_hash', {_band_hash_sql(b, band_size)})"
            for b in range(n_hashes // band_size)
        )
        + ")"
    )
    carried = [F.col(c) for c in carry_cols]
    return sigs.select(
        F.col(id_col), *carried, F.explode(band_structs).alias("bb")
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.band_hash"), *carried)


def _band_hash_sql(b: int, band_size: int) -> str:
    """SQL text of band ``b``'s hash: md5 of its ``band_size`` sigs
    joined by '|'. The wide expressions of the LSH stage are built as
    SQL text so each is ONE parse on the JVM, not one py4j call per
    node of its Column tree."""
    sigs = ", ".join(f"sig_{i}" for i in range(b * band_size, (b + 1) * band_size))
    return f"md5(concat_ws('|', {sigs}))"


def _est_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for a frame (bytes) — the SAME
    number the planner compares to autoBroadcastJoinThreshold at join
    planning, read with zero jobs. None when the private API is
    unavailable (e.g. Spark Connect): callers fall back to the
    scale-safe choice.

    Known Connect degradation (r15 verdict): because the fallback is
    the scale-safe INLINE scoring regime, under Spark Connect every
    corpus — including broadcast-sized ones — silently takes the
    regime that is slower at small scale (correct results either way;
    the failure direction is wall time, never memory). A Connect
    deployment that cares can pin ``inline=False`` explicitly for
    known-small corpora, or port this probe to a count()-based one
    (one extra job per call — rejected here because the classic-mode
    zero-job contract is what lets the suite build plans without
    launching work)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return None


def _auto_broadcast_threshold(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (−1 =
    broadcast disabled). Unit suffixes parsed by the same JVM helper
    Spark uses; 10 MB default on any failure."""
    try:
        s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
        )
    except Exception:  # noqa: BLE001
        return 10 * 1024 * 1024


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    band_size: int = 8,
    cache: bool = True,
    max_bucket: int | None = 2000,
    min_match: int | None = None,
    inline: bool | None = None,
) -> DataFrame:
    """Band the signatures (band hash = md5 of the band's sigs) and
    self-join per band bucket → candidate pairs (id_a < id_b), with the
    signature-agreement estimate of Jaccard. The join key is
    (band_index, band_hash): only colliding docs ever meet — this is
    the whole scale story.

    Default geometry 32 hashes / band_size 8 (4 bands): measured on the
    sf0.1 corpus (SCALEBENCH.md, round 3) it keeps the S-curve threshold
    of the old 8/4 default (s* = (1/b)^(1/r) ~ 0.84 for both) while the
    sharper curve cuts candidate pairs 4.57M -> 2.90M and wall time
    ~1.9x, and the 32-hash agreement estimate has 4x finer resolution.

    Plan shape matters here: bands are generated with ONE explode over
    an array of (band, hash) structs (not a per-band union, which would
    recompute the md5 signature pipeline once per band), the signature
    table is cached before the self-join (each join side would
    otherwise recompute the full minhash scan — at 100 TB you always
    materialize the signature table before pairing; swap `.cache()`
    for a parquet checkpoint there), and since r15 the SCORING
    formulation is a two-regime pick (``inline=None`` = auto, see the
    body comment): while the signature table is within broadcast reach
    the narrow-bucket + attach-join shape is fastest; past it the
    banded rows ride the signature payload through the explode and
    scoring happens inside the bucket self-join, the only shape whose
    cost stays linear at corpus scale.

    Inline codegen bound: the inline scorer unrolls one 16-byte
    substring compare per signature into ONE generated method, so its
    size grows linearly with ``n_hashes`` (measured on 4 cores, capped
    / uncapped tier: 4.6 / 7.2 KB at 32, 22.7 / 26.5 KB at 128,
    47.0 / 54.4 KB at 256). At 512 the method passes the JVM's 64 KB
    limit: Janino fails with "Code grows beyond 64 KB" and Spark
    silently runs the stage interpreted. Keep ``n_hashes`` ≤ 256 with
    ``inline``; `tests/test_plans.py` pins 128 below
    ``spark.sql.codegen.hugeMethodLimit``.

    Pair dedup (r15): a pair that collides in k bands comes out of the
    band self-join k times (1.64× duplication measured at sf0.1). The
    uncapped tier removes the duplicates WITHOUT a pair-stream
    `distinct` — via OWNER-BAND dedup: the colliding-band set is a
    row-local function of the two documents' band-hash vectors, so
    each pair is kept only at its first colliding band. The capped
    tier keeps the explicit distinct: a dropped super-bucket can own a
    pair's first band, which signatures alone cannot see.

    ``max_bucket``: deterministic super-bucket guard. Candidate pairs
    grow quadratically in bucket size, so ONE degenerate bucket
    (boilerplate, empty docs, a template repeated millions of times)
    produces a pair explosion that no amount of cluster buys back —
    measured on a 100k-doc corpus with dense duplicate clusters, the
    uncapped join spilled >70 GB and died. With a cap, buckets larger
    than ``max_bucket`` are dropped WHOLE (deterministic, no sampling):
    their members are near-certain duplicates that the cheap exact /
    fingerprint tiers already collapse, which is how production dedup
    pipelines treat super-shingles. The cap filters ONE side of the
    self-join: the join key is (band, band_hash), so both endpoints of
    a pair sit in the same bucket and see the same bucket size, and a
    bucket dropped from one side makes no pairs — the same pair set as
    filtering both sides, for one bucket-count aggregate instead of two.

    The DEFAULT is a flat 2000. The cap must be ABSOLUTE,
    not corpus-proportional: pair work per bucket is cap²·bands/2, so
    a cap that grows with the corpus re-opens the quadratic door
    exactly when it matters (measured: a 1%-of-500k cap admitted 322 M
    candidate pairs from one ×100 replica corpus; the flat cap bounds
    any one bucket at ≤2 M pairs forever). Healthy buckets at sane
    shingle cardinality sit orders of magnitude below 2000 — at test
    scale nothing approaches it, so the default is also
    oracle-parity-safe there. Pass an int to tune, or ``None`` for the exhaustive
    all-pairs behavior (exact-parity runs at small scale only — this
    is the path that died at 20× docs)."""
    sig_cols = [F.col(f"sig_{i}") for i in range(n_hashes)]
    sig_table = sigs.select(F.col(id_col), *sig_cols)
    if cache:
        sig_table = sig_table.cache()
    n_bands = n_hashes // band_size

    def _band_hashes(wrap: str = "") -> Column:
        # the band hashes as one array, each wrapped in `wrap(...)`
        hashes = ", ".join(
            f"{wrap}({_band_hash_sql(b, band_size)})" for b in range(n_bands)
        )
        return F.expr(f"array({hashes})")

    # r15 OPT regime pick (decade profile, docs ×10 disjoint-token
    # fixture). The two formulations and their measured regimes:
    #
    # ATTACH (broadcast regime): narrow (id, band, hash) bucket rows;
    # pair dedup on narrow ids; signatures re-attached afterwards via
    # two joins against the signature table. While the planner
    # broadcasts those joins this is the fastest known shape (×10:
    # 15–18 s fresh) — zero pair-stream exchanges, codegen CASE-chain
    # scoring on flat columns. But the attach side is CORPUS-
    # PROPORTIONAL: the moment its stats cross the broadcast
    # threshold the same code silently degrades to pair-stream
    # sort-merge joins — 74.7 s at ×10 with honest (cache-
    # materialized) stats, the first attach join's 1 KB sig payload
    # riding into the second join's exchange, pairs ≫ corpus on
    # dup-dense data (55 M pairs from 50 k docs).
    #
    # INLINE (scale regime): banded rows RIDE the signature payload
    # (since r16 ONE packed binary column — see the carry comment
    # below) through the band explode, pair scoring happens inside
    # the bucket self-join projection (r16: flat codegen substring
    # chunk compares; the r15 zip_with+aggregate fold was interpreted
    # and dominated the regime's wall), and the uncapped owner-band
    # filter reads both endpoints' inline band-hash vectors —
    # signature bytes cross ONE exchange (4 band rows/doc, corpus-
    # proportional) and the pair stream at most one (the capped
    # tier's distinct). Measured at docs ×10: r15 form 13.97 s →
    # r16 form 7.33 s vs attach 6.87 s — the only shape whose cost
    # stays linear past broadcast reach (guide §2.3 "shuffle keys and
    # metadata, move heavy bytes once") now runs at ~parity with the
    # broadcast regime instead of 2× over it.
    #
    # The pick mirrors the planner exactly: ATTACH iff Catalyst's own
    # size estimate of the signature table clears the session's
    # autoBroadcastJoinThreshold (zero extra jobs — the same numbers
    # the planner will compare at join planning), INLINE otherwise or
    # when the private estimate API is unavailable (Spark Connect):
    # the scale-safe default. Explicit ``inline=`` pins either form
    # (both oracle-parity-pinned row-identical by tests).
    #
    # ATTACH is not a simplification target: always taking INLINE
    # would delete this pick and one branch, but it is slower while
    # the signature table is broadcast-sized. Measured on 4 cores,
    # `SPARK_GRAFT_BENCH_ONLY=dedup_minhash_lsh SPARK_GRAFT_BENCH_DUCKDB=0
    # python bench.py` (sf0.1), interleaved auto (ATTACH) vs forced
    # INLINE legs: 5.58–6.40 s vs 6.40–7.73 s, INLINE slower in 4 of 4
    # pairs (an earlier set: 5.10–5.80 s vs 6.12–6.91 s, 4 of 4). On
    # the `curate_dedup` benchmark the two regimes were within noise
    # (8 pairs, 10.7 vs 11.2 s median).
    if inline is None:
        est = _est_size_bytes(sig_table)
        thresh = _auto_broadcast_threshold(sig_table.sparkSession)
        inline = est is None or thresh < 0 or est > thresh
    carry_cols: list[str] = []
    if inline:
        # r16 OPT (guide §2.3 narrower types + §1.2 per-task work): the
        # carried signature payload is ONE concatenated binary column —
        # unhex(md5hex) halves every signature to its raw 16 bytes
        # (unhex is injective on md5 hex, so all equality semantics are
        # byte-identical), and packing the n_hashes values into a
        # single buffer replaces the interpreted zip_with+aggregate
        # scorer with a flat chain of codegen `substring` chunk
        # compares. Measured at docs ×10 (34.17 M pairs, fingerprint-
        # identical across arms): hex-array carry 13.97 s → unhex
        # array 10.26 s → concat binary 7.33 s, vs the attach regime's
        # 6.87 s — the inline (100 TB) regime now runs at ~parity with
        # the broadcast regime instead of 2× over it.
        packed = ", ".join(f"unhex(sig_{i})" for i in range(n_hashes))
        carry = sig_table.withColumn("_sigs", F.expr(f"concat({packed})"))
        carry_cols.append("_sigs")
        if max_bucket is None:
            carry = carry.withColumn("_bhs", _band_hashes("unhex"))
            carry_cols.append("_bhs")
        banded = band_table(
            carry,
            id_col=id_col,
            n_hashes=n_hashes,
            band_size=band_size,
            carry_cols=carry_cols,
        )
    else:
        banded = band_table(
            sig_table, id_col=id_col, n_hashes=n_hashes, band_size=band_size
        )
    # The cap filters side `a` only: both endpoints of a pair share the
    # join key (band, band_hash), so they sit in one bucket of one size,
    # and dropping the bucket on one side drops every pair it makes.
    # One bucket-count aggregate (and its exchange) instead of two.
    capped = banded
    if max_bucket is not None:
        counts = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        capped = (
            banded.join(counts, on=["band", "band_hash"])
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    joined = capped.alias("a").join(
        banded.alias("b"),
        on=[
            F.col("a.band") == F.col("b.band"),
            F.col("a.band_hash") == F.col("b.band_hash"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    )

    def _first_band(lhs: str, rhs: str) -> Column:
        # a pair collides in band b iff the band's `band_size` sigs
        # all agree (band_hash is md5 of exactly those sigs), so its
        # colliding-band SET is a row-local function of the two
        # endpoints' band-hash vectors: each pair is kept only at its
        # first colliding band — exactly once BY CONSTRUCTION, no
        # pair-stream distinct.
        whens = " ".join(
            f"WHEN {lhs}._bhs[{b}] = {rhs}._bhs[{b}] THEN {b}" for b in range(n_bands)
        )
        return F.expr(f"CASE {whens} END")

    def _n_match(same) -> Column:
        # the n_hashes-way agreement count; same(i) is the SQL test of sig i
        return F.expr(
            " + ".join(f"CASE WHEN {same(i)} THEN 1 ELSE 0 END" for i in range(n_hashes))
        )

    if inline:
        # flat codegen chunk compare over the packed binary payload
        # (each signature is bytes [16i, 16i+16) of _sigs) — replaces
        # the r15 interpreted zip_with+aggregate fold, which was ~2/3
        # of the inline regime's wall at ×10 (see the carry comment)
        n_match = _n_match(
            lambda i: f"substring(a._sigs, {16 * i + 1}, 16)"
            f" = substring(b._sigs, {16 * i + 1}, 16)"
        )
        scored_cols = [
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            n_match.alias("n_sig_match"),
        ]
        if max_bucket is not None:
            # Capped tier: a pair's FIRST colliding band may have been
            # a dropped super-bucket, so ownership is not derivable
            # from signatures alone — dedup with an explicit distinct.
            # n_sig_match is a pure function of the pair, so distinct
            # over (id_a, id_b, n_sig_match) has exactly the
            # (id_a, id_b) cardinality; scoring before the distinct
            # pays the scorer on raw pairs (×1.6–1.9 duplication) to
            # keep the distinct the ONLY pair-stream exchange.
            scored = joined.select(*scored_cols).distinct()
        else:
            scored = joined.filter(F.col("a.band") == _first_band("a", "b")).select(
                *scored_cols
            )
    else:
        pairs = joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.band").alias("_band"),
        )
        if max_bucket is not None:
            pairs = pairs.drop("_band").distinct()
        else:
            key_tbl = sig_table.select(F.col(id_col), _band_hashes().alias("_bhs"))
            pairs = (
                pairs.join(key_tbl.alias("ba"), F.col("id_a") == F.col(f"ba.{id_col}"))
                .join(key_tbl.alias("bb"), F.col("id_b") == F.col(f"bb.{id_col}"))
                .filter(F.col("_band") == _first_band("ba", "bb"))
                .select("id_a", "id_b")
            )
        n_match = _n_match(lambda i: f"sa.sig_{i} = sb.sig_{i}")
        scored = (
            pairs.join(sig_table.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
            .join(sig_table.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
            .select("id_a", "id_b", n_match.alias("n_sig_match"))
        )
    if min_match is not None:
        # Threshold INSIDE the operator, behind a value-preserving
        # nondeterministic guard (r15 OPT — the expression analog of
        # guide §4.4's asNondeterministic): a caller-side
        # `.filter(n_sig_match >= k)` is pushed below this projection
        # and into the bucket self-join's condition, re-evaluating the
        # n_hashes-way CASE chain per probed row — measured 5.9 →
        # 1.2 s warm at sf0.1 (2.9 M pairs), identical rows. The
        # guard multiplies spark_partition_id by zero, so the value
        # is untouched while the optimizer must keep the filter above
        # the single evaluation.
        guard = F.lit(0).cast("int") * F.spark_partition_id()
        scored = (
            scored.withColumn("_gm", F.col("n_sig_match") + guard)
            .filter(F.col("_gm") >= min_match)
            .drop("_gm")
        )
    return scored.withColumn(
        "jaccard_est", F.col("n_sig_match") / F.lit(float(n_hashes))
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "source",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram(1) Jaccard near-dup pairs within a blocking key:
    explode distinct tokens, self-join on token (+ block), count
    shared, jaccard = |∩| / (|A| + |B| − |∩|). The block column bounds
    the candidate space (at 100 TB you always block — by source,
    shard, or an LSH band as above)."""
    # narrow-scan guard: the token explode + self-join probe otherwise
    # run in the scan's task count (5.28 → 1.36 s at sf0.1, r15)
    df = _ensure_input_parallelism(df)
    toks = with_tokens(df, text_col).select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.explode(F.array_distinct(F.col("tokens"))).alias("token"),
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    join_cond = [F.col("a.token") == F.col("b.token"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        join_cond.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    shared = (
        a.join(b, on=join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("n_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("id_a", "id_b", "shared", r4("jaccard", 4).alias("jaccard"))


def embedding_neardup_pairs(
    embeddings: DataFrame,
    min_cos: float = 0.9,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs: sign-LSH bucket the
    corpus (same hyperplane buckets as similarity search), compare only
    within a bucket, keep pairs with cosine ≥ threshold. The bucket is
    the join key — pairwise work is Σ bucket², never corpus². At 100 TB
    you'd add band rotations for recall; the plumbing is identical."""
    from ..fpround import r4
    from .similarity import _dot, sign_lsh_bucket

    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("norm"),
    )
    pairs = (
        b.alias("a")
        .join(
            b.alias("bb"),
            on=[
                F.col("a.bucket") == F.col("bb.bucket"),
                F.col(f"a.{id_col}") < F.col(f"bb.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"bb.{id_col}").alias("id_b"),
            (
                _dot(F.col("a.v"), F.col("bb.v"))
                / (F.col("a.norm") * F.col("bb.norm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )
    return pairs.select("id_a", "id_b", r4("cos", 4).alias("cos"))


def simhash64_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Portable 64-bit SimHash: per distinct token, the first 16 hex
    digits of md5(token) supply 64 bits; each bit votes ±1 and the
    sign of the vote sum becomes that bit of the document hash.
    Emitted as a 64-char '0'/'1' string (bit 0 first) so the value is
    engine-portable — no int64 shift/overflow semantics to match.
    All bit math is Catalyst expressions (conv/shiftright); one
    explode + one keyed agg, so it scales like exact dedup.
    The xxhash64 tier (``simhash64``) stays as the fast JVM path."""
    toks = with_tokens(df, text_col).select(
        "doc_id", F.explode(F.array_distinct(F.col("tokens"))).alias("_tok")
    )
    h = F.md5(F.col("_tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(
                        F.conv(F.substring(h, i // 4 + 1, 1), 16, 10).cast("int"),
                        i % 4,
                    ).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    bits = F.concat(
        *[F.when(F.col(f"v{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(64)]
    )
    return votes.select("doc_id", bits.alias("simhash_bits"))


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens using xxhash64 (JVM-side): per bit,
    sum of ±1 votes weighted by token presence; sign → bit. Not
    oracle-portable (DuckDB lacks xxhash64) → registered as a
    rows-only check. Bit arithmetic stays in Catalyst expressions."""
    toks = with_tokens(df, text_col).select(
        "*", F.explode(F.array_distinct(F.col("tokens"))).alias("_tok")
    )
    h = F.xxhash64(F.col("_tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return votes.select("doc_id", sim.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Duplicate-group clustering: connected components over a
    candidate-pair graph → (node, component) where component = the
    smallest doc id reachable — which doubles as the canonical-document
    choice, closing the dedup pipeline (candidates → groups → keep one
    per group).

    Per-partition contraction, then alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond"):

    1. the directed pairs are materialized through one Arrow
       union-find kernel per partition, with no shuffle: every node
       becomes an edge (node, partition-local min root). Rows with a
       NULL endpoint and self-loops pass through unchanged;
       connectivity is unchanged, and the edge set never grows (a
       partition's spanning forest has no more edges than the
       partition). The input is first coalesced, without a
       shuffle, to at most one partition per task slot. The
       contraction is only as global as a partition, so a graph
       whose edges are hash-spread over the partitions is only
       partly contracted. Its cost at corpus scale (a Python pass
       and a per-partition node dict over every edge) is
       unmeasured;
    2. each round, large-star hangs every node's larger neighbors
       off its min neighbor and small-star flattens the smaller
       ones; components contract to stars in O(log diameter)
       rounds and the edge set shrinks every round;
    3. a round has converged when its output equals its input
       ("f(x) == x"), tested on an (edge count, xxhash64 sum)
       fingerprint observed inside each materializing action. The
       contraction's fingerprint seeds the check; a node contracted
       to different roots in different partitions only costs more
       rounds, never a wrong answer. As with any hash fingerprint,
       two different edge sets with the same count and hash sum
       would stop the loop early.
    4. the fixpoint is also checked before round 1: the contraction's
       action observes the min and max partition id of its strict
       (src > dst) edges. When they are equal (or there is no such
       edge), one partition held every non-trivial edge, its
       union-find output is already the min-rooted stars, and no
       star round runs. This fires when the pair frame reaches the
       contraction in one partition (a small lazy join output that
       adaptive execution coalesced, or a ``coalesce(1)``); a
       hash-spread pair frame (e.g. a cached shuffle output) runs
       the round loop.

    ``max_iter`` counts star rounds after the contraction, so
    ``max_iter=0`` succeeds exactly on the zero-round case. The
    star rounds without the contraction were measured against
    min-label propagation at ×100 docs (SCALEBENCH.md r6); the current
    tier has not been measured at that scale.

    Per round the frames are `localCheckpoint`-ed to truncate lineage
    (otherwise the plan doubles every round); `checkpoint_dir`
    switches to parquet-on-disk (constant memory — required at the
    241 M-pair ×100 extreme). The only driver-side values per round
    are scalar counts/fingerprints — labels never leave the executors,
    so the loop distributes at 100 TB like any iterative graph
    algorithm (this is GraphFrames' CC shape without the dependency).
    """
    # Materialization tier: localCheckpoint pins partitions in executor
    # memory/disk -- fine to ~10^7 edges, but a corpus-scale edge list
    # (measured: 241 M strong pairs at x100 docs) blows the heap.
    # `checkpoint_dir` switches every round to parquet-on-disk
    # materialization: constant memory, lineage truncated by the file
    # boundary, and on a cluster the dir is just a scratch path on the
    # job's distributed FS.
    if checkpoint_dir is not None:
        import uuid as _uuid

        _ckpt_base = f"{checkpoint_dir.rstrip('/')}/cc_{_uuid.uuid4().hex[:8]}"
        _n = [0]

        def _materialize(df: DataFrame) -> DataFrame:
            path = f"{_ckpt_base}/{_n[0]}"
            _n[0] += 1
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)

    else:

        def _materialize(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    directed = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    return _cc_star(directed, _materialize, max_iter)


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _contract_partitions(directed: DataFrame) -> DataFrame:
    """Per-partition union-find over (src, dst) edges, one Arrow
    kernel and no shuffle: each node of a partition becomes the edge
    (node, partition-local min root) with node > root, and a root
    emits nothing of its own (it is the dst of its members). Rows with
    a NULL endpoint and self-loops pass through unchanged, so the
    nodes the star loop sees (NULL included) are the input's. Both
    columns take the type the symmetrizing union would widen them to."""
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    id_type = _symmetrize(directed).schema["src"].dataType
    out_schema = T.StructType(
        [T.StructField("src", id_type), T.StructField("dst", id_type)]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        src: list = []
        dst: list = []
        for batch in batches:
            for a, b in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                if a is None or b is None or a == b:
                    src.append(a)
                    dst.append(b)
                    continue
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                # the smaller root wins, so every root is its set's min
                if ra < rb:
                    parent[rb] = ra
                elif rb < ra:
                    parent[ra] = rb
        for x in parent:
            root = find(x)
            if root != x:
                src.append(x)
                dst.append(root)
        if src:
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, type=f.type) for v, f in zip((src, dst), arrow_schema)],
                schema=arrow_schema,
            )

    return directed.mapInArrow(kernel, out_schema)


def _edge_fingerprint() -> list[Column]:
    """(count, xxhash64 sum) of the strict src > dst edges — every edge
    a star round outputs, and every edge the contraction emits (its
    pass-through self-loops and NULL rows are left out)."""
    strict = F.col("src") > F.col("dst")
    return [
        F.count(F.when(strict, F.lit(1))).alias("n"),
        # decimal sum: a long sum of 2^63-range hashes overflows ANSI
        F.sum(
            F.when(strict, F.xxhash64("src", "dst").cast("decimal(38,0)"))
        ).alias("h"),
    ]


def _cc_star(directed: DataFrame, _materialize, max_iter: int) -> DataFrame:
    """Per-partition contraction, then alternating large-star/small-star
    rounds over the symmetrized edges. Large-star: for each node u with
    min-incl-self m, re-hang every neighbor v > u onto m. Small-star:
    on the resulting larger→smaller edges, flatten each node's smaller
    neighbors (and itself) onto m. Components contract to stars rooted
    at their min id in O(log diameter) rounds. A round has converged
    when its (edge-count, xxhash64-sum) fingerprint equals that of its
    input — both scalar aggregates, nothing collects.

    Fewer shuffles AND fewer actions (a local action costs ~0.07 s of
    scheduling floor, so jobs, not edges, dominate small graphs):

    - every fingerprint rides the action that materializes its frame
      as an ``Observation``, the contraction's included, so the first
      round can already prove the fixpoint, and the contraction's
      partition-id range can prove it before any round runs;
    - the symmetrized edges take no ``distinct()``: large_star
      tolerates duplicate edges (its terminal distinct dedups the
      round's output), so a duplicate or reversed input pair costs one
      inflated first shuffle, not a wrong answer. Every small_star edge
      is strictly src > dst, so re-symmetrizing a round's output is
      disjoint by construction, and a union of two projections of the
      SAME materialized frame recomputes nothing;
    - ``all_nodes`` stays lazy (one terminal consumer).
    """
    from pyspark.sql import Observation

    # Every task of the Arrow kernel pays a fixed Python-worker cost
    # (measured ~70 ms of wall time per task on 4 cores, whatever its
    # size), so a pair list that kept a shuffle's full partition count
    # (a cached frame: 128 partitions of ~6 edges) would pay it 128
    # times and contract nothing. A narrow coalesce to one partition
    # per task slot bounds that cost without idling a core; a frame
    # with no more partitions than slots is left as it is.
    directed = directed.coalesce(directed.sparkSession.sparkContext.defaultParallelism)
    strict_pid = F.when(F.col("src") > F.col("dst"), F.spark_partition_id())
    obs = Observation("cc_fp_contracted")
    contracted = _materialize(
        _contract_partitions(directed).observe(
            obs,
            *_edge_fingerprint(),
            F.min(strict_pid).alias("p_lo"),
            F.max(strict_pid).alias("p_hi"),
        )
    )
    seen = obs.get
    prev_fp = (seen["n"], seen["h"])
    all_nodes = _symmetrize(contracted).select(F.col("src").alias("node")).distinct()
    stars = contracted.filter(F.col("src") > F.col("dst"))
    # Zero-round fixpoint: every partition that holds a non-trivial
    # edge emits at least one strict edge, so strict edges from one
    # partition only (or none at all) mean one union-find saw every
    # edge. Its output is then the exact min-rooted stars, which
    # large-star and small-star map to themselves: the fixpoint holds
    # before round 1. A hash-spread graph runs the round loop.
    converged = seen["p_lo"] == seen["p_hi"]

    def large_star(sym: DataFrame) -> DataFrame:
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("src"), F.col("_mn"))
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def small_star(directed: DataFrame) -> DataFrame:
        mins = directed.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("src"), F.col("_mn"))
        hang = directed.join(mins, "src").select(
            F.col("dst").alias("src"), m.alias("dst")
        )
        self_edge = mins.select("src", F.least(F.col("src"), F.col("_mn")).alias("dst"))
        return (
            hang.union(self_edge)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    for it in range(max_iter):
        if converged:
            break
        # large_star is not materialized on its own: the round
        # materializes ONCE, after small_star. small_star's two
        # consumers of the large_star output (the groupBy mins and the
        # hang join) both require hashpartitioning(src), so Catalyst
        # plans one exchange over the lazy large_star subtree and
        # reuses it — on the checkpoint_dir tier that halves each
        # round's parquet write+read of the edge list
        # (OPTIMIZATION_r16.md §2).
        obs = Observation(f"cc_fp_{it}")
        stars = _materialize(
            small_star(large_star(_symmetrize(stars))).observe(
                obs, *_edge_fingerprint()
            )
        )
        fp = (obs.get["n"], obs.get["h"])
        converged, prev_fp = fp == prev_fp, fp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternations; raise max_iter"
        )
    labels = stars.groupBy("src").agg(F.min("dst").alias("component"))
    return _materialize(
        all_nodes.join(labels, all_nodes["node"] == labels["src"], "left").select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    min_cos: float = 0.2,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    corpus with a coarse quantizer, then compare ONLY within a cluster
    and emit pairs above the cosine threshold (keep-lowest-id is the
    downstream canonical-choice convention, same as the LSH pipeline).

    This is the published SemDeDup recipe (k-means cells → in-cell
    pairwise cosine → drop near-duplicates) on the engine's IVF
    plumbing: the quantizer is seeded deterministically from the first
    ``n_cells`` vectors (engine-portable, oracle-checkable; swap in
    trained k-means at deploy time without touching the plan), the
    assignment is one broadcast join + argmax over ``n_cells`` cosines
    (rounded at 4 dp, centroid-id ascending ties — the engine's ANN
    rounding contract), and the pair join shuffles on the cell id, so
    pairwise work is Σ cell², never corpus². At 100 TB: write the
    corpus partitioned by cell and each cell's pair scan is
    partition-pruned; raise n_cells so cells stay ~√corpus."""
    from .similarity import _dot, dot_unrolled

    # narrow-scan guard (4.97 → 3.78 s at sf0.1, r15); applied before
    # the seed filter so the centroid probe shares the parallel scan
    embeddings = _ensure_input_parallelism(embeddings)
    cent = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("cent_norm"),
    )
    # one aggregate job covers BOTH the seed-count guard and the dim
    # probe for the unrolled-dot fast tier (r15 OPT — no extra action:
    # this replaces the previous bare count())
    st = cent.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("cent_vec")).alias("dmin"),
        F.max(F.size("cent_vec")).alias("dmax"),
    ).first()
    n_seeds = int(st.n)
    if n_seeds != n_cells:
        # same sparse-seed hazard as the PQ codebook: a re-id'd corpus
        # would otherwise silently yield fewer (or zero) cells and an
        # empty "no duplicates" answer
        raise ValueError(
            f"semantic_dedup_pairs seeds the quantizer from ids < "
            f"{n_cells} but found {n_seeds} such vectors; re-id the "
            "corpus densely from 0 or lower n_cells"
        )
    # unrolled codegen dot when the centroid sample agrees on one dim
    # (rows that differ fall back to the fold INSIDE dot_unrolled, so
    # this is a pure fast-path pick, never a semantics change):
    # 4.7 → 2.7 s warm on the 251k-pair in-cell join at sf0.1
    if st.dmin is not None and st.dmin == st.dmax:
        _d = int(st.dmin)

        def dot(a: Column, b: Column) -> Column:  # noqa: ANN001
            return dot_unrolled(a, b, _d)

    else:
        dot = _dot
    base = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )
    from pyspark.sql import Window

    scored = base.join(F.broadcast(cent)).select(
        id_col,
        "v",
        "norm",
        "cent_id",
        (
            dot(F.col("v"), F.col("cent_vec"))
            / (F.col("norm") * F.col("cent_norm"))
        ).alias("cent_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc(r4("cent_cos", 4)), F.asc("cent_id")
    )
    cells = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, "v", "norm", F.col("cent_id").alias("cell"))
    )
    return (
        cells.alias("a")
        .join(
            cells.alias("b"),
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col(f"a.{id_col}").alias("id_keep"),
            F.col(f"b.{id_col}").alias("id_drop"),
            r4(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.norm") * F.col("b.norm")),
                4,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )
