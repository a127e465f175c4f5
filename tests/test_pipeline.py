"""LLM-pipeline operator tests: simhash determinism, multimodal stub
plumbing, similarity sanity."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from siddhi_operator_spark.pipeline import dedup as D
from siddhi_operator_spark.pipeline import multimodal as M
from siddhi_operator_spark.pipeline import similarity as S


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox", "en", "s0", 19),
        (1, "the quick brown fox", "en", "s1", 19),  # exact dup of 0
        (2, "fox brown quick the", "en", "s0", 19),  # word-shuffle of 0
        (3, "совершенно другой текст", "ru", "s0", 23),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups(docs):
    out = {r.canonical_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0,1 identical
    assert out[2] == 1
    assert out[3] == 1


def test_fingerprint_catches_word_shuffle(docs):
    out = {r.canonical_id: r.n_copies for r in D.fingerprint_dedup(docs).collect()}
    assert out[0] == 3  # 0,1,2 share the token bag
    assert out[3] == 1


def test_minhash_identical_docs_full_band_collision(docs):
    sigs = D.minhash_signature(docs, n_hashes=8)
    pairs = D.lsh_candidate_pairs(sigs, n_hashes=8, band_size=4, cache=False)
    got = {(r.id_a, r.id_b): r.n_sig_match for r in pairs.collect()}
    # identical token sets → identical signatures → all 8 agree
    assert got[(0, 1)] == 8
    assert got[(0, 2)] == 8  # minhash is order-insensitive
    assert (0, 3) not in got


def test_minhash_owner_band_dedup_matches_distinct(spark):
    """r15: the uncapped tier's owner-band dedup (each pair kept only
    at its FIRST colliding band — no pair-stream distinct) must be
    row-identical to an explicit distinct over the band join, on data
    where pairs collide in MANY bands (identical docs collide in all)
    and where partial collisions pick interior first-bands."""
    from pyspark.sql import functions as F

    rows = [(i, "common boilerplate template text repeated") for i in range(8)]
    rows += [(20, "alpha beta gamma delta"), (21, "alpha beta gamma delta x"),
             (22, "unrelated text entirely different")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signature(docs, n_hashes=8)
    got = D.lsh_candidate_pairs(
        sigs, n_hashes=8, band_size=2, max_bucket=None, cache=False
    )
    # reference: explicit distinct over the same band join + scoring
    st = sigs.select("doc_id", *[f"sig_{i}" for i in range(8)])
    banded = D.band_table(st, n_hashes=8, band_size=2)
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    nm = sum(
        F.when(F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1).otherwise(0)
        for i in range(8)
    )
    want = (
        pairs.join(st.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(st.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select("id_a", "id_b", nm.alias("n_sig_match"))
        .withColumn("jaccard_est", F.col("n_sig_match") / F.lit(8.0))
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b
    assert len(a) == len({(x[0], x[1]) for x in a})  # no duplicate pairs


def test_simhash_deterministic_and_content_keyed(spark, docs):
    a = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    b = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    assert a == b  # deterministic across runs
    assert a[0] == a[1]  # same text → same hash
    assert a[0] != a[3]  # different text → different hash


def test_multimodal_stub_plumbing(docs):
    media = M.to_media(docs)
    feats = M.extract_features(media, fake=True).collect()
    assert len(feats) == 4
    for r in feats:
        assert len(r.features) == M.FEATURE_DIM
    # identical payloads → identical fake features
    by_id = {r.doc_id: list(r.features) for r in feats}
    assert by_id[0] == by_id[1]


def test_multimodal_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        M.decode_stub(b"bytes", fake=False)


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = S.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = {(r.query_id, r.neighbor_id): r.cos for r in out.collect()}
    assert rows[(0, 1)] == 1.0
    assert rows[(0, 2)] == 0.0


def test_multimodal_resize(spark):
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import multimodal as M

    media = M.to_media(load(spark, "/root/testdata/sf0.001", "documents"))
    out = M.resize(media, 8, 4, fake=True)
    rows = out.filter(out.media_type == "image/png").limit(5).collect()
    assert rows and all(r.byte_len == 32 and r.width == 8 for r in rows)
    passthru = out.filter(out.media_type != "image/png").limit(3).collect()
    assert all(r.width == -1 for r in passthru)


def test_multimodal_frame_sample(spark):
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import multimodal as M
    import pyspark.sql.functions as F

    media = M.to_media(load(spark, "/root/testdata/sf0.001", "documents"))
    videos = media.filter(F.col("media_type") == "video/mp4")
    out = M.frame_sample(videos, n_frames=3, frame_bytes=8)
    n_videos = videos.count()
    assert out.count() == 3 * n_videos  # 1→N expansion, N exact
    one = out.filter(F.col("doc_id") == 2).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in one] == [0, 1, 2]
    assert all(len(r.frame) <= 8 for r in one)


def test_connected_components_basic(spark):
    """Path graph 1-2-3-4 + isolated pair 10-11: the default star tier
    converges to component minima; labels never leave executors."""
    from siddhi_operator_spark.pipeline import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.node: r.component for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_non_convergence_raises(spark):
    """A diameter-5 path cannot converge in 1 round — the cap fails
    loudly instead of returning half-merged components."""
    import pytest as _pytest
    from siddhi_operator_spark.pipeline import dedup as D

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5, 0, -1)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1)


def _union_find_components(edges) -> dict[int, int]:
    """Pure-python reference: node -> smallest node of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_property(spark):
    """Randomized graphs vs a pure-python union-find reference — the
    default star tier must produce identical components (a
    hypothesis-style sweep with a fixed seed; one Spark run per graph
    keeps it affordable)."""
    import random

    from siddhi_operator_spark.pipeline import dedup as D

    rng = random.Random(7)
    for trial in range(6):
        n_nodes = rng.randint(2, 30)
        n_edges = rng.randint(1, 40)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(n_edges)
            }
        )
        expect = _union_find_components(edges)

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.component for r in D.connected_components(pairs).collect()}
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_connected_components_cross_partition_property(spark):
    """Randomized graphs with duplicate and reversed edges, shuffled
    over 4 partitions: the per-partition contraction then hangs one
    node off different roots in different partitions, and the star
    rounds must still merge them into the union-find reference's
    components."""
    import random

    from siddhi_operator_spark.pipeline import dedup as D

    rng = random.Random(23)
    split_roots = 0
    for trial in range(6):
        n_nodes = rng.randint(4, 40)
        edges = [tuple(rng.sample(range(n_nodes), 2)) for _ in range(rng.randint(3, 60))]
        edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 3)]
        edges += rng.sample(edges, len(edges) // 4)
        rng.shuffle(edges)
        expect = _union_find_components(edges)

        pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(4)
        contracted = D._contract_partitions(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        ).collect()
        nodes = [r.src for r in contracted]
        split_roots += len(nodes) != len(set(nodes))
        got = [(r.node, r.component) for r in D.connected_components(pairs).collect()]
        assert len(got) == len(dict(got)), f"trial {trial}: duplicate nodes"
        assert dict(got) == expect, f"trial {trial}: {dict(got)} != {expect}"
    assert split_roots, "no trial contracted a node to two roots"


def test_connected_components_degenerate_inputs(spark, tmp_path):
    """Degenerate graphs keep the labels the star tier gave before the
    per-partition contraction, on both materialization tiers: a node
    whose only edge is a self-loop labels itself, NULL endpoints give
    one (None, None) row while their partners label themselves, an
    empty frame gives no rows, and duplicate or reversed pairs give
    the union-find answer."""
    from siddhi_operator_spark.pipeline import dedup as D

    dup = [(2, 1), (1, 2), (1, 2), (3, 2), (2, 3), (6, 5), (5, 6), (5, 6)]
    cases = [
        ([(1, 2), (7, 7), (3, 3), (3, 4)], {(1, 1), (2, 1), (3, 3), (4, 3), (7, 7)}),
        ([(1, 2), (None, 5), (6, None)], {(1, 1), (2, 1), (5, 5), (6, 6), (None, None)}),
        ([], set()),
        (dup, set(_union_find_components(dup).items())),
    ]
    for kw in ({}, {"checkpoint_dir": str(tmp_path)}):
        for edges, expect in cases:
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            got = [tuple(r) for r in D.connected_components(pairs, **kw).collect()]
            assert len(got) == len(set(got)), (kw, edges, got)
            assert set(got) == expect, (kw, edges, got)


def test_connected_components_star_equivalence(spark):
    """The large-star/small-star rounds must produce exactly the
    union-find reference's (node, component-min) labels — including
    on a long chain (the high-diameter case they exist for, within the
    default round cap) and random graphs."""
    import random

    from siddhi_operator_spark.pipeline import dedup as D

    chain = [(i, i + 1) for i in range(39)]  # diameter 39
    cases = [chain]
    rng = random.Random(13)
    for _ in range(3):
        n_nodes = rng.randint(2, 30)
        n_edges = rng.randint(1, 40)
        cases.append(
            sorted(
                {
                    tuple(sorted(rng.sample(range(n_nodes), 2)))
                    for _ in range(n_edges)
                }
            )
        )
    for i, edges in enumerate(cases):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {
            r.node: r.component
            for r in D.connected_components(pairs).collect()
        }
        assert star == _union_find_components(edges), f"case {i}"


# ---------------------------------------------------------------------------
# Corpus curation (pipeline/curation.py)
# ---------------------------------------------------------------------------

from siddhi_operator_spark.pipeline import curation as C  # noqa: E402


def test_pii_mask_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org, host 10.0.0.1, tel +1-202-555-0199"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in C.pii_mask(df).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 1, 1)
    assert (out[2].n_email, out[2].n_ip, out[2].n_phone) == (0, 0, 0)
    # masking is deterministic: same input → same digest
    again = {r.doc_id: r.masked_md5 for r in C.pii_mask(df).collect()}
    assert again[1] == out[1].masked_md5


def test_repetition_stats_flags_stuffing(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in C.repetition_stats(df).collect()}
    assert out[1].dup_word_ratio == 0.75 and out[1].top_word_ratio == 1.0
    assert out[2].dup_word_ratio == 0.0 and out[2].top_word_ratio == 0.25


def test_decontaminate_flags_overlap_only(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),          # eval doc (0 % 5 == 0)
            (1, "x alpha beta gamma y"),            # shares 3-gram with eval
            (2, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_overlap_grams for r in
           C.decontaminate(df, n=3, eval_mod=5).collect()}
    assert out == {1: 1}  # only "alpha beta gamma" is shared


def test_decontaminate_bloom_superset_of_exact(spark):
    """The bloom path must flag every exactly-contaminated gram (no
    false negatives — bloom's guarantee) and, on a vocabulary this
    small, nothing else (FP rate ≈ 2e-6 per probe). Counts per doc
    must match the exact path wherever both flag."""
    df = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma w{i * 7 % 13} end tok{i}") for i in range(30)]
        + [(100, "alpha beta gamma delta"), (105, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    exact = {r.doc_id: r.n_overlap_grams
             for r in C.decontaminate(df, n=3, eval_mod=5).collect()}
    bloom = {r.doc_id: r.n_flagged_grams
             for r in C.decontaminate_bloom(df, n=3, eval_mod=5).collect()}
    assert set(exact) <= set(bloom)
    for d, n in exact.items():
        assert bloom[d] >= n
    assert bloom == exact  # no FP at this vocabulary size


def test_bloom_word_table_is_bounded(spark):
    """The bloom table never exceeds 2^20/64 = 16384 words no matter
    the gram-set size — the fixed-broadcast property the 100 TB
    decontamination path rests on."""
    grams = spark.range(5000).select(
        F.concat(F.lit("gram-"), F.col("id")).alias("gram")
    )
    words = C.bloom_build(grams, "gram", k=4)
    assert words.count() <= 16384
    # every gram must probe back positive (zero false negatives)
    hits = C.bloom_probe(
        grams.withColumn("doc_id", F.col("gram")), words, "gram",
        keys=("doc_id",), k=4,
    )
    assert hits.count() == 5000


def test_bloom_probe_at_auto_derivation_cap(spark):
    """The 27-bit cap the span auto-router can derive (ADVICE r10):
    the densified filter is a single 2^21-slot / 16 MB array row — the
    probe must still round-trip (zero false negatives, and at this
    bits-per-key ratio zero false positives on a disjoint probe set)
    through the one-row broadcast at that size."""
    grams = spark.range(2000).select(
        F.concat(F.lit("g-"), F.col("id")).alias("gram")
    )
    words = C.bloom_build(grams, "gram", k=4, bits_log2=27)
    assert words.count() <= (1 << 21)
    hits = C.bloom_probe(
        grams.withColumn("doc_id", F.col("gram")), words, "gram",
        keys=("doc_id",), k=4, bits_log2=27,
    )
    assert hits.count() == 2000
    other = spark.range(2000).select(
        F.concat(F.lit("absent-"), F.col("id")).alias("gram")
    )
    misses = C.bloom_probe(
        other.withColumn("doc_id", F.col("gram")), words, "gram",
        keys=("doc_id",), k=4, bits_log2=27,
    )
    assert misses.count() == 0


def test_bm25_ranking_semantics(spark):
    """More distinct query terms beats one repeated term (tf
    saturation), rarer terms weigh more (idf), and docs with no query
    term are absent."""
    from siddhi_operator_spark.pipeline import text as X

    df = spark.createDataFrame(
        [
            (0, "spark join window extra words here"),   # all 3 terms
            (1, "spark spark spark spark filler filler"),  # 1 term, high tf
            (2, "spark join other tokens padding x"),    # 2 terms
            (3, "nothing relevant at all q z"),          # 0 terms
            (4, "spark alone padding padding padding y"),  # 1 term, tf=1
        ],
        "doc_id long, text string",
    )
    out = X.bm25_topk(df, ["spark", "join", "window"], top_k=10).collect()
    ranked = [r.doc_id for r in out]
    assert 3 not in ranked
    assert ranked[0] == 0  # all three terms wins
    assert ranked.index(2) < ranked.index(1)  # 2 distinct > 1 saturated
    scores = {r.doc_id: r.score for r in out}
    assert scores[1] > scores[4]  # ... but tf still counts within a term


def test_domain_mix_targets_smallest_source(spark):
    rows = [(i, "w", "big") for i in range(40)] + [
        (100 + i, "w", "small") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in C.domain_mix_sample(df).collect()}
    assert out["small"].n_kept == 10          # rate 1.0 keeps everything
    assert out["big"].rate == 0.25
    assert 0 < out["big"].n_kept < 40         # gate thins the majority class


def test_seq_pack_bins_budget(spark):
    # 10 docs x 4 tokens, budget 8 → bins of exactly 2 docs / 8 tokens
    rows = [(i, "a b c d", "s") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = C.seq_pack_bins(df, budget=8).collect()
    assert len(out) == 5
    assert all(r.n_docs == 2 and r.bin_tokens == 8 for r in out)


def test_winnow_fingerprints_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c")],  # doc 2: 1 gram < w → dropped
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in C.winnow_fingerprints(df, k=3, w=4).collect()}
    # doc 1: 6 grams → 3 windows of 4 hashes
    assert out[1].n_windows == 3
    assert 1 <= out[1].n_fingerprints <= 3
    assert 2 not in out


def test_lsh_max_bucket_drops_degenerate_buckets(spark):
    """`max_bucket` drops super-buckets whole (deterministic): a
    template repeated many times stops producing quadratic pairs, while
    distinct docs' pairs are unaffected. The cap filters one side of
    the bucket self-join, checked on both scoring tiers."""
    from siddhi_operator_spark.pipeline import dedup as D

    rows = [(i, "common boilerplate template text repeated verbatim") for i in range(30)]
    rows += [(100, "a genuinely unique document about spark"),
             (101, "a genuinely unique document about spark engines")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signature(docs)
    uncapped = D.lsh_candidate_pairs(sigs, max_bucket=None)
    # default "auto" derives a generous cap (>= 2000) — nothing drops here
    auto = D.lsh_candidate_pairs(sigs)
    assert auto.count() == uncapped.count()
    # the 30-clone template bucket alone yields 30*29/2 = 435 pairs
    assert uncapped.filter("id_a < 100").count() >= 435
    for inline in (True, False):
        capped = D.lsh_candidate_pairs(sigs, max_bucket=10, inline=inline)
        # super-bucket dropped
        assert capped.filter("id_a < 100").count() == 0, inline
        # the small near-dup pair survives the cap
        assert capped.filter("id_a = 100 AND id_b = 101").count() == 1, inline


def test_brute_force_tiers_agree_and_guard(spark):
    """The cogroup block tier returns byte-identical results to the
    broadcast tier (same rounding, same tiebreak), and the broadcast
    tier refuses query sets over MAX_BROADCAST_QUERIES."""
    import pytest

    from siddhi_operator_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = S.brute_force_topk(emb, emb, k=3, impl="arrow")
    b = S.brute_force_topk(emb, emb, k=3, impl="cogroup")
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b

    old = S.MAX_BROADCAST_QUERIES
    S.MAX_BROADCAST_QUERIES = 10
    try:
        with pytest.raises(ValueError, match="cogroup"):
            S.brute_force_topk(emb, emb, k=3, impl="arrow").collect()
        # auto silently routes to the distributed tier instead
        assert S.brute_force_topk(emb, emb.limit(20), k=3, impl="auto").count() > 0
    finally:
        S.MAX_BROADCAST_QUERIES = old


def test_connected_components_disk_checkpoint_tier(spark, tmp_path):
    """checkpoint_dir materializes rounds as parquet (constant memory)
    with identical results to the in-memory tier."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    mem = {r.node: r.component for r in D.connected_components(pairs).collect()}
    disk = {
        r.node: r.component
        for r in D.connected_components(
            pairs, checkpoint_dir=str(tmp_path)
        ).collect()
    }
    assert mem == disk == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_pq_topk_adc_approximates_exact(spark):
    """PQ/ADC sanity on the real fixture: deterministic output, k rows
    per query, and the ADC ranking recovers a decent share of the
    exact cosine top-3 (codebooks are only sample-seeded, so expect
    approximation, not equality)."""
    from siddhi_operator_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    pq = S.pq_topk(emb, dims=64, m=8, n_codes=16, k=3, max_query_id=5)
    rows = pq.collect()
    assert len(rows) == 15  # 5 queries x k=3
    assert all(r.neighbor_id != r.query_id for r in rows)
    # determinism: a second run returns the identical ranking
    again = S.pq_topk(emb, dims=64, m=8, n_codes=16, k=3, max_query_id=5)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # recall@3 vs the exact tier: weak but nonzero approximation bar
    exact = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in rows}
    # near-uniform synthetic vectors are PQ's worst case and the
    # codebooks are sample-seeded, so demand signal, not fidelity:
    # random guessing on ~50 candidates would land ~1 of 15 slots
    assert len(ex & got) >= 3


def test_domain_mix_temperature_limits(spark):
    """τ=1 keeps everything; τ=0 equals the uniform re-balancing; in
    between, rates interpolate monotonically (bigger source → lower
    rate) and the smallest source always keeps rate 1."""
    df = spark.createDataFrame(
        [(i, f"t{i}", "big" if i < 80 else ("mid" if i < 95 else "small"))
         for i in range(100)],
        "doc_id long, text string, source string",
    )
    r_half = {r.source: r for r in C.domain_mix_temperature(df, tau=0.5).collect()}
    assert r_half["small"].rate == 1.0
    assert r_half["small"].n_kept == r_half["small"].n_total
    assert r_half["big"].rate < r_half["mid"].rate < 1.0
    r_one = {r.source: r.rate for r in C.domain_mix_temperature(df, tau=1.0).collect()}
    assert all(v == 1.0 for v in r_one.values())
    r_zero = {r.source: r.rate for r in C.domain_mix_temperature(df, tau=0.0).collect()}
    uniform = {r.source: r.rate for r in C.domain_mix_sample(df).collect()}
    assert r_zero == uniform


def test_pq_arrow_tier_matches_catalyst(spark):
    """The BLAS encode+ADC kernel must reproduce the Catalyst tier
    exactly under the engine rounding contract (6-dp half-up argmin,
    4-dp half-up rank keys)."""
    from siddhi_operator_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = S.pq_topk(emb, dims=64, m=8, n_codes=16, k=3, max_query_id=5)
    b = S.pq_topk(
        emb, dims=64, m=8, n_codes=16, k=3, max_query_id=5, impl="arrow"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_leakage_safe_split_groups_stay_together(spark, docs):
    """Exact and word-shuffle duplicates (shared fingerprint) must get
    ONE split assignment; distinct content may differ."""
    out = {r.doc_id: (r.group_id, r.split)
           for r in C.leakage_safe_split(docs).collect()}
    assert out[0] == out[1] == out[2]  # dup group rides together
    assert out[0][0] == 0  # canonical = min doc_id
    assert out[3][0] == 3


def test_minhash_arrow_tier_byte_identical(spark):
    """The memoized Arrow minhash kernel must produce byte-identical
    signatures to the expression tier (same md5 family, same Spark
    split semantics incl. trailing empties)."""
    from siddhi_operator_spark.catalog import load

    d = load(spark, "/root/testdata/sf0.001", "documents")
    cols = ["doc_id"] + [f"sig_{i}" for i in range(16)]
    a = D.minhash_signature(d, 16).select(*cols).collect()
    b = D.minhash_signature(d, 16, impl="arrow").select(*cols).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_char_lm_score_flags_junk(spark):
    """Documents from an alien character distribution must score a
    higher mean -log2 P than documents that share the corpus's
    dominant bigrams."""
    from siddhi_operator_spark.pipeline import text as X

    normal = "the cat sat on the mat and the dog sat too"
    rows = [(i, normal) for i in range(8)] + [(100, "zq#9@!xk~%vw^&(pj)")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_neg_log2p for r in X.char_lm_score(df).collect()}
    assert out[100] > out[0] * 1.5


def test_text_ops_null_and_empty_text(spark):
    """Null / empty / whitespace-only text must not crash any text or
    curation op, and the two minhash tiers must agree on the edge
    cases (null → null sigs; whitespace-only → the empty-token
    signature, same as the expression tier's split semantics)."""
    from siddhi_operator_spark.pipeline import text as X

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "hello world"), (4, "  ")],
        "doc_id long, text string",
    )
    assert len(X.token_stats(df).collect()) == 4
    assert len(X.quality_score(df).collect()) == 4
    assert len(C.pii_mask(df).collect()) == 4
    assert len(X.char_lm_score(df).collect()) == 2  # <2 chars filtered
    a = D.minhash_signature(df, 4).select("doc_id", "sig_0", "sig_3").collect()
    b = D.minhash_signature(df, 4, impl="arrow").select(
        "doc_id", "sig_0", "sig_3"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_id = {r.doc_id: r.sig_0 for r in a}
    assert by_id[1] is None
    assert by_id[2] == by_id[4]  # "" and "  " both tokenize to {""}


def test_cross_doc_repeats_finds_shared_boilerplate(spark):
    """A license-header span pasted into several otherwise-distinct
    docs must surface as shared fingerprints spanning those docs;
    fully unique docs contribute nothing."""
    header = "licensed under the apache license version two zero"
    rows = [
        (1, header + " alpha beta gamma delta epsilon unique one"),
        (2, header + " totally different tail content here two"),
        (3, "no shared content at all in this document three x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = C.cross_doc_repeats(df, k=3, w=4, min_docs=2).collect()
    assert out, "shared header must produce >=1 shared fingerprint"
    assert all(r.n_docs == 2 and {r.first_doc, r.last_doc} == {1, 2} for r in out)


def test_stratified_sample_quota_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}", "a" if i < 20 else "b") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = C.stratified_sample(df, k_per_group=4)
    per = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert per == {"a": 4, "b": 4}
    again = C.stratified_sample(df, k_per_group=4)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_normalize_embeddings_unit_norm_and_centering(spark):
    import math

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: list(r.embedding_norm)
           for r in S.normalize_embeddings(df).collect()}
    for v in out.values():
        n = math.sqrt(sum(x * x for x in v))
        assert abs(n - 1.0) < 1e-9 or n == 0.0
    # centered: mean vector is (4/3, 2/3); doc0 → (-1/3, -2/3) direction
    assert out[0][0] < 0 and out[0][1] < 0
    uncentered = {r.vec_id: list(r.embedding_norm)
                  for r in S.normalize_embeddings(df, center=False).collect()}
    assert uncentered[0] == [1.0, 0.0]


def test_chunk_documents_overlap_and_tail(spark):
    from siddhi_operator_spark.pipeline import text as X

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "solo")],
        "doc_id long, text string",
    )
    out = X.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens) for r in out}
    assert by[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert by[(1, 1)][0].startswith("w3")  # stride 3 → overlap of 1
    assert by[(1, 3)] == ("w9", 1)  # partial tail kept
    assert by[(2, 0)] == ("solo", 1)
    # reconstruction: stripping the overlap re-yields the original
    ordered = [by[(1, i)][0].split()[1 if i else 0:] for i in range(4)]
    flat = [w for c in ordered for w in c]
    assert flat == [f"w{i}" for i in range(10)]


def test_mips_ann_degenerate_bucket_equals_exact(spark):
    """With zero hash bits every vector lands in one bucket, so the
    ANN tier scores ALL pairs — its output must be byte-identical to
    the exact broadcast tier (same rounding, same tiebreak). This
    pins the reduction: banding only ever REMOVES candidate pairs,
    never changes how a pair is scored or ranked."""
    from siddhi_operator_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = sorted(map(tuple, S.mips_topk(emb, q, k=3).collect()))
    ann = sorted(
        map(tuple, S.mips_ann_topk(emb, q, k=3, n_bits=0, n_bands=1).collect())
    )
    assert ann == exact


def test_mips_ann_derived_geometry():
    """r8 verdict #1: the DEFAULT bucket geometry must scale with the
    corpus — a fixed n_bits makes in-bucket re-rank work quadratic by
    construction (the 4-bit default at 500 k vectors fed ~620 M pairs;
    the leg was killed). Pins the derivation: gate-scale floor of 4,
    the measured 8-bit geometry at 500 k, log-growth past it, cap 16."""
    assert S.mips_ann_bits(0) == 4
    assert S.mips_ann_bits(500) == 4          # sf0.01 gate corpus
    assert S.mips_ann_bits(2048 * 16) == 4    # floor holds to 32 k
    assert S.mips_ann_bits(500_000) == 8      # the SCALEBENCH r8 run
    assert S.mips_ann_bits(5_000_000) == 12
    assert S.mips_ann_bits(10**9) == 16       # capped
    # cells per band grow ∝ corpus between floor and cap
    assert S.mips_ann_bits(2 * 500_000) == S.mips_ann_bits(500_000) + 1


def test_mips_ann_default_uses_derived_bits(spark):
    """`n_bits=None` (the default) routes through mips_ann_bits; at
    gate scale the derived geometry is the 4-bit floor, so the default
    call must equal the explicit 4-bit call row for row."""
    from siddhi_operator_spark.catalog import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    explicit = sorted(
        map(tuple, S.mips_ann_topk(emb, q, k=3, n_bits=4, n_bands=4).collect())
    )
    derived = sorted(map(tuple, S.mips_ann_topk(emb, q, k=3).collect()))
    assert derived == explicit


def test_mips_ann_accepts_queries_past_broadcast_ceiling(spark):
    """The ANN tier is the documented route for query sets the exact
    tier refuses — it must NOT inherit the broadcast ceiling (its
    joins are key-shuffled, not force-broadcast)."""
    df = spark.range(0, 30).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    old = S.MAX_BROADCAST_QUERIES
    S.MAX_BROADCAST_QUERIES = 10
    try:
        assert S.mips_ann_topk(df, df, k=1, n_bits=0, n_bands=1).count() == 30
    finally:
        S.MAX_BROADCAST_QUERIES = old


def test_mips_refuses_unbounded_query_broadcast(spark):
    """r7 verdict #2: mips_topk force-broadcasts the query frame, so
    it must carry the same MAX_BROADCAST_QUERIES refusal as its
    sibling tiers (brute_force arrow, pq arrow) instead of silently
    accepting an unbounded broadcast."""
    import pytest as _pytest

    df = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).alias("embedding"),
    )
    old = S.MAX_BROADCAST_QUERIES
    S.MAX_BROADCAST_QUERIES = 10
    try:
        with _pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
            S.mips_topk(df, df, k=1)
    finally:
        S.MAX_BROADCAST_QUERIES = old
    # bounded query sets pass the guard untouched
    assert S.mips_topk(df, df.limit(3), k=1).count() == 3


def test_pq_arrow_refuses_unbounded_query_collect(spark):
    """The arrow PQ tier must refuse query sets above the broadcast
    bound instead of collecting an unbounded corpus to the driver."""
    import pytest as _pytest

    df = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).alias("embedding"),
    )
    old = S.MAX_BROADCAST_QUERIES
    S.MAX_BROADCAST_QUERIES = 10
    try:
        with _pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
            S.pq_topk(df, dims=8, m=2, n_codes=4, k=1, impl="arrow")
    finally:
        S.MAX_BROADCAST_QUERIES = old


def test_pq_arrow_refuses_sparse_seed_ids(spark):
    """A missing seed id would silently become the ZERO code vector in
    the arrow codebook (diverging from the catalyst tier, which has no
    row for that code) — it must raise instead."""
    import pytest as _pytest

    df = spark.range(0, 50).filter(F.col("id") != 2).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 8).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="first missing: \\[2\\]"):
        S.pq_topk(df, dims=8, m=2, n_codes=4, k=1, impl="arrow", max_query_id=5)


def test_remove_repeated_spans_semantics(spark):
    """Shared boilerplate spans vanish; unique text survives verbatim;
    short docs (no full winnow window) pass through untouched."""
    from siddhi_operator_spark.pipeline import curation as C

    boiler = "all rights reserved contact legal department now"
    rows = [
        (1, f"alpha beta gamma delta {boiler} unique one tail words here"),
        (2, f"epsilon zeta eta theta {boiler} other doc body text here"),
        (3, "completely unrelated content with no shared spans at all"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in C.remove_repeated_spans(df).collect()}

    # the boilerplate run is gone from both carriers (winnow windows
    # that straddle the span may legitimately extend coverage up to
    # w-1 grams to the left — guaranteed-coverage over-marking)
    for d in (1, 2):
        assert "legal" not in out[d].text_clean
        assert out[d].n_removed >= len(boiler.split())
        assert out[d].n_tokens == len(rows[d - 1][1].split())
    # unique docs untouched
    assert out[3].text_clean == rows[2][1] and out[3].n_removed == 0
    assert out[4].text_clean == "tiny doc" and out[4].n_removed == 0
    # surviving text keeps original order: first token survives (no
    # window reaches it) and kept tokens are a subsequence
    assert out[1].text_clean.startswith("alpha")
    kept = out[1].text_clean.split()
    orig = rows[0][1].split()
    it = iter(orig)
    assert all(t in it for t in kept)


def test_remove_repeated_spans_bloom_prefilter_equivalent(spark):
    """The bloom pre-filter tier is a pure pruning step — false
    positives ride into the exact semi join, so the output must be
    BIT-identical to prefilter='none' on the same corpus (the
    large-corpus tier trades shuffle volume for a persisted tail and
    a fixed 2 MB bloom broadcast, never correctness)."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import curation as C

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    base = C.remove_repeated_spans(docs).orderBy("doc_id").collect()
    bloom = (
        C.remove_repeated_spans(docs, prefilter="bloom")
        .orderBy("doc_id")
        .collect()
    )
    assert base == bloom
    # r9: the auto regime pick is a routing decision, never a result
    # change — at this corpus the tail is tiny so auto lands on the
    # plain broadcast path, and the output is still bit-identical
    auto = (
        C.remove_repeated_spans(docs, prefilter="auto")
        .orderBy("doc_id")
        .collect()
    )
    assert base == auto
    # the persisted decision aggregation is registered for release
    assert len(C._SPAN_TAIL_CACHE) == 1
    # observability: auto recorded its pick and a same-basis prunable
    # fraction (distinct-(doc,fp) on BOTH sides — r9 ADVICE)
    picked, n_shared, prunable = C.LAST_SPAN_PREFILTER
    assert picked in ("none", "bloom") and n_shared >= 0
    assert 0.0 <= prunable <= 1.0
    C.release_span_tail_cache()
    assert not C._SPAN_TAIL_CACHE


def test_remove_repeated_spans_prefilter_validation(spark):
    """Unknown prefilter strings are rejected at entry, and every call
    releases the previous call's persisted tail."""
    import pytest

    from siddhi_operator_spark.pipeline import curation as C

    df = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="prefilter"):
        C.remove_repeated_spans(df, prefilter="blomm")
    # a default (probe, no prefilter) call releases any previously
    # persisted tail
    C.remove_repeated_spans(
        spark.createDataFrame(
            [(1, "x y z w x y z w"), (2, "x y z w q r s t")],
            "doc_id long, text string",
        ),
        prefilter="bloom",
    ).collect()
    assert len(C._SPAN_TAIL_CACHE) == 1
    C.remove_repeated_spans(df).collect()
    assert not C._SPAN_TAIL_CACHE


def test_quantize_int8_bound_and_codes(spark):
    """Every code is an int8, degenerate constant dims reconstruct
    exactly, and the half-step error contract holds on every vector."""
    from siddhi_operator_spark.pipeline import similarity as S

    rows = [
        (1, [0.0, 5.0, -2.0]),
        (2, [10.0, 5.0, 2.0]),
        (3, [2.5, 5.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in S.quantize_embeddings_int8(df).collect()}
    assert all(r.within_bound for r in out.values())
    for r in out.values():
        codes = [int(c) for c in r.codes_int8.split(",")]
        assert len(codes) == 3
        assert all(-128 <= c <= 127 for c in codes)
    # dim 0 spans [0,10]: extremes hit the rails
    assert int(out[1].codes_int8.split(",")[0]) == -128
    assert int(out[2].codes_int8.split(",")[0]) == 127
    # constant dim encodes as -128 everywhere
    assert {int(o.codes_int8.split(",")[1]) for o in out.values()} == {-128}


def test_dedup_lines_semantics(spark):
    """Shared full lines drop everywhere; short lines are exempt even
    when repeated; unique lines survive in order."""
    from siddhi_operator_spark.pipeline import text as X

    banner = "accept all cookies to continue reading"
    rows = [
        (1, f"unique first line one\n{banner}\nok\nclosing thoughts here"),
        (2, f"{banner}\ndifferent body text\nok"),
        (3, "totally unrelated\ncontent lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.dedup_lines(df, min_docs=2).collect()}
    for d in (1, 2):
        assert banner not in out[d].text_clean
        assert out[d].n_removed == 1
    # 'ok' repeats in docs 1 and 2 but is under min_line_tokens — kept
    assert "ok" in out[1].text_clean and "ok" in out[2].text_clean
    assert out[1].text_clean.splitlines()[0] == "unique first line one"
    assert out[3].n_removed == 0 and out[3].text_clean == rows[2][1]


def test_dedup_lines_preserves_structure_and_empty_docs(spark):
    """r7 review regressions pinned: (a) blank lines are structure —
    a doc with no shared lines must round-trip BYTE-IDENTICALLY,
    paragraph breaks included; (b) empty / whitespace-only docs must
    not crash the job (sequence(0,-1) is bidirectional in Spark)."""
    from siddhi_operator_spark.pipeline import text as X

    rows = [
        (1, "para one has words\n\npara two has words"),
        (2, ""),
        (3, "   \n  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.dedup_lines(df, min_docs=2).collect()}
    assert out[1].text_clean == rows[0][1]  # blank line survives
    assert out[1].n_removed == 0
    assert out[2].n_removed == 0 and out[3].n_removed == 0  # no crash


def test_remove_repeated_spans_property(spark):
    """Randomized corpora vs a pure-Python winnow+mask reference —
    the array-native formulation (zip-of-shifts grams, doubling-ladder
    sliding min, array_except mask) must match an obviously-correct
    implementation exactly, including which tokens get masked."""
    import hashlib
    import random

    from siddhi_operator_spark.pipeline import curation as C

    k, w, min_docs = 3, 4, 2
    span = k + w - 1

    def ref(docs):
        fps_by_doc = {}
        for did, text in docs:
            ws = [t for t in text.split() if t]
            grams = [
                hashlib.md5(" ".join(ws[i : i + k]).encode()).hexdigest()
                for i in range(len(ws) - k + 1)
            ]
            fps = {}
            for j in range(len(grams) - w + 1):
                fp = min(grams[j : j + w])
                fps.setdefault(fp, []).append(j + 1)  # 1-based
            fps_by_doc[did] = (ws, fps)
        counts = {}
        for did, (_, fps) in fps_by_doc.items():
            for fp in fps:
                counts[fp] = counts.get(fp, 0) + 1
        shared = {fp for fp, n in counts.items() if n >= min_docs}
        out = {}
        for did, text in docs:
            ws = [t for t in text.split() if t]
            covered = set()
            _, fps = fps_by_doc.get(did, (None, {}))
            for fp, positions in fps.items():
                if fp in shared:
                    for p in positions:
                        covered.update(range(p, p + span))
            kept = [t for i, t in enumerate(ws, 1) if i not in covered]
            out[did] = (len(ws), len(ws) - len(kept), " ".join(kept))
        return out

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(4):
        docs = []
        boiler = " ".join(rng.choices(vocab, k=rng.randint(6, 9)))
        for did in range(6):
            body = " ".join(rng.choices(vocab, k=rng.randint(0, 18)))
            if rng.random() < 0.6:
                body = f"{body} {boiler} {body}".strip()
            docs.append((did, body))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
            for r in C.remove_repeated_spans(
                df, k=k, w=w, min_docs=min_docs
            ).collect()
        }
        assert got == ref(docs), f"trial {trial}"


def test_dedup_lines_property(spark):
    """Randomized multi-line corpora vs a pure-Python reference: exact
    shared-line drop semantics, blank/short-line exemptions, order
    preservation."""
    import hashlib
    import random

    from siddhi_operator_spark.pipeline import text as X

    min_docs, min_tok = 2, 3

    def ref(docs):
        counts = {}
        for _, text in docs:
            seen = set()
            for ln in text.split("\n"):
                if len([t for t in ln.split() if t]) >= min_tok:
                    h = hashlib.md5(ln.encode()).hexdigest()
                    if h not in seen:
                        seen.add(h)
                        counts[h] = counts.get(h, 0) + 1
        shared = {h for h, n in counts.items() if n >= min_docs}
        out = {}
        for did, text in docs:
            lines = text.split("\n")
            kept = [
                ln
                for ln in lines
                if not (
                    len([t for t in ln.split() if t]) >= min_tok
                    and hashlib.md5(ln.encode()).hexdigest() in shared
                )
            ]
            out[did] = (len(lines), len(lines) - len(kept), "\n".join(kept))
        return out

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(10)]
    for trial in range(4):
        shared_line = " ".join(rng.choices(vocab, k=rng.randint(3, 6)))
        docs = []
        for did in range(5):
            lines = []
            for _ in range(rng.randint(0, 5)):
                r = rng.random()
                if r < 0.3:
                    lines.append(shared_line)
                elif r < 0.45:
                    lines.append("")  # blank — exempt, preserved
                else:
                    lines.append(
                        " ".join(rng.choices(vocab, k=rng.randint(1, 7)))
                    )
            docs.append((did, "\n".join(lines)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_lines, r.n_removed, r.text_clean)
            for r in X.dedup_lines(
                df, min_docs=min_docs, min_line_tokens=min_tok
            ).collect()
        }
        assert got == ref(docs), f"trial {trial}"


def test_deterministic_shuffle_contract(spark):
    """Dense 1..N positions, identical across re-executions (the
    epoch-replay contract), different permutation under a different
    seed, and every input row survives exactly once."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import curation as C

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    a = C.deterministic_shuffle(docs, seed=7).select("position", "doc_id")
    rows_a = sorted((r.position, r.doc_id) for r in a.collect())
    rows_a2 = sorted((r.position, r.doc_id) for r in a.collect())
    assert rows_a == rows_a2  # replayable
    assert [p for p, _ in rows_a] == list(range(1, n + 1))  # dense
    assert len({d for _, d in rows_a}) == n  # a permutation
    b = C.deterministic_shuffle(docs, seed=8).select("position", "doc_id")
    rows_b = sorted((r.position, r.doc_id) for r in b.collect())
    assert rows_a != rows_b  # seed changes the epoch order
    # ADVICE r8: an input frame already carrying the output/temp
    # column names would produce ambiguous columns — refuse up front
    import pytest as _pytest

    for bad in ("position", "_k", "_b", "_rk"):
        # ValueError since r12 (assert sweep: input validation must
        # survive python -O)
        with _pytest.raises(ValueError, match=bad):
            C.deterministic_shuffle(docs.withColumn(bad, F.lit(1)))


def test_ivfpq_topk_contract(spark):
    """The composed IVFADC tier: ≤k neighbors per query with dense
    ranks 1..n, no self-matches, and every returned neighbor sits in
    a cell the query probed (the pruning invariant that makes the
    tier cheaper than plain PQ)."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import similarity as S

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    out = S.ivfpq_topk(
        emb, n_cells=8, nprobe=2, dims=64, m=8, n_codes=16, k=3,
        max_query_id=5,
    ).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_classifier_train_deterministic_and_learns_direction(spark):
    """The logistic-GD trainer is replay-identical (the determinism
    contract its unrolled oracle depends on) and actually learns: the
    label is 'doc has >= 50 tokens', so the mean margin of long docs
    under the trained weights must exceed the mean margin of short
    docs (a direction check, not a convergence claim, after 2
    full-batch iterations)."""
    from pyspark.sql import functions as F

    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import text as X

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    w1 = sorted((r.slot, r.weight) for r in X.classifier_train(docs).collect())
    w2 = sorted((r.slot, r.weight) for r in X.classifier_train(docs).collect())
    assert w1 == w2  # replayable
    assert 0 < len(w1) <= 4096
    wdf = spark.createDataFrame(
        [(int(s), float(w)) for s, w in w1], "slot long, w double"
    )
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    slot = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast(
        "long"
    ) % 4096
    feats = (
        docs.select("doc_id", ws.alias("_ws"))
        .filter(F.size("_ws") > 0)
        .select(
            "doc_id",
            F.size("_ws").alias("_n"),
            F.explode("_ws").alias("_tok"),
        )
        .select("doc_id", "_n", slot.alias("slot"))
        .join(wdf, "slot")
        .groupBy("doc_id")
        .agg(
            (F.sum("w") / F.any_value("_n")).alias("margin"),
            (F.any_value("_n") >= 50).alias("is_long"),
        )
    )
    m = {
        r.is_long: r.avg_m
        for r in feats.groupBy("is_long")
        .agg(F.avg("margin").alias("avg_m"))
        .collect()
    }
    assert m[True] > m[False]


def test_classifier_train_matches_numpy_reference(spark):
    """Third implementation check (beyond the DuckDB oracle): a pure
    Python/numpy replay of the same two GD iterations — md5 slots,
    6-dp epsilon rounding at every step — must reproduce the Spark
    weights exactly. Catches any silent drift between the distributed
    aggregation shape and the mathematical spec."""
    import hashlib
    import math
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import text as X

    def r(v, n):
        v = v + 1e-9
        s = 1.0 if v >= 0 else -1.0
        return s * math.floor(abs(v) * 10**n + 0.5) / 10**n

    tab = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    feats = []  # (doc, {slot: x}, y)
    for row in tab:
        toks = [t for t in re.split(r"\s+", row["text"]) if t != ""]
        if not toks:
            continue
        cnt = defaultdict(int)
        for t in toks:
            slot = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 4096
            cnt[slot] += 1
        n = len(toks)
        feats.append(
            ({s: c / n for s, c in cnt.items()}, 1.0 if n >= 50 else 0.0)
        )
    g1 = defaultdict(float)
    for x, y in feats:
        for s, v in x.items():
            g1[s] += (0.5 - y) * v
    w1 = {s: r(-r(g, 6), 6) for s, g in g1.items()}
    g2 = defaultdict(float)
    for x, y in feats:
        m = r(sum(v * w1.get(s, 0.0) for s, v in x.items()), 6)
        p = r(1.0 / (1.0 + math.exp(-m)), 6)
        for s, v in x.items():
            g2[s] += (p - y) * v
    expect = {
        s: r(r(w1.get(s, 0.0) - r(g, 6), 6), 4) for s, g in g2.items()
    }
    got = {
        r_.slot: r_.weight
        for r_ in X.classifier_train(
            load(spark, "/root/testdata/sf0.001", "documents")
        ).collect()
    }
    assert got == expect


def test_ivfpq_index_append_equals_rebuild(spark, tmp_path):
    """`ivfpq_index_append` encodes new vectors with the FROZEN
    quantizers — so append-then-probe must be BIT-identical to
    rebuilding the whole index over the union corpus (the quantizer
    seeds live in the old half, so both paths encode with the same
    constants). The 100 TB ingest contract: batch-sized work, no
    result drift."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import similarity as S

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    full = str(tmp_path / "full")
    incr = str(tmp_path / "incr")
    S.ivfpq_index_write(emb, full, n_cells=8, dims=64, m=8, n_codes=16)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), incr,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    S.ivfpq_index_append(emb.filter(F.col("vec_id") >= 30), incr)
    a = sorted(map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect()))
    b = sorted(map(tuple, S.ivfpq_index_topk(spark, incr, q, 2, 3).collect()))
    assert a == b
    assert a  # non-degenerate
    # the appended layout holds exactly one code row per (vector, j)
    codes = spark.read.parquet(f"{incr}/codes")
    n = emb.count()
    assert codes.count() == n * 8
    assert codes.select("vid").distinct().count() == n


def test_ivfpq_stream_ingest_equals_rebuild(spark, tmp_path):
    """`streaming.similarity.ivfpq_ingest_sink` drives
    `ivfpq_index_append` from a throttled file stream — probing the
    stream-maintained layout must be BIT-identical to a full rebuild
    over the union corpus, and the ingest must genuinely span several
    micro-batches (freshness across triggers, not one big append)."""
    from siddhi_operator_spark.catalog import SCHEMAS, load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.streaming.similarity import ivfpq_ingest_sink

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    full = str(tmp_path / "full")
    live = str(tmp_path / "live")
    S.ivfpq_index_write(emb, full, n_cells=8, dims=64, m=8, n_codes=16)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), live,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    staging = str(tmp_path / "staging")
    (
        emb.filter(F.col("vec_id") >= 30)
        .repartition(3)
        .write.parquet(staging)
    )
    s = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sq = ivfpq_ingest_sink(s, live, checkpoint=str(tmp_path / "ckpt"))
    sq.processAllAvailable()
    fed = [p for p in sq.recentProgress if p["numInputRows"] > 0]
    sq.stop()
    assert len(fed) >= 2
    a = sorted(map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect()))
    b = sorted(map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect()))
    assert a == b and a
    codes = spark.read.parquet(f"{live}/codes")
    n = emb.count()
    assert codes.count() == n * 8


def _serve_fixture(spark, tmp_path, **sink_kw):
    """Shared serve-loop fixture: base index from vec_id<30, the rest
    stream-ingested one file per trigger; returns (emb, full, live)."""
    from siddhi_operator_spark.catalog import SCHEMAS, load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.streaming.similarity import ivfpq_ingest_sink

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    full = str(tmp_path / "full")
    live = str(tmp_path / "live")
    S.ivfpq_index_write(emb, full, n_cells=8, dims=64, m=8, n_codes=16)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), live,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    staging = str(tmp_path / "staging")
    emb.filter(F.col("vec_id") >= 30).repartition(3).write.parquet(staging)
    s = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sq = ivfpq_ingest_sink(s, live, checkpoint=str(tmp_path / "ckpt"),
                           **sink_kw)
    sq.processAllAvailable()
    fed = [p for p in sq.recentProgress if p["numInputRows"] > 0]
    sq.stop()
    assert len(fed) >= 2
    return emb, full, live


def test_ivfpq_compact_preserves_probe(spark, tmp_path):
    """`ivfpq_index_compact` rewrites fragmented cell partitions into
    sized files (the r10 decade found per-trigger appends taxed the
    served-layout probe 1.5× a rebuilt one) — a pure file-level
    rewrite under frozen quantizers, so the probe must be
    BIT-identical before and after, row count preserved, fragment
    count strictly reduced."""
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import (
        _cell_fragments,
        ivfpq_index_compact,
    )

    emb, full, live = _serve_fixture(spark, tmp_path)
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    frags_before = sum(_cell_fragments(spark, live).values())
    stats = ivfpq_index_compact(spark, live, max_fragments_per_cell=1)
    assert stats["cells"] >= 1
    assert stats["files_after"] < frags_before
    assert max(_cell_fragments(spark, live).values()) <= 1
    after = sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    rebuilt = sorted(
        map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect())
    )
    assert before == after == rebuilt and after
    assert spark.read.parquet(f"{live}/codes").count() == emb.count() * 8


def test_ivfpq_sink_count_triggered_compaction(spark, tmp_path):
    """`ivfpq_ingest_sink(max_fragments_per_cell=N)` arms in-loop
    compaction: after the ingest drains, no cell may hold more than N
    fragments, and the probe still equals a full rebuild."""
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import _cell_fragments

    emb, full, live = _serve_fixture(
        spark, tmp_path, max_fragments_per_cell=2
    )
    frags = _cell_fragments(spark, live)
    assert frags and max(frags.values()) <= 2
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect()))
    b = sorted(map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect()))
    assert a == b and a


def _erase_newest_commit(ckpt_dir) -> None:
    """Simulate the exactly-once crash window: sink committed, offsets
    written, but the checkpoint's commits/<id> marker never landed —
    Spark re-runs that batch id on restart. Hadoop's LocalFS keeps a
    `.N.crc` checksum sibling; leaving it behind makes the replayed
    commit write throw FileAlreadyExists, so erase both."""
    import glob as _glob
    import os as _os

    commits = sorted(
        _glob.glob(str(ckpt_dir / "commits" / "[0-9]*")),
        key=lambda f: int(_os.path.basename(f)),
    )
    last = commits[-1]
    _os.remove(last)
    crc = _os.path.join(
        _os.path.dirname(last), f".{_os.path.basename(last)}.crc"
    )
    if _os.path.exists(crc):
        _os.remove(crc)


def test_ivfpq_exactly_once_torn_replay(spark, tmp_path):
    """Exactly-once ingest (r11, the r10 verdict ask): a batch stages
    to a dot-prefixed dir (invisible), commits via one atomic rename;
    a crash between stage and commit leaves nothing readable, and a
    replay of a committed batch is a no-op — no duplicate code rows,
    probe bit-identical to a full rebuild, through BOTH a torn append
    and a full second replay of the stream."""
    from siddhi_operator_spark.catalog import SCHEMAS, load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import (
        ivfpq_inc_batches,
        ivfpq_index_compact,
    )
    from siddhi_operator_spark.streaming.similarity import (
        _commit_batch,
        _stage_batch,
        ivfpq_ingest_sink,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    full = str(tmp_path / "full")
    live = str(tmp_path / "live")
    S.ivfpq_index_write(emb, full, n_cells=8, dims=64, m=8, n_codes=16)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), live,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    q = emb.filter(F.col("vec_id") < 5)
    base_probe = sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    # TORN append: stage without commit — must be invisible to probes
    batch30 = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    _stage_batch(batch30, live, 77, "vec_id", "embedding")
    assert ivfpq_inc_batches(spark, live) == []
    assert base_probe == sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    # the crash-replay re-stages (overwrite) and commits — visible once
    _stage_batch(batch30, live, 77, "vec_id", "embedding")
    assert _commit_batch(spark, live, 77)
    assert ivfpq_inc_batches(spark, live) == ["batch=s0-77"]
    # replaying the SAME committed batch (same stream id) is a no-op
    assert not _commit_batch(spark, live, 77)
    # ingest the remainder through the sink in exactly-once mode, then
    # replay the CRASH WINDOW on the SAME checkpoint: erase the newest
    # commits/<id> marker so Spark re-runs that batch with the same
    # batch id — the live batch dir must skip it, nothing duplicates
    # (the manifest is stream-scoped since the r12 review: a FRESH
    # checkpoint is a new stream and would re-ingest by design)
    staging = str(tmp_path / "staging")
    emb.filter(F.col("vec_id") >= 60).repartition(2).write.parquet(staging)

    def run_sink():
        s = (
            spark.readStream.schema(SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )
        sq = ivfpq_ingest_sink(
            s, live, checkpoint=str(tmp_path / "ckpt1"), exactly_once=True
        )
        sq.processAllAvailable()
        sq.stop()
        sq.awaitTermination()  # the re-run shares this checkpoint

    run_sink()
    _erase_newest_commit(tmp_path / "ckpt1")
    run_sink()  # re-runs the last batch id — skipped via its live dir
    inc = (
        spark.read.option("basePath", f"{live}/codes_inc")
        .parquet(f"{live}/codes_inc")
    )
    n_new = emb.filter(F.col("vec_id") >= 30).count()
    assert inc.count() == n_new * 8  # no duplicate code rows
    assert inc.select("vid").distinct().count() == n_new
    a = sorted(map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect()))
    b = sorted(map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect()))
    assert a == b and a
    # compaction folds the committed batches into the base cells —
    # probe unchanged, manifest drained
    ivfpq_index_compact(spark, live, max_fragments_per_cell=1)
    assert ivfpq_inc_batches(spark, live) == []
    assert spark.read.parquet(f"{live}/codes").count() == emb.count() * 8
    assert a == sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )


def test_ivfpq_exactly_once_fold_replay(spark, tmp_path):
    """The r11 verdict's one correctness defect, closed: compaction
    FOLDS a committed batch's rows into the base cells and deletes its
    `batch=<id>` dir — which WAS the replay-detection manifest. A
    replay of the folded batch (crash after the fold but before Spark
    committed its offsets) must still be detected via the durable
    `_folded/batch=<id>` tombstone: zero duplicate code rows,
    probe bit-identical — proven through BOTH the direct commit
    surface and a whole-stream replay with a fresh checkpoint."""
    from siddhi_operator_spark.catalog import SCHEMAS, load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import (
        ivfpq_folded_batches,
        ivfpq_inc_batches,
        ivfpq_index_compact,
    )
    from siddhi_operator_spark.streaming.similarity import (
        _commit_batch,
        _stage_batch,
        ivfpq_ingest_sink,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    full = str(tmp_path / "full")
    live = str(tmp_path / "live")
    S.ivfpq_index_write(emb, full, n_cells=8, dims=64, m=8, n_codes=16)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), live,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    staging = str(tmp_path / "staging")
    emb.filter(F.col("vec_id") >= 30).repartition(2).write.parquet(staging)
    s = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sq = ivfpq_ingest_sink(
        s, live, checkpoint=str(tmp_path / "ckpt1"), exactly_once=True
    )
    sq.processAllAvailable()
    sq.stop()
    sq.awaitTermination()  # the crash-window re-run shares ckpt1
    committed = ivfpq_inc_batches(spark, live)
    assert committed  # the stream committed batch dirs
    q = emb.filter(F.col("vec_id") < 5)
    probe = sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    # FOLD: compaction moves the batches' rows into base cells and
    # deletes their dirs — the tombstones must now carry the manifest
    ivfpq_index_compact(spark, live, max_fragments_per_cell=1)
    assert ivfpq_inc_batches(spark, live) == []
    assert ivfpq_folded_batches(spark, live) == committed
    # direct replay of a FOLDED batch id (same stream id): detected
    # via its tombstone, refused, no write
    n_rows = spark.read.parquet(f"{live}/codes").count()
    sid, _, bid = committed[0].split("=", 1)[1].rpartition("-")
    assert not _commit_batch(spark, live, int(bid), sid=sid)
    # CRASH-WINDOW replay on the SAME checkpoint: erase the newest
    # commits/<id> marker so Spark re-runs that batch id — its dir is
    # GONE (compaction folded it), so the tombstone ALONE must skip it
    _erase_newest_commit(tmp_path / "ckpt1")
    s2 = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    sq2 = ivfpq_ingest_sink(
        s2, live, checkpoint=str(tmp_path / "ckpt1"), exactly_once=True
    )
    sq2.processAllAvailable()
    sq2.stop()
    assert ivfpq_inc_batches(spark, live) == []  # nothing re-committed
    assert spark.read.parquet(f"{live}/codes").count() == n_rows
    # zero duplicates and bit-identical probes, vs both the pre-fold
    # probe and a full rebuild
    assert (
        spark.read.parquet(f"{live}/codes").select("vid").distinct().count()
        == emb.count()
    )
    after = sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    )
    rebuilt = sorted(
        map(tuple, S.ivfpq_index_topk(spark, full, q, 2, 3).collect())
    )
    assert probe == after == rebuilt and after
    # and the contract the r12 review demanded: a NEW stream (fresh
    # checkpoint) of NEW vectors against the same index must INGEST —
    # immortal tombstones of the old stream must not shadow its batch
    # ids into silent data loss
    staging2 = str(tmp_path / "staging2")
    (
        emb.limit(10)
        .withColumn("vec_id", F.col("vec_id") + F.lit(5_000_000))
        .write.parquet(staging2)
    )
    s3 = (
        spark.readStream.schema(SCHEMAS["embeddings"])
        .parquet(staging2)
    )
    sq3 = ivfpq_ingest_sink(
        s3, live, checkpoint=str(tmp_path / "ckpt_new"), exactly_once=True
    )
    sq3.processAllAvailable()
    sq3.stop()
    new_committed = ivfpq_inc_batches(spark, live)
    assert len(new_committed) == 1  # the new stream's batch 0 landed
    assert (
        spark.read.option("basePath", f"{live}/codes_inc")
        .parquet(f"{live}/codes_inc")
        .count()
        == 10 * 8
    )


def test_ivfpq_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """The r11 ADVICE mid-swap data-loss window, closed: compaction
    now commits via a `.compact/_COMMIT_CELLS` marker and every run
    opens with `ivfpq_compact_recover`. Before the marker a crash
    rolls BACK (staged data discarded, base cells untouched); after
    it, a crash — even one caught BETWEEN the two per-cell renames —
    rolls FORWARD by re-running the idempotent swap tail. At no crash
    point is a cell absent from `codes/`."""
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import (
        _hfs,
        ivfpq_compact_recover,
        ivfpq_index_compact,
    )

    emb, full, live = _serve_fixture(spark, tmp_path)
    P, fs = _hfs(spark, live)
    q = emb.filter(F.col("vec_id") < 5)

    def probe():
        return sorted(
            map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
        )

    before = probe()
    # TORN STAGED WRITE (no commit marker): roll back, base untouched
    fs.mkdirs(P(f"{live}/.compact/cell=0"))
    fs.create(P(f"{live}/.compact/cell=0/garbage.parquet"), True).close()
    assert ivfpq_compact_recover(spark, live) == "back"
    assert not fs.exists(P(f"{live}/.compact"))
    assert probe() == before
    # CRASH AT THE COMMIT POINT: staged write + marker landed, swap
    # never ran — recovery must roll the fold forward
    monkeypatch.setattr(S, "_compact_finish", lambda *a, **k: None)
    ivfpq_index_compact(spark, live, max_fragments_per_cell=1)
    monkeypatch.undo()
    assert fs.exists(P(f"{live}/.compact/_COMMIT_CELLS"))
    # ... and a further crash BETWEEN the two renames of one cell
    # (base displaced to .compact_old, staged copy not yet moved in)
    cells = [
        st.getPath().getName()
        for st in fs.listStatus(P(f"{live}/.compact"))
        if st.getPath().getName().startswith("cell=")
    ]
    torn = cells[0]
    fs.mkdirs(P(f"{live}/.compact_old"))
    assert fs.rename(
        P(f"{live}/codes/{torn}"), P(f"{live}/.compact_old/{torn}")
    )
    assert ivfpq_compact_recover(spark, live) == "forward"
    assert not fs.exists(P(f"{live}/.compact"))
    assert not fs.exists(P(f"{live}/.compact_old"))
    assert fs.exists(P(f"{live}/codes/{torn}"))
    assert probe() == before
    assert ivfpq_compact_recover(spark, live) == "clean"
    assert spark.read.parquet(f"{live}/codes").count() == emb.count() * 8
    # APPEND INTO A TORN LAYOUT (r12): ivfpq_index_append opens with
    # recovery — without it, rows appended into a cell the crashed
    # swap had displaced to .compact_old would be displaced-then-
    # DROPPED by the later roll-forward (the new base dir holds only
    # the appended rows; _compact_finish moves it to .compact_old and
    # deletes it at the end)
    n0 = emb.count()
    fresh1 = emb.limit(20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    fresh2 = emb.limit(20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(2_000_000)
    )
    S.ivfpq_index_append(fresh1, live)  # re-fragment the cells
    monkeypatch.setattr(S, "_compact_finish", lambda *a, **k: None)
    S.ivfpq_index_compact(spark, live, max_fragments_per_cell=1)
    monkeypatch.undo()
    assert fs.exists(P(f"{live}/.compact/_COMMIT_CELLS"))
    cells2 = [
        st.getPath().getName()
        for st in fs.listStatus(P(f"{live}/.compact"))
        if st.getPath().getName().startswith("cell=")
    ]
    fs.mkdirs(P(f"{live}/.compact_old"))
    assert fs.rename(
        P(f"{live}/codes/{cells2[0]}"),
        P(f"{live}/.compact_old/{cells2[0]}"),
    )
    S.ivfpq_index_append(fresh2, live)  # must recover BEFORE writing
    assert S.ivfpq_compact_recover(spark, live) == "clean"
    assert (
        spark.read.parquet(f"{live}/codes").count() == (n0 + 40) * 8
    )  # nothing displaced-then-dropped


def test_ivfpq_wide_probe_equals_long(spark, tmp_path):
    """The r11 wide probe (pivot codes to one row per vector, static
    cell-list pruning, per-row codegen ADC sum) must be bit-identical
    to the long path — same addends in a fixed j order under the
    epsilon-bias rounding — including over committed exactly-once inc
    batches."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.streaming.similarity import (
        _commit_batch,
        _stage_batch,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 300), idx,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    _stage_batch(
        emb.filter(F.col("vec_id") >= 300), idx, 0, "vec_id", "embedding"
    )
    assert _commit_batch(spark, idx, 0)
    q = emb.filter(F.col("vec_id") < 6)
    long_rows = sorted(
        map(
            tuple,
            S.ivfpq_index_topk(spark, idx, q, 2, 3, impl="long").collect(),
        )
    )
    wide_rows = sorted(
        map(
            tuple,
            S.ivfpq_index_topk(spark, idx, q, 2, 3, impl="wide").collect(),
        )
    )
    assert long_rows == wide_rows and long_rows


def test_ivfpq_rebuild_discards_stale_state(spark, tmp_path, monkeypatch):
    """An in-place REBUILD replaces the index, so it must discard any
    prior life's compaction/ingest state (r12 review): a stale
    `.compact/_COMMIT_CELLS` would later roll pre-rebuild cell data
    OVER the fresh cells, and stale `codes_inc` batches would union
    old-index rows into probes of the new index (and their tombstones
    would shadow a new stream's batch ids)."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import similarity as S
    from siddhi_operator_spark.pipeline.similarity import _hfs
    from siddhi_operator_spark.streaming.similarity import (
        _commit_batch,
        _stage_batch,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    live = str(tmp_path / "live")
    P, fs = _hfs(spark, live)
    S.ivfpq_index_write(
        emb.filter(F.col("vec_id") < 30), live,
        n_cells=8, dims=64, m=8, n_codes=16,
    )
    # leave behind: a committed eo batch AND a committed-but-unswapped
    # compaction (marker present, swap never ran)
    _stage_batch(
        emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40)),
        live, 5, "vec_id", "embedding",
    )
    assert _commit_batch(spark, live, 5)
    monkeypatch.setattr(S, "_compact_finish", lambda *a, **k: None)
    S.ivfpq_index_compact(spark, live, max_fragments_per_cell=0)
    monkeypatch.undo()
    assert fs.exists(P(f"{live}/.compact/_COMMIT_CELLS"))
    # REBUILD in place over the torn layout
    S.ivfpq_index_write(emb, live, n_cells=8, dims=64, m=8, n_codes=16)
    assert not fs.exists(P(f"{live}/.compact"))
    assert not fs.exists(P(f"{live}/codes_inc"))
    assert S.ivfpq_compact_recover(spark, live) == "clean"
    q = emb.filter(F.col("vec_id") < 5)
    fresh = str(tmp_path / "fresh")
    S.ivfpq_index_write(emb, fresh, n_cells=8, dims=64, m=8, n_codes=16)
    assert sorted(
        map(tuple, S.ivfpq_index_topk(spark, live, q, 2, 3).collect())
    ) == sorted(
        map(tuple, S.ivfpq_index_topk(spark, fresh, q, 2, 3).collect())
    )
    assert spark.read.parquet(f"{live}/codes").count() == emb.count() * 8


def test_ivfpq_geo_token_derived():
    """The suite rows' layout cache-key geometry token is DERIVED from
    the same dict passed to `ivfpq_index_write` (r11 verdict #3: a
    hand-maintained literal token let a retuned row re-green a
    `_READY`-gated layout against stale geometry) — changing any kwarg
    must change the token, and the shipped default must match the
    shipped geometry."""
    from siddhi_operator_spark.suite.pipeline import (
        _IVFPQ_GEO,
        _ivfpq_geo_token,
    )

    base = _ivfpq_geo_token()
    assert base == _ivfpq_geo_token(_IVFPQ_GEO)
    for kw in _IVFPQ_GEO:
        assert _ivfpq_geo_token({**_IVFPQ_GEO, kw: _IVFPQ_GEO[kw] + 1}) != base
    with pytest.raises(KeyError):
        _ivfpq_geo_token({"n_cells": 8})  # a typo'd dict raises


def test_ivfpq_probe_geometry_guard(spark, tmp_path):
    """The candidate-join size guard (r11, from r10's 64 GB spill):
    a probe shape whose estimate exceeds max_candidate_rows is
    REFUSED with the derived safe chunk size in the message, and the
    chunked alternative completes with identical results."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import similarity as S

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    S.ivfpq_index_write(emb, idx, n_cells=8, dims=64, m=8, n_codes=16)
    q = emb.filter(F.col("vec_id") < 6)
    with pytest.raises(ValueError, match="candidate rows"):
        S.ivfpq_index_topk(spark, idx, q, 2, 3, max_candidate_rows=100)
    # r12 review regression: when a SINGLE query's candidate volume
    # already exceeds the cap, the guard must refuse even n_q=1 (the
    # safe=max(1,...) clamp silently admitted this shape) — and the
    # chunked driver must refuse too, since no chunking can help
    one_q = emb.filter(F.col("vec_id") < 1)
    with pytest.raises(ValueError, match="PER QUERY"):
        S.ivfpq_index_topk(spark, idx, one_q, 2, 3, max_candidate_rows=1)
    with pytest.raises(ValueError, match="SINGLE query"):
        S.ivfpq_index_topk_chunked(
            spark, idx, one_q, str(tmp_path / "never"), 2, 3,
            max_candidate_rows=1,
        )
    free = sorted(
        map(
            tuple,
            S.ivfpq_index_topk(
                spark, idx, q, 2, 3, max_candidate_rows=None
            ).collect(),
        )
    )
    chunked = sorted(
        map(
            tuple,
            S.ivfpq_index_topk_chunked(
                spark, idx, q, str(tmp_path / "out"), 2, 3,
                max_candidate_rows=3000,
            ).collect(),
        )
    )
    assert free == chunked and free


def test_bpe_train_known_merges(spark):
    """r15: the BPE trainer learns the textbook merge sequence on a
    corpus with a known pair distribution, applies merges
    left-to-right (same-pair runs via the bounded fix-point), breaks
    count ties lexicographically, and contributes no pairs from
    single-char words."""
    from pyspark.sql import functions as F

    from siddhi_operator_spark.pipeline.text import bpe_train

    rows = [
        # 'erer' x3 -> pair (e,r) dominates (2 per word = 6);
        # after merging to '|er|er|', (er, er) counts 3
        (1, "erer erer erer"),
        # tie-break fodder: (a,b) and (a,c) both occur twice -> after
        # (e,r) and (er,er), the lexicographically smaller (a,b) wins
        (2, "ab ab ac ac"),
        # single-char words must contribute nothing
        (3, "a a a a a a a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, bpe_train(df, merges=3).collect()))
    assert out == [
        (1, "e", "r", 6),
        (2, "er", "er", 3),
        (3, "a", "b", 2),
    ]
    # same-pair run: 'aaaa' has pairs (a,a) x3; one merge pass leaves
    # '|aa|a|a|' but the bounded fix-point folds it to '|aa|aa|' —
    # the SECOND merge must therefore see (aa, aa), not (aa, a)
    df2 = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    out2 = sorted(map(tuple, bpe_train(df2, merges=2).collect()))
    assert out2 == [(1, "a", "a", 6), (2, "aa", "aa", 2)]


def test_bpe_encode_count_applies_merges(spark):
    """r15: the encoder applies learned merges in rank order with the
    same bounded fix-point as training, never merges across word
    boundaries, and counts letter tokens only."""
    from siddhi_operator_spark.pipeline.text import bpe_encode_count

    df = spark.createDataFrame(
        [
            (1, "erer er, 123 x!"),   # 'erer'->2 toks after (e,r); 'er'->1; 'x'->1
            (2, "re re"),             # (e,r) never matches 're' -> 4 char toks
            (3, ""),                  # empty -> 0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_bpe_tokens for r in
           bpe_encode_count(df, [("e", "r"), ("er", "er")]).collect()}
    # doc1: 'erer er x' -> |e|r|e|r| |e|r| |x| -> (e,r): |er|er| |er| |x|
    #       -> (er,er): |erer| |er| |x| => 3 tokens
    assert out == {1: 3, 2: 4, 3: 0}


def test_word_lm_score_hand_computed(spark):
    """r15: top-V vocab with <unk>, add-1 bigram model, per-doc mean
    nll — verified against hand-computed probabilities; docs without
    two letter words drop."""
    from siddhi_operator_spark.pipeline.text import word_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c!"), (3, "z")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.avg_neg_log2p)
        for r in word_lm_score(docs, vocab_size=2).collect()
    }
    # vocab (cnt desc, word asc) = {a, b}; V_eff = 3; c maps to <unk>
    # model: (a,b):2 (b,a):1 (a,<unk>):1; ctx: a:3, b:1
    # doc1: P(b|a)=3/6, P(a|b)=2/4 -> nll 1.0 each -> avg 1.0, n=3
    # doc2: P(<unk>|a)=2/6 -> nll log2(3)=1.585, n=1
    assert out == {1: (3, 1.0), 2: (1, 1.585)}


def test_dsir_logweight_orders_target_like_docs(spark):
    """r15: DSIR importance weight must (a) count uni+bigram features,
    (b) give identical docs identical weights, and (c) rank a
    target-vocabulary doc strictly above a raw-only-vocabulary doc."""
    from siddhi_operator_spark.pipeline.text import dsir_logweight
    from pyspark.sql import functions as F

    rows = [
        (1, "aa bb", "t"), (2, "aa bb", "t"), (3, "aa bb", "t"),
        (4, "cc dd", "r"), (5, "cc dd", "r"), (6, "cc dd", "r"),
        (7, "aa bb", "r"),   # target-like doc in the raw pool
        (8, "cc dd", "r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: (r.n_feats, r.dsir_logweight)
        for r in dsir_logweight(
            docs, target_pred=F.col("source") == "t"
        ).collect()
    }
    assert all(out[d][0] == 3 for d in out)  # 2 unigrams + 1 bigram
    assert out[7] == out[1]                  # same text, same weight
    assert out[7][1] > out[8][1]             # target-like ranks higher


def test_dsir_model_apply_matches_corpus_scorer(spark):
    """r15: dsir_apply(df, dsir_model(df, pred)) — the frozen-model
    serving path — must reproduce dsir_logweight(df, pred) exactly,
    including docs containing buckets absent from the target pool."""
    from pyspark.sql import functions as F

    from siddhi_operator_spark.pipeline.text import (
        dsir_apply,
        dsir_logweight,
        dsir_model,
    )

    rows = [
        (1, "aa bb aa", "t"), (2, "cc dd", "r"), (3, "aa bb", "r"),
        (4, "ee ff gg", "r"), (5, "", "r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pred = F.col("source") == "t"
    want = sorted(map(tuple, dsir_logweight(docs, target_pred=pred).collect()))
    got = sorted(map(tuple, dsir_apply(docs, dsir_model(docs, pred)).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# r15: global shard manifest + token-set canonical dedup
# ---------------------------------------------------------------------------


def test_shard_assign_equals_global_window(spark):
    """The two-level formulation (per-source offsets + keyed windows)
    must be row-identical to the naive single global-window cumsum it
    replaces — the scale claim is a pure-plan win, never a semantics
    change."""
    from pyspark.sql import Window

    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import curation as C

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.shard_id)
        for r in C.shard_assign(docs, budget=512).collect()
    }
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""))
    d = docs.select(
        "source", "doc_id", toks.cast("bigint").alias("n_tokens")
    )
    gw = (
        Window.orderBy("source", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(gw) - F.col("n_tokens")) / 512).alias(
            "shard_id"
        ),
    )
    want = {
        (r.source, r.doc_id): (r.n_tokens, r.shard_id)
        for r in naive.collect()
    }
    assert got == want and len(got) == docs.count()


def test_shard_manifest_conservation_properties(spark):
    """Shard ids are dense 0..N; token totals are conserved; every
    shard but the last fills past budget − (max doc − 1); frozen
    offsets reproduce the derive-inline output."""
    from siddhi_operator_spark.catalog import load
    from siddhi_operator_spark.pipeline import curation as C

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    man = C.shard_manifest(docs, budget=512).collect()
    ids = sorted(r.shard_id for r in man)
    assert ids == list(range(len(ids)))
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""))
    total = docs.select(F.sum(toks)).first()[0]
    assert sum(r.shard_tokens for r in man) == total
    max_doc = docs.select(F.max(toks)).first()[0]
    for r in man:
        if r.shard_id != ids[-1]:
            assert r.shard_tokens >= 512 - (max_doc - 1)
    offs = C.shard_offsets(docs)
    pinned = C.shard_manifest(docs, budget=512, offsets=offs).collect()
    assert sorted(map(tuple, pinned)) == sorted(map(tuple, man))


def test_token_set_dedup_invariance(spark):
    """Canonical grouping is invariant to case, punctuation, word
    order, and repetition; distinct content splits; the canonical
    member is the group's min doc_id."""
    from siddhi_operator_spark.pipeline import curation as C

    rows = [
        (1, "The quick brown fox"),
        (2, "quick, brown... THE FOX!!"),  # punct/case/order variant
        (3, "fox fox the the quick brown"),  # repetition variant
        (4, "a different document entirely"),
        (5, "the quick brown foxes"),  # distinct token ('foxes')
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in C.token_set_dedup(df).collect()}
    assert got[1].canon_hash == got[2].canon_hash == got[3].canon_hash
    assert got[4].canon_hash != got[1].canon_hash
    assert got[5].canon_hash != got[1].canon_hash
    assert got[1].group_size == 3 and got[1].is_canonical
    assert not got[2].is_canonical and not got[3].is_canonical
    assert got[4].is_canonical and got[4].group_size == 1


def test_shard_assign_unknown_source_raises(spark):
    """A doc whose source is absent from a PINNED offset table is a
    frozen-model contract violation: the job must fail loudly, never
    silently drop the doc from every shard."""
    import pytest

    from siddhi_operator_spark.pipeline import curation as C

    df = spark.createDataFrame(
        [(1, "a b c", "known"), (2, "d e f", "surprise")],
        "doc_id long, text string, source string",
    )
    with pytest.raises(Exception, match="surprise"):
        C.shard_assign(df, budget=8, offsets=[("known", 0)]).collect()


def test_minhash_input_parallelism_and_fused_pair_stage(spark):
    """r15 OPT: (a) minhash_signature spreads an under-parallel input
    (one scan task — the single-row-group fixture file) across
    defaultParallelism partitions before the kernel, and is a no-op on
    an already-parallel input; (b) the uncapped LSH tier plans NO
    exchange between pair generation and scoring (the old deliberate
    repartition(id_a) — a serial-task artifact — measured 1.4-1.9x
    worse once the input is parallel)."""
    target = spark.sparkContext.defaultParallelism
    rows = [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(50)]
    one = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    sigs = one.select("doc_id", "text")
    out = D.minhash_signature(sigs, n_hashes=4)
    assert out.rdd.getNumPartitions() == target

    wide = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        target + 3
    )
    out_wide = D.minhash_signature(wide, n_hashes=4)
    assert out_wide.rdd.getNumPartitions() == target + 3

    pairs = D.lsh_candidate_pairs(
        D.minhash_signature(one, n_hashes=8),
        n_hashes=8,
        band_size=2,
        max_bucket=None,
        cache=False,
    )
    # the explicit repartition showed up as a RepartitionByExpression
    # logical node; join-required exchanges (EnsureRequirements) do not
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in plan


def test_document_pipeline_input_parallelism(spark):
    """r15 OPT: every CPU-heavy document/embedding operator spreads an
    under-parallel scan to defaultParallelism before its per-row
    kernel (`pipeline.ensure_input_parallelism`, guide §2.5) and
    leaves an already-parallel input untouched. Pinned via the logical
    plan: the helper's round-robin repartition appears exactly when
    the input is narrower than the cluster. Result identity per
    operator is pinned by the DuckDB oracle rows + the r15 A/B
    (OPTIMIZATION_r15.md §3, sorted collects equal on all arms)."""
    from siddhi_operator_spark.pipeline import text as X

    target = spark.sparkContext.defaultParallelism
    doc_rows = [(i, f"tok{i} tok{i % 7} tok{i % 3} x y", "s") for i in range(40)]
    emb_rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(40)]
    docs1 = spark.createDataFrame(
        doc_rows, "doc_id long, text string, source string"
    ).coalesce(1)
    docsw = spark.createDataFrame(
        doc_rows, "doc_id long, text string, source string"
    ).repartition(target + 3)
    emb1 = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    ).coalesce(1)

    builders = {
        "dsir": lambda d: X.dsir_logweight(
            d, target_pred=F.col("doc_id") < 20, cache=False
        ),
        "word_lm": lambda d: X.word_lm_score(d, cache=False),
        "char_lm": lambda d: X.char_lm_score(d, cache=False),
        "classifier_train": lambda d: X.classifier_train(
            d, n_buckets=64, iters=1, label_min_tokens=3
        ),
        "shingles": lambda d: X.shingle_stats(d, k=2),
        "spans": lambda d: C.remove_repeated_spans(d, k=2, w=2, min_docs=2),
        "jaccard": lambda d: D.token_jaccard_pairs(d, min_jaccard=0.1),
    }

    def has_rr(df) -> bool:
        # the helper's round-robin node prints as "Repartition <target>,
        # true"; the wide arm's own input repartition (target + 3) does
        # not match. Analyzed plan, not optimized: cache substitution
        # (classifier_train persists its feature matrix) would hide the
        # node behind an InMemoryRelation in the optimized tree.
        plan = df._jdf.queryExecution().analyzed().toString()
        return f"Repartition {target}, true" in plan

    for name, build in builders.items():
        assert has_rr(build(docs1)), f"{name}: narrow input not spread"
        assert not has_rr(build(docsw)), f"{name}: wide input repartitioned"

    assert has_rr(D.semantic_dedup_pairs(emb1, min_cos=0.1, n_cells=2))
    assert has_rr(S.brute_force_topk(emb1, emb1, k=2, impl="cogroup"))


def test_let_bound_hof_plans_carry_no_expression_copies(spark):
    """r15 OPT (guide §1.2): the DSIR feature array and the winnow
    fingerprint expressions are let-bound (`pipeline.bind_array`) so
    the optimized plan carries ONE copy of the token-split / k-gram-md5
    pipeline per corpus pass instead of one per reference. Spelled
    inline, dsir_apply's plan held 18 regexp_replace copies (the bigram
    lambda re-split the document PER ELEMENT — O(words²)/doc, measured
    24 s single-task at sf0.1 vs 1.8 s let-bound) and the span-removal
    probe plan held 91 split / 16 md5 copies (4.2 → 0.95 s warm).
    Result identity is pinned by the unchanged DuckDB oracle rows."""
    from siddhi_operator_spark.pipeline import text as X

    rows = [(i, "a b c d e f g h", "s") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    model = {"raw": {"0a": 3, "ff": 1}, "tgt": {"0a": 2}, "R": 4.0, "T": 2.0,
             "alpha": 0.5}
    ap = X.dsir_apply(docs, model)
    plan = ap._jdf.queryExecution().optimizedPlan().toString()
    # one copy in the pushed size-filter + one in the project
    assert plan.count("regexp_replace") <= 4, plan.count("regexp_replace")

    spans = C.remove_repeated_spans(docs, k=2, w=2, min_docs=2)
    plan = spans._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("arrays_zip") <= 6, plan.count("arrays_zip")
    assert plan.count("md5(") <= 6, plan.count("md5(")


def test_min_match_filter_stays_above_scoring_projection(spark):
    """r15 OPT guard, pinned per r15 verdict: `lsh_candidate_pairs(
    min_match=)` keeps its threshold filter ABOVE the pair-scoring
    projection via a value-preserving nondeterministic expression
    (`n_sig_match + 0 * spark_partition_id()`). The guard works because
    Catalyst refuses to push or constant-fold through nondeterministic
    expressions; if a future optimizer folds `0 * x`, the filter would
    be pushed into the bucket self-join's condition and the n_hashes-way
    agreement chain would be re-evaluated per probed row (measured 5.9
    vs 1.2 s warm at sf0.1 — never wrong results, 5x slower). Pin the
    shape in BOTH scoring regimes so an upgrade that breaks the guard
    fails loudly here instead of silently regressing."""
    rows = [(i, f"t{i} t{i + 1} t{i + 2} t{i % 5}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signature(docs, n_hashes=8)
    for inline in (True, False):
        pairs = D.lsh_candidate_pairs(
            sigs,
            n_hashes=8,
            band_size=2,
            max_bucket=None,
            min_match=3,
            inline=inline,
            cache=False,
        )
        lines = (
            pairs._jdf.queryExecution().optimizedPlan().toString().splitlines()
        )
        guard = [
            i for i, l in enumerate(lines) if "SPARK_PARTITION_ID" in l.upper()
        ]
        filt = [i for i, l in enumerate(lines) if "Filter" in l and "_gm" in l]
        joins = [i for i, l in enumerate(lines) if "Join " in l or "Join(" in l]
        assert guard, f"inline={inline}: nondeterministic guard folded away"
        assert filt, f"inline={inline}: min_match filter gone"
        assert joins, f"inline={inline}: no join in plan?"
        # tree prints root-first: the threshold filter must sit ABOVE
        # (before) the guard projection, which sits above every join —
        # i.e. the filter was not pushed into a join condition
        assert min(filt) < min(guard) < min(joins), (
            f"inline={inline}: min_match filter pushed below the self-join"
        )
        # and the SCORING expression must not be duplicated into any
        # join condition (the symptom the guard exists to prevent);
        # the cheap row-local owner-band CASE may legitimately fold
        # there, so match the scorer's shapes specifically
        for j in joins:
            assert (
                "substring(_sigs" not in lines[j]
                and "zip_with" not in lines[j]
                and "= sig_" not in lines[j]
            ), f"inline={inline}: scoring re-evaluated inside join condition"
