"""Suite: LLM-training-data pipeline operators (BASELINE.json north
star): dedup, similarity search, text analysis, multimodal plumbing.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..pipeline import dedup as D
from ..pipeline import multimodal as M
from ..pipeline import similarity as S
from ..pipeline import text as X
from ..fpround import r4
from .registry import REGISTRY, module_code_token, register

N_HASHES = 32
BAND_SIZE = 8

# ---- programmatically build the minhash oracle (same hashes as Spark) --

_SIG_EXPRS = ",\n         ".join(
    f"list_min(list_transform(list_distinct(string_split(text, ' ')), "
    f"t -> md5('{i}|' || t))) AS sig_{i}"
    for i in range(N_HASHES)
)
_BANDS = []
for b in range(N_HASHES // BAND_SIZE):
    cols = " || '|' || ".join(
        f"sig_{i}" for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
    )
    _BANDS.append(
        f"SELECT doc_id, {', '.join(f'sig_{i}' for i in range(N_HASHES))}, "
        f"{b} AS band, md5({cols}) AS band_hash FROM sigs"
    )
_BANDED = " UNION ALL ".join(_BANDS)
_MATCHES = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)

MINHASH_ORACLE = f"""
    WITH sigs AS (
      SELECT doc_id,
         {_SIG_EXPRS}
      FROM documents
    ), banded AS ({_BANDED})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           {_MATCHES} AS n_sig_match,
           ({_MATCHES}) / {float(N_HASHES)} AS jaccard_est
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("pipeline", "dedup"),
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: content-hash groupBy — one keyed shuffle."""
    return D.exact_dedup(load(spark, sf, "documents"))


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("pipeline", "dedup"),
)
def dedup_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Bag-of-words fingerprint dedup (document fingerprinting)."""
    return D.fingerprint_dedup(load(spark, sf, "documents"))


@register("dedup_minhash_lsh", oracle=MINHASH_ORACLE, tags=("pipeline", "dedup", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates
    (shingle→minhash→band→bucket-join). md5-based hashes — the oracle
    runs the byte-identical pipeline in SQL. `max_bucket=None` opts
    out of the production-default auto cap — exact all-pairs parity
    with the exhaustive oracle (see dedup_minhash_lsh_capped for the
    corpus-scale guarded path)."""
    docs = load(spark, sf, "documents")
    sigs = D.minhash_signature(docs, n_hashes=N_HASHES, impl="arrow")
    return D.lsh_candidate_pairs(
        sigs, n_hashes=N_HASHES, band_size=BAND_SIZE, max_bucket=None
    )


LSH_CAP = 20

MINHASH_CAPPED_ORACLE = f"""
    WITH sigs AS (
      SELECT doc_id,
         {_SIG_EXPRS}
      FROM documents
    ), banded AS ({_BANDED}),
    keep AS (
      SELECT band, band_hash FROM banded
      GROUP BY 1, 2 HAVING count(*) <= {LSH_CAP}
    ), fb AS (
      SELECT banded.* FROM banded JOIN keep USING (band, band_hash)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           {_MATCHES} AS n_sig_match,
           ({_MATCHES}) / {float(N_HASHES)} AS jaccard_est
    FROM fb a JOIN fb b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


@register(
    "dedup_minhash_lsh_capped",
    oracle=MINHASH_CAPPED_ORACLE,
    tags=("pipeline", "dedup", "lsh"),
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-scale LSH path: super-buckets above `max_bucket` drop
    whole before pairing (SCALEBENCH.md round 4 — one boilerplate
    bucket otherwise explodes quadratically). Oracle applies the same
    deterministic HAVING-count filter in SQL."""
    docs = load(spark, sf, "documents")
    sigs = D.minhash_signature(docs, n_hashes=N_HASHES, impl="arrow")
    return D.lsh_candidate_pairs(
        sigs, n_hashes=N_HASHES, band_size=BAND_SIZE, max_bucket=LSH_CAP
    )


@register(
    "neardup_token_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY 1
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM toks a JOIN toks b
        ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared,
           round(1e-9 + shared / (sa.n_tok + sb.n_tok - shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared / (sa.n_tok + sb.n_tok - shared) >= 0.5
    """,
    tags=("pipeline", "dedup", "jaccard"),
)
def neardup_token_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by source
    (blocking bounds the candidate space at scale)."""
    return D.token_jaccard_pairs(load(spark, sf, "documents"), min_jaccard=0.5)


# Connected-components threshold: n_sig_match >= 30 of 32 (jaccard est
# >= 0.9375) keeps the duplicate graph tight — strong near-dups only.
CC_THRESHOLD = 30

CC_ORACLE = f"""
    WITH RECURSIVE fil AS (
      SELECT id_a, id_b FROM ({MINHASH_ORACLE}) WHERE n_sig_match >= {CC_THRESHOLD}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM fil
      UNION
      SELECT id_b AS src, id_a AS dst FROM fil
    ), reach(node, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT node AS doc_id,
           LEAST(node, MIN(r))         AS component,
           (LEAST(node, MIN(r)) = node) AS is_canonical
    FROM reach GROUP BY node
"""


@register(
    "dedup_connected_components",
    oracle=CC_ORACLE,
    tags=("pipeline", "dedup", "clustering"),
)
def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-GROUP clustering — the step after candidate
    generation that real dedup pipelines need: strong minhash pairs
    (>= 30/32 signature agreement) → connected components (the
    default star tier: per-partition union-find contraction, then
    large-star/small-star rounds) → component id = canonical doc.
    The oracle computes the same components with a recursive-CTE
    transitive closure (exact, viable at oracle scale; the Spark loop
    is the 100 TB path)."""
    docs = load(spark, sf, "documents")
    sigs = D.minhash_signature(docs, n_hashes=N_HASHES, impl="arrow")
    strong = D.lsh_candidate_pairs(
        sigs, n_hashes=N_HASHES, band_size=BAND_SIZE, max_bucket=None,
        min_match=CC_THRESHOLD,
    )  # max_bucket None: parity with the oracle's exhaustive closure;
    # min_match inside the operator keeps the threshold filter above
    # the scoring projection (r15 OPT: a pushed filter re-evaluated
    # the 32-way agreement chain inside the attach joins, 5.9 → 1.2 s)
    cc = D.connected_components(strong)
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("component") == F.col("node")).alias("is_canonical"),
    )


# ---- programmatically build the portable-simhash oracle (same md5 bit
# derivation as pipeline.dedup.simhash64_md5: bit i of a token = bit
# (i % 4) of hex digit (i // 4) of md5(token)) ------------------------

_SIMHASH_VOTES = ",\n           ".join(
    f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(hh, {i // 4 + 1}, 1)) - 1)"
    f" >> {i % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(64)
)
_SIMHASH_BITS = " || ".join(
    f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(64)
)

SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id, md5(tok) AS hh FROM toks
    ), votes AS (
      SELECT doc_id,
           {_SIMHASH_VOTES}
      FROM h GROUP BY 1
    )
    SELECT doc_id, {_SIMHASH_BITS} AS simhash_bits
    FROM votes
"""


@register("dedup_simhash", oracle=SIMHASH_ORACLE, tags=("pipeline", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Portable 64-bit SimHash per document (md5 bit derivation — the
    oracle runs the byte-identical computation in SQL, closing round
    2's permanently-evidence-free "no_oracle" row). The xxhash64 fast
    tier remains as pipeline.dedup.simhash64, covered by
    tests/test_pipeline.py."""
    return D.simhash64_md5(load(spark, sf, "documents"))


@register(
    "similarity_bruteforce",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(1e-9 + list_dot_product(q.q_vec, CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])))), 4) AS cos
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    tags=("pipeline", "similarity"),
)
def similarity_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-3 for query vectors (vec_id < 5): broadcast
    queries × corpus scan, per-query TopK."""
    emb = load(spark, sf, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


@register(
    "similarity_knn_graph",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(1e-9 + list_dot_product(q.vec, c.vec)
               / (sqrt(list_dot_product(q.vec, q.vec))
                  * sqrt(list_dot_product(c.vec, c.vec))), 4) AS cos
      FROM v q JOIN v c ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    tags=("pipeline", "similarity", "knn"),
)
def similarity_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs kNN graph — the query side IS the corpus, the workload
    the broadcast tier cannot serve (collecting it to the driver is
    exactly what `MAX_BROADCAST_QUERIES` forbids at scale). Uses the
    cogroup block-matmul tier: corpus hash-blocked, queries replicated
    per block, one BLAS matmul per cell, block-local top-k, global
    merge of n_blocks × k candidates per query
    (`similarity._brute_force_topk_cogroup`)."""
    emb = load(spark, sf, "embeddings")
    return S.brute_force_topk(emb, emb, k=3, impl="cogroup")


@register(
    "similarity_lsh",
    oracle="""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) * 128 +
             (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) * 64 +
             (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) * 32 +
             (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) * 16 +
             (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END) * 8 +
             (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) * 4 +
             (CASE WHEN embedding[7] >= 0 THEN 1 ELSE 0 END) * 2 +
             (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(1e-9 + list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
      FROM b c JOIN b q
        ON c.bucket = q.bucket AND c.vec_id != q.vec_id AND q.vec_id < 100
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 1
    """,
    tags=("pipeline", "similarity", "lsh"),
)
def similarity_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-LSH bucketed ANN: nearest in-bucket neighbor for
    vec_id < 100 — the bucket key is the shuffle key."""
    emb = load(spark, sf, "embeddings")
    return S.lsh_topk(emb, k=1, n_bits=8, max_query_id=100)


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                 AS n_tokens,
           len(list_distinct(string_split(text, ' ')))  AS n_unique_tokens,
           length(text)                                 AS n_chars_computed,
           CAST(ceil(length(text) / 4.0) AS BIGINT)     AS n_bpe_est
    FROM documents
    """,
    tags=("pipeline", "text"),
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish chars/4 estimate)."""
    return X.token_stats(load(spark, sf, "documents"))


@register(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(1e-9 + (length(text) - (len(toks) - 1)) * 1.0 / len(toks), 4) AS mean_tok_len,
           round(1e-9 + len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','in','to','is'], x))) * 1.0 / len(toks), 4)
             AS stopword_ratio,
           round(1e-9 + len(list_distinct(toks)) * 1.0 / len(toks), 4) AS type_token_ratio,
           round(1e-9 + (len(list_distinct(toks)) * 1.0 / len(toks)) *
                 (CASE WHEN len(toks) >= 20 THEN 1.0 ELSE len(toks) / 20.0 END), 4)
             AS quality
    FROM t
    """,
    tags=("pipeline", "text"),
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: token stats + stopword ratio + TTR."""
    return X.quality_score(load(spark, sf, "documents"))


@register(
    "text_langid",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                WHEN regexp_matches(text, '[áéíóúñüäöß]') THEN 'eu'
                WHEN len(list_filter(string_split(text, ' '), x -> list_contains(
                     ['the','a','of','and','in','to','is'], x))) > 0 THEN 'en'
                ELSE 'unknown' END AS lang_pred,
           len(list_filter(string_split(text, ' '), x -> list_contains(
                ['the','a','of','and','in','to','is'], x))) AS en_stopword_hits
    FROM documents
    """,
    tags=("pipeline", "text"),
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic (char classes + stopword voting)."""
    return X.langid_heuristic(load(spark, sf, "documents"))


@register(
    "text_shingles",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS n_shingles,
           CASE WHEN len(toks) >= 3 THEN len(list_distinct(
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i:i+2], ' '))))
           ELSE 0 END AS n_distinct_shingles
    FROM t
    """,
    tags=("pipeline", "text"),
)
def text_shingles(spark: SparkSession, sf: str) -> DataFrame:
    """3-token shingle statistics (fingerprinting input)."""
    return X.shingle_stats(load(spark, sf, "documents"), k=3)


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           octet_length(encode(text)) AS byte_len
    FROM documents
    """,
    tags=("pipeline", "multimodal"),
)
def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload + typed metadata;
    metadata predicates stay pushdown-able (the payload itself is
    checked rows-only via multimodal_features)."""
    media = M.to_media(load(spark, sf, "documents"))
    return media.select("doc_id", "media_type", "byte_len")


@register(
    "multimodal_features",
    # The stub decode is a pure function of the payload byte-sum
    # (k-th feature = (sum % prime_k) / prime_k), and the fixture text
    # is ASCII, so the UTF-8 byte-sum equals the codepoint-sum — which
    # DuckDB recomputes exactly. Features round to 4 dp on both sides;
    # k/p (p an odd prime) can never sit on a half-ulp of the 4-dp
    # grid (|20000k − (2m+1)p| ≥ 1 by parity), so float32-vs-float64
    # drift cannot flip the rounding.
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'image/png'
               WHEN 1 THEN 'audio/wav'
               ELSE 'video/mp4' END AS media_type,
             CAST(length(text) AS INT) AS byte_len,
             list_sum(list_transform(string_split(text, ''),
                                     x -> unicode(x))) AS bsum
      FROM documents
    )
    SELECT doc_id, media_type, byte_len,
           round(1e-9 + (bsum % 251) / 251.0, 4) AS f0,
           round(1e-9 + (bsum % 241) / 241.0, 4) AS f1,
           round(1e-9 + (bsum % 239) / 239.0, 4) AS f2,
           round(1e-9 + (bsum % 233) / 233.0, 4) AS f3,
           round(1e-9 + (bsum % 229) / 229.0, 4) AS f4,
           round(1e-9 + (bsum % 227) / 227.0, 4) AS f5,
           round(1e-9 + (bsum % 223) / 223.0, 4) AS f6,
           round(1e-9 + (bsum % 211) / 211.0, 4) AS f7
    FROM s
    """,
    tags=("pipeline", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched stub feature extraction over binary payloads
    (mapInPandas), value-checked against a DuckDB recomputation of the
    deterministic stub (byte-sum mod primes). The array column is
    unpacked to rounded scalar columns so the driver's row
    canonicalizer hashes plain floats."""
    media = M.to_media(load(spark, sf, "documents"))
    feats = M.extract_features(media, fake=True)
    return feats.select(
        "doc_id",
        "media_type",
        "byte_len",
        *[
            r4(F.col("features")[i].cast("double"), 4).alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) * 128 +
             (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) * 64 +
             (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) * 32 +
             (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) * 16 +
             (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END) * 8 +
             (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) * 4 +
             (CASE WHEN embedding[7] >= 0 THEN 1 ELSE 0 END) * 2 +
             (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(1e-9 + list_dot_product(a.v, c.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
    FROM b a JOIN b c
      ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.v, c.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(c.v, c.v))) >= 0.25
    """,
    tags=("pipeline", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs: sign-LSH bucket →
    in-bucket cosine ≥ threshold. Pairwise work is Σ bucket², never
    corpus². (Threshold 0.25 exercises real filtering on this
    synthetic corpus, whose max in-bucket cosine is ~0.43; production
    near-dup thresholds are ~0.95+ with banded rotations for recall.)"""
    emb = load(spark, sf, "embeddings")
    return D.embedding_neardup_pairs(emb, min_cos=0.25, n_bits=8)


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, f.frame_idx
    FROM documents, (VALUES (0),(1),(2)) f(frame_idx)
    WHERE doc_id % 3 = 2
    """,
    tags=("pipeline", "multimodal", "udtf"),
)
def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling over video payloads: 1→N Arrow-batched row
    expansion (`mapInPandas`); the oracle checks the expansion contract
    (exactly n frames per video, indexed 0..n−1) — frame bytes are
    stub-deterministic and covered by tests/test_pipeline.py."""
    media = M.to_media(load(spark, sf, "documents"))
    videos = media.filter(F.col("media_type") == "video/mp4")
    out = M.frame_sample(videos, n_frames=3, frame_bytes=8)
    return out.select("doc_id", "frame_idx")


@register(
    "similarity_ivf",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), cent AS (
      SELECT vec_id AS cent_id, vec AS cent_vec FROM v WHERE vec_id < 8
    ), scored AS (
      SELECT v.vec_id, v.vec, c.cent_id,
             round(1e-9 + list_dot_product(v.vec, c.cent_vec)
               / (sqrt(list_dot_product(v.vec, v.vec))
                  * sqrt(list_dot_product(c.cent_vec, c.cent_vec))), 4) AS cc
      FROM v CROSS JOIN cent c
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cc DESC, cent_id) AS r
      FROM scored
    ), cells AS (
      SELECT vec_id AS c_id, vec AS c_vec, cent_id AS cell
      FROM ranked WHERE r = 1
    ), probes AS (
      SELECT vec_id AS query_id, vec AS q_vec, cent_id AS cell
      FROM ranked WHERE r <= 2 AND vec_id < 5
    ), cand AS (
      SELECT p.query_id, c.c_id AS neighbor_id,
             round(1e-9 + list_dot_product(p.q_vec, c.c_vec)
               / (sqrt(list_dot_product(p.q_vec, p.q_vec))
                  * sqrt(list_dot_product(c.c_vec, c.c_vec))), 4) AS cos
      FROM cells c JOIN probes p ON c.cell = p.cell AND c.c_id != p.query_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 3
    """,
    tags=("pipeline", "similarity"),
)
def similarity_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-3 (queries vec_id < 5, 8 cells, 2 probes):
    broadcast coarse quantizer, argmax-cosine cell assignment, probe
    joins on the cell shuffle key — the serving-scale ANN tier next to
    the exact `similarity_bruteforce` baseline. The quantizer is
    sample-seeded (first 8 vectors) so the oracle reproduces it
    exactly; a k-means quantizer swaps in without changing the plan."""
    emb = load(spark, sf, "embeddings")
    return S.ivf_topk(emb, n_cells=8, nprobe=2, k=3, max_query_id=5)


@register(
    "similarity_pq",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), sub AS (
      SELECT vec_id, j, vec[j*8+1 : j*8+8] AS sv
      FROM v, (SELECT unnest(range(0, 8)) AS j)
    ), cb AS (
      SELECT j AS cb_j, vec_id AS code, sv AS c_vec FROM sub WHERE vec_id < 16
    ), enc AS (
      SELECT s.vec_id, s.j, c.code,
             round(1e-9 + list_dot_product(s.sv, s.sv)
                   - 2 * list_dot_product(s.sv, c.c_vec)
                   + list_dot_product(c.c_vec, c.c_vec), 6) AS d2
      FROM sub s JOIN cb c ON s.j = c.cb_j
    ), codes AS (
      SELECT vec_id, j, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d2, code) AS rn
        FROM enc) WHERE rn = 1
    ), lut AS (
      SELECT s.vec_id AS query_id, s.j, c.code,
             list_dot_product(s.sv, c.c_vec) AS qdot
      FROM sub s JOIN cb c ON s.j = c.cb_j
      WHERE s.vec_id < 5
    ), cand AS (
      SELECT l.query_id, k.vec_id AS neighbor_id, sum(l.qdot) AS approx_dot
      FROM codes k JOIN lut l
        ON k.j = l.j AND k.code = l.code AND k.vec_id != l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           round(1e-9 + approx_dot, 4) AS approx_dot, rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(1e-9 + approx_dot, 4) DESC, neighbor_id) AS rank
          FROM cand)
    WHERE rank <= 3
    """,
    tags=("pipeline", "similarity", "pq"),
)
def similarity_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (the PQ half of IVFADC): 64 float32
    dims compress to 8 one-byte codes (32×), queries rank via ADC
    lookup-table sums without ever touching the original vectors — the
    memory-bound tier between `similarity_ivf` (partition pruning) and
    `similarity_bruteforce` (exact). Codebooks are sample-seeded (the
    first 16 vectors' subvectors) so the oracle reproduces the whole
    encode+ADC pipeline bit-for-bit; k-means codebooks swap in without
    changing the plan. All Catalyst array expressions — no Python."""
    emb = load(spark, sf, "embeddings")
    return S.pq_topk(emb, dims=64, m=8, n_codes=16, k=3, max_query_id=5)


# the assign→encode→probe→ADC pipeline, shared between the ivfpq row
# and its recall row (the recall oracle embeds it as a subquery)
_IVFPQ_CAND_CTES = """
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), cent AS (
      SELECT vec_id AS cent_id, vec AS cent_vec FROM v WHERE vec_id < 8
    ), cscored AS (
      SELECT v.vec_id, c.cent_id,
             round(1e-9 + list_dot_product(v.vec, c.cent_vec)
               / (sqrt(list_dot_product(v.vec, v.vec))
                  * sqrt(list_dot_product(c.cent_vec, c.cent_vec))), 4) AS cc
      FROM v CROSS JOIN cent c
    ), cranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cc DESC, cent_id) AS r
      FROM cscored
    ), cells AS (
      SELECT vec_id AS c_id, cent_id AS cell FROM cranked WHERE r = 1
    ), probes AS (
      SELECT vec_id AS query_id, cent_id AS cell
      FROM cranked WHERE r <= 2 AND vec_id < 5
    ), sub AS (
      SELECT vec_id, j, vec[j*8+1 : j*8+8] AS sv
      FROM v, (SELECT unnest(range(0, 8)) AS j)
    ), cb AS (
      SELECT j AS cb_j, vec_id AS code, sv AS c_vec FROM sub WHERE vec_id < 16
    ), enc AS (
      SELECT s.vec_id, s.j, c.code,
             round(1e-9 + list_dot_product(s.sv, s.sv)
                   - 2 * list_dot_product(s.sv, c.c_vec)
                   + list_dot_product(c.c_vec, c.c_vec), 6) AS d2
      FROM sub s JOIN cb c ON s.j = c.cb_j
    ), codes AS (
      SELECT vec_id, j, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d2, code) AS rn
        FROM enc) WHERE rn = 1
    ), lut AS (
      SELECT s.vec_id AS query_id, s.j, c.code,
             list_dot_product(s.sv, c.c_vec) AS qdot
      FROM sub s JOIN cb c ON s.j = c.cb_j
      WHERE s.vec_id < 5
    ), cand AS (
      SELECT p.query_id, k.vec_id AS neighbor_id, sum(l.qdot) AS approx_dot
      FROM codes k
      JOIN cells ce ON k.vec_id = ce.c_id
      JOIN probes p ON ce.cell = p.cell AND k.vec_id != p.query_id
      JOIN lut l ON l.query_id = p.query_id AND l.j = k.j AND l.code = k.code
      GROUP BY 1, 2
    ), ivfpq AS (
      SELECT query_id, neighbor_id,
             round(1e-9 + approx_dot, 4) AS approx_dot, rank
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY round(1e-9 + approx_dot, 4) DESC, neighbor_id) AS rank
            FROM cand)
      WHERE rank <= 3
    )
"""


@register(
    "similarity_ivfpq",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}
    SELECT query_id, neighbor_id, approx_dot, rank FROM ivfpq
    """,
    tags=("pipeline", "similarity", "pq"),
)
def similarity_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC composed (`pipeline.similarity.ivfpq_topk`): the coarse
    IVF quantizer prunes WHICH vectors each query scores (2 of 8
    cells), PQ codes decide HOW survivors are scored (8-byte ADC
    sums) — the tier a 100 TB serving corpus actually runs, persisted
    as (cell, codes) and partitioned by cell so probes prune at the
    file layout. Both halves sample-seeded, so the oracle replays
    assign→encode→probe→ADC bit-for-bit."""
    emb = load(spark, sf, "embeddings")
    return S.ivfpq_topk(
        emb, n_cells=8, nprobe=2, dims=64, m=8, n_codes=16, k=3,
        max_query_id=5,
    )


def _ivfpq_index_path(sf: str, extra: str = "") -> str:
    """Deterministic per-fixture index location (ADVICE r8): a fresh
    tempfile.mkdtemp per invocation wrote the full three-table index
    on EVERY call — including plan-only inspections — and never
    cleaned up. Keying the path on (sf dir, embeddings mtime_ns,
    writer-module hash) makes repeat invocations reuse one layout
    while regenerated fixtures OR any code change to the writer
    (`pipeline/similarity.py`) invalidate it — without the code token
    a `_READY`-gated layout written by an older writer could green the
    index/append oracle rows against stale artifacts (ADVICE r9);
    `_READY` gates the skip the way the bench scratch dirs do.
    `extra` folds caller-specific tokens into the key — the serve row
    passes the STREAMING sink module's hash + its geometry constants,
    so an edit to `streaming/similarity.py` (the code under test
    there) or a retuned row geometry invalidates its layout too
    (ADVICE r10: the writer-module token alone left that hole)."""
    src = f"{sf.rstrip('/')}/embeddings.parquet"
    mtime = os.stat(src).st_mtime_ns if os.path.exists(src) else 0
    code_tok = module_code_token(S)
    key = hashlib.md5(
        f"{os.path.abspath(sf)}:{mtime}:{code_tok}:{extra}".encode()
    ).hexdigest()[:12]
    path = f"/tmp/spark_graft_idx/ivfpq_{key}"
    os.makedirs(path, exist_ok=True)
    return path


#: The suite rows' shared index geometry — passed VERBATIM to
#: `ivfpq_index_write` AND (via :func:`_ivfpq_geo_token`) folded into
#: every row's layout cache key, so retuning any kwarg provably
#: invalidates the `_READY`-gated layout. (r11 verdict "what's wrong"
#: #3: the serve rows' key token was the hand-maintained literal
#: "c8d64m8k16" — a retune that forgot the literal would have
#: re-greened against stale geometry.)
_IVFPQ_GEO = {"n_cells": 8, "dims": 64, "m": 8, "n_codes": 16}


def _ivfpq_geo_token(geo: dict | None = None) -> str:
    """Cache-key token DERIVED from the geometry kwargs themselves —
    the only way the token and the write can disagree is a typo'd
    dict key, which raises here."""
    g = _IVFPQ_GEO if geo is None else geo
    return f"c{g['n_cells']}d{g['dims']}m{g['m']}k{g['n_codes']}"


@register(
    "similarity_ivfpq_index",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}
    SELECT query_id, neighbor_id, approx_dot, rank FROM ivfpq
    """,
    tags=("pipeline", "similarity", "pq", "index"),
)
def similarity_ivfpq_index(spark: SparkSession, sf: str) -> DataFrame:
    """The IVFADC index round-trip (`ivfpq_index_write` →
    `ivfpq_index_topk`): the encoded corpus persists PARTITIONED BY
    CELL (8 bytes of codes per vector + two bounded quantizer
    artifacts), queries probe their nprobe cells, and dynamic
    partition pruning turns the probe list into a file-level skip —
    the serving layout where the IVF half costs zero compute at query
    time. Same oracle as `similarity_ivfpq`: the on-disk round trip
    must be bit-identical to the in-memory tier."""
    emb = load(spark, sf, "embeddings")
    path = _ivfpq_index_path(sf, extra=_ivfpq_geo_token())
    if not os.path.exists(f"{path}/_READY"):
        S.ivfpq_index_write(emb, path, **_IVFPQ_GEO)
        with open(f"{path}/_READY", "w") as fh:
            fh.write("ok")
    return S.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 5), nprobe=2, k=3
    )


@register(
    "similarity_ivfpq_append",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}
    SELECT query_id, neighbor_id, approx_dot, rank FROM ivfpq
    """,
    tags=("pipeline", "similarity", "pq", "index", "incremental"),
)
def similarity_ivfpq_append(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVFADC maintenance (`ivfpq_index_append`): the
    index is built from the FIRST 40 vectors only, the rest of the
    corpus arrives later and is encoded with the FROZEN quantizers
    and appended to the cell partitions — and probing the appended
    layout must be bit-identical to the full-rebuild oracle (the same
    SQL `similarity_ivfpq` proves), because the quantizer artifacts
    are the same sample-seeded constants either way. This is the
    100 TB ingest path: per-batch work is batch-sized, never
    corpus-sized."""
    emb = load(spark, sf, "embeddings")
    path = _ivfpq_index_path(sf, extra=_ivfpq_geo_token()) + "_append"
    if not os.path.exists(f"{path}/_READY"):
        S.ivfpq_index_write(emb.filter(F.col("vec_id") < 40), path, **_IVFPQ_GEO)
        S.ivfpq_index_append(emb.filter(F.col("vec_id") >= 40), path)
        with open(f"{path}/_READY", "w") as fh:
            fh.write("ok")
    return S.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 5), nprobe=2, k=3
    )


@register(
    "similarity_ivfpq_stream_serve",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}
    SELECT query_id, neighbor_id, approx_dot, rank FROM ivfpq
    """,
    tags=("pipeline", "similarity", "pq", "index", "incremental",
          "streaming"),
)
def similarity_ivfpq_stream_serve(spark: SparkSession, sf: str) -> DataFrame:
    """The IVFADC serving loop END-TO-END (r9 verdict ask #4): the
    index is built from the first 40 vectors, the rest of the corpus
    arrives as a Structured Streaming file source throttled to one
    file per trigger, and `streaming.similarity.ivfpq_ingest_sink`
    foreachBatch-appends each micro-batch's frozen-quantizer code rows
    into the cell partitions — then `ivfpq_index_topk` probes the
    layout the stream maintained. The result must be bit-identical to
    the full-rebuild oracle (same SQL as `similarity_ivfpq`): the
    freshness contract a 100 TB vector-serving deployment actually
    needs — ingest work per trigger is batch-sized, and a probe at any
    point serves everything ingested so far with no re-index job. The
    row asserts the ingest really spanned ≥2 micro-batches (a single
    trigger would only re-prove `similarity_ivfpq_append`)."""
    from ..catalog import SCHEMAS
    from ..streaming import similarity as stream_sim
    from ..streaming.similarity import ivfpq_ingest_sink

    emb = load(spark, sf, "embeddings")
    sink_tok = module_code_token(stream_sim)
    path = (
        _ivfpq_index_path(sf, extra=f"{sink_tok}:{_ivfpq_geo_token()}")
        + "_serve"
    )
    if not os.path.exists(f"{path}/_READY"):
        S.ivfpq_index_write(emb.filter(F.col("vec_id") < 40), path, **_IVFPQ_GEO)
        staging = f"{path}/_staging"
        (
            emb.filter(F.col("vec_id") >= 40)
            .repartition(3)
            .write.mode("overwrite")
            .parquet(staging)
        )
        s = (
            spark.readStream.schema(SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )
        q = ivfpq_ingest_sink(s, path, checkpoint=f"{path}/_ckpt")
        q.processAllAvailable()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
        if len(fed) < 2:  # contract check — must survive python -O
            raise RuntimeError(
                f"serving-loop row needs a multi-batch ingest, got {len(fed)}"
            )
        with open(f"{path}/_READY", "w") as fh:
            fh.write("ok")
    return S.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 5), nprobe=2, k=3
    )


@register(
    "similarity_ivfpq_compacted_serve",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}
    SELECT query_id, neighbor_id, approx_dot, rank FROM ivfpq
    """,
    tags=("pipeline", "similarity", "pq", "index", "incremental",
          "streaming", "exactly-once"),
)
def similarity_ivfpq_compacted_serve(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The r11 serving-loop maintenance pair end-to-end: the stream
    ingests in EXACTLY-ONCE mode (each micro-batch stages to a
    dot-prefixed dir and commits via one atomic rename to
    `codes_inc/batch=<id>` — a torn append is never readable, a
    replayed batch is a no-op) with COUNT-TRIGGERED COMPACTION armed
    (`max_fragments_per_cell=2`: committed batch dirs past the
    threshold fold back into sized base cell files — the pure
    file-level rewrite that pays down the fragmentation tax r10's
    decade run measured at 1.5× probe wall). The probe after
    ingest+compaction must be bit-identical to a full rebuild — the
    same oracle as every other ivfpq row."""
    from ..catalog import SCHEMAS
    from ..streaming import similarity as stream_sim
    from ..streaming.similarity import ivfpq_ingest_sink

    emb = load(spark, sf, "embeddings")
    sink_tok = module_code_token(stream_sim)
    path = (
        _ivfpq_index_path(sf, extra=f"{sink_tok}:eo2:{_ivfpq_geo_token()}")
        + "_eoserve"
    )
    if not os.path.exists(f"{path}/_READY"):
        S.ivfpq_index_write(emb.filter(F.col("vec_id") < 40), path, **_IVFPQ_GEO)
        staging = f"{path}/_staging"
        (
            emb.filter(F.col("vec_id") >= 40)
            .repartition(3)
            .write.mode("overwrite")
            .parquet(staging)
        )
        s = (
            spark.readStream.schema(SCHEMAS["embeddings"])
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )
        q = ivfpq_ingest_sink(
            s, path, checkpoint=f"{path}/_ckpt",
            exactly_once=True, max_fragments_per_cell=2,
        )
        q.processAllAvailable()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
        if len(fed) < 2:  # contract check — must survive python -O
            raise RuntimeError(
                f"exactly-once serve row needs a multi-batch ingest, "
                f"got {len(fed)}"
            )
        frags = S._cell_fragments(spark, path)
        if frags and max(frags.values()) > 2:
            raise RuntimeError(
                f"compaction contract violated: {frags}"
            )
        with open(f"{path}/_READY", "w") as fh:
            fh.write("ok")
    return S.ivfpq_index_topk(
        spark, path, emb.filter(F.col("vec_id") < 5), nprobe=2, k=3
    )


@register(
    "similarity_ivfpq_recall",
    oracle=f"""
    WITH {_IVFPQ_CAND_CTES}, exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(1e-9 + list_dot_product(q.vec, c.vec), 4) DESC,
                 c.vec_id) AS rank
        FROM v c CROSS JOIN (SELECT * FROM v WHERE vec_id < 5) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           count(a.neighbor_id)                        AS n_hit,
           round(1e-9 + count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN ivfpq a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
    tags=("pipeline", "similarity", "pq", "eval"),
)
def similarity_ivfpq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@3 of the composed IVFADC tier against the EXACT-DOT
    top-3 (PQ's ADC approximates the raw inner product, so the honest
    baseline is exact dot, not cosine) — the accuracy-contract row
    every approximate tier ships with. IVFPQ misses a true neighbor
    two ways — cell pruning (the neighbor's cell wasn't probed) and
    code granularity (ADC mis-ranks inside a probed cell) — and this
    row prices BOTH against the exact tier, per query."""
    emb = load(spark, sf, "embeddings")
    qset = emb.filter(F.col("vec_id") < 5)
    exact = S.mips_topk(emb, qset, k=3).select("query_id", "neighbor_id")
    ann = S.ivfpq_topk(
        emb, n_cells=8, nprobe=2, dims=64, m=8, n_codes=16, k=3,
        max_query_id=5,
    ).select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    j = exact.join(
        ann,
        (exact["query_id"] == ann["aq"]) & (exact["neighbor_id"] == ann["an"]),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hit"),
        r4(F.count("an") / F.lit(3.0), 4).alias("recall_at_3"),
    )


@register(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'video/mp4' END AS media_type,
           CASE doc_id % 3 WHEN 0 THEN CAST(8 + doc_id % 5 AS DOUBLE)
                           WHEN 1 THEN 1.0
                           ELSE -1.0 END AS f0,
           CASE doc_id % 3 WHEN 0 THEN CAST(6 + doc_id % 3 AS DOUBLE)
                           WHEN 1 THEN 8000.0
                           ELSE -1.0 END AS f1,
           CASE doc_id % 3 WHEN 0 THEN 1.0
                           WHEN 1 THEN 16.0
                           ELSE -1.0 END AS f2
    FROM documents WHERE doc_id < 60
    """,
    tags=("pipeline", "multimodal", "decode"),
)
def multimodal_decode_real(spark: SparkSession, sf: str) -> DataFrame:
    """REAL media decode end-to-end: generate actual PNG/WAV files
    distributed (pure-python encoders, closed-form content per doc_id),
    decode them back with the pure-python scanline/PCM decoders behind
    the same `mapInPandas` interface, and check the recovered format
    fields against the closed form. Pixel/sample statistics are
    asserted exactly in tests/test_media_codecs.py; mp4 has no
    pure-python decoder and returns byte-stats (-1 markers)."""
    ids = load(spark, sf, "documents").filter(F.col("doc_id") < 60)
    media = M.synth_real_media(ids)
    feats = M.extract_features(media, decoder="real")
    return feats.select(
        "doc_id",
        "media_type",
        F.col("features")[0].cast("double").alias("f0"),
        F.col("features")[1].cast("double").alias("f1"),
        F.col("features")[2].cast("double").alias("f2"),
    )


@register(
    "sample_hash_split",
    oracle="""
    SELECT doc_id, lang,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("pipeline", "sampling"),
)
def sample_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/valid/test assignment by content-free key
    hash — the training-data-pipeline staple: stable across runs and
    engines (md5 hex prefix, no RNG), embarrassingly parallel (pure
    projection — no shuffle, survives any scale), and skew-free
    (md5 uniformity). Byte thresholds: bucket < 'cc' (204/256 ≈ 79.7%)
    → train, < 'e6' (230/256 ≈ 10.2%) → valid, else test."""
    d = load(spark, sf, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sample_leakage_safe_split",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
      FROM documents
    ), g AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS group_id FROM f
    )
    SELECT doc_id, group_id,
           substr(md5(CAST(group_id AS VARCHAR)), 1, 2) AS bucket,
           CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'valid'
                ELSE 'test' END AS split
    FROM g
    """,
    tags=("pipeline", "sampling", "dedup"),
)
def sample_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-group-aware split: the split key is the fingerprint
    group's canonical doc id, so exact and word-shuffle duplicates
    never straddle the train/test boundary (the leakage guard per-doc
    hash splits miss). Same md5-prefix gate and thresholds as
    sample_hash_split."""
    return C.leakage_safe_split(load(spark, sf, "documents"))


_LSH_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN 1 ELSE 0 END) * {1 << (7 - i)}"
    for i in range(8)
)

ANN_RECALL_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
      FROM embeddings WHERE vec_id < 5
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(1e-9 + list_dot_product(q.q_vec, CAST(c.embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                      * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])))), 4)
                 DESC, c.vec_id) AS rank
        FROM embeddings c CROSS JOIN q WHERE c.vec_id != q.query_id
      ) WHERE rank <= 3
    ), b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_LSH_BUCKET_SQL} AS bucket
      FROM embeddings
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(1e-9 + list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 4) DESC, c.vec_id)
                 AS rank
        FROM b c JOIN b q
          ON c.bucket = q.bucket AND c.vec_id != q.vec_id AND q.vec_id < 5
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           count(a.neighbor_id)                          AS n_hit,
           round(1e-9 + count(a.neighbor_id) / 3.0, 4)   AS recall_at_3
    FROM exact e LEFT JOIN ann a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
"""


@register(
    "similarity_ann_recall",
    oracle=ANN_RECALL_ORACLE,
    tags=("pipeline", "similarity", "eval"),
)
def similarity_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Measure, don't guess: recall@3 of the sign-LSH ANN tier against
    the exact brute-force tier, per query — the eval loop every ANN
    deployment needs before trading exactness for bucket-local work.
    Both tiers are themselves oracle-verified; this entry verifies the
    JOINED metric so the recall number itself is engine-portable."""
    emb = load(spark, sf, "embeddings")
    exact = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3).select(
        "query_id", "neighbor_id"
    )
    ann = S.lsh_topk(emb, k=3, n_bits=8, max_query_id=5).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        ann,
        (exact["query_id"] == ann["aq"]) & (exact["neighbor_id"] == ann["an"]),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hit"),
        r4(F.count("an") / F.lit(3.0), 4).alias("recall_at_3"),
    )


@register(
    "text_chunk_dedup_ratio",
    oracle="""
    WITH ch AS (
      SELECT doc_id, trim(c) AS chunk
      FROM documents, unnest(string_split(text, '. ')) AS u(c)
      WHERE length(trim(c)) > 0
    ), freq AS (
      SELECT chunk, count(*) AS n FROM ch GROUP BY 1
    )
    SELECT ch.doc_id,
           count(*)                                   AS n_chunks,
           CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_dup_chunks,
           round(1e-9 + CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
                 / count(*), 4)                       AS dup_ratio
    FROM ch JOIN freq f ON f.chunk = ch.chunk
    GROUP BY 1
    """,
    tags=("pipeline", "text", "dedup"),
)
def text_chunk_dedup_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-level (sentence/paragraph) duplication — the C4-style
    sub-document signal exact whole-doc dedup misses: split on
    sentence boundaries, count corpus-wide chunk frequency (one keyed
    agg — the chunk string is the shuffle key; at 100 TB you'd hash
    the chunk first to keep the shuffle narrow), report per-doc
    duplicated-chunk ratio for filtering."""
    d = load(spark, sf, "documents")
    ch = (
        d.select(
            "doc_id",
            F.explode(F.split("text", r"\. ")).alias("raw"),
        )
        .select("doc_id", F.trim("raw").alias("chunk"))
        .filter(F.length("chunk") > 0)
    )
    freq = ch.groupBy("chunk").agg(F.count(F.lit(1)).alias("n"))
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).alias("n_dup_chunks"),
            r4(F.sum(dup) / F.count(F.lit(1)), 4).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus curation (pipeline/curation.py) — PII masking, repetition
# quality, decontamination, domain re-balancing, sequence packing,
# winnowing fingerprints.
# ---------------------------------------------------------------------------

from ..pipeline import curation as C  # noqa: E402

_PII_SYNTH_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.7 call +1-202-555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)

PII_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, {_PII_SYNTH_SQL} AS t FROM documents
    ), m1 AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '{C.PII_EMAIL}')) AS n_email,
             regexp_replace(t, '{C.PII_EMAIL}', '<EMAIL>', 'g') AS t
      FROM s
    ), m2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t, '{C.PII_IPV4}')) AS n_ip,
             regexp_replace(t, '{C.PII_IPV4}', '<IP>', 'g') AS t
      FROM m1
    ), m3 AS (
      SELECT doc_id, n_email, n_ip,
             len(regexp_extract_all(t, '{C.PII_PHONE}')) AS n_phone,
             regexp_replace(t, '{C.PII_PHONE}', '<PHONE>', 'g') AS t
      FROM m2
    )
    SELECT doc_id, n_email, n_ip, n_phone, md5(t) AS masked_md5 FROM m3
"""


@register("pii_mask", oracle=PII_ORACLE, tags=("pipeline", "curation", "pii"))
def pii_mask(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training corpus runs
    before anything else: typed placeholder masking for emails, IPv4s
    and phone-shaped digit runs, plus per-doc redaction counts for
    audit. The fixture corpus contains no PII, so the entry injects a
    deterministic specimen per document (same expression in the
    oracle) to keep the regex path actually exercised. Pure projection
    — zero shuffles at any scale."""
    d = load(spark, sf, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1-202-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return C.pii_mask(d.select("doc_id", synth.alias("text")))


@register(
    "quality_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, t AS w
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE t != ''
    ), wc AS (
      SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT)                           AS n_words,
           count(*)                                         AS n_distinct_words,
           round(1e-9 + 1.0 - count(*) * 1.0 / sum(n), 4)   AS dup_word_ratio,
           round(1e-9 + max(n) * 1.0 / sum(n), 4)           AS top_word_ratio
    FROM wc GROUP BY 1
    """,
    tags=("pipeline", "curation", "quality"),
)
def quality_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher rules): duplicate
    -word fraction and most-common-word mass per document — the cheap
    filters that catch boilerplate and keyword-stuffed pages exact
    dedup never sees."""
    return C.repetition_stats(load(spark, sf, "documents"))


@register(
    "decontaminate_ngram",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
                                   i -> array_to_string(ws[i:i+2], ' '))) AS gram
      FROM t
    ), e AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), h AS (
      SELECT g.doc_id, g.gram FROM g JOIN e USING (gram)
      WHERE g.doc_id % 97 != 0
    )
    SELECT doc_id, count(DISTINCT gram) AS n_overlap_grams,
           1 AS contaminated
    FROM h GROUP BY 1
    """,
    tags=("pipeline", "curation", "decontamination"),
)
def decontaminate_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with the held-out slice (doc_id % 97 == 0 stands in for the
    external benchmark table). n=3 here so the tiny synthetic
    vocabulary actually produces overlaps; production corpora use
    n=13. The eval gram set broadcasts; the containment check is a
    map-side semi join — no corpus-wide shuffle."""
    return C.decontaminate(load(spark, sf, "documents"), n=3, eval_mod=97)


# ---- programmatically build the bloom-decontamination oracle: the
# same k=4 20-bit positions as pipeline.curation._bloom_positions
# (position j = int(md5(gram)[5j : 5j+5], 16)), membership = every
# position in the union position set of the eval grams — which is
# exactly what testing k bits against the bloom word table computes,
# false positives included, so the driver proves the bloom semantics
# bit-for-bit. ---------------------------------------------------------


def _duck_hex5(start: int) -> str:
    """DuckDB expression: 5 hex digits of column hh at 1-based
    ``start`` as an integer (no native hex→int in DuckDB ≤1.x)."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(hh, {start + d}, 1)) - 1)"
            f" * {16 ** (4 - d)}"
            for d in range(5)
        )
        + ")"
    )


_BLOOM_POS = [_duck_hex5(5 * j + 1) for j in range(4)]

BLOOM_DECONTAM_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
                                   i -> array_to_string(ws[i:i+2], ' '))) AS gram
      FROM t
    ), eh AS (
      SELECT DISTINCT md5(gram) AS hh FROM g WHERE doc_id % 97 = 0
    ), epos AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{", ".join(_BLOOM_POS)}]) AS pos FROM eh
      )
    ), th AS (
      SELECT DISTINCT doc_id, gram, md5(gram) AS hh
      FROM g WHERE doc_id % 97 != 0
    ), hit AS (
      SELECT doc_id, gram FROM th
      WHERE {" AND ".join(f"{p} IN (SELECT pos FROM epos)" for p in _BLOOM_POS)}
    )
    SELECT doc_id, count(DISTINCT gram) AS n_flagged_grams, 1 AS contaminated
    FROM hit GROUP BY 1
"""


@register(
    "decontaminate_bloom",
    oracle=BLOOM_DECONTAM_ORACLE,
    tags=("pipeline", "curation", "decontamination", "bloom"),
)
def decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination — the 100 TB path of
    `decontaminate_ngram`: the eval gram set folds into a 2^20-bit
    bloom filter stored as ≤16 384 (word_idx, word) rows via `bit_or`
    (~128 KB broadcast, FIXED no matter how many benchmarks join the
    suite), and every training gram probes k=4 bits map-side. The
    oracle replays the identical position membership in DuckDB, so
    this row is driver-proven bit-for-bit, false positives included."""
    return C.decontaminate_bloom(
        load(spark, sf, "documents"), n=3, eval_mod=97, k=4, hash_fn="md5"
    )


@register(
    "domain_mix_temperature",
    oracle="""
    WITH c AS (
      SELECT source, count(*) AS n_total FROM documents GROUP BY 1
    ), t AS (
      SELECT min(n_total) AS n_min FROM c
    ), r AS (
      SELECT source, n_total,
             pow(n_min * 1.0 / n_total, 0.5) AS rate
      FROM c, t
    ), k AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN r USING (source)
      WHERE ((d.doc_id % 65536) * 2654435761) % 65536 / 65536.0 < r.rate
      GROUP BY 1
    )
    SELECT r.source, r.n_total,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(1e-9 + r.rate, 4) AS rate
    FROM r LEFT JOIN k USING (source)
    """,
    tags=("pipeline", "curation", "sampling"),
)
def domain_mix_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature sampling (τ=0.5, keep-rate (n_min/n_s)^(1-τ)) — the
    multilingual-corpus mixing rule, deterministic Knuth-hash gate, no
    RNG; per-source kept counts reported. Same broadcast-rate-table
    shape as the uniform `domain_mix_sample`."""
    return C.domain_mix_temperature(load(spark, sf, "documents"), tau=0.5)


@register(
    "domain_mix_sample",
    oracle="""
    WITH c AS (
      SELECT source, count(*) AS n_total FROM documents GROUP BY 1
    ), t AS (
      SELECT min(n_total) AS tgt FROM c
    ), r AS (
      SELECT source, n_total, tgt * 1.0 / n_total AS rate FROM c, t
    ), k AS (
      SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN r USING (source)
      WHERE ((d.doc_id % 65536) * 2654435761) % 65536 / 65536.0 < r.rate
      GROUP BY 1
    )
    SELECT r.source, r.n_total,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(1e-9 + r.rate, 4) AS rate
    FROM r LEFT JOIN k USING (source)
    """,
    tags=("pipeline", "curation", "sampling"),
)
def domain_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Domain re-balancing: deterministically down-sample every source
    to the smallest source's size with an engine-portable integer hash
    gate — the "data mixing" step of corpus assembly, reported as
    per-source kept counts."""
    return C.domain_mix_sample(load(spark, sf, "documents"))


@register(
    "seq_pack_bins",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != ''))
               AS n_tokens
      FROM documents
    ), b AS (
      SELECT source, doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens) / 256) AS BIGINT) AS bin_id
      FROM d
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM b GROUP BY 1, 2
    """,
    tags=("pipeline", "curation", "packing"),
)
def seq_pack_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: stable-order token-budget binning per source
    shard (budget 256), the loader-side step that turns a filtered
    corpus into fixed-size training sequences. Keyed window only — a
    global order would serialize the corpus; per-shard order is what a
    sharded loader consumes."""
    return C.seq_pack_bins(load(spark, sf, "documents"), budget=256)


@register(
    "text_winnow_fingerprint",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_transform(range(1, len(ws) - 1),
                            i -> md5(array_to_string(ws[i:i+2], ' '))) AS hs
      FROM t
    ), f AS (
      SELECT doc_id,
             list_transform(range(1, len(hs) - 2),
                            j -> list_min(hs[j:j+3])) AS fps
      FROM h WHERE len(hs) >= 4
    )
    SELECT doc_id, len(fps) AS n_windows,
           len(list_distinct(fps)) AS n_fingerprints
    FROM f
    """,
    tags=("pipeline", "curation", "fingerprint"),
)
def text_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (the MOSS algorithm): hash
    every word 3-gram, keep each 4-window's minimum hash — the
    guaranteed-coverage document fingerprint set near-dup detectors
    index. Per-doc keyed windows only; no corpus-wide shuffle beyond
    the final aggregation."""
    return C.winnow_fingerprints(load(spark, sf, "documents"), k=3, w=4)


@register(
    "corpus_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cum_tok
      FROM t
    )
    SELECT doc_id, n_tok, cum_tok FROM c WHERE cum_tok <= 6000
    """,
    tags=("pipeline", "curation", "sampling"),
)
def corpus_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus cut: hash-shuffled order, keep the prefix
    whose running token total fits the budget. Distributed prefix sum
    (per-bucket windows + broadcast bucket offsets) — no global
    single-task ORDER BY window (pipeline/curation.token_budget_sample)."""
    from ..pipeline import curation as C

    return C.token_budget_sample(load(spark, sf, "documents"), budget_tokens=6000)


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars AS weight,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 1.0) / 4294967298.0) / n_chars AS k
      FROM documents
    ), top AS (
      SELECT doc_id, weight, k FROM t ORDER BY k DESC, doc_id LIMIT 50
    )
    SELECT doc_id, weight,
           row_number() OVER (ORDER BY k DESC, doc_id) AS rank
    FROM top
    """,
    tags=("pipeline", "curation", "sampling"),
)
def corpus_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES): deterministic hash-uniform per doc, key = ln(u)/w, global
    top-k. Executes as per-partition partial top-k (TakeOrderedAndProject)
    — no full sort, no shuffle of the corpus
    (pipeline/curation.weighted_sample)."""
    from ..pipeline import curation as C

    return C.weighted_sample(
        load(spark, sf, "documents"), k=50, weight_col="n_chars"
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * ln((SELECT count(*) FROM documents) / dfreq.df::DOUBLE)
               AS tfidf_raw
      FROM tf JOIN dfreq USING (term)
    ), ranked AS (
      SELECT doc_id, term, tf, df,
             round(1e-9 + tfidf_raw, 4) AS tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_raw DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    tags=("pipeline", "text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document. Explode →
    map-side-combined (doc,term) counts; document frequency (≤ vocab)
    broadcasts back; per-doc window ranks (pipeline/text.tfidf_top_terms)."""
    return X.tfidf_top_terms(load(spark, sf, "documents"), top_k=3)


# ---- programmatically build the BM25 oracle so the query terms and
# constants live in exactly one place ---------------------------------

BM25_TERMS = ("spark", "join", "window")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_TFS = ",\n             ".join(
    f"CAST(len(list_filter(ws, x -> x = '{q}')) AS DOUBLE) AS tf{i}"
    for i, q in enumerate(BM25_TERMS)
)
_BM25_DFS = ",\n             ".join(
    f"sum(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}"
    for i in range(len(BM25_TERMS))
)
_BM25_SCORE = "\n           + ".join(
    f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i}"
    f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avglen))"
    for i in range(len(BM25_TERMS))
)

BM25_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(ws) AS DOUBLE) AS dl,
             {_BM25_TFS}
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS ws
            FROM documents)
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avglen,
             {_BM25_DFS}
      FROM base
    ), scored AS (
      SELECT doc_id,
             {_BM25_SCORE} AS score
      FROM base, stats
    )
    SELECT doc_id, round(1e-9 + score, 4) AS score
    FROM scored WHERE score > 0
    ORDER BY round(1e-9 + score, 6) DESC, doc_id LIMIT 20
"""


@register(
    "text_bm25_topk",
    oracle=BM25_ORACLE,
    tags=("pipeline", "text", "retrieval"),
)
def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query over the corpus — the
    targeted-decontamination / eval-neighbor-audit primitive. Per-term
    tf is a pure projection (array filters in codegen, no posting-list
    shuffle), corpus stats are ONE scalar agg row broadcast back, and
    the top-k compiles to TakeOrderedAndProject (per-partition heaps,
    never a global sort) — the plan shape that survives 100 TB."""
    return X.bm25_topk(
        load(spark, sf, "documents"),
        list(BM25_TERMS),
        k1=_BM25_K1,
        b=_BM25_B,
        top_k=20,
    )


@register(
    "text_inverted_index",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS term
      FROM documents
    ), tf AS (
      SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2
    )
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
           array_to_string((list_sort(list(doc_id)))[1:1000], ',') AS postings
    FROM tf GROUP BY 1
    """,
    tags=("pipeline", "text", "retrieval"),
)
def text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index materialization: term -> capped sorted posting
    list + df + total tf. Term-keyed fold, Zipf skew absorbed by
    map-side partial aggregation; posting arrays capped at 1000 so no
    stop-word record balloons (true df kept regardless).

    The posting list is serialized to a comma-joined STRING at the
    registry edge: the driver's canonicalizer pandas-sorts raw cells
    and cannot factorize list values (round-6 red) — top-level array
    outputs are banned registry-wide by the contract gate."""
    out = X.inverted_index(load(spark, sf, "documents"), max_posting=1000)
    return out.withColumn(
        "postings",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ),
    )


@register(
    "text_char_lm_score",
    oracle="""
    WITH bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(text)),
                                   i -> substr(text, i, 2))) AS bigram
      FROM documents WHERE length(text) >= 2
    ), model AS (
      SELECT bigram, count(*) AS c FROM bg GROUP BY 1
    ), stats AS (
      SELECT CAST(sum(c) AS DOUBLE) AS total,
             CAST(count(*) AS DOUBLE) AS v
      FROM model
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(1e-9 + avg(-log2((c + 1.0) / (total + v))), 4) AS avg_neg_log2p
    FROM bg JOIN model USING (bigram), stats
    GROUP BY 1
    """,
    tags=("pipeline", "text", "quality"),
)
def text_char_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Char-bigram LM quality score (perplexity proxy): mean −log2 P of
    a doc's bigrams under the corpus's add-1-smoothed bigram model —
    the cheap mojibake/binary-junk filter. Alphabet²-bounded model
    broadcasts; one explode + doc-keyed mean."""
    # cache=False: registry entries run repeatedly (oracle gate, bench);
    # a persist with no unpersist handle would accumulate across runs
    return X.char_lm_score(load(spark, sf, "documents"), cache=False)


@register(
    "text_cross_doc_repeats",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i+2], ' ')) AS h
      FROM t, unnest(range(1, len(ws) - 1)) AS u(i)
    ), w AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS _full
      FROM g
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM w WHERE _full IS NOT NULL
    )
    SELECT fp, count(*) AS n_docs,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM fps GROUP BY 1 HAVING count(*) >= 2
    """,
    tags=("pipeline", "text", "dedup"),
)
def text_cross_doc_repeats(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated-substring detection (suffix-array-dedup
    stand-in): winnowing fingerprints shared by >=2 docs mark verbatim
    3-gram runs in common - the boilerplate/license/template spans
    document-level dedup never removes. One per-doc winnow pass + one
    fingerprint-keyed map-combinable aggregation."""
    return C.cross_doc_repeats(load(spark, sf, "documents"), k=3, w=4, min_docs=2)


@register(
    "sample_stratified_quota",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents) WHERE rk <= 5
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group quota sampling: exactly 5 docs from every source,
    ranked by the content-free md5 order (reproducible, no RNG) —
    balanced eval-holdout construction. Compiles to WindowGroupLimit
    (per-partition top-k heaps), plan-tested."""
    return C.stratified_sample(
        load(spark, sf, "documents"), k_per_group=5
    ).select("doc_id", "source")


@register(
    "embedding_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), dims AS (
      SELECT generate_subscripts(vec, 1) AS dim, unnest(vec) AS x FROM v
    ), m AS (
      SELECT dim, avg(x) AS mu FROM dims GROUP BY 1
    ), ma AS (
      SELECT list(mu ORDER BY dim) AS mean FROM m
    ), c AS (
      SELECT vec_id,
             list_transform(range(1, len(vec) + 1), i -> vec[i] - mean[i]) AS cv
      FROM v, ma
    )
    SELECT vec_id,
           array_to_string(
             list_transform(cv, x -> CAST(round(
               (1e-9 + x / sqrt(list_dot_product(cv, cv))) * 10000) AS BIGINT)),
             ',') AS embedding_norm
    FROM c
    """,
    tags=("pipeline", "similarity", "preprocessing"),
)
def embedding_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-center + L2-normalize the embedding corpus (after which
    cosine == dot and every ANN tier skips per-pair norms). The
    per-dim mean folds to one broadcast row; the rest is zip_with /
    transform inside the scan.

    Elements are scaled to 4-decimal fixed-point INTEGERS and
    comma-joined to ONE string at the registry edge: the driver's
    canonicalizer pandas-sorts raw cells and dies on list values
    (round-6 red), and integer serialization sidesteps every
    float-formatting divergence (−0.0 signs, exponent notation)
    between Spark and DuckDB."""
    out = S.normalize_embeddings(load(spark, sf, "embeddings"))
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                "embedding_norm",
                lambda x: F.round((x + F.lit(1e-9)) * 10000)
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("embedding_norm"),
    )


@register(
    "text_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, len(ws) AS n, ws,
             unnest(range(1, len(ws) + 1, 24)) AS start
      FROM t WHERE len(ws) >= 1
    )
    SELECT doc_id,
           CAST((start - 1) / 24 AS BIGINT)          AS chunk_idx,
           array_to_string(ws[start:start + 31], ' ') AS chunk_text,
           CAST(least(32, n - start + 1) AS INT)      AS n_tokens
    FROM s
    """,
    tags=("pipeline", "text", "chunking"),
)
def text_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Doc → overlapping token-window chunks (32 tokens, overlap 8):
    the training-sample / RAG-passage expansion as a pure
    projection+explode — token arrays slice in codegen, zero shuffle
    at any scale; (doc_id, chunk_idx) is the stable sample key."""
    return X.chunk_documents(
        load(spark, sf, "documents"), chunk_tokens=32, overlap=8
    )


@register(
    "embedding_centroids",
    oracle="""
    SELECT label, dim,
           round(1e-9 + avg(v), 4) AS centroid,
           count(*) AS n_vectors
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings)
    GROUP BY 1, 2
    """,
    tags=("pipeline", "similarity", "centroid"),
)
def embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dim, mean):
    posexplode + ONE keyed agg with map-side partials; shuffle output
    cardinality = labels × dims regardless of input size
    (pipeline/similarity.label_centroids)."""
    return S.label_centroids(load(spark, sf, "embeddings")).withColumn(
        "dim", F.col("dim").cast("bigint")
    )


@register(
    "dedup_semantic_clusters",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), cent AS (
      SELECT vec_id AS cent_id, vec AS cent_vec FROM v WHERE vec_id < 8
    ), scored AS (
      SELECT v.vec_id, v.vec, c.cent_id,
             round(1e-9 + list_dot_product(v.vec, c.cent_vec)
               / (sqrt(list_dot_product(v.vec, v.vec))
                  * sqrt(list_dot_product(c.cent_vec, c.cent_vec))), 4) AS cc
      FROM v CROSS JOIN cent c
    ), cells AS (
      SELECT vec_id, vec, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cc DESC, cent_id) AS r
        FROM scored
      ) WHERE r = 1
    )
    SELECT a.cell,
           a.vec_id AS id_keep, b.vec_id AS id_drop,
           round(1e-9 + list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 4) AS cos
    FROM cells a JOIN cells b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(1e-9 + list_dot_product(a.vec, b.vec)
            / (sqrt(list_dot_product(a.vec, a.vec))
               * sqrt(list_dot_product(b.vec, b.vec))), 4) >= 0.2
    """,
    tags=("pipeline", "dedup", "similarity", "semantic"),
)
def dedup_semantic_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster → in-cell cosine pairs →
    keep-lowest-id): the published recipe for pruning semantically
    redundant training documents, on the engine's IVF plumbing —
    broadcast coarse quantizer, argmax-cosine cell assignment, pair
    join shuffling on the cell id (Σ cell², never corpus²). Threshold
    0.2 exercises real filtering on this synthetic corpus; production
    SemDeDup thresholds sit near 0.95+ with trained k-means cells."""
    emb = load(spark, sf, "embeddings")
    return D.semantic_dedup_pairs(emb, min_cos=0.2, n_cells=8)


@register(
    "text_remove_repeated_spans",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i+2], ' ')) AS h
      FROM t, unnest(range(1, len(ws) - 1)) AS u(i)
    ), w AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS _full
      FROM g
    ), wf AS (
      SELECT doc_id, pos, fp FROM w WHERE _full IS NOT NULL
    ), shared AS (
      SELECT fp FROM (
        SELECT fp, count(DISTINCT doc_id) AS nd FROM wf GROUP BY 1
      ) WHERE nd >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT DISTINCT doc_id, pos FROM wf
            WHERE fp IN (SELECT fp FROM shared)) h,
           unnest(range(pos, pos + 6)) AS u(tok)
    ), toks AS (
      SELECT doc_id, i AS idx, ws[i] AS tok_s, len(ws) AS n_tokens
      FROM t, unnest(range(1, len(ws) + 1)) AS u(i)
    ), marked AS (
      SELECT toks.doc_id, idx, tok_s, n_tokens,
             (cov.tok IS NOT NULL) AS covered
      FROM toks LEFT JOIN cov
        ON toks.doc_id = cov.doc_id AND toks.idx = cov.tok
    ), folded AS (
      SELECT doc_id, any_value(n_tokens) AS n_tokens,
             count(*) FILTER (WHERE covered) AS n_removed,
             coalesce(string_agg(tok_s, ' ' ORDER BY idx)
                        FILTER (WHERE NOT covered), '') AS text_clean
      FROM marked GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(f.n_tokens, len(t.ws)) AS BIGINT) AS n_tokens,
           CAST(coalesce(f.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(f.text_clean, array_to_string(t.ws, ' ')) AS text_clean
    FROM t LEFT JOIN folded f ON t.doc_id = f.doc_id
    """,
    tags=("pipeline", "text", "dedup"),
)
def text_remove_repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Repeated-span REMOVAL — the consumer of `text_cross_doc_repeats`
    and the second half of suffix-array-style substring dedup: every
    token covered by a winnow window whose fingerprint ≥2 docs share
    is dropped; everything else survives verbatim. In-row winnow
    arrays, broadcast shared-fp semi-join, per-doc hit fold, in-row
    token mask — three keyed shuffles, nothing corpus²."""
    return C.remove_repeated_spans(
        load(spark, sf, "documents"), k=3, w=4, min_docs=2
    )


@register(
    "text_remove_spans_bloom",
    oracle=REGISTRY["text_remove_repeated_spans"].oracle,
    tags=("pipeline", "text", "dedup", "bloom"),
)
def text_remove_spans_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """The bloom pre-filter tier of span removal, proven against the
    SAME oracle as `text_remove_repeated_spans` — the 2^24-bit bloom
    is a pruning step whose false positives ride into the exact semi
    join, so the output is bit-identical by construction and the
    driver check proves it end-to-end (the bit layout, the k=4
    position hashing, the persisted shared tail and the dense-array
    probe all sit in the path). Measured regime (SCALEBENCH r8,
    fresh-process legs): parity at ×100 (AQE already broadcasts the
    tail), 1.15–1.2× at the mixed-sharing ×1000 decade where the
    probe genuinely shuffles and ~70 % of positions prune — hence
    opt-in, for the regime where it pays."""
    return C.remove_repeated_spans(
        load(spark, sf, "documents"), k=3, w=4, min_docs=2,
        prefilter="bloom",
    )


@register(
    "corpus_shuffle_order",
    oracle="""
    SELECT row_number() OVER (
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS position,
           doc_id
    FROM documents
    """,
    tags=("pipeline", "curation", "shuffle"),
)
def corpus_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (`curation.deterministic_shuffle`): a reproducible epoch
    permutation with dense positions, built as a two-pass distributed
    rank over an explicit 16-bit key-prefix bucketing — never a
    single-task `row_number() OVER ()`. The oracle replays the same
    md5 permutation, so the driver proves position-for-position
    equality of the whole epoch order."""
    return C.deterministic_shuffle(
        load(spark, sf, "documents"), id_col="doc_id", seed=0
    ).select("position", "doc_id")


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), d AS (
      SELECT generate_subscripts(vec, 1) AS dim, unnest(vec) AS x FROM v
    ), r AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM d GROUP BY 1
    ), ra AS (
      SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM r
    )
    SELECT vec_id,
           array_to_string(
             list_transform(range(1, len(vec) + 1), i ->
               CASE WHEN his[i] > los[i]
                    THEN CAST(round(255.0 * (vec[i] - los[i])
                                    / (his[i] - los[i]) + 1e-9) AS BIGINT) - 128
                    ELSE -128 END),
             ',') AS codes_int8,
           TRUE AS within_bound
    FROM v, ra
    """,
    tags=("pipeline", "similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar int8 quantization (the 4× memory tier between raw floats
    and PQ's 32×): per-dim corpus min/max broadcast back, codes in the
    scan, serialized to a string at the registry edge (nested-output
    contract). The hash-checked columns are the exact codes plus the
    half-step reconstruction-error contract flag — TRUE on a healthy
    quantizer, the same accuracy-contract discipline as
    approx_distinct_bound."""
    return S.quantize_embeddings_int8(load(spark, sf, "embeddings"))


@register(
    "text_quality_classifier",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ws) AS w, len(ws) AS n
      FROM t WHERE len(ws) > 0
    ), wts AS (
      SELECT doc_id, n,
             ((('0x' || substr(md5(w), 1, 8))::BIGINT % 4096)
               * 2654435761) % 4096 / 4096.0 - 0.5 AS wt
      FROM tok
    ), m AS (
      SELECT doc_id, any_value(n) AS n_tokens,
             sum(wt) / any_value(n) AS mw
      FROM wts GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1e-9 + 1.0 / (1.0 + exp(-8.0 * mw)), 4) AS score,
           1.0 / (1.0 + exp(-8.0 * mw)) > 0.5 AS keep
    FROM m
    """,
    tags=("pipeline", "text", "quality"),
)
def text_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """FastText-style hashing-trick quality classifier (the CCNet
    "looks like reference text" filter stage): token → md5 feature
    slot → slot weight → sigmoid(mean), keep above threshold. The
    whole scorer is a zero-shuffle in-row projection (the
    deterministic Weyl weights are arithmetic on the slot id; a
    trained model broadcasts the same way). Weights are exact
    multiples of 2^-12, so the per-doc sums are bit-equal across
    engines regardless of reduction order."""
    return X.classifier_score(load(spark, sf, "documents"))


@register(
    "text_pretokenize_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(
             regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +'),
             x -> regexp_matches(x, '[^ ]'))) AS BIGINT) AS n_pre_tokens,
           CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
             AS BIGINT) AS n_ws_tokens,
           round(1e-9 + length(text) * 1.0 / len(list_filter(
             regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +'),
             x -> regexp_matches(x, '[^ ]'))), 4) AS chars_per_token
    FROM documents
    """,
    tags=("pipeline", "text", "tokens"),
)
def text_pretokenize_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-2-style BPE pre-tokenizer segmentation count
    (`pipeline.text.pretokenize_stats`): contraction suffixes,
    space-prefixed letter/digit runs, punctuation runs — the token
    estimate that tracks real BPE vocabularies, next to token_stats'
    chars/4 proxy. ASCII regex classes so Java regex and RE2 agree;
    one in-row regexp_extract_all, zero shuffle."""
    return X.pretokenize_stats(load(spark, sf, "documents"))


@register(
    "text_classifier_train",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ws) AS w, len(ws) AS n
      FROM t WHERE len(ws) > 0
    ), feat AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % 4096 AS slot,
             count(*) * 1.0 / any_value(n) AS x,
             CASE WHEN any_value(n) >= 50 THEN 1.0 ELSE 0.0 END AS y
      FROM tok GROUP BY doc_id, slot
    ), g1 AS (
      SELECT slot, round(1e-9 + sum((0.5 - y) * x), 6) AS g
      FROM feat GROUP BY slot
    ), w1 AS (
      SELECT slot, round(1e-9 + (-1.0) * g, 6) AS w FROM g1
    ), m2 AS (
      SELECT f.doc_id,
             round(1e-9 + sum(f.x * coalesce(w1.w, 0.0)), 6) AS m,
             any_value(f.y) AS y
      FROM feat f LEFT JOIN w1 USING (slot) GROUP BY f.doc_id
    ), p2 AS (
      SELECT doc_id, round(1e-9 + 1.0 / (1.0 + exp(-m)), 6) AS p, y
      FROM m2
    ), g2 AS (
      SELECT f.slot, round(1e-9 + sum((p2.p - f.y) * f.x), 6) AS g
      FROM feat f JOIN p2 USING (doc_id) GROUP BY f.slot
    ), w2 AS (
      SELECT g2.slot, round(1e-9 + coalesce(w1.w, 0.0) - 1.0 * g2.g, 6) AS w
      FROM g2 LEFT JOIN w1 USING (slot)
    )
    SELECT slot, round(1e-9 + w, 4) AS weight FROM w2
    """,
    tags=("pipeline", "text", "quality", "ml"),
)
def text_classifier_train(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN the quality classifier `text_quality_classifier` scores
    with (`pipeline.text.classifier_train`): full-batch logistic GD
    over the md5 hashing-trick slot features, 2 unrolled iterations,
    deterministic length-heuristic labels. The feature matrix builds
    once and persists (the MLlib cache-the-training-set pattern);
    each iteration is two keyed aggregations — per-doc margin with an
    AQE-broadcast weight table, per-slot gradient — and the weight
    state stays a ≤4096-row DataFrame, never a driver vector. The
    oracle unrolls both iterations in SQL (the `ml_kmeans`
    convention: every margin/probability/gradient/weight rounds at
    6 dp so reduction order never leaks)."""
    return X.classifier_train(
        load(spark, sf, "documents"), n_buckets=4096, eta=1.0, iters=2,
        label_min_tokens=50,
    )


@register(
    "text_dedup_lines",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents
    ), c AS (
      SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS line
      FROM t, unnest(range(1, len(ws) + 1, 8)) AS u(i)
    ), elig AS (
      SELECT doc_id, i, line FROM c
      WHERE len(list_filter(string_split(line, ' '), x -> x != '')) >= 3
    ), shared AS (
      SELECT h FROM (
        SELECT DISTINCT doc_id, md5(line) AS h FROM elig
      ) GROUP BY h HAVING count(*) >= 2
    ), drops AS (
      SELECT doc_id, i FROM elig
      WHERE md5(line) IN (SELECT h FROM shared)
    ), folded AS (
      SELECT c.doc_id,
             count(*) AS n_lines,
             count(d.i) AS n_removed,
             coalesce(string_agg(CASE WHEN d.i IS NULL THEN c.line END,
                                 chr(10) ORDER BY c.i), '') AS text_clean
      FROM c LEFT JOIN drops d ON c.doc_id = d.doc_id AND c.i = d.i
      GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(f.n_lines, 0) AS BIGINT)  AS n_lines,
           CAST(coalesce(f.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(f.text_clean, '') AS text_clean
    FROM t LEFT JOIN folded f ON t.doc_id = f.doc_id
    """,
    tags=("pipeline", "text", "dedup"),
)
def text_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level exact dedup (RefinedWeb/Falcon boilerplate removal):
    lines verbatim-shared by ≥2 docs drop everywhere, short lines
    exempt. The fixture corpus has no newlines, so the row first
    materializes deterministic 8-token lines (chunk boundaries) —
    the oracle mirrors the construction; the operator under test is
    `pipeline.text.dedup_lines` end-to-end (153 shared lines at
    sf0.01 exercise the drop path)."""
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n = F.size(F.col("_ws"))
    lined = (
        load(spark, sf, "documents")
        .select("doc_id", ws.alias("_ws"))
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(8)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i, 8)),
                ),
            ).alias("text"),
        )
    )
    return X.dedup_lines(lined, min_docs=2, min_line_tokens=3)


@register(
    "similarity_int8_recall",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), d AS (
      SELECT generate_subscripts(vec, 1) AS dim, unnest(vec) AS x FROM v
    ), r AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM d GROUP BY 1
    ), ra AS (
      SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM r
    ), recon AS (
      SELECT vec_id,
             list_transform(range(1, len(vec) + 1), i ->
               CASE WHEN his[i] > los[i]
                    THEN los[i]
                         + round(255.0 * (vec[i] - los[i])
                                 / (his[i] - los[i]) + 1e-9)
                           * (his[i] - los[i]) / 255.0
                    ELSE los[i] END) AS v
      FROM v, ra
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(1e-9 + list_dot_product(q.vec, c.vec)
                   / (sqrt(list_dot_product(q.vec, q.vec))
                      * sqrt(list_dot_product(c.vec, c.vec))), 4)
                 DESC, c.vec_id) AS rank
        FROM v c CROSS JOIN v q
        WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ), approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(1e-9 + list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 4)
                 DESC, c.vec_id) AS rank
        FROM recon c CROSS JOIN recon q
        WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           count(a.neighbor_id)                        AS n_hit,
           round(1e-9 + count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """,
    tags=("pipeline", "similarity", "quantization", "eval"),
)
def similarity_int8_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@3 of cosine search over int8-RECONSTRUCTED vectors vs
    the exact float tier — the measured half of the quantizer's
    promise ("ANN recall under int8 is a property, not a hope"): the
    corpus is dequantized in one fused pass (`reconstruct_int8`) and
    both tiers rank with the same rounded-cosine/id discipline, so
    the recall number is engine-portable like similarity_ann_recall."""
    emb = load(spark, sf, "embeddings")
    qset = F.col("vec_id") < 5
    exact = S.brute_force_topk(
        emb, emb.filter(qset), k=3, impl="catalyst"
    ).select("query_id", "neighbor_id")
    rec = S.reconstruct_int8(emb)
    approx = S.brute_force_topk(
        rec,
        rec.filter(qset),
        k=3,
        vec_col="embedding_rec",
        impl="catalyst",
    ).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        approx,
        (exact["query_id"] == approx["aq"])
        & (exact["neighbor_id"] == approx["an"]),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hit"),
        r4(F.count("an") / F.lit(3.0), 4).alias("recall_at_3"),
    )


@register(
    "similarity_mips",
    oracle="""
    SELECT query_id, neighbor_id, dot, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(1e-9 + list_dot_product(
               CAST(q.embedding AS DOUBLE[]),
               CAST(c.embedding AS DOUBLE[])), 4) AS dot,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               round(1e-9 + list_dot_product(
                 CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rank
      FROM embeddings c CROSS JOIN embeddings q
      WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
    ) WHERE rank <= 3
    """,
    tags=("pipeline", "similarity", "mips"),
)
def similarity_mips(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum-inner-product top-3 (un-normalized retrieval scoring —
    where cosine is the wrong metric because vector length carries
    signal). Exact broadcast tier; at scale MIPS reduces to the
    existing cosine-LSH tiers by norm augmentation (append
    sqrt(M²−‖x‖²) corpus-side, 0 query-side) with dot re-ranking —
    see `pipeline.similarity.mips_topk`."""
    emb = load(spark, sf, "embeddings")
    return S.mips_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


def _mips_ann_recall_oracle(
    n_bits: int = 4, n_bands: int = 4, dims: int = 64
) -> str:
    """DuckDB mirror of the norm-augmented multi-band hyperplane
    buckets: the ±1 sign constants come from the SAME
    `mips_hyperplanes` LCG the Spark tier uses, inlined as list
    literals — bucket logic is deterministic on both engines, so the
    recall number itself gets a full value-hash contract (not a
    rows-only weak check)."""
    planes = S.mips_hyperplanes(n_bits * n_bands, dims)

    def bucket(vaug: str, band: int) -> str:
        terms = []
        for i, row in enumerate(planes[band * n_bits : (band + 1) * n_bits]):
            lits = ", ".join(f"{s:.1f}" for s in row)
            terms.append(
                f"(CASE WHEN round(1e-9 + list_dot_product({vaug}, "
                f"[{lits}]), 4) >= 0 THEN {2 ** (n_bits - 1 - i)} "
                "ELSE 0 END)"
            )
        return " + ".join(terms)

    c_aug = (
        "list_append(v, sqrt(greatest(0.0, "
        "(SELECT m2 FROM m) - list_dot_product(v, v))))"
    )
    c_buckets = ", ".join(
        f"{bucket(c_aug, b)} AS bucket_{b}" for b in range(n_bands)
    )
    q_buckets = ", ".join(
        f"{bucket('list_append(v, 0.0)', b)} AS bucket_{b}"
        for b in range(n_bands)
    )
    band_joins = "\n        UNION ALL\n".join(
        f"""        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(1e-9 + list_dot_product(q.v, c.v), 4) AS dot
        FROM cb c JOIN qb q
          ON c.bucket_{b} = q.bucket_{b} AND c.vec_id != q.vec_id"""
        for b in range(n_bands)
    )
    return f"""
    WITH ec AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m AS (
      SELECT max(list_dot_product(v, v)) AS m2 FROM ec
    ), cb AS (
      SELECT vec_id, v, {c_buckets} FROM ec
    ), qb AS (
      SELECT vec_id, v, {q_buckets}
      FROM ec WHERE vec_id < 5
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(1e-9 + list_dot_product(q.v, c.v), 4) DESC,
                 c.vec_id) AS rank
        FROM ec c CROSS JOIN (SELECT * FROM ec WHERE vec_id < 5) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ), cand AS (
      SELECT DISTINCT query_id, neighbor_id, dot FROM (
{band_joins}
      )
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY
                 dot DESC, neighbor_id) AS rank
        FROM cand
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           count(a.neighbor_id)                        AS n_hit,
           round(1e-9 + count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact e LEFT JOIN ann a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
    """


@register(
    "similarity_mips_ann_recall",
    oracle=_mips_ann_recall_oracle(),
    tags=("pipeline", "similarity", "mips", "eval"),
)
def similarity_mips_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@3 of the norm-augmented hyperplane-LSH MIPS tier
    (`mips_ann_topk`) against the exact broadcast tier — the
    accuracy-contract convention the §3.9 approximate: namespace
    establishes (HLL error bound, ANN recall): every approximate tier
    ships with a measured-against-exact row, so trading exactness for
    bucket-local work is a number, not a hope. 4 bands × 4 bits here:
    each band partitions into 16 cells, a true neighbor is missed
    only if all four bands separate the pair — ~4/16 of the corpus
    scored per query instead of all of it, recall measured per
    query."""
    emb = load(spark, sf, "embeddings")
    qset = emb.filter(F.col("vec_id") < 5)
    exact = S.mips_topk(emb, qset, k=3).select("query_id", "neighbor_id")
    ann = S.mips_ann_topk(emb, qset, k=3, n_bits=4, n_bands=4).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        ann,
        (exact["query_id"] == ann["aq"]) & (exact["neighbor_id"] == ann["an"]),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("an").alias("n_hit"),
        r4(F.count("an") / F.lit(3.0), 4).alias("recall_at_3"),
    )


_BPE_STAGE = """
p{i} AS (
  SELECT t[i] AS a, t[i+1] AS b, sum(cnt) AS c
  FROM (SELECT list_filter(string_split(toks, '|'), x -> x <> '') AS t, cnt
        FROM enc{i}) s,
       UNNEST(generate_series(1, len(s.t) - 1)) AS u(i)
  GROUP BY 1, 2
),
m{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
enc{j} AS (
  SELECT replace(replace(replace(toks,
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})),
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})),
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})) AS toks,
         cnt
  FROM enc{i}
)"""


@register(
    "text_bpe_train",
    oracle="""
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    enc0 AS (
      SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS toks, cnt
      FROM words
    ),"""
    + ",".join(_BPE_STAGE.format(i=i, j=i + 1) for i in range(3))
    + """
    SELECT * FROM (
      SELECT 1 AS merge_rank, a AS left_tok, b AS right_tok,
             CAST(c AS BIGINT) AS pair_count FROM m0
      UNION ALL SELECT 2, a, b, CAST(c AS BIGINT) FROM m1
      UNION ALL SELECT 3, a, b, CAST(c AS BIGINT) FROM m2
    ) ORDER BY merge_rank
    """,
    tags=("pipeline", "text", "bpe", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """r15: BPE tokenizer TRAINING (Sennrich et al. 2016) — learn the
    first 3 merges from the documents corpus.  The iterative-algorithm
    pattern at 100 TB scale: the corpus folds ONCE into a
    vocabulary-bounded word-frequency state table; each merge round is
    one keyed aggregation over that state (explode adjacent pairs
    weighted by word count) plus a 1-row argmax read and a per-row
    string rewrite — K fixed driver reads, zero corpus-sized loops.
    The oracle unrolls the same three stages (pair count → argmax with
    the (count DESC, left, right) tie-break → bounded-fixpoint replace
    chain), so both engines execute identical merge semantics by
    construction (`pipeline/text.py::bpe_train`)."""
    return X.bpe_train(load(spark, sf, "documents"))


_BPE_APPLY = """d{j} AS (
  SELECT doc_id, replace(replace(replace(toks,
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})),
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})),
           (SELECT '|'||a||'|'||b||'|' FROM m{i}),
           (SELECT '|'||a||b||'|' FROM m{i})) AS toks
  FROM d{i}
)"""


@register(
    "text_bpe_encode",
    oracle="""
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    enc0 AS (
      SELECT '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS toks, cnt
      FROM words
    ),"""
    + ",".join(_BPE_STAGE.format(i=i, j=i + 1) for i in range(3))
    + """,
    d0 AS (
      SELECT doc_id,
             '|' || regexp_replace(
                 trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')),
                 '(.)', '\\1|', 'g') AS toks
      FROM documents
    ),"""
    + ",".join(_BPE_APPLY.format(i=i, j=i + 1) for i in range(3))
    + """
    SELECT doc_id,
           CAST(len(list_filter(string_split(toks, '|'),
                                x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT)
             AS n_bpe_tokens
    FROM d3
    """,
    tags=("pipeline", "text", "bpe"),
)
def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """r15: BPE ENCODE with the corpus's own learned merges → per-doc
    REAL token counts (the number a packing/budgeting pipeline needs;
    chars/4 and the fixed-vocab pre-tokenizer both misestimate it).
    Train (3 merges, driver-side tiny collect) then count via ONE
    in-row expression per document — zero shuffle at any corpus
    size; words separated by a space TOKEN no letter-only merge can
    cross.  The oracle re-derives the same merges and unrolls the
    same replace chain (`pipeline/text.py::bpe_encode_count`)."""
    docs = load(spark, sf, "documents")
    merges = [
        (r.left_tok, r.right_tok)
        for r in X.bpe_train(docs).orderBy("merge_rank").collect()
    ]
    return X.bpe_encode_count(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens")
    )


@register(
    "text_word_lm",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    uni AS (
      SELECT u AS wd, count(*) AS c
      FROM (SELECT unnest(l) AS u FROM w)
      GROUP BY 1
    ),
    vocab AS (SELECT wd FROM uni ORDER BY c DESC, wd ASC LIMIT 1024),
    bgraw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)),
                    i -> struct_pack(a := l[i], b := l[i + 1]))) AS u
      FROM w WHERE len(l) >= 2
    ),
    bg AS (
      SELECT doc_id, u.a AS lw, u.b AS rw, count(*) AS cnt
      FROM bgraw GROUP BY 1, 2, 3
    ),
    mapped AS (
      SELECT doc_id, coalesce(va.wd, '<unk>') AS lv,
             coalesce(vb.wd, '<unk>') AS rv, cnt
      FROM bg
      LEFT JOIN vocab va ON bg.lw = va.wd
      LEFT JOIN vocab vb ON bg.rw = vb.wd
    ),
    model AS (SELECT lv, rv, sum(cnt) AS c FROM mapped GROUP BY 1, 2),
    ctx AS (SELECT lv, sum(c) AS cl FROM model GROUP BY 1),
    veff AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v FROM vocab)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           round(1e-9 + sum(cnt * -log2((c + 1.0) / (cl + v))) / sum(cnt), 4)
             AS avg_neg_log2p
    FROM mapped JOIN model USING (lv, rv) JOIN ctx USING (lv) CROSS JOIN veff
    GROUP BY doc_id
    """,
    tags=("pipeline", "text", "quality"),
)
def text_word_lm(spark: SparkSession, sf: str) -> DataFrame:
    """r15: WORD-bigram LM perplexity score over a top-1024 vocab with
    <unk> — the CCNet-style quality filter (corpus-trained LM; high
    perplexity = gibberish/keyword-stuffing whose CHARACTER stats look
    normal to `text_char_lm_score`). Vocab and model are vocab-bounded
    broadcasts; the per-doc stream folds to (doc, l, r, cnt) once.
    Oracle re-derives the identical model in SQL
    (`pipeline/text.py::word_lm_score`)."""
    # cache=False: registry entries run repeatedly (oracle gate, bench)
    return X.word_lm_score(load(spark, sf, "documents"), cache=False)


@register(
    "text_dsir_weight",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    f AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(list_concat(
               list_transform(l, x -> substr(md5(x), 1, 2)),
               list_transform(range(1, len(l)),
                              i -> substr(md5(l[i] || ' ' || l[i + 1]), 1, 2))
             )) AS b
      FROM w WHERE len(l) >= 1
    ),
    fold AS (SELECT doc_id, is_t, b, count(*) AS cnt FROM f GROUP BY 1, 2, 3),
    raw AS (SELECT b, sum(cnt) AS rc FROM fold GROUP BY 1),
    tgt AS (SELECT b, sum(cnt) AS tc FROM fold WHERE is_t GROUP BY 1),
    tot AS (SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM raw) AS rtot,
                   (SELECT CAST(sum(tc) AS DOUBLE) FROM tgt) AS ttot)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_feats,
           round(1e-9 + sum(cnt * (log2((coalesce(tc, 0) + 0.5) / (ttot + 128.0))
                                 - log2((rc + 0.5) / (rtot + 128.0)))), 4)
             AS dsir_logweight
    FROM fold JOIN raw USING (b) LEFT JOIN tgt USING (b) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("pipeline", "sampling", "quality"),
)
def text_dsir_weight(spark: SparkSession, sf: str) -> DataFrame:
    """r15: DSIR hashed n-gram importance weight — rank every document
    by log2(p_target/p_raw) under 256-bucket hashed unigram+bigram
    models (target = lang='en' here; the "more documents like this
    subset" sampler). Both models are 256-row broadcasts by
    construction; one doc-keyed fold feeds model builds AND scoring.
    Oracle re-derives the identical models in SQL
    (`pipeline/text.py::dsir_logweight`)."""
    # cache=False: registry entries run repeatedly (oracle gate)
    return X.dsir_logweight(
        load(spark, sf, "documents"),
        target_pred=F.col("lang") == "en",
        cache=False,
    )


SHARD_MANIFEST_ORACLE = """
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != ''))
               AS n_tokens
      FROM documents
    ), b AS (
      SELECT source, doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (
               ORDER BY source, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens) / 512) AS BIGINT) AS shard_id
      FROM d
    )
    SELECT shard_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           count(DISTINCT source) AS n_sources
    FROM b GROUP BY 1
"""


@register(
    "corpus_shard_manifest",
    oracle=SHARD_MANIFEST_ORACLE,
    tags=("pipeline", "curation", "packing"),
)
def corpus_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """r15: GLOBAL deterministic token-budget shard manifest (budget
    512) — the corpus-materialization step after curation: contiguous,
    reproducibly numbered shards over the canonical (source, doc_id)
    order.  The oracle is the naive single global window cumsum; the
    Spark side is the two-level formulation (per-source offsets from a
    source-count-bounded census + per-source keyed windows) that never
    serializes the corpus through one partition
    (`pipeline/curation.py::shard_assign`)."""
    return C.shard_manifest(load(spark, sf, "documents"), budget=512)


TOKEN_SET_DEDUP_ORACLE = """
    WITH n AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(list_filter(
               string_split(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ',
                                                 'g')), ' '),
               x -> x != ''))), ' ')) AS canon_hash
      FROM documents
    )
    SELECT doc_id, canon_hash,
           CAST(count(*) OVER (PARTITION BY canon_hash) AS BIGINT)
             AS group_size,
           doc_id = min(doc_id) OVER (PARTITION BY canon_hash)
             AS is_canonical
    FROM n
"""


@register(
    "dedup_token_set",
    oracle=TOKEN_SET_DEDUP_ORACLE,
    tags=("pipeline", "dedup", "canonical"),
)
def dedup_token_set(spark: SparkSession, sf: str) -> DataFrame:
    """r15: token-set canonical dedup — case-fold, strip punctuation,
    hash the sorted distinct token set, keep the min-doc_id member of
    each group (the Jaccard=1.0 tier of near-dup detection, and the
    normalize-before-hash pass exact dedup should front-end).  One
    keyed window over the canon hash
    (`pipeline/curation.py::token_set_dedup`)."""
    return C.token_set_dedup(load(spark, sf, "documents"))
