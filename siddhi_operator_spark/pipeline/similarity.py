"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how you'd serve ANN at 100 TB:
- brute-force cosine top-k: exact baseline; broadcast the (small) query
  set against the full corpus — one scan, no shuffle of the corpus.
- sign-LSH bucketed: axis-aligned random-hyperplane LSH (sign bits of
  leading dimensions) → candidates meet only within a bucket; the
  bucket key is the shuffle key, so comparisons scale with bucket
  occupancy, not corpus².

All vector math is Catalyst array expressions (zip_with/aggregate) in
double precision — JVM-side, no Python UDF, same arithmetic the DuckDB
oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..fpround import r4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Bit-identical fast tier of :func:`_dot` for a KNOWN dimension
    (r15 OPT, guide §1.2 per-task work): the zip_with+aggregate fold is
    an interpreted HOF pair (CodegenFallback — per-element lambda
    dispatch), which dominates pairwise scoring joins. For a fixed dim
    the same left-to-right sum unrolls to a flat codegen-able Add chain
    seeded with the fold's 0.0 initial value, so every intermediate
    IEEE rounding step is identical by construction; rows whose arrays
    do not match ``dim`` fall back to the fold. Measured on the
    in-cell pair join of `semantic_dedup_pairs` (251k pairs × dim 64
    at sf0.1): 4.7 → 2.7 s warm, sorted collects equal."""
    s: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        s = s + (
            F.element_at(a, i).cast("double")
            * F.element_at(b, i).cast("double")
        )
    return F.when((F.size(a) == dim) & (F.size(b) == dim), s).otherwise(
        _dot(a, b)
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


#: Above this many query vectors the broadcast tier refuses (driver
#: collect + per-executor matrix both scale with the query set) and
#: `brute_force_topk` auto-switches to the cogroup block tier.
MAX_BROADCAST_QUERIES = 65_536


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Exact cosine top-k. Excludes self-matches. Three implementations
    with identical output:

    - ``impl="arrow"``: the query matrix broadcasts to every
      executor; each Arrow batch of the corpus scores against it with
      one BLAS matmul and keeps only its batch-local top-k per query
      (same rounded-score/id ordering as the final rank), so the
      shuffle carries batches × queries × k rows, not corpus × queries.
      Measured ~6× faster than the expression tier at 200k vectors —
      dense linear algebra is the documented place where a vectorized
      Python kernel beats Catalyst's interpreted higher-order array
      functions. Refuses query sets over ``MAX_BROADCAST_QUERIES``.
    - ``impl="cogroup"``: the large-query-side path — block matrix
      multiply, no driver collect (see `_brute_force_topk_cogroup`).
    - ``impl="catalyst"``: pure zip_with/aggregate expressions (used by
      the LSH/IVF tiers where scoring is join-local); kept for
      JVM-only deployments.
    - ``impl="auto"`` (default): counts the query side once and picks
      arrow below `MAX_BROADCAST_QUERIES`, cogroup above.
    """
    if impl == "auto":
        impl = (
            "arrow"
            if queries.count() <= MAX_BROADCAST_QUERIES
            else "cogroup"
        )
    if impl == "cogroup":
        return _brute_force_topk_cogroup(corpus, queries, k, id_col, vec_col)
    if impl == "arrow":
        return _brute_force_topk_arrow(corpus, queries, k, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        # norms are per-ROW facts: precompute on each side so the pair
        # loop does ONE dot product, not three array aggregates
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("c_norm"),
    )
    scored = c.join(F.broadcast(q), on=F.col("c_id") != F.col("query_id")).select(
        "query_id",
        F.col("c_id").alias("neighbor_id"),
        (
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cos"),
    )
    # rank on the ROUNDED score: engines may sum in different orders, so
    # raw-float ordering could flip near-ties; 4-decimal ranking is
    # deterministic on both sides of the oracle comparison.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("cos", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", r4("cos", 4).alias("cos"), "rank")
    )


def _topk_idx(keys, ids, k: int):
    """Exact (key desc, id asc) top-k indices in O(n) + O(t log t)
    where t = k + ties at the cut: argpartition finds the k-th key
    threshold, then only the >=threshold candidates (k plus any
    rounded-score tie plateau) pay the lexsort. A full lexsort per
    query was the measured bottleneck at 2 M vectors (1.3 M sorts of
    31k elements dominated the BLAS by 10×)."""
    import numpy as np

    n = len(keys)
    if n <= k:
        return np.lexsort((ids, -keys))[:k]
    part = np.argpartition(-keys, k - 1)[:k]
    thresh = keys[part].min()
    cand = np.nonzero(keys >= thresh)[0]
    return cand[np.lexsort((ids[cand], -keys[cand]))][:k]


def _score_cell_topk(c_ids, cm, q_ids, qm, k: int, q_chunk: int = 512):
    """Score one (corpus rows × query rows) cell and return the
    per-query rounded top-k triplets. The query axis is CHUNKED: the
    full score matrix is rows × queries doubles (31k × 20k = 5 GB —
    measured OOM territory), so only a rows × q_chunk slab is ever
    materialized (~128 MB at 31k rows). Rounding (r4 epsilon-bias
    HALF_UP) happens before selection so the chunk-local choice uses
    the FINAL ranking key; self-matches are masked to -inf instead of
    per-query index filtering (vectorized, no 31k bool array per
    query)."""
    import numpy as np

    c_norm = np.sqrt((cm * cm).sum(axis=1))
    oq, on, oc = [], [], []
    for lo in range(0, len(q_ids), q_chunk):
        hi = min(lo + q_chunk, len(q_ids))
        qs = qm[lo:hi]
        q_norm = np.sqrt((qs * qs).sum(axis=1))
        s = (cm @ qs.T) / np.outer(c_norm, q_norm)
        v = s + 1e-9
        r = np.sign(v) * np.floor(np.abs(v) * 1e4 + 0.5) / 1e4
        for j in range(hi - lo):
            keys = r[:, j].copy()
            keys[c_ids == q_ids[lo + j]] = -np.inf  # self-match mask
            sel = _topk_idx(keys, c_ids, k)
            sel = sel[np.isfinite(keys[sel])]
            oq.append(np.full(len(sel), q_ids[lo + j], dtype=np.int64))
            on.append(c_ids[sel])
            oc.append(keys[sel])
    if not oq:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    return np.concatenate(oq), np.concatenate(on), np.concatenate(oc)


def _brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    if len(q_rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"broadcast tier got {len(q_rows)} query vectors "
            f"(> MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}); use "
            'impl="cogroup" (or "auto") for large query sides'
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((qm * qm).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, qm, q_norm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, bq, _b_norm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            oq, on, oc = _score_cell_topk(ids, cm, b_ids, bq, k)
            yield pd.DataFrame(
                {"query_id": oq, "neighbor_id": on, "cos": oc}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _brute_force_topk_cogroup(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    n_blocks: int = 64,
) -> DataFrame:
    """Large-query-side exact top-k: distributed block matrix multiply.

    Neither side fits a broadcast, so express the (intrinsically
    O(corpus × queries)) scoring as a BLOCKED cartesian that Spark can
    schedule: corpus rows hash into ``n_blocks`` blocks; the query set
    is replicated once per block (explode over a block-id sequence —
    the only data inflation, queries × n_blocks); a cogroup on the
    block id hands each task one corpus block + one full query chunk,
    which it scores with a single BLAS matmul and reduces to its
    block-local top-k per query. The final global rank merges
    n_blocks × k candidates per query — shuffle volume
    queries × n_blocks × k, never corpus × queries.

    No driver collect, no per-executor whole-query-matrix residency:
    peak task memory is (corpus_block + query_chunk) — tune
    ``n_blocks`` so corpus/n_blocks fits a task. Same epsilon-bias
    rounding and (score desc, id asc) tiebreak as the broadcast tier,
    so the two tiers are drop-in interchangeable (pinned by test).
    """
    import numpy as np
    import pandas as pd

    # narrow-scan guard: the query-side ×n_blocks explode otherwise
    # runs as one task (1.45 → 1.23 s at sf0.1, r15 — guide §2.5)
    from . import ensure_input_parallelism as _par

    corpus = _par(corpus)
    queries = _par(queries)
    c = corpus.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        F.col(id_col),
        F.col(vec_col),
    )
    q = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
    )

    def score_cell(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf) or not len(qpdf):
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "cos": pd.Series(dtype="float64"),
                }
            )
        ids = cpdf[id_col].to_numpy(dtype=np.int64)
        cm = np.array(cpdf[vec_col].tolist(), dtype=np.float64)
        q_ids = qpdf["query_id"].to_numpy(dtype=np.int64)
        qm = np.array(qpdf["q_vec"].tolist(), dtype=np.float64)
        oq, on, oc = _score_cell_topk(ids, cm, q_ids, qm, k)
        return pd.DataFrame(
            {"query_id": oq, "neighbor_id": on, "cos": oc}
        )

    scored = (
        c.groupBy("blk")
        .cogroup(q.groupBy("blk"))
        .applyInPandas(
            lambda cl, ql: score_cell(cl, ql),
            "query_id long, neighbor_id long, cos double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def sign_lsh_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Axis-aligned hyperplane LSH: bucket id from the sign bits of the
    first n dimensions. Deterministic and engine-portable."""
    bucket = F.lit(0)
    for i in range(n_bits):
        bit = F.when(F.element_at(vec, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket


def lsh_topk(
    corpus: DataFrame,
    k: int = 1,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within the LSH bucket. The
    bucket is the join key — shuffle partitions by bucket, pairwise
    work is sum of bucket², not corpus²."""
    b = corpus.withColumn(
        "bucket", sign_lsh_bucket(F.col(vec_col), n_bits)
    ).withColumn("norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))
    qs = b
    if max_query_id is not None:
        qs = b.filter(F.col(id_col) < max_query_id)
    q = qs.select(
        F.col("bucket"),
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    scored = b.alias("c").join(
        q.alias("q"),
        on=[
            F.col("c.bucket") == F.col("q.bucket"),
            F.col(f"c.{id_col}") != F.col("q.query_id"),
        ],
    ).select(
        "query_id",
        F.col(f"c.{id_col}").alias("neighbor_id"),
        (
            _dot(F.col("q_vec"), F.col(f"c.{vec_col}"))
            / (F.col("q_norm") * F.col("c.norm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("cos", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", r4("cos", 4).alias("cos"), "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the serving-scale tier:

    1. coarse quantizer: `n_cells` centroids, seeded deterministically
       from the first `n_cells` corpus vectors (sample-seeded, zero
       iterations — keeps the quantizer engine-portable and oracle-
       checkable; swap in k-means centroids at deploy time without
       touching the plan shape);
    2. assignment: every vector joins the BROADCAST centroid set and
       takes its argmax-cosine cell — one scan, no corpus shuffle;
    3. probe: each query scores the same centroid set and probes its
       `nprobe` best cells;
    4. candidates meet on cell equality — the cell id is the shuffle
       key, so pairwise work is Σ(cell × probes), not corpus².

    At 100 TB the corpus is written partitioned by cell, so a probe
    reads `nprobe` partitions and everything else is pruned.
    """
    cent = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("cent_norm"),
    )
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )
    scored = base.join(F.broadcast(cent)).select(
        id_col,
        vec_col,
        "norm",
        "cent_id",
        (
            _dot(F.col(vec_col), F.col("cent_vec"))
            / (F.col("norm") * F.col("cent_norm"))
        ).alias("cent_cos"),
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.desc(r4("cent_cos", 4)), F.asc("cent_id")
    )
    ranked = scored.withColumn("cent_rank", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("cent_rank") == 1).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("norm").alias("c_norm"),
        F.col("cent_id").alias("cell"),
    )
    probes = ranked.filter(F.col("cent_rank") <= nprobe)
    if max_query_id is not None:
        probes = probes.filter(F.col(id_col) < max_query_id)
    probes = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("cent_id").alias("cell"),
    )
    cand = cells.join(
        probes, on=[cells.cell == probes.cell, cells.c_id != probes.query_id]
    ).select(
        "query_id",
        F.col("c_id").alias("neighbor_id"),
        (
            _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("cos", 4)), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", r4("cos", 4).alias("cos"), "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding centroids (element-wise mean) in long form
    (label, dim, centroid) — the building block for IVF coarse
    quantizers, cluster summaries, and drift monitoring.

    Scale design: `posexplode` the vector to (label, dim, value) rows —
    n·d rows but each tiny — then ONE keyed agg on (label, dim) with
    map-side partial aggregation; cardinality of the shuffle output is
    labels·dims, i.e. trivially small however large the input. Long
    form keeps the result driver-hashable and join-able; pivot back to
    arrays with `array_agg` ordered by dim when a dense vector is
    needed.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    return exploded.groupBy("label", "dim").agg(
        r4(F.avg("v")).alias("centroid"),
        F.count("*").cast("bigint").alias("n_vectors"),
    )


def pq_topk(
    corpus: DataFrame,
    dims: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
    impl: str = "catalyst",
) -> DataFrame:
    """Product-quantization ANN (the PQ half of IVFADC) — the tier that
    makes 100 TB of embeddings SEARCHABLE IN MEMORY: each vector is
    compressed to ``m`` one-byte codes (64 float32 dims → 8 bytes, a
    32× squeeze), and queries rank candidates with an asymmetric
    distance computation (ADC) — approx dot(q, x) = Σ_j dot(q_j,
    codebook[j][code_j(x)]) — that never touches the original vectors.

    Spark-first layout, all Catalyst (no Python):
    1. codebooks: subspace j's codebook = the j-th subvectors of the
       first ``n_codes`` corpus vectors (sample-seeded like `ivf_topk`,
       so the oracle reproduces it exactly; k-means codebooks swap in
       without changing the plan) — m × n_codes rows, broadcast;
    2. encode: explode each vector to its m subvectors, broadcast-join
       the codebooks, keep the argmin-L2 code per (vector, subspace) —
       one scan + a narrow (id, j) keyed window; the ENCODED corpus
       (id, j, code) is what persists, 8 bytes a vector;
    3. ADC: each query scores every (j, code) cell once into a lookup
       table (m·n_codes rows per query, broadcast), the encoded corpus
       joins it on (j, code), and Σ_j per (query, id) is the approx
       score — shuffle volume is corpus × m CODES, never corpus × dims
       floats.

    Distances are epsilon-rounded (6 dp) before the argmin so code
    assignment is deterministic across engines; scores rank at 4 dp
    with a neighbor-id tiebreak, same contract as the other tiers.

    ``impl="arrow"`` swaps the encode+ADC kernel for a mapInPandas
    BLAS tier (one (batch×sub)×(sub×codes) matmul per subspace,
    batch-local top-k) — same rounding contract, same output (pinned
    by test), measured 6.4× faster at 2 M vectors (75 s → 12 s)
    because Catalyst's higher-order array expressions are interpreted
    per element. The default stays ``catalyst`` — the oracle-parity
    tier.
    """
    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"m={m} must divide dims={dims}")
    if impl == "arrow":
        return _pq_topk_arrow(
            corpus, dims, m, n_codes, k, id_col, vec_col, max_query_id
        )
    vec = F.col(vec_col)
    subs = corpus.select(
        F.col(id_col).alias("vid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(vec, j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("vid", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))

    codebook = subs.filter(F.col("vid") < n_codes).select(
        F.col("j").alias("cb_j"),
        F.col("vid").alias("code"),
        F.col("sv").alias("c_vec"),
    )

    # encode: argmin-L2 code per (vector, subspace); expanded form
    # ||sv||^2 - 2<sv,c> + ||c||^2 matches the oracle's arithmetic
    dist2 = (
        _dot(F.col("sv"), F.col("sv"))
        - 2.0 * _dot(F.col("sv"), F.col("c_vec"))
        + _dot(F.col("c_vec"), F.col("c_vec"))
    )
    enc_scored = subs.join(
        F.broadcast(codebook), F.col("j") == F.col("cb_j")
    ).select("vid", "j", "code", r4(dist2, 6).alias("d2"))
    w_enc = Window.partitionBy("vid", "j").orderBy(F.asc("d2"), F.asc("code"))
    codes = (
        enc_scored.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vid", "j", "code")
    )

    # ADC lookup table: one row per (query, subspace, code)
    q_subs = subs
    if max_query_id is not None:
        q_subs = subs.filter(F.col("vid") < max_query_id)
    lut = q_subs.join(F.broadcast(codebook), F.col("j") == F.col("cb_j")).select(
        F.col("vid").alias("query_id"),
        "j",
        "code",
        _dot(F.col("sv"), F.col("c_vec")).alias("qdot"),
    )

    cand = codes.join(
        F.broadcast(lut),
        on=[
            codes.j == lut.j,
            codes.code == lut.code,
            codes.vid != lut.query_id,
        ],
    ).select("query_id", F.col("vid").alias("neighbor_id"), "qdot")
    scored = cand.groupBy("query_id", "neighbor_id").agg(
        F.sum("qdot").alias("approx_dot")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("approx_dot", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", r4("approx_dot", 4).alias("approx_dot"), "rank"
        )
    )


def _pq_topk_arrow(
    corpus: DataFrame,
    dims: int,
    m: int,
    n_codes: int,
    k: int,
    id_col: str,
    vec_col: str,
    max_query_id: int | None,
) -> DataFrame:
    """Arrow/BLAS kernel for `pq_topk`: identical semantics under the
    engine rounding contract (d2 epsilon-rounded to 6 dp before the
    argmin, code-ascending ties; scores ranked at 4 dp, neighbor-id
    ties) — equivalence with the Catalyst tier is pinned by test.

    The codebook (n_codes vectors) and the query LUTs (queries ×
    m × n_codes doubles) collect to the driver — both tiny by
    construction, the same contract as the k-means centroids in
    `operators/ml.py` — and broadcast; the corpus streams through
    mapInPandas in Arrow batches, each encoded with m small matmuls
    and scored via LUT gathers, emitting only batch-local top-k rows
    per query."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    sub = dims // m
    seeds = (
        corpus.filter(F.col(id_col) < n_codes)
        .select(id_col, vec_col)
        .collect()
    )
    seed_ids = {int(r[0]) for r in seeds}
    if seed_ids != set(range(n_codes)):
        # a zero-filled missing code would silently diverge from the
        # catalyst tier (which simply has no row for that code)
        missing = sorted(set(range(n_codes)) - seed_ids)[:5]
        raise ValueError(
            f"pq_topk seed ids must cover range({n_codes}) exactly; "
            f"got {len(seed_ids)} ids, first missing: {missing}. "
            "Re-id the corpus densely or lower n_codes."
        )
    cb = np.zeros((m, n_codes, sub), dtype=np.float64)
    for r in seeds:
        code = int(r[0])
        v = np.asarray(list(r[1]), dtype=np.float64)
        cb[:, code, :] = v.reshape(m, sub)
    q = corpus
    if max_query_id is not None:
        q = q.filter(F.col(id_col) < max_query_id)
    q_rows = q.select(id_col, vec_col).limit(MAX_BROADCAST_QUERIES + 1).collect()
    if len(q_rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"pq_topk arrow tier got > MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES} query vectors; bound the query set "
            "(max_query_id) or use the catalyst tier, whose LUT join "
            "never collects"
        )
    q_ids = np.array([int(r[0]) for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    # LUT[q, j, c] = dot(q_j, cb[j, c])
    luts = np.einsum("qjs,jcs->qjc", qm.reshape(len(q_ids), m, sub), cb)
    bc = corpus.sparkSession.sparkContext.broadcast((cb, q_ids, luts))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb_, q_ids_, luts_ = bc.value
        cnorm = (cb_ * cb_).sum(axis=2)  # (m, n_codes)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64).reshape(
                len(pdf), m, sub
            )
            # d2[b, j, c] = ||x_bj||^2 - 2 x_bj . c_jc + ||c_jc||^2
            xnorm = (X * X).sum(axis=2)  # (B, m)
            cross = np.einsum("bjs,jcs->bjc", X, cb_)
            d2 = xnorm[:, :, None] - 2.0 * cross + cnorm[None, :, :]
            # HALF_UP like Spark round() — np.round is half-even
            v6 = d2 + 1e-9
            d2r = np.floor(v6 * 1e6 + 0.5) / 1e6
            codes = np.argmin(d2r, axis=2)  # (B, m)
            # scores[q, b] = sum_j luts_[q, j, codes[b, j]]
            jj = np.arange(m)[None, :]
            scores = luts_[:, jj, codes].sum(axis=2)  # (Q, B)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids_)):
                keep = ids != q_ids_[qi]
                s = scores[qi][keep]
                nid = ids[keep]
                v4 = s + 1e-9
                r_ = np.sign(v4) * np.floor(np.abs(v4) * 1e4 + 0.5) / 1e4
                sel = _topk_idx(r_, nid, k)
                out_q.append(np.full(len(sel), q_ids_[qi], dtype=np.int64))
                out_n.append(nid[sel])
                out_s.append(s[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "approx_dot": np.concatenate(out_s),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, approx_dot double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("approx_dot", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            r4("approx_dot", 4).alias("approx_dot"),
            "rank",
        )
    )


def _ivfpq_parts(
    corpus: DataFrame,
    n_cells: int,
    dims: int,
    m: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
):
    """The shared assign/encode halves of the IVFADC family: returns
    (ranked, cells, subs, codebook, codes) with the determinism
    contracts `ivfpq_topk` documents — extracted so the in-memory
    tier and the partitioned-index write/probe pair
    (:func:`ivfpq_index_write` / :func:`ivfpq_index_topk`) are the
    SAME arithmetic, not a copy."""
    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"m={m} must divide dims={dims}")
    vec = F.col(vec_col)
    cent = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("cent_norm"),
    )
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(_dot(vec, vec)).alias("norm"),
    )
    scored = base.join(F.broadcast(cent)).select(
        id_col,
        "cent_id",
        r4(
            _dot(vec, F.col("cent_vec")) / (F.col("norm") * F.col("cent_norm")),
            4,
        ).alias("cc"),
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.desc("cc"), F.asc("cent_id")
    )
    ranked = scored.withColumn("cent_rank", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("cent_rank") == 1).select(
        F.col(id_col).alias("c_id"), F.col("cent_id").alias("cell")
    )
    subs = corpus.select(
        F.col(id_col).alias("vid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(vec, j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("vid", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    codebook = subs.filter(F.col("vid") < n_codes).select(
        F.col("j").alias("cb_j"),
        F.col("vid").alias("code"),
        F.col("sv").alias("c_vec"),
    )
    dist2 = (
        _dot(F.col("sv"), F.col("sv"))
        - 2.0 * _dot(F.col("sv"), F.col("c_vec"))
        + _dot(F.col("c_vec"), F.col("c_vec"))
    )
    enc_scored = subs.join(
        F.broadcast(codebook), F.col("j") == F.col("cb_j")
    ).select("vid", "j", "code", r4(dist2, 6).alias("d2"))
    w_enc = Window.partitionBy("vid", "j").orderBy(F.asc("d2"), F.asc("code"))
    codes = (
        enc_scored.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vid", "j", "code")
    )
    return ranked, cells, subs, codebook, codes


def _ivfpq_rank(cand: DataFrame, k: int) -> DataFrame:
    """Shared ADC rank tail: Σ_j qdot per (query, neighbor), 4-dp
    score with neighbor-id tiebreak, top-k via WindowGroupLimit."""
    scored_q = cand.groupBy("query_id", "neighbor_id").agg(
        F.sum("qdot").alias("approx_dot")
    )
    return _ivfpq_rank_scored(scored_q, k)


def _ivfpq_rank_scored(scored_q: DataFrame, k: int) -> DataFrame:
    """Rank tail over already-summed (query_id, neighbor_id,
    approx_dot) rows — the wide probe path lands here directly (its
    per-row codegen ADC sum replaces the groupBy)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("approx_dot", 4)), F.asc("neighbor_id")
    )
    return (
        scored_q.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            r4("approx_dot", 4).alias("approx_dot"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    dims: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = None,
) -> DataFrame:
    """IVFADC proper — the two halves composed: the coarse IVF
    quantizer prunes WHICH vectors a query scores (`nprobe` cells out
    of `n_cells`, the partition-pruning half), and PQ codes decide HOW
    each survivor is scored (8-byte ADC lookup sums, the memory half).
    This is the tier a 100 TB serving deployment actually runs: the
    corpus persists as (cell, m one-byte codes) — written partitioned
    by cell so a probe READS only `nprobe` partitions — and the scored
    payload per candidate is m code rows, never `dims` floats. Shuffle
    volume: Σ(probed-cell sizes) × m, vs ivf's × dims floats and pq's
    corpus × m (no pruning).

    Same determinism contracts as the parent tiers (`ivf_topk`
    sample-seeded centroids, argmax-cosine at 4 dp; `pq_topk`
    sample-seeded codebooks, argmin-L2 at 6 dp, ADC rank at 4 dp with
    neighbor-id tiebreak), so the DuckDB oracle reproduces the whole
    assign→encode→probe→ADC pipeline bit-for-bit. Codes are computed
    on the raw vectors, not cell residuals: residual encoding buys
    accuracy but makes the codebook depend on the (float-summed)
    centroid subtraction order — the engine-portability contract wins
    here, and k-means/residual codebooks swap in at deploy time
    without changing the plan shape."""
    ranked, cells, subs, codebook, codes = _ivfpq_parts(
        corpus, n_cells, dims, m, n_codes, id_col, vec_col
    )
    probes = ranked.filter(F.col("cent_rank") <= nprobe)
    if max_query_id is not None:
        probes = probes.filter(F.col(id_col) < max_query_id)
    probes = probes.select(
        F.col(id_col).alias("query_id"), F.col("cent_id").alias("cell")
    )
    q_subs = subs
    if max_query_id is not None:
        q_subs = subs.filter(F.col("vid") < max_query_id)
    lut = q_subs.join(F.broadcast(codebook), F.col("j") == F.col("cb_j")).select(
        F.col("vid").alias("query_id"),
        "j",
        "code",
        _dot(F.col("sv"), F.col("c_vec")).alias("qdot"),
    )

    # --- compose: a candidate is scored ONLY if its cell is probed by
    # the query. The coded corpus carries its cell (narrow id-keyed
    # join — at deploy time the cell is a partition column and this
    # join disappears into the layout: ivfpq_index_write/_topk below);
    # probes prune, the LUT (m × n_codes rows per query) scores, Σ_j
    # folds map-side.
    coded = codes.join(cells, codes.vid == cells.c_id).select(
        "vid", "cell", "j", "code"
    )
    # no hard broadcast hints: probes/lut are QUERY-proportional (and
    # corpus-sized when max_query_id=None) — the r6/r7 lesson. AQE
    # broadcasts both from runtime stats whenever the query set is
    # actually small; at scale they degrade to keyed shuffles.
    cand = (
        coded.join(probes, "cell")
        .filter(F.col("vid") != F.col("query_id"))
        .join(lut, ["query_id", "j", "code"])
        .select("query_id", F.col("vid").alias("neighbor_id"), "qdot")
    )
    return _ivfpq_rank(cand, k)


def ivfpq_index_write(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    dims: int = 64,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVFADC index the way a 100 TB deployment lays it
    out: the encoded corpus — (vid, j, code) rows, 8 bytes of payload
    per vector — written **partitioned by cell** so a probe reads
    `nprobe` directories and partition pruning does the IVF half at
    the FILE layout, plus the two bounded quantizer artifacts
    (`n_cells` centroids, m×n_codes codebook) as plain parquet. Same
    `_ivfpq_parts` arithmetic as the in-memory tier, so
    :func:`ivfpq_index_topk` over this layout returns bit-identical
    results to :func:`ivfpq_topk` (equivalence pinned by the
    `similarity_ivfpq_index` oracle row — same oracle SQL).

    A rebuild REPLACES the index, so any state a previous life of this
    path left behind is discarded first (r12 review): a torn or
    committed-but-unswapped compaction (`.compact`/`.compact_old` —
    rolling it forward LATER would rename pre-rebuild cell data over
    the fresh cells) and the whole exactly-once ingest manifest
    (`codes_inc` batch dirs AND `_folded` tombstones — old-index
    batches must neither union into probes of the new index nor
    shadow a new stream's batch ids)."""
    spark = corpus.sparkSession
    P, fs = _hfs(spark, path)
    for stale in (".compact", ".compact_old", "codes_inc"):
        fs.delete(P(f"{path}/{stale}"), True)
    _, cells, _, codebook, codes = _ivfpq_parts(
        corpus, n_cells, dims, m, n_codes, id_col, vec_col
    )
    cent = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    coded = codes.join(cells, codes.vid == cells.c_id).select(
        "vid", "j", "code", "cell"
    )
    coded.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    _PROBE_STATS.pop(path, None)


def _ivfpq_encode_frozen(
    df: DataFrame,
    cent: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign cells + PQ-encode with FROZEN quantizer artifacts — the
    incremental-index half of the IVFADC family. Identical arithmetic
    to :func:`_ivfpq_parts` (4-dp argmax-cosine assignment with
    cent_id tiebreak, 6-dp argmin-L2 codes with code tiebreak), but
    the centroids/codebook come from the persisted index instead of
    being re-seeded — which is exactly why appended vectors encode
    bit-identically to a full rebuild (the quantizers are the same
    frozen constants either way). Returns (vid, j, code, cell)."""
    vec = F.col(vec_col)
    cent = cent.select(
        "cent_id",
        "cent_vec",
        F.sqrt(_dot(F.col("cent_vec"), F.col("cent_vec"))).alias("cent_norm"),
    )
    base = df.select(F.col(id_col), vec, F.sqrt(_dot(vec, vec)).alias("norm"))
    scored = base.join(F.broadcast(cent)).select(
        id_col,
        "cent_id",
        r4(
            _dot(vec, F.col("cent_vec")) / (F.col("norm") * F.col("cent_norm")),
            4,
        ).alias("cc"),
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.desc("cc"), F.asc("cent_id")
    )
    cells = (
        scored.withColumn("r", F.row_number().over(w_assign))
        .filter(F.col("r") == 1)
        .select(F.col(id_col).alias("c_id"), F.col("cent_id").alias("cell"))
    )
    m = codebook.agg(F.countDistinct("cb_j")).collect()[0][0]
    sub = len(codebook.select("c_vec").first()[0])
    subs = df.select(
        F.col(id_col).alias("vid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("vid", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    dist2 = (
        _dot(F.col("sv"), F.col("sv"))
        - 2.0 * _dot(F.col("sv"), F.col("c_vec"))
        + _dot(F.col("c_vec"), F.col("c_vec"))
    )
    enc = subs.join(
        F.broadcast(codebook), F.col("j") == F.col("cb_j")
    ).select("vid", "j", "code", r4(dist2, 6).alias("d2"))
    w_enc = Window.partitionBy("vid", "j").orderBy(F.asc("d2"), F.asc("code"))
    codes = (
        enc.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vid", "j", "code")
    )
    return codes.join(cells, codes.vid == cells.c_id).select(
        "vid", "j", "code", "cell"
    )


def ivfpq_index_append(
    corpus_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance (r8 verdict ask #7): a 100 TB
    corpus APPENDS — rewriting the whole index per ingest batch is a
    corpus-sized job for a batch-sized change. Encode ONLY the new
    vectors with the index's FROZEN quantizers (read back from the
    layout `ivfpq_index_write` persisted) and append their 8-byte code
    rows to the cell partitions; the centroid/codebook artifacts are
    untouched, so append-then-probe is bit-identical to
    rebuild-then-probe over the union corpus (pinned by the
    `similarity_ivfpq_append` oracle row and a direct equality test).
    Work is new-batch-sized: one broadcast of the bounded quantizers,
    two keyed windows over the batch, and a partitioned append that
    only touches the cells the batch lands in.

    Opens with :func:`ivfpq_compact_recover` (three `exists()` calls
    when clean — r12): appending into a layout torn by a mid-compaction
    crash is the one sequence that could lose rows (a base cell
    displaced to `.compact_old` mid-swap, recreated by this append
    with ONLY the new rows, would have those new rows displaced-then-
    dropped by a LATER roll-forward); recovering first makes the
    layout whole before any cell dir is touched."""
    spark = corpus_new.sparkSession
    ivfpq_compact_recover(spark, path)
    cent = spark.read.parquet(f"{path}/centroids")
    codebook = spark.read.parquet(f"{path}/codebook")
    coded = _ivfpq_encode_frozen(corpus_new, cent, codebook, id_col, vec_col)
    coded.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")
    _PROBE_STATS.pop(path, None)


def _hfs(spark, path: str):
    """(jvm Path class, FileSystem) for ``path`` — Hadoop FS so every
    scheme works (same house pattern as `streaming.sinks.EpochStore`)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm.org.apache.hadoop.fs.Path, hpath.getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def ivfpq_inc_batches(spark, path: str) -> list[str]:
    """COMMITTED exactly-once ingest batches under ``{path}/codes_inc``
    (see `streaming.similarity.ivfpq_ingest_sink(exactly_once=True)`):
    each micro-batch stages to a dot-prefixed temp dir (invisible to
    Spark's file index) and COMMITS via one atomic directory rename to
    `batch=<stream_id>-<batch_id>` (the stream id scopes the manifest
    to its checkpoint — r12 review). Existence of the `batch=` dir
    marks a LIVE committed batch; once compaction folds it into the
    base cells the dir is replaced by a `_folded/batch=...` tombstone
    (r12 — the replay guard must survive the fold, see
    :func:`ivfpq_folded_batches`), so "ever committed" = live dir ∪
    tombstone and a torn append is neither."""
    P, fs = _hfs(spark, path)
    inc = P(f"{path}/codes_inc")
    if not fs.exists(inc):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(inc)
        if st.getPath().getName().startswith("batch=")
    )


def ivfpq_folded_batches(spark, path: str) -> list[str]:
    """Tombstones of exactly-once ingest batches that COMPACTION has
    folded into the base cells (r12, closing the r11 replay hole:
    `ivfpq_index_compact` used to delete `codes_inc/batch=<id>` — the
    very dir the sink's replay check consults — so a batch folded
    inline before Spark committed its offsets would re-ingest on
    replay and double-count in every probe). Each tombstone is one
    EMPTY file `codes_inc/_folded/batch=<id>`, created durably BEFORE
    the swap that moves the batch's rows into the base cells; the
    replay check is `exists(batch dir) or exists(tombstone)` — O(1)
    per batch, never a listing. Tombstones are bytes-free and accrue
    one per folded batch; they must outlive the streaming engine's
    replay horizon, which is unknowable from here, so nothing prunes
    them automatically (a deployment that retires a checkpoint may
    drop the `_folded` dir with it)."""
    P, fs = _hfs(spark, path)
    d = P(f"{path}/codes_inc/_folded")
    if not fs.exists(d):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(d)
        if st.getPath().getName().startswith("batch=")
    )


def _mark_folded(fs, P, path: str, batch_name: str) -> None:
    """Create the empty `codes_inc/_folded/<batch_name>` tombstone (an
    atomic create-and-close; idempotent under re-run)."""
    dst = P(f"{path}/codes_inc/_folded/{batch_name}")
    if not fs.exists(dst):
        fs.create(dst, True).close()


def _compact_finish(spark, path: str) -> None:
    """Complete (or re-complete) a compaction swap: move every cell
    still staged under `.compact` into `codes/`, delete every batch
    dir that carries a `_folded` tombstone, then drop the staging
    dirs. This IS the tail of :func:`ivfpq_index_compact` — recovery
    after a mid-swap crash simply re-runs it, because every step is
    idempotent: a cell already swapped is gone from `.compact`, a
    batch already deleted fails the exists() check, and the displaced
    old cell data waits in `.compact_old` until the very end (so no
    crash point leaves a cell absent from `codes/` — the r11 ADVICE
    mid-swap data-loss window)."""
    P, fs = _hfs(spark, path)
    staged = P(f"{path}/.compact")
    if fs.exists(staged):
        for st in fs.listStatus(staged):
            name = st.getPath().getName()
            if not name.startswith("cell="):
                continue
            base = P(f"{path}/codes/{name}")
            old = P(f"{path}/.compact_old/{name}")
            if fs.exists(base):
                fs.delete(old, True)
                fs.mkdirs(P(f"{path}/.compact_old"))
                if not fs.rename(base, old):
                    raise RuntimeError(
                        f"compaction swap: rename {base} -> {old} failed"
                    )
            if not fs.rename(st.getPath(), base):
                raise RuntimeError(
                    f"compaction swap: rename {st.getPath()} -> {base} failed"
                )
    # only tombstoned batches whose dirs are STILL LIVE need deleting
    # (exactly the set the committed swap folded); iterating every
    # tombstone ever written would make this tail O(stream age) in
    # no-op delete calls (r12 review)
    folded = set(ivfpq_folded_batches(spark, path))
    for b in ivfpq_inc_batches(spark, path):
        if b in folded:
            fs.delete(P(f"{path}/codes_inc/{b}"), True)
    fs.delete(staged, True)
    fs.delete(P(f"{path}/.compact_old"), True)


def ivfpq_compact_recover(spark, path: str) -> str:
    """Crash-recovery preamble for :func:`ivfpq_index_compact` (r12,
    closing the r11 ADVICE mid-swap window: a re-run after a crash
    between the two per-cell renames used to overwrite `.compact` and
    delete `.compact_old` — permanently dropping the displaced cell).
    Decide from the on-disk markers which side of the commit point the
    crash fell on and make the layout whole:

    * `.compact/_COMMIT_CELLS` exists — the staged write finished and
      the fold was committed: ROLL FORWARD (re-run the idempotent
      swap tail, :func:`_compact_finish`).
    * `.compact` / `.compact_old` exist without the commit marker —
      a torn staged write: ROLL BACK (delete both; base cells were
      never touched, tombstones written pre-commit are harmless
      because a tombstoned batch whose dir survives is still live and
      the replay check is an OR over both).
    * neither — clean; no-op.

    Returns "forward" / "back" / "clean". Called automatically at the
    top of :func:`ivfpq_index_compact` and per-batch by the
    exactly-once sink (three `exists()` calls when clean)."""
    P, fs = _hfs(spark, path)
    if fs.exists(P(f"{path}/.compact/_COMMIT_CELLS")):
        _compact_finish(spark, path)
        _PROBE_STATS.pop(path, None)
        return "forward"
    if fs.exists(P(f"{path}/.compact")) or fs.exists(
        P(f"{path}/.compact_old")
    ):
        fs.delete(P(f"{path}/.compact"), True)
        fs.delete(P(f"{path}/.compact_old"), True)
        return "back"
    return "clean"


def _cell_fragments(spark, path: str) -> dict[int, int]:
    """data-file count per `cell=N` partition dir of ``{path}/codes``
    — pure FS metadata (one listStatus per cell), no Spark job."""
    P, fs = _hfs(spark, path)
    root = P(f"{path}/codes")
    out: dict[int, int] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("cell="):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if not f.getPath().getName().startswith(("_", "."))
        )
        out[int(name.split("=", 1)[1])] = n
    return out


def ivfpq_index_compact(
    spark,
    path: str,
    max_fragments_per_cell: int = 8,
    target_file_mb: int = 128,
) -> dict:
    """Rewrite fragmented cell partitions of an
    :func:`ivfpq_index_write` layout into sized files, and FOLD any
    committed exactly-once ingest batches (`codes_inc/batch=*`) into
    the base cells (SCALEBENCH r10 found the operational tax this
    removes: per-trigger appends fragmented the cells until a probe
    off the served layout cost 1.5× a probe off a fresh rebuild —
    550.9 s vs 373.1 s at 2 M vectors).

    The quantizers are FROZEN, so this is a pure file-level rewrite:
    no re-encoding, no corpus re-scan — ALL touched cells are read in
    ONE Spark job (their fragments plus the committed inc batches,
    partition-cell column preserved via basePath), salted so each
    cell lands in ceil(bytes / target_file_mb) output files, written
    `partitionBy(cell)` to a staging dir, then swapped in with two
    directory renames per cell (FS metadata ops — a per-cell job loop
    would be #cells tiny Spark jobs, the wrong shape at any scale).
    Work scales with the FRAGMENTED cells' bytes, never the index.
    Probe-before == probe-after bit-identically (pinned by
    `tests/test_pipeline.py`).

    Crash recovery (r12 — replaces the r11 "crash honesty" caveat
    with an actual protocol): every run opens with
    :func:`ivfpq_compact_recover`. The commit point is one empty
    marker file `.compact/_COMMIT_CELLS`, created only after the
    staged write finished AND every folded batch got its durable
    `codes_inc/_folded/batch=<id>` tombstone (the replay guard that
    survives the fold — the r11 exactly-once hole). Before the
    marker, a crash rolls BACK (staged data discarded, base cells and
    batch dirs untouched); after it, a crash rolls FORWARD by
    re-running the idempotent swap tail (:func:`_compact_finish`) —
    at no crash point is a cell absent from `codes/` or a batch's
    rows double-readable, because a cell's old data waits in
    `.compact_old` until the whole swap lands and a batch dir is
    deleted only after its rows are swapped into base under the same
    commit. Probes remain single-writer-coupled DURING the swap
    itself (a probe racing the renames could read a cell twice);
    ingest and maintenance stay one process — the sink's checkpoint
    already implies it, and the sink runs recovery per batch.

    Returns {"cells": n_rewritten, "files_before": _, "files_after": _,
    "folded_batches": [...]}.
    """
    P, fs = _hfs(spark, path)
    ivfpq_compact_recover(spark, path)
    frags = _cell_fragments(spark, path)
    batches = ivfpq_inc_batches(spark, path)
    inc_cells: set[int] = set()
    for b in batches:
        for st in fs.listStatus(P(f"{path}/codes_inc/{b}")):
            name = st.getPath().getName()
            if name.startswith("cell="):
                inc_cells.add(int(name.split("=", 1)[1]))
    todo = sorted(
        inc_cells | {c for c, n in frags.items() if n > max_fragments_per_cell}
    )
    files_before = sum(frags.values())
    if not todo:
        return {
            "cells": 0,
            "files_before": files_before,
            "files_after": files_before,
            "folded_batches": [],
        }
    base_srcs, nbytes = [], 0
    for cell in todo:
        d = f"{path}/codes/cell={cell}"
        if fs.exists(P(d)):
            base_srcs.append(d)
            for f in fs.listStatus(P(d)):
                if not f.getPath().getName().startswith(("_", ".")):
                    nbytes += f.getLen()
    # fragment files carry only (vid, j, code) — `cell` comes back
    # from the partition directory name via basePath
    parts = []
    if base_srcs:
        parts.append(
            spark.read.option("basePath", f"{path}/codes")
            .parquet(*base_srcs)
            .select("vid", "j", "code", "cell")
        )
    if batches:
        inc_srcs = [f"{path}/codes_inc/{b}" for b in batches]
        for s in inc_srcs:
            for st in fs.listStatus(P(s)):
                if st.getPath().getName().startswith("cell="):
                    for f in fs.listStatus(st.getPath()):
                        if not f.getPath().getName().startswith(("_", ".")):
                            nbytes += f.getLen()
        parts.append(
            spark.read.option("basePath", f"{path}/codes_inc")
            .parquet(*inc_srcs)
            .select("vid", "j", "code", "cell")
        )
    merged = parts[0]
    for p_ in parts[1:]:
        merged = merged.unionByName(p_)
    # files per cell from the measured bytes (one write job for every
    # touched cell): the salt splits WITHIN a cell when a cell
    # outgrows target_file_mb; hash-repartition on (cell, salt) makes
    # one output file per present (cell, salt) pair
    per_cell = max(
        1, -(-nbytes // (len(todo) * target_file_mb * 1024 * 1024))
    )
    staged = (
        merged.withColumn(
            "_salt", F.pmod(F.xxhash64("vid"), F.lit(int(per_cell)))
        )
        .repartition(len(todo) * int(per_cell), F.col("cell"), F.col("_salt"))
        .drop("_salt")
    )
    staged.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/.compact"
    )
    # durable fold manifest BEFORE the commit point: a replayed batch
    # must stay detectable after its dir is gone (r11 verdict #1)
    for b in batches:
        _mark_folded(fs, P, path, b)
    fs.create(P(f"{path}/.compact/_COMMIT_CELLS"), True).close()
    _compact_finish(spark, path)
    _PROBE_STATS.pop(path, None)
    return {
        "cells": len(todo),
        "files_before": files_before,
        "files_after": sum(_cell_fragments(spark, path).values()),
        "folded_batches": batches,
    }


#: Probe-geometry guard (r10's own decade lesson — nprobe × n_queries
#: IS corpus geometry: a 4 k-query × nprobe=32 probe of the 2 M-vector
#: index multiplied the candidate join ~25× over the proven shape and
#: spilled the box's 64 GB of free disk). The estimate is
#: n_queries × nprobe × (code rows / cells); the r8/r10-proven decade
#: shape (1 k queries × nprobe=4 × 250 k rows/cell) is 1e9 — the
#: default refuses past 2× that headroom, and
#: `ivfpq_index_topk_chunked` is the derived-geometry alternative
#: (query chunks sized so each probe stays under the cap).
MAX_PROBE_CANDIDATES = 2_000_000_000

#: (code_rows, n_cells) per index path — the guard's two corpus-side
#: counts change ONLY on write/append/compact, so every mutator
#: invalidates and frequent small probes pay zero eager actions for
#: them (ADVICE r11: the default-on guard ran three actions per
#: probe). Process-local by design: the single-writer contract the
#: layout already carries makes a stale entry impossible from the
#: process that owns the index, and a fresh process starts cold.
_PROBE_STATS: dict[str, tuple[int, int]] = {}


def _probe_stats(spark, path: str) -> tuple[int, int]:
    """(code_rows, n_cells) for the guard/chunk arithmetic — parquet
    footer counts, cached per index path until a mutator invalidates
    (see `_PROBE_STATS`)."""
    st = _PROBE_STATS.get(path)
    if st is None:
        code_rows = int(_ivfpq_codes_union(spark, path).count())
        n_cells = max(
            1, int(spark.read.parquet(f"{path}/centroids").count())
        )
        st = (code_rows, n_cells)
        _PROBE_STATS[path] = st
    return st


def _probe_estimate(
    spark, path: str, queries: DataFrame, id_col: str
) -> tuple[int, int, int]:
    """(n_queries, code_rows, n_cells) — the chunk derivation's
    inputs: cached corpus-side counts + ONE query count (the chunked
    driver genuinely needs the exact n_q to size its loop; the inline
    guard in `ivfpq_index_topk` does NOT and uses a limit-bounded
    count instead)."""
    n_q = queries.select(id_col).count()
    code_rows, n_cells = _probe_stats(spark, path)
    return int(n_q), code_rows, n_cells


def _ivfpq_codes_union(spark, path: str) -> DataFrame:
    """The full committed code set: base cells + manifested
    exactly-once ingest batches (footer-only plan until consumed)."""
    codes = spark.read.parquet(f"{path}/codes")
    if ivfpq_inc_batches(spark, path):
        inc = (
            spark.read.option("basePath", f"{path}/codes_inc")
            .parquet(f"{path}/codes_inc")
            .select("vid", "j", "code", "cell")
        )
        return codes.select("vid", "j", "code", "cell").unionByName(inc)
    return codes.select("vid", "j", "code", "cell")


def ivfpq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_rows: int | None = MAX_PROBE_CANDIDATES,
    impl: str = "wide",
) -> DataFrame:
    """Serve ANN from the :func:`ivfpq_index_write` layout: queries
    rank the (bounded, broadcast) centroid set for their `nprobe`
    probe cells and score ONLY those cells' code partitions via ADC —
    `cell` is the PARTITION column of the codes table, so the probe
    list becomes a file-level skip (`tests/test_plans.py` pins it).
    Two probe implementations, bit-identical (pinned by unit test and
    a decade A/B):

    * ``impl="wide"`` (default — 2.9× the long path at the 2 M-vector
      decade, SCALEBENCH r11): pivot each probed cell's code rows to
      ONE row per vector, compute the ADC sum per row in codegen over
      a fixed j order, rank directly — the m×-larger candidate join
      and its re-aggregation never materialize. DPP cannot reach a
      scan under an Aggregate, so the skip is STATIC: the probed cell
      set (bounded by n_cells, the centroid-broadcast boundedness
      class) collects once and pushes `cell IN (...)` into
      PartitionFilters.
    * ``impl="long"``: per-(vector, j) candidate join + groupBy sum,
      dynamic partition pruning on the scan.

    Committed exactly-once ingest batches (`codes_inc/batch=*`, see
    `streaming.similarity.ivfpq_ingest_sink`) are probed as a second
    candidate branch unioned BELOW the rank — per-branch joins so the
    partition skip lands on BOTH scans (`cell` is a partition column
    of each).

    Probe geometry is corpus geometry (r11 guard, from r10's own
    failed cut): the candidate join materializes
    ≈ n_queries × nprobe × rows-per-cell rows, and a mis-sized probe
    batch spills — so the estimate is computed from two metadata
    counts and refused past ``max_candidate_rows`` (default
    `MAX_PROBE_CANDIDATES`) with the derived safe query-chunk size in
    the message; `ivfpq_index_topk_chunked` runs that derivation
    automatically. ``None`` disables the guard. Guard cost (ADVICE
    r11): the corpus-side counts cache per path until a mutator
    invalidates, and the query side is a LIMIT-bounded count — it
    never needs the exact n_q, only "more than the safe bound or
    not", so an arbitrary upstream query plan stops at safe+1 rows."""
    if impl not in ("wide", "long"):
        raise ValueError(
            f"impl must be 'wide' or 'long', got {impl!r} — a typo'd "
            "impl used to fall through to the long path silently"
        )
    cent = spark.read.parquet(f"{path}/centroids").select(
        "cent_id",
        "cent_vec",
        F.sqrt(_dot(F.col("cent_vec"), F.col("cent_vec"))).alias("cent_norm"),
    )
    codebook = spark.read.parquet(f"{path}/codebook")
    codes = spark.read.parquet(f"{path}/codes")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("q_norm"),
    )
    q_scored = q.join(F.broadcast(cent)).select(
        "query_id",
        "q_vec",
        "cent_id",
        r4(
            _dot(F.col("q_vec"), F.col("cent_vec"))
            / (F.col("q_norm") * F.col("cent_norm")),
            4,
        ).alias("cc"),
    )
    w_assign = Window.partitionBy("query_id").orderBy(
        F.desc("cc"), F.asc("cent_id")
    )
    probes = (
        q_scored.withColumn("cent_rank", F.row_number().over(w_assign))
        .filter(F.col("cent_rank") <= nprobe)
        .select("query_id", F.col("cent_id").alias("cell"))
    )
    m = codebook.agg(F.countDistinct("cb_j")).collect()[0][0]
    dims = len(codebook.select("c_vec").first()[0]) * m
    sub = dims // m
    if max_candidate_rows is not None:
        code_rows, n_cells = _probe_stats(spark, path)
        # the wide path materializes ONE candidate row per (query,
        # probed vector) instead of one per (query, vector, j)
        per_query = max(
            1,
            nprobe * code_rows // n_cells // (m if impl == "wide" else 1),
        )
        if per_query > max_candidate_rows:
            # a SINGLE query already exceeds the cap — no chunking can
            # help (the r12 review caught the safe=max(1,...) clamp
            # silently admitting this shape the old est-check refused)
            raise ValueError(
                f"probe would materialize ~{per_query:,} candidate "
                f"rows PER QUERY (nprobe={nprobe} × "
                f"~{code_rows // n_cells:,} code rows/cell"
                f"{' ÷ m' if impl == 'wide' else ''}) > "
                f"max_candidate_rows={max_candidate_rows:,} — "
                f"chunking cannot reduce this; lower nprobe or raise "
                f"max_candidate_rows explicitly."
            )
        safe = max_candidate_rows // per_query
        # limit-bounded count: stops the (arbitrary) query plan at
        # safe+1 rows — the guard only needs the comparison, not n_q.
        # Skip when safe exceeds DataFrame.limit's Int32 ceiling: no
        # real query set reaches 2^31 rows, and limit() would raise.
        if safe < 2**31 - 1:
            n_q = queries.select(id_col).limit(safe + 1).count()
            if n_q > safe:
                raise ValueError(
                    f"probe would materialize >{safe * per_query:,} "
                    f"candidate rows (>{safe:,} queries × "
                    f"nprobe={nprobe} × "
                    f"~{code_rows // n_cells:,} code rows/cell) > "
                    f"max_candidate_rows={max_candidate_rows:,} — the "
                    f"shape that spilled 64 GB at the 2 M-vector "
                    f"decade. Probe ≤{safe:,} queries per batch (see "
                    f"ivfpq_index_topk_chunked), lower nprobe, or "
                    f"raise max_candidate_rows explicitly."
                )
    q_subs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("query_id", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    lut = q_subs.join(
        F.broadcast(codebook), F.col("j") == F.col("cb_j")
    ).select(
        "query_id", "j", "code", _dot(F.col("sv"), F.col("c_vec")).alias("qdot")
    )
    inc_df = None
    if ivfpq_inc_batches(spark, path):
        inc_df = (
            spark.read.option("basePath", f"{path}/codes_inc")
            .parquet(f"{path}/codes_inc")
            .select("vid", "j", "code", "cell")
        )

    if impl == "wide":
        # r11 probe shape (A/B'd at the 2 M decade — see SCALEBENCH):
        # pivot each probed cell's code rows to ONE row per vector
        # (vid, c0..c{m-1}) BEFORE the candidate join, so the join
        # materializes n_queries × probed-vectors rows instead of m×
        # that, the per-row ADC sum runs in codegen over a fixed j
        # order, and the 1e9-row groupBy re-aggregation disappears.
        # DPP does not reach a scan under an Aggregate (measured), so
        # the file skip is STATIC: the probed cell set is bounded by
        # n_cells (the same boundedness as the centroid broadcast) —
        # collect it and push `cell IN (...)` into the scan's
        # PartitionFilters (plan-pinned; stronger than DPP, no
        # subquery wait).
        cells_list = [
            r[0] for r in probes.select("cell").distinct().collect()
        ]
        lut_j = lut.groupBy("query_id", "j").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "qdot"))),
                lambda e: e["qdot"],
            ).alias("arr")
        )
        lutw = lut_j.groupBy("query_id").agg(
            *[
                F.first(
                    F.when(F.col("j") == j, F.col("arr")),
                    ignorenulls=True,
                ).alias(f"a{j}")
                for j in range(m)
            ]
        )

        def _scored(codes_df: DataFrame) -> DataFrame:
            pruned = codes_df.withColumn(
                "cell", F.col("cell").cast("long")
            ).filter(F.col("cell").isin(cells_list))
            wide = pruned.groupBy("vid", "cell").agg(
                *[
                    F.max(
                        F.when(F.col("j") == j, F.col("code"))
                    ).alias(f"c{j}")
                    for j in range(m)
                ]
            )
            adc = None
            for j in range(m):
                term = F.element_at(
                    F.col(f"a{j}"), F.col(f"c{j}").cast("int") + 1
                )
                adc = term if adc is None else adc + term
            return (
                wide.join(probes, "cell")
                .filter(F.col("vid") != F.col("query_id"))
                .join(lutw, "query_id")
                .select(
                    "query_id",
                    F.col("vid").alias("neighbor_id"),
                    adc.alias("approx_dot"),
                )
            )

        scored = _scored(codes)
        if inc_df is not None:
            scored = scored.unionByName(_scored(inc_df))
        return _ivfpq_rank_scored(scored, k)

    def _cand(codes_df: DataFrame) -> DataFrame:
        return (
            codes_df.withColumn("cell", F.col("cell").cast("long"))
            .join(probes, "cell")
            .filter(F.col("vid") != F.col("query_id"))
            .join(lut, ["query_id", "j", "code"])
            .select("query_id", F.col("vid").alias("neighbor_id"), "qdot")
        )

    cand = _cand(codes)
    if inc_df is not None:
        cand = cand.unionByName(_cand(inc_df))
    return _ivfpq_rank(cand, k)


def ivfpq_index_topk_chunked(
    spark,
    path: str,
    queries: DataFrame,
    out_path: str,
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_rows: int = MAX_PROBE_CANDIDATES,
    impl: str = "wide",
) -> DataFrame:
    """The derived-geometry alternative the
    :func:`ivfpq_index_topk` guard points at: when the query set is
    too large to probe in one candidate join, split it into
    hash-balanced chunks each under ``max_candidate_rows`` (the same
    estimate arithmetic as the guard — `mips_ann_bits` discipline:
    geometry derived from measured corpus stats, not hand-tuned) and
    probe them SEQUENTIALLY, appending each chunk's bounded top-k to
    ``out_path``. Peak shuffle footprint is one chunk's candidates;
    total work is identical to the refused single join. Returns the
    read-back union."""
    n_q, code_rows, n_cells = _probe_estimate(
        spark, path, queries, id_col
    )
    m = int(
        spark.read.parquet(f"{path}/codebook")
        .agg(F.countDistinct("cb_j"))
        .collect()[0][0]
    )
    per_query = max(
        1, nprobe * code_rows // n_cells // (m if impl == "wide" else 1)
    )
    if per_query > max_candidate_rows:
        raise ValueError(
            f"a SINGLE query materializes ~{per_query:,} candidate "
            f"rows > max_candidate_rows={max_candidate_rows:,} — "
            f"chunking cannot reduce this; lower nprobe or raise "
            f"max_candidate_rows explicitly."
        )
    safe = max_candidate_rows // per_query
    n_chunks = max(1, -(-n_q // safe))
    for i in range(n_chunks):
        chunk = queries.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)) == i
        )
        out = ivfpq_index_topk(
            spark, path, chunk, nprobe=nprobe, k=k, id_col=id_col,
            vec_col=vec_col, max_candidate_rows=None, impl=impl,
        )
        out.write.mode("append" if i else "overwrite").parquet(out_path)
    return spark.read.parquet(out_path)


def normalize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: bool = True,
) -> DataFrame:
    """Embedding preprocessing for ANN: optional mean-centering (the
    per-dimension corpus mean folds to ONE broadcast row) then L2
    normalization — after which cosine == dot, so every downstream
    tier (brute-force, LSH, IVF, PQ) can skip per-pair norm math.

    Pure Catalyst: one posexplode → per-dim avg (map-side combinable,
    dims rows) → dense mean array in a single row → zip_with/transform
    over the scan. No Python, no corpus-wide shuffle beyond the
    dims-row aggregate."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = corpus.withColumn("_v", v)
    if center:
        mean_row = (
            corpus.select(
                F.posexplode(v).alias("dim", "x")
            )
            .groupBy("dim")
            .agg(F.avg("x").alias("m"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("_mean")
            )
        )
        out = out.join(F.broadcast(mean_row)).withColumn(
            "_v", F.zip_with("_v", "_mean", lambda x, m: x - m)
        ).drop("_mean")
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    return out.select(
        id_col,
        F.when(norm > 0, F.transform("_v", lambda x: x / norm))
        .otherwise(F.col("_v"))
        .alias("embedding_norm"),
    )


def quantize_embeddings_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus — the 4×
    memory tier between raw floats and PQ's 32×: per-DIMENSION
    min/max fold to ONE broadcast row (same shape as the
    `normalize_embeddings` mean), then codes = round(255·(x−lo)/
    (hi−lo))−128 computed inside the scan. Reconstruction
    x̂ = lo + (code+128)·(hi−lo)/255 is off by at most half a step
    per dim, which the emitted `within_bound` flag asserts — ANN
    recall under int8 is then a measured property, not a hope.

    Zero shuffle beyond the dims-row aggregate; constant degenerate
    dims (hi == lo) encode as code −128 and reconstruct exactly."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rng_row = (
        corpus.select(F.posexplode(v).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias(
                "_rng"
            )
        )
        .select(
            F.transform("_rng", lambda s: s["lo"]).alias("_lo"),
            F.transform("_rng", lambda s: s["hi"]).alias("_hi"),
        )
    )
    with_rng = corpus.withColumn("_v", v).join(F.broadcast(rng_row))
    code = F.zip_with(
        "_v",
        F.arrays_zip(F.col("_lo").alias("lo"), F.col("_hi").alias("hi")),
        lambda x, r: F.when(
            r["hi"] > r["lo"],
            F.round(255.0 * (x - r["lo"]) / (r["hi"] - r["lo"]) + 1e-9)
            - F.lit(128),
        ).otherwise(F.lit(-128)),
    )
    halfstep = F.zip_with(
        "_lo", F.col("_hi"), lambda lo, hi: (hi - lo) / 255.0 / 2.0 + 1e-6
    )
    recon_err = F.zip_with(
        F.col("_codes"),
        F.arrays_zip(
            F.col("_v").alias("x"),
            F.col("_lo").alias("lo"),
            F.col("_hi").alias("hi"),
        ),
        lambda c, r: F.abs(
            r["lo"] + (c + 128.0) * (r["hi"] - r["lo"]) / 255.0 - r["x"]
        ),
    )
    return (
        with_rng.withColumn("_codes", code)
        .withColumn("_err", recon_err)
        .select(
            id_col,
            F.array_join(
                F.transform("_codes", lambda c: c.cast("bigint").cast("string")),
                ",",
            ).alias("codes_int8"),
            F.forall(
                F.zip_with(
                    "_err", halfstep, lambda e, h: e <= h
                ),
                lambda b: b,
            ).alias("within_bound"),
        )
    )


def reconstruct_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The dequantization side of :func:`quantize_embeddings_int8` —
    x̂ = lo + round(255·(x−lo)/(hi−lo))·(hi−lo)/255 per dim, i.e.
    what an ANN tier actually scores against when the corpus lives as
    int8 codes. Emitting x̂ directly (quantize→dequantize fused in one
    pass) lets recall-under-quantization be measured without
    round-tripping through the serialized codes; same per-dim
    broadcast fold, same in-row arithmetic."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rng_row = (
        corpus.select(F.posexplode(v).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias(
                "_rng"
            )
        )
        .select(
            F.transform("_rng", lambda s: s["lo"]).alias("_lo"),
            F.transform("_rng", lambda s: s["hi"]).alias("_hi"),
        )
    )
    recon = F.zip_with(
        "_v",
        F.arrays_zip(F.col("_lo").alias("lo"), F.col("_hi").alias("hi")),
        lambda x, r: F.when(
            r["hi"] > r["lo"],
            r["lo"]
            + F.round(255.0 * (x - r["lo"]) / (r["hi"] - r["lo"]) + 1e-9)
            * (r["hi"] - r["lo"])
            / 255.0,
        ).otherwise(r["lo"]),
    )
    return (
        corpus.withColumn("_v", v)
        .join(F.broadcast(rng_row))
        .select(id_col, recon.alias("embedding_rec"))
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximum-Inner-Product Search top-k — the retrieval scoring for
    un-normalized embeddings (recommendation / reward-model scoring,
    where vector LENGTH carries signal and cosine is the wrong
    metric). Exact tier: broadcast the query set, one dot per pair,
    rounded-score/id ranking — the corpus never shuffles.

    Scale path: :func:`mips_ann_topk` — MIPS reduces to cosine by
    norm augmentation (append sqrt(M² − ‖x‖²) corpus-side, 0
    query-side; cosine order over augmented vectors equals
    inner-product order), served by hyperplane sign-LSH buckets with
    this tier's exact-dot discipline re-ranking the in-bucket
    candidates."""
    # same refusal as the sibling broadcast tiers (brute_force/pq):
    # the query frame is force-broadcast below, so an unbounded query
    # side is an executor OOM — refuse with the actionable fix
    # (r7 verdict #2; limit(n+1).count() never scans past the bound)
    n_q = queries.limit(MAX_BROADCAST_QUERIES + 1).count()
    if n_q > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"mips_topk broadcast tier got > MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES} query vectors; bound the query set "
            "or route through mips_ann_topk (norm-augmented LSH tier)"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    scored = c.join(
        F.broadcast(q), on=F.col("c_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("c_id").alias("neighbor_id"),
        _dot(F.col("q_vec"), F.col("c_vec")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("dot", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", r4("dot", 4).alias("dot"), "rank")
    )


def mips_hyperplanes(n_bits: int, dims: int) -> list[list[int]]:
    """Deterministic Rademacher (±1) hyperplanes over the AUGMENTED
    (dims+1)-dimensional space, from a fixed 31-bit LCG — no RNG
    state, so the Spark tier and the DuckDB oracle embed the exact
    same constants (the engine-portability discipline every sketch in
    this repo follows). Random-sign projections are a standard
    locality-sensitive family for cosine; the axis-aligned
    `sign_lsh_bucket` can NOT serve MIPS because the augmented
    coordinate sits past the first n_bits dims (and is always ≥ 0),
    so augmentation would be a no-op under it — the hyperplanes must
    mix every coordinate for the norm term to steer buckets."""
    planes: list[list[int]] = []
    state = 0x9E3779B9
    for _ in range(n_bits):
        row = []
        for _ in range(dims + 1):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(1 if (state >> 16) & 1 else -1)
        planes.append(row)
    return planes


# expected rows per LSH bucket the derived geometry aims for: at
# 2^n_bits cells per band, n_bits = log2(corpus / TARGET). 2048 is the
# measured sweet spot — it reproduces the 8-bit/band geometry that ran
# the embeddings-×1000 (500 k vectors, 5 k queries) leg in 838 s after
# the shipped 4-bit default fed ~620 M re-rank pairs and was killed
# (SCALEBENCH r8: "bucket bits are IVF cell counts by another name").
MIPS_ANN_TARGET_BUCKET = 2048


def mips_ann_bits(n_corpus: int) -> int:
    """Corpus-scaled bucket bits for :func:`mips_ann_topk` — the same
    cells-grow-with-the-corpus discipline `ivf_topk`'s `n_cells` and
    `lsh_candidate_pairs`' `max_bucket` already enforce. In-bucket
    re-rank work per band is Σ(cell × cell-queries); with cells fixed
    (any constant n_bits) that is quadratic in the corpus BY
    CONSTRUCTION, so the default must derive from a corpus count.
    Floor 4 keeps the recall contract's gate-scale geometry; cap 16
    bounds the hyperplane constant fold (n_bands × 16 × dims sign
    literals) and leaves ≥2048-row buckets up to ~134 M vectors per
    band — past that, raise the cap alongside a measured leg."""
    import math

    if n_corpus <= MIPS_ANN_TARGET_BUCKET:
        return 4
    return min(16, max(4, math.ceil(math.log2(n_corpus / MIPS_ANN_TARGET_BUCKET))))


def mips_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int | None = None,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate MIPS top-k — the 100 TB tier :func:`mips_topk`'s
    docstring promises: norm augmentation reduces inner-product order
    to cosine order (append ``sqrt(M² − ‖x‖²)`` to each corpus
    vector, where M is the max corpus norm, and 0 to each query —
    after which the query·corpus angle is monotone in the true dot),
    then ``n_bands`` independent hyperplane sign-LSH bucketings of
    the augmented space (the MinHash-banding recall amplifier: a true
    neighbor is missed only if it lands in a different cell in EVERY
    band) gate which pairs get scored, and the exact dot re-ranks the
    deduped candidates (same rounded-score/id discipline as the exact
    tier, so recall eval joins cleanly).

    Scale shape: the max-norm fold is ONE global (single-row)
    aggregate broadcast back — bounded by construction; all band
    buckets are in-row ±sums (n_bands·n_bits × dims adds, no
    shuffle); candidates meet on (band, bucket) EQUALITY — the
    explode is ×n_bands (a constant), the compound key is the join
    key, so the corpus shuffles once and pairwise work is
    Σ(cell × cell-queries) per band, never corpus × queries; the
    cross-band pair dedup is candidate-sized, not corpus-sized. NO
    hard broadcast hint on either join side: the query side is
    data-proportional (AQE broadcasts it while small). Unlike
    :func:`mips_topk` there is no query-count ceiling — this is the
    tier to route unbounded query sets through.

    ``n_bits=None`` (the default) derives the bucket geometry from a
    corpus count via :func:`mips_ann_bits` — cells scale with the
    corpus, so the default can no longer reproduce the r8 scale
    finding where a FIXED 4-bit band at 500 k vectors fed ~620 M
    re-rank pairs. Pass an explicit n_bits only with a measured
    reason (the recall-contract row pins 4×4 at gate scale so its
    DuckDB oracle's inlined hyperplanes stay valid)."""
    if n_bits is None:
        # one count() — the same bounded corpus statistic ivf cell
        # sizing needs; at serving scale pass the known count via an
        # explicit n_bits=mips_ann_bits(n) to skip the job
        n_bits = mips_ann_bits(corpus.count())
    planes = mips_hyperplanes(n_bits * n_bands, _infer_dims(corpus, vec_col))
    m2_row = corpus.select(
        F.max(_dot(F.col(vec_col), F.col(vec_col))).alias("_m2")
    )

    def band_buckets(vec, aug):
        # proj_i = Σ_j s_ij·x_j (+ s_i,d+1·aug); ±1 signs make it a
        # signed sum — zip_with over a literal sign array keeps the
        # per-element closure O(1) (interpreted-HOF discipline).
        # Rounded (epsilon-bias) before the sign test so the bucket
        # bit is engine-portable at the same 4-decimal contract every
        # score comparison in this module uses.
        out = []
        for band in range(n_bands):
            b = F.lit(0)
            for row in planes[band * n_bits : (band + 1) * n_bits]:
                signed = F.zip_with(
                    vec,
                    F.array(*[F.lit(float(s)) for s in row[:-1]]),
                    lambda x, s: x * s,
                )
                proj = F.aggregate(
                    signed, F.lit(0.0), lambda acc, x: acc + x
                ) + F.lit(float(row[-1])) * aug
                bit = F.when(r4(proj, 4) >= 0, F.lit(1)).otherwise(F.lit(0))
                b = b * 2 + bit
            out.append(b)
        return F.array(*out)

    c_aug = F.sqrt(
        F.greatest(
            F.lit(0.0), F.col("_m2") - _dot(F.col(vec_col), F.col(vec_col))
        )
    )
    c = (
        corpus.join(F.broadcast(m2_row))  # one row, bounded by construction
        .select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            F.posexplode(band_buckets(F.col(vec_col), c_aug)).alias(
                "band", "bucket"
            ),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(band_buckets(F.col(vec_col), F.lit(0.0))).alias(
            "band", "bucket"
        ),
    )
    scored = (
        c.join(
            q,
            on=[
                c["band"] == q["band"],
                c["bucket"] == q["bucket"],
                c["c_id"] != q["query_id"],
            ],
        )
        .select(
            "query_id",
            F.col("c_id").alias("neighbor_id"),
            _dot(F.col("q_vec"), F.col("c_vec")).alias("dot"),
        )
        # a pair colliding in several bands scores the same dot —
        # DISTINCT over the scored tuple dedups without a second
        # vector join; the shuffle is candidate-sized
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(r4("dot", 4)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", r4("dot", 4).alias("dot"), "rank")
    )


def _infer_dims(corpus: DataFrame, vec_col: str) -> int:
    """Vector width from one row (bounded collect: LIMIT 1)."""
    row = corpus.select(F.size(F.col(vec_col))).first()
    if row is None:
        raise ValueError("cannot infer embedding dims from an empty corpus")
    return int(row[0])
