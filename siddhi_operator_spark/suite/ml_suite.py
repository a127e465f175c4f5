"""Suite: streamingml: namespace (SURVEY.md §3.9 —
`[ext:streamingml]` kMeansMiniBatch / perceptron classifier).

Both are oracle-backed despite being "ML": the k-means contract pins
init + iteration count + rounding so DuckDB reproduces Lloyd's
algorithm exactly, and the online perceptron's sequential update is a
recursive-CTE fold (the one honest SQL shape for prequential
learning)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import ml as ML
from .registry import _materialize, register

_KMEANS_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8
),
d1 AS (
  SELECT e.vec_id, c.cid, e.v,
         list_sum(list_transform(range(1, 65),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS dist
  FROM e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
    FROM d1
  ) WHERE rnk = 1
),
m1 AS (
  SELECT a1.cluster, i.i AS pos, round(1e-9 + avg(e.v[i.i]), 6) AS m
  FROM a1 JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i)
  GROUP BY a1.cluster, i.i
),
c1 AS (
  SELECT cluster AS cid, list(m ORDER BY pos) AS cv FROM m1 GROUP BY cluster
),
d2 AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, 65),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS dist
  FROM e CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cid AS cluster, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
    FROM d2
  ) WHERE rnk = 1
)
SELECT vec_id, cluster, round(1e-9 + dist, 4) AS dist FROM a2
"""


@register("ml_kmeans", oracle=_KMEANS_ORACLE, tags=("ml", "clustering"))
def ml_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """`streamingml:kMeansMiniBatch(8)` batch twin over the embeddings
    table: 2 Lloyd iterations, deterministic lowest-id init. The
    oracle unrolls both iterations in SQL — assignment = argmin over
    a cross join, update = per-(cluster, dim) mean."""
    return ML.kmeans_lloyd(
        spark, load(spark, sf, "embeddings"), k=8, iters=2
    )


_PERCEPTRON_ORACLE = """
WITH RECURSIVE inp AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS rn,
         vec_id,
         CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
n AS (SELECT count(*) AS n FROM inp),
step AS (
  -- seeds MUST be DOUBLE: bare 0.0 binds as DECIMAL(2,1) and the
  -- recursive union would quantize every weight to one decimal
  SELECT 0::BIGINT AS rn,
         CAST(NULL AS BIGINT) AS vec_id,
         CAST(NULL AS INT) AS y,
         CAST(NULL AS INT) AS pred,
         list_transform(range(1, 65), i -> CAST(0.0 AS DOUBLE)) AS w,
         CAST(0.0 AS DOUBLE) AS b
  UNION ALL
  SELECT i.rn, i.vec_id, i.y,
         CASE WHEN s.b + list_sum(list_transform(range(1, 65),
                j -> s.w[j] * i.x[j])) >= 0 THEN 1 ELSE 0 END,
         CASE WHEN (CASE WHEN s.b + list_sum(list_transform(range(1, 65),
                      j -> s.w[j] * i.x[j])) >= 0 THEN 1 ELSE 0 END) = i.y
              THEN s.w
              ELSE list_transform(range(1, 65),
                j -> s.w[j] + CAST(0.1 AS DOUBLE) * (i.y - (CASE WHEN s.b +
                       list_sum(list_transform(range(1, 65),
                         jj -> s.w[jj] * i.x[jj])) >= 0
                       THEN 1 ELSE 0 END)) * i.x[j])
         END,
         CASE WHEN (CASE WHEN s.b + list_sum(list_transform(range(1, 65),
                      j -> s.w[j] * i.x[j])) >= 0 THEN 1 ELSE 0 END) = i.y
              THEN s.b
              ELSE s.b + CAST(0.1 AS DOUBLE) * (i.y - (CASE WHEN s.b +
                     list_sum(list_transform(range(1, 65),
                       j -> s.w[j] * i.x[j])) >= 0 THEN 1 ELSE 0 END))
         END
  FROM step s JOIN inp i ON i.rn = s.rn + 1
)
SELECT vec_id AS event_id,
       TIMESTAMP '2024-01-01 00:00:00' + vec_id * INTERVAL 1 SECOND AS ts,
       y AS true_label, pred AS pred_label, (pred = y) AS correct
FROM step WHERE rn > 0
"""


@register(
    "ml_perceptron_online",
    oracle=_PERCEPTRON_ORACLE,
    tags=("ml", "classification", "streaming"),
)
def ml_perceptron_online(spark: SparkSession, sf: str) -> DataFrame:
    """`streamingml:updatePerceptronClassifier` prequential run: the
    embeddings stream (synthetic event time = vec_id seconds, label
    binarized by parity) replayed through the single-group stateful
    perceptron. The oracle is the same sequential fold as a recursive
    CTE — each event scored with pre-update weights (eta = 0.1)."""
    import tempfile

    from ..streaming import ml as SML
    from ..streaming import sources as SRC

    base = load(spark, sf, "embeddings").select(
        F.col("vec_id").alias("event_id"),
        (
            F.timestamp_seconds(F.lit(1704067200) + F.col("vec_id"))
        ).alias("ts"),
        F.col("embedding"),
        (F.col("label") % 2).cast("int").alias("y"),
    )
    d = tempfile.mkdtemp(prefix="replay_ml_")
    SRC.replay_dir(base, d, "ts", 2)
    s = SRC.file_stream(spark, d, base.schema, max_files_per_trigger=1)
    out = SML.perceptron_online(
        s, features_col="embedding", label_col="y", eta=0.1
    )
    name = _materialize(out, "append")
    return spark.sql(
        f"SELECT event_id, ts, true_label, pred_label, correct FROM {name}"
    )
