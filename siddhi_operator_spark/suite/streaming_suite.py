"""Suite: streaming twins run through REAL Structured Streaming
(file-source micro-batches → memory sink), then compared against the
same DuckDB oracles as their batch counterparts — evidence that the
streaming operators implement the same semantics, not just the batch
formulations.

Each callable replays the sf events table as a single-batch file
stream (complete/append mode as the op requires), blocks until
processed, and returns the materialized result as a batch DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, load_events_stream
from ..fpround import r4
from ..streaming import cep
from ..streaming import windows as SW
from .registry import _materialize, register


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    """events.parquet as a file-source stream — single conversion point
    shared with batch lives in catalog.load_events_stream."""
    return load_events_stream(spark, sf)


@register(
    "streaming_timebatch",
    oracle="""
    SELECT date_trunc('hour', ts)      AS window_start,
           event_type,
           round(1e-9 + sum(value), 4) AS sum_value,
           count(*)                    AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def streaming_timebatch(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming `timeBatch(1 hour)` (complete mode over the replayed
    stream) must equal the batch/oracle tumbling aggregation."""
    s = _events_stream(spark, sf)
    agg = SW.tumbling_agg(
        s,
        "ts",
        "1 hour",
        watermark="10 minutes",
        keys=["event_type"],
        aggs=[r4(F.sum("value"), 4).alias("sum_value"), F.count(F.lit(1)).alias("n")],
    )
    name = _materialize(
        agg.select("window_start", "event_type", "sum_value", "n"), "complete"
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "streaming_cep_followed_by",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS key,
           e1_id, e1_ts, e2_id AS e2_id, e2_ts
    FROM (
      SELECT a.user_id, a.event_id AS e1_id, a.ts AS e1_ts,
             b.event_id AS e2_id, b.ts AS e2_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'signup' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    tags=("streaming", "cep"),
)
def streaming_cep_followed_by(spark: SparkSession, sf: str) -> DataFrame:
    """The CEP NFA (applyInPandasWithState) replaying the events table
    must reproduce exactly the relational fixed point of
    `every signup -> purchase within 1h` — the strongest cross-check
    of the NFA against SQL semantics."""
    s = _events_stream(spark, sf)
    out = cep.pattern_nfa(
        s,
        key="user_id",
        step_predicates=["event_type = 'signup'", "event_type = 'purchase'"],
        within_seconds=3600,
    )
    name = _materialize(out, "append")
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "streaming_length_window",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS key,
           event_id, ts,
           count(*)  OVER w                    AS n_in_window,
           round(1e-9 + sum(value) OVER w, 4)  AS sum_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("streaming", "length"),
)
def streaming_length_window(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming `length(3)` per user (stateful deque) vs the analytic
    ROWS-frame oracle. Valid because the single-batch replay processes
    events in event-time order — the same order the frame assumes."""
    s = _events_stream(spark, sf)
    out = SW.length_window(s, 3, key="user_id")
    name = _materialize(out, "append")
    return spark.sql(
        f"SELECT key, event_id, ts, n_in_window, "
        f"round(sum_value + 1e-9, 4) AS sum_value FROM {name}"
    )


@register(
    "streaming_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts)                          AS session_start,
           max(ts) + INTERVAL 30 MINUTES    AS session_end,
           count(*)                         AS n,
           round(1e-9 + sum(value), 4)             AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def streaming_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming session windows over the replayed stream must merge
    sessions exactly like the batch twin — same gap-island oracle as
    `window_session` (lag + cumsum session ids; end = last + gap)."""
    s = _events_stream(spark, sf)
    agg = SW.session_agg(
        s,
        "ts",
        "30 minutes",
        watermark="5 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n"), r4(F.sum("value"), 4).alias("sum_value")],
    )
    name = _materialize(agg, "complete")
    return spark.sql(
        f"SELECT user_id, session_start, session_end, n, sum_value FROM {name}"
    )


@register(
    "streaming_cep_absence",
    oracle="""
    SELECT CAST(a.user_id AS VARCHAR) AS key,
           a.event_id AS e1_id, a.ts AS e1_ts
    FROM events a
    WHERE a.event_type = 'signup'
      AND NOT EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      )
    """,
    tags=("streaming", "cep", "absence"),
)
def streaming_cep_absence(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming absence NFA `e1=events[signup] -> not events[purchase]
    for 1h` over a multi-batch replay of the events table — must equal
    the batch time-bounded anti-join oracle. A sentinel event 2h past
    the timeline end advances the watermark so timers armed near the
    end still fire (the reference's scheduler fires them on shutdown;
    here the event-time timeout + a final no-data micro-batch does)."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..streaming import sources as SRC

    e = load(spark, sf, "events")
    sentinel = e.orderBy(F.desc("ts")).limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("__wm__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    d = tempfile.mkdtemp(prefix="replay_abs_")
    SRC.replay_dir(
        e.select(*SCHEMAS["events"].fieldNames()).unionByName(sentinel),
        d,
        "ts",
        3,
    )
    s = SRC.file_stream(
        spark, d, SCHEMAS["events"], max_files_per_trigger=1
    )
    out = cep.absence_nfa(
        s,
        key="user_id",
        arm_predicate="event_type = 'signup'",
        absent_predicate="event_type = 'purchase'",
        for_seconds=3600,
        watermark="10 minutes",
    )
    name = _materialize(out, "append")
    return spark.sql(f"SELECT key, e1_id, e1_ts FROM {name}")


@register(
    "streaming_cep_count_quantifier",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3,
             lead(event_id, 2)  OVER w AS id3,
             lead(ts, 2)        OVER w AS ts3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           event_id AS e1_first_id, ts AS e1_first_ts,
           id3 AS e1_last_id, ts3 AS e1_last_ts
    FROM ordered
    WHERE event_type = 'click' AND t2 = 'click' AND t3 = 'click'
    """,
    tags=("streaming", "cep", "count"),
)
def streaming_cep_count_quantifier(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming NFA's `<m:n>` count step
    (`CountPreStateProcessor.java`) replaying the events table: strict
    `e=events[click]<3:3>` must equal the batch lead-chain oracle —
    every run of 3 contiguous clicks per user emits (first, last)."""
    s = _events_stream(spark, sf)
    out = cep.pattern_nfa(
        s,
        key="user_id",
        step_predicates=[("count", "event_type = 'click'", 3, 3)],
        strict=True,
    )
    name = _materialize(out, "append")
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "streaming_cep_logical_and",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type FROM events
      WHERE event_type IN ('error', 'purchase')
    ), pairs AS (
      SELECT a.user_id, a.event_type AS a_type,
             a.event_id AS a_id, a.ts AS a_ts,
             b.event_id AS b_id, b.ts AS b_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
       AND epoch_us(b.ts) - epoch_us(a.ts) <= 1800000000
    )
    SELECT CAST(user_id AS VARCHAR) AS key,
           CASE WHEN a_type = 'error' THEN a_id ELSE b_id END AS e1a_id,
           CASE WHEN a_type = 'error' THEN a_ts ELSE b_ts END AS e1a_ts,
           CASE WHEN a_type = 'error' THEN b_id ELSE a_id END AS e1b_id,
           CASE WHEN a_type = 'error' THEN b_ts ELSE a_ts END AS e1b_ts
    FROM pairs WHERE rn = 1
    """,
    tags=("streaming", "cep", "logical"),
)
def streaming_cep_logical_and(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming NFA's logical and-step
    (`LogicalPreStateProcessor.java`): `every (e1=events[error] and
    e2=events[purchase]) within 30 min`. Every branch event arms a
    machine that completes on the first later opposite-branch event
    inside the budget — the oracle is that fixed point in SQL (branch
    a = error always emitted as e1a regardless of arming order)."""
    s = _events_stream(spark, sf)
    out = cep.pattern_nfa(
        s,
        key="user_id",
        step_predicates=[
            ("and", "event_type = 'error'", "event_type = 'purchase'")
        ],
        within_seconds=1800,
    )
    name = _materialize(out, "append")
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "streaming_join_windowed",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
    tags=("streaming", "join"),
)
def streaming_join_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """REAL watermarked stream-stream join (state bounded at the window
    span) must equal the batch windowed self-join / DuckDB range join —
    the `S1#window.time(5 min) join S2` streaming twin."""
    from ..streaming import derived_state_partitions
    from ..streaming import joins as SJ

    s1 = _events_stream(spark, sf)
    clicks = s1.filter(F.col("event_type") == "click")
    views = _events_stream(spark, sf).filter(F.col("event_type") == "view")
    joined = SJ.stream_stream_join(
        clicks,
        views,
        left_ts="ts",
        right_ts="ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=300,
        watermark="10 minutes",
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
    )
    # state ≤ total replayed rows (both sides buffer within the window);
    # parquet metadata count — no data scan
    sp = derived_state_partitions(spark, load(spark, sf, "events").count())
    name = _materialize(out, "append", state_partitions=sp)
    return spark.table(name)


@register(
    "streaming_join_windowed_bucket",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
    tags=("streaming", "join"),
)
def streaming_join_windowed_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming hot-key insurance tier (r14): the SAME watermarked
    stream-stream join with `bucket=True` — join keys widened with
    `within`-wide time epochs so the symmetric-hash join's per-key
    state probes stay bounded on a pathologically dense key (the
    streaming analog of the batch pair-production blowup; measured
    SCALEBENCH r14). Output must be row-identical to
    `streaming_join_windowed` — same oracle: the epoch keys only
    partition the state, the raw time-range condition still decides
    membership and state eviction."""
    from ..streaming import joins as SJ

    s1 = _events_stream(spark, sf)
    clicks = s1.filter(F.col("event_type") == "click")
    views = _events_stream(spark, sf).filter(F.col("event_type") == "view")
    joined = SJ.stream_stream_join(
        clicks,
        views,
        left_ts="ts",
        right_ts="ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=300,
        watermark="10 minutes",
        bucket=True,
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
    )
    from ..streaming import derived_state_partitions

    sp = derived_state_partitions(spark, load(spark, sf, "events").count())
    name = _materialize(out, "append", state_partitions=sp)
    return spark.table(name)


@register(
    "streaming_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact-dedup — Siddhi `#window.unique:deduplicate`'s
    twin and the ingest-time tier of the corpus dedup stack:
    `dropDuplicatesWithinWatermark` keys state by (user_id,
    event_type), emits first arrivals (append mode) and EXPIRES state
    as the watermark passes, so dedup state at 100 TB ingest is
    bounded by keys-per-watermark-window, not corpus history. The
    replay is a single micro-batch, so every in-fixture duplicate is
    within one watermark window and the oracle is plain DISTINCT;
    multi-batch state expiry is covered in tests/test_streaming.py."""
    s = _events_stream(spark, sf).withWatermark("ts", "10 minutes")
    out = (
        s.select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = _materialize(out, "append")
    return spark.table(name)


@register(
    "streaming_ann_cell_ingest",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), cent AS (
      SELECT vec_id AS cent_id, vec AS cent_vec FROM v WHERE vec_id < 8
    ), scored AS (
      SELECT v.vec_id, c.cent_id,
             round(1e-9 + list_dot_product(v.vec, c.cent_vec)
               / (sqrt(list_dot_product(v.vec, v.vec))
                  * sqrt(list_dot_product(c.cent_vec, c.cent_vec))), 4) AS cc
      FROM v CROSS JOIN cent c
    )
    SELECT vec_id, cent_id AS cell FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cc DESC, cent_id) AS r
      FROM scored
    ) WHERE r = 1
    """,
    tags=("streaming", "similarity", "ann"),
)
def streaming_ann_cell_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ANN index maintenance: embeddings arrive as a stream
    and each is assigned its IVF cell ON INGEST (at 100 TB the sink
    writes cell-partitioned parquet, so probes prune to nprobe
    partitions with no re-index batch job). The quantizer (the
    sample-seeded centroids shared with `similarity_ivf`) collects to
    literals — the ml-centroid contract: k×dims scalars — so the
    argmax is a pure projection on the stream; the (−cos, cent_id)
    struct array_min replays the batch tier's rounded-desc/id-asc
    tie-break exactly, which is what lets the batch oracle prove the
    STREAMING path row for row."""
    from ..catalog import SCHEMAS
    from ..fpround import EPS
    from ..pipeline.similarity import _dot

    cents = (
        load(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    path = f"{sf}/embeddings.parquet"
    if os.path.isdir(path):  # part-file directory (Spark's own layout)
        s = spark.readStream.schema(SCHEMAS["embeddings"]).parquet(path)
    else:
        s = (
            spark.readStream.schema(SCHEMAS["embeddings"])
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf)
        )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(_dot(v, v))
    choices = []
    for r in sorted(cents, key=lambda r: r.vec_id):
        cv = F.array(*[F.lit(float(x)) for x in r.embedding])
        cnorm = float(sum(float(x) ** 2 for x in r.embedding)) ** 0.5
        cc = F.round(_dot(v, cv) / (norm * F.lit(cnorm)) + F.lit(EPS), 4)
        choices.append(F.struct((-cc).alias("negcc"), F.lit(r.vec_id).alias("cent_id")))
    cell = F.array_min(F.array(*choices))["cent_id"]
    out = s.select("vec_id", cell.alias("cell"))
    name = _materialize(out, "append")
    return spark.table(name)


@register(
    "streaming_ivfpq_ingest",
    oracle=None,  # set right below from the shared IVFADC CTEs
    tags=("streaming", "similarity", "ann", "pq", "incremental"),
)
def streaming_ivfpq_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming IVFADC index maintenance — the ingest half of
    `ivfpq_index_append` as a RESIDENT service: embeddings arrive as
    a stream and each is cell-assigned AND PQ-encoded on ingest with
    the FROZEN quantizers (at 100 TB the sink appends these 8-byte
    code rows to the cell partitions, so the serving index is always
    fresh with no re-index batch job — `streaming_ann_cell_ingest`
    proved the cell half, this row adds the codebook half). Both
    quantizers collect to literals (8 centroids + 8×16 sub-codebook —
    bounded artifacts, the ml-centroid contract); assignment is the
    batch tier's rounded argmax/argmin replayed as in-row struct
    array_min, so the batch oracle proves the stream row for row.
    Codes serialize to a comma string (driver canonicalizer takes no
    arrays)."""
    from ..catalog import SCHEMAS
    from ..fpround import EPS
    from ..pipeline.similarity import _dot

    emb = load(spark, sf, "embeddings")
    cents = sorted(
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cb = sorted(
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    m, sub = 8, 8
    path = f"{sf}/embeddings.parquet"
    if os.path.isdir(path):
        s = spark.readStream.schema(SCHEMAS["embeddings"]).parquet(path)
    else:
        s = (
            spark.readStream.schema(SCHEMAS["embeddings"])
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf)
        )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(_dot(v, v))
    choices = []
    for r in cents:
        cv = F.array(*[F.lit(float(x)) for x in r.embedding])
        cnorm = float(sum(float(x) ** 2 for x in r.embedding)) ** 0.5
        cc = F.round(_dot(v, cv) / (norm * F.lit(cnorm)) + F.lit(EPS), 4)
        choices.append(
            F.struct((-cc).alias("negcc"), F.lit(r.vec_id).alias("cent_id"))
        )
    cell = F.array_min(F.array(*choices))["cent_id"]
    code_cols = []
    for j in range(m):
        sv = F.slice(v, j * sub + 1, sub)
        cands = []
        for r in cb:
            cvec = [float(x) for x in r.embedding[j * sub : (j + 1) * sub]]
            cva = F.array(*[F.lit(x) for x in cvec])
            c2 = float(sum(x * x for x in cvec))
            d2 = F.round(
                _dot(sv, sv) - 2.0 * _dot(sv, cva) + F.lit(c2) + F.lit(EPS),
                6,
            )
            cands.append(
                F.struct(d2.alias("d2"), F.lit(r.vec_id).alias("code"))
            )
        code_cols.append(F.array_min(F.array(*cands))["code"])
    out = s.select(
        "vec_id",
        cell.alias("cell"),
        F.concat_ws(",", *[c.cast("string") for c in code_cols]).alias(
            "codes_str"
        ),
    )
    name = _materialize(out, "append")
    return spark.table(name)


@register(
    "streaming_incremental_neardup",
    oracle=None,  # set right below to the batch LSH oracle
    tags=("streaming", "dedup", "lsh"),
)
def streaming_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """The minhash/LSH near-dup stack as a RESIDENT streaming service
    (streaming/dedup.py): documents replay in 3 micro-batches; each
    batch emits exactly the candidate pairs involving a new document
    (new-vs-stored + within-batch), and signature/band state appends.
    The union over batches equals the BATCH `lsh_candidate_pairs`
    output pair for pair (each pair surfaces in the batch where its
    later member arrives), so the batch DuckDB oracle proves the
    incremental service end to end."""
    import tempfile

    from ..streaming import dedup as SD
    from ..streaming import sources as SRC

    docs = load(spark, sf, "documents")
    d = tempfile.mkdtemp(prefix="neardup_replay_")
    SRC.replay_dir(docs, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = tempfile.mkdtemp(prefix="neardup_state_")
    q = SD.incremental_neardup_sink(s, state, f"{state}/ckpt")
    q.processAllAvailable()
    q.stop()
    return SD.read_pairs(spark, state)


# the oracle is the batch LSH oracle — identical output contract
from .pipeline import MINHASH_ORACLE as _MINHASH_ORACLE  # noqa: E402
from .pipeline import _IVFPQ_CAND_CTES as _PQ_CTES  # noqa: E402
from .registry import REGISTRY as _REG  # noqa: E402

_REG["streaming_incremental_neardup"].oracle = _MINHASH_ORACLE

# streaming_ivfpq_ingest: the batch IVFADC assign+encode CTEs (cells +
# codes) prove the streaming ingest row; codes fold to the same comma
# string the stream emits
_REG["streaming_ivfpq_ingest"].oracle = f"""
WITH {_PQ_CTES}
SELECT c.vec_id, ce.cell,
       array_to_string(list(c.code ORDER BY c.j), ',') AS codes_str
FROM codes c JOIN cells ce ON ce.c_id = c.vec_id
GROUP BY 1, 2
"""


@register(
    "streaming_join_outer",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    WHERE a.event_type = 'click'
      AND a.ts <= (SELECT max(ts) FROM events) - INTERVAL 3 HOURS
    """,
    tags=("streaming", "join", "outer"),
)
def streaming_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    """REAL watermarked stream-stream LEFT OUTER join: unmatched
    clicks emit with a null view once the watermark passes their join
    window (Spark enforces the state eviction the reference's
    expired-event stream implies). Boundary contract, applied to BOTH
    sides of the oracle compare: the click-side watermark is
    max(click ts) − delay, so a click near the end of the replay still
    holds open state when it ends (the watermark also applies one batch
    late) — its
    outcome is undefined until more data arrives, exactly as the
    reference leaves unexpired windows pending on shutdown. Both
    engines therefore exclude clicks inside a 3-hour closing margin —
    ~12× the window+delay budget, far clear of the measured eviction
    boundary (the last ~2 clicks at sf0.01)."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..streaming import sources as SRC

    e = load(spark, sf, "events")
    cutoff = (
        e.agg(F.max("ts").alias("m"))
        .select(F.col("m") - F.expr("INTERVAL 3 HOURS"))
        .first()[0]
    )
    n_rows = e.count()  # parquet metadata count — state-size estimate
    full = e.select(*SCHEMAS["events"].fieldNames())
    d1 = tempfile.mkdtemp(prefix="replay_oj1_")
    SRC.replay_dir(full, d1, "ts", 3)
    d2 = tempfile.mkdtemp(prefix="replay_oj2_")
    SRC.replay_dir(full, d2, "ts", 3)
    # watermark the RAW streams: the type/cutoff filters must sit
    # BELOW the watermark node, or filtering late clicks would shrink
    # the watermark itself and the eviction boundary would chase the
    # cutoff forever
    from ..operators.joins import windowed_stream_join

    clicks = (
        SRC.file_stream(spark, d1, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter((F.col("event_type") == "click") & (F.col("ts") <= F.lit(cutoff)))
    )
    views = (
        SRC.file_stream(spark, d2, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter(F.col("event_type") == "view")
    )
    joined = windowed_stream_join(
        clicks,
        views,
        left_ts="ts",
        right_ts="ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=300,
        how="leftOuter",
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
    )
    from ..streaming import derived_state_partitions

    name = _materialize(
        out, "append",
        state_partitions=derived_state_partitions(spark, n_rows),
    )
    return spark.table(name)


@register(
    "streaming_join_unidirectional",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts
    """,
    tags=("streaming", "join", "unidirectional"),
)
def streaming_join_unidirectional(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of `join_unidirectional` (`from clicks
    unidirectional join views#window.time(5 min)`; `JoinProcessor`
    trigger flags): a REAL watermarked stream-stream INNER join whose
    time bound is one-sided — only click arrivals emit, pairing with
    views already in the window (view.ts ∈ [click.ts − 5 min,
    click.ts]). Inner matches emit eagerly (no watermark-gated
    emission), so unlike the outer twin NO closing margin is needed:
    the full batch oracle applies verbatim. The watermark still sizes
    state eviction — a view is dropped once the watermark passes
    view.ts + 5 min, exactly the reference's window expiry."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..operators.joins import windowed_stream_join
    from ..streaming import sources as SRC

    e = load(spark, sf, "events")
    full = e.select(*SCHEMAS["events"].fieldNames())
    d1 = tempfile.mkdtemp(prefix="replay_uj1_")
    SRC.replay_dir(full, d1, "ts", 3)
    d2 = tempfile.mkdtemp(prefix="replay_uj2_")
    SRC.replay_dir(full, d2, "ts", 3)
    clicks = (
        SRC.file_stream(spark, d1, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter(F.col("event_type") == "click")
    )
    views = (
        SRC.file_stream(spark, d2, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter(F.col("event_type") == "view")
    )
    joined = windowed_stream_join(
        clicks,
        views,
        left_ts="ts",
        right_ts="ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=300,
        unidirectional=True,
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
    )
    from ..streaming import derived_state_partitions

    name = _materialize(
        out, "append",
        state_partitions=derived_state_partitions(spark, e.count()),
    )
    return spark.table(name)


@register(
    "streaming_ratelimit_snapshot",
    oracle="""
    WITH latest_per AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket, user_id, value
      FROM (
        SELECT ts, user_id, value,
               row_number() OVER (PARTITION BY time_bucket(INTERVAL 1 DAY, ts), user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), key_range AS (
      SELECT user_id, min(time_bucket(INTERVAL 1 DAY, ts)) AS first_b
      FROM events GROUP BY user_id
    ), g AS (
      SELECT max(time_bucket(INTERVAL 1 DAY, ts)) AS last_b, max(ts) AS mx
      FROM events
    ), scaffold AS (
      SELECT k.user_id,
             unnest(generate_series(k.first_b, g.last_b, INTERVAL 1 DAY)) AS bucket
      FROM key_range k CROSS JOIN g
    ), filled AS (
      SELECT s.bucket, s.user_id,
             last_value(l.value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.bucket
               ROWS UNBOUNDED PRECEDING) AS value
      FROM scaffold s
      LEFT JOIN latest_per l ON l.bucket = s.bucket AND l.user_id = s.user_id
    )
    SELECT bucket, user_id, value FROM filled
    WHERE bucket + INTERVAL 1 DAY <= (SELECT mx FROM g) - INTERVAL 12 HOURS
    """,
    tags=("streaming", "ratelimit", "snapshot"),
)
def streaming_ratelimit_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of `ratelimit_snapshot` (`output snapshot every
    1 day`; `[core] query/output/ratelimit/snapshot/`): the per-key
    snapshot state machine on `applyInPandasWithState` with EVENT-TIME
    TIMEOUTS — idle keys still tick, forward-filled from their last
    state, which no windowed aggregation can express. Emission
    contract (same as every watermark twin): a tick is final once the
    watermark passes its bucket end, so BOTH sides exclude ticks
    inside a 12-hour closing margin (the watermark stops 10 min +
    one batch short of max ts; the margin is ~72× that budget)."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..streaming import sources as SRC
    from ..streaming.ratelimit import snapshot_every_stream

    e = load(spark, sf, "events")
    mx = e.agg(F.max("ts")).first()[0]
    full = e.select(*SCHEMAS["events"].fieldNames())
    d = tempfile.mkdtemp(prefix="replay_snap_")
    SRC.replay_dir(full, d, "ts", 3)
    s = SRC.file_stream(spark, d, SCHEMAS["events"], max_files_per_trigger=1)
    out = snapshot_every_stream(
        s, "ts", "1 day", "10 minutes", keys=("user_id",),
        tiebreak="event_id", value_col="value",
    )
    name = _materialize(out, "append")
    return (
        spark.table(name)
        .filter(
            F.col("bucket") + F.expr("INTERVAL 1 DAY")
            <= F.lit(mx) - F.expr("INTERVAL 12 HOURS")
        )
        .select("bucket", "user_id", "value")
    )


@register(
    "streaming_expression_window",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS b,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS cum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT CAST(a.user_id AS VARCHAR) AS key,
           a.event_id, a.ts, a.value,
           CAST(count(*) AS INTEGER) AS win_n,
           round(1e-9 + sum(k.value), 4) AS win_sum
    FROM base a JOIN base k
      ON k.user_id = a.user_id AND k.rn <= a.rn
     AND a.cum - (k.cum - k.b) <= 100000
    GROUP BY a.user_id, a.event_id, a.ts, a.value
    """,
    tags=("streaming", "window", "expression"),
)
def streaming_expression_window(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of `window_expression` — the dynamic retain-while
    window (`expression('sum(value) <= 1000')` per user,
    `ExpressionWindowProcessor.java`) as a per-key state machine: each
    arrival joins, the window evicts from the front until the budget
    holds, the emission aggregates the survivors. The batch keyed
    range-self-join oracle proves the state machine event for event
    (cent-scaled integer budgets keep the membership test exact on
    all three engines). Closes the last batch-only §3.3 window
    family."""
    s = _events_stream(spark, sf)
    out = SW.expression_window(s, limit=100000, key="user_id")
    name = _materialize(out, "append")
    return spark.sql(
        f"SELECT key, event_id, ts, value, win_n, "
        f"round(win_sum + 1e-9, 4) AS win_sum FROM {name} WHERE win_n > 0"
    )


@register(
    "streaming_join_table_probe",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name,
           round(1e-9 + e.value, 4) AS value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "join", "table"),
)
def streaming_join_table_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming stream⋈table probe (`@PrimaryKey` table lookup,
    `[core] JoinProcessor` + TableWindowProcessor path): each
    micro-batch broadcast-probes the table snapshot — the stream-static
    join Structured Streaming re-plans per batch, so table updates
    between batches are visible (the reference's mutable-table read
    semantics). Plan stays broadcast-hash; no stream-side state."""
    from ..streaming.joins import stream_table_join

    s = _events_stream(spark, sf).filter(F.col("event_type") == "purchase")
    dim = load(spark, sf, "customer").select("c_custkey", "c_name")
    j = stream_table_join(
        s, dim, on=s.user_id == dim.c_custkey, how="inner"
    )
    out = j.select(
        "event_id", "user_id", "c_name", r4(F.col("value"), 4).alias("value")
    )
    name = _materialize(out, "append")
    return spark.table(name)


@register(
    "streaming_approx_distinct",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(DISTINCT user_id) AS exact_distinct,
           TRUE                    AS within_bound
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "sketch", "approximate"),
)
def streaming_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming `approximate:distinctCount` (`[ext:approximate]`):
    HLL++ (`approx_count_distinct`) inside a watermarked tumbling
    aggregation — the sketch merges incrementally across micro-batches
    in the state store (exact `count(DISTINCT)` is unsupported in
    streaming; this mergeability is the point of the sketch). As in
    the batch row, the estimate is engine-specific, so the
    hash-checked output is the exact count (joined back batch-side)
    plus the accuracy-contract flag |approx − exact| ≤ 15 % · exact."""
    s = _events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", 0.05).alias("approx"))
        .select(F.col("w.start").alias("window_start"), "event_type", "approx")
    )
    name = _materialize(agg, "complete")
    streamed = spark.table(name)
    exact = (
        load(spark, sf, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        streamed.join(exact, ["window_start", "event_type"])
        .select(
            "window_start",
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("approx") - F.col("exact_distinct"))
                <= 0.15 * F.col("exact_distinct")
            ).alias("within_bound"),
        )
    )


@register(
    "streaming_approx_percentile",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           round(1e-9 + quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS within_bound
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "sketch", "percentile"),
)
def streaming_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming percentile: `approx_percentile` (mergeable quantile
    sketch) inside a watermarked tumbling aggregation — exact
    percentile cannot merge across micro-batches; the sketch is the
    streaming-legal formulation at any scale. As with the HLL twin,
    the estimate is engine-specific so the hash-checked output is the
    exact continuous quantile (batch-side) plus the accuracy-contract
    flag (the sketch's rank error at accuracy=10000 is ~0.01 %, far
    inside the 5 %-of-spread bound checked here)."""
    s = _events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.approx_percentile("value", 0.5, 10000).alias("approx_p50"),
            F.min("value").alias("_lo"),
            F.max("value").alias("_hi"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "approx_p50",
            "_lo",
            "_hi",
        )
    )
    name = _materialize(agg, "complete")
    streamed = spark.table(name)
    exact = (
        load(spark, sf, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(r4(F.percentile("value", F.lit(0.5)), 4).alias("exact_p50"))
    )
    return (
        streamed.join(exact, ["window_start", "event_type"])
        .select(
            "window_start",
            "event_type",
            "exact_p50",
            (
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                <= 0.05 * (F.col("_hi") - F.col("_lo"))
            ).alias("within_bound"),
        )
    )


@register(
    "streaming_sliding_panes",
    oracle="""
    WITH offs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) o(i)),
    paned AS (
      SELECT time_bucket(INTERVAL 15 MINUTES, ts)
               - i * INTERVAL 15 MINUTES AS window_start,
             value
      FROM events CROSS JOIN offs
      WHERE event_type = 'purchase'
    )
    SELECT window_start,
           CAST(window_start + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sv
    FROM paned
    GROUP BY window_start
    """,
    tags=("streaming", "window", "sliding"),
)
def streaming_sliding_panes(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding `time(1 hour)` in streaming mode — the overlapping-PANE
    formulation (`window(ts, '1 hour', '15 minutes')`): each event
    lands in duration/slide = 4 panes, panes finalize as the watermark
    passes (the engine's mapping of the reference's per-arrival
    emission; the exact per-event frame is the batch twin
    `window_sliding_time`). The oracle is the closed form: every event
    explodes into its 4 covering panes."""
    s = _events_stream(spark, sf).filter(F.col("event_type") == "purchase")
    out = SW.sliding_agg(
        s,
        "ts",
        "1 hour",
        "15 minutes",
        watermark="10 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            r4(F.sum("value"), 4).alias("sv"),
        ],
    )
    name = _materialize(out, "complete")
    return spark.table(name)


@register(
    "streaming_reorder_kslack",
    oracle="""
    SELECT date_trunc('hour', ts)      AS window_start,
           event_type,
           round(1e-9 + sum(value), 4) AS sum_value,
           count(*)                    AS n
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "reorder"),
)
def streaming_reorder_kslack(spark: SparkSession, sf: str) -> DataFrame:
    """`reorder:kslack(ts, K)` (§3.9 `[ext:reorder]`): the K-slack
    out-of-order correction IS the watermark — `streaming.reorder.
    kslack` annotates the stream with event-time tolerance K and every
    downstream stateful operator absorbs up-to-K disorder exactly as
    the reference's reorder buffer would (late-beyond-K standardized
    to drop). Here the slacked stream feeds a tumbling aggregation
    with NO watermark of its own; the replayed corpus (intra-file
    disorder, multi-file replay) must still land on the batch fixed
    point."""
    from ..streaming.reorder import kslack

    s = kslack(_events_stream(spark, sf), "ts", "10 minutes")
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            r4(F.sum("value"), 4).alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "sum_value",
            "n",
        )
    )
    name = _materialize(agg, "complete")
    return spark.sql(f"SELECT * FROM {name}")


# md5-jitter + per-key lateness CTEs shared by the whole [ext:reorder]
# family (akslack rows here; the QL kslack row in siddhiql_suite —
# one oracle prefix proving both runners' drop contract, ADVICE r10)
_JITTER_LATE_CTES = """h AS (
      SELECT event_id, user_id, ts,
             md5(CAST(event_id AS VARCHAR)) AS hh
      FROM events
    ), j AS (
      SELECT event_id, user_id,
             ts - to_seconds((
               (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
             + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1)
             ) % 86400) AS ts
      FROM h
    ), d AS (
      SELECT event_id, user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS run_max
      FROM j
    ), l AS (
      SELECT event_id, user_id, ts,
             date_diff('microsecond', ts, run_max) AS late_us
      FROM d
    )"""

# the per-key/bucketed akslack fixed point = jitter CTEs + the
# rank-based discrete-quantile slack
_AKSLACK_ORACLE = f"""
    WITH {_JITTER_LATE_CTES}, r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY late_us, event_id) AS rnk,
             (90 * count(*) OVER (PARTITION BY user_id) + 99) // 100 AS idx
      FROM l
    ), s AS (
      SELECT *, max(CASE WHEN rnk = idx THEN late_us END)
                  OVER (PARTITION BY user_id) AS slack_us
      FROM r
    )
    SELECT event_id, user_id, ts, late_us, slack_us FROM s
    WHERE late_us <= slack_us
    """


@register(
    "streaming_reorder_akslack",
    oracle=_AKSLACK_ORACLE,
    tags=("streaming", "reorder", "akslack"),
)
def streaming_reorder_akslack(spark: SparkSession, sf: str) -> DataFrame:
    """`reorder:akslack(ts)` (§3.9 `[ext:reorder]`
    AlterableKSlackExtension — the LAST unimplemented §3.9 surface):
    K-slack whose K ADAPTS to observed disorder instead of being a
    constant. Per key, an event's lateness is the running max event
    time over arrival order minus its own; the slack is the
    rank-based 90 %-quantile of those latenesses (integer-exact —
    ceil arithmetic, an actual observed value, no float
    interpolation); later-than-slack events drop, exactly kslack's
    contract with the derived K. The fixture replays with a
    deterministic per-event delay (first 5 md5 hex digits of the
    event id, mod 86 400 s — md5 decorrelates the jitter from the
    per-user event-id stride, and both engines derive the identical
    integer), and the streaming state op (`streaming.reorder.akslack`,
    one long of state per key) lands row-identical on the relational
    oracle; the batch twin equivalence is pinned in
    tests/test_streaming_extras.py."""
    from ..streaming.reorder import akslack

    s = _events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    out = akslack(s, ts="ts", key="user_id", q_pct=90).select(
        "event_id",
        F.col("key").cast("long").alias("user_id"),
        "ts",
        "late_us",
        "slack_us",
    )
    name = _materialize(out, "append", expect_single_batch=True)
    return spark.table(name)


@register(
    "streaming_reorder_akslack_bucketed",
    oracle=_AKSLACK_ORACLE,
    tags=("streaming", "reorder", "akslack", "state-buckets"),
)
def streaming_reorder_akslack_bucketed(
    spark: SparkSession, sf: str
) -> DataFrame:
    """`reorder:akslack` on the COARSE-bucket state layout
    (`streaming.reorder.akslack` with ``n_buckets=16`` — shipped from
    the r10 ×100 measurement: per-key state ran 10 M events / 150 k
    keys at 0.417 M events/s with the per-(key × batch) python-call
    constant dominating; hash(key) % 16 buckets cut wall 2.7× to
    1.14 M events/s, SCALEBENCH r10). Output must be row-identical to
    per-key state — same oracle proves both, and the multi-batch
    equivalence is pinned in tests/test_streaming_extras.py."""
    from ..streaming.reorder import akslack

    s = _events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    out = akslack(
        s, ts="ts", key="user_id", q_pct=90, n_buckets=16
    ).select(
        "event_id",
        F.col("key").cast("long").alias("user_id"),
        "ts",
        "late_us",
        "slack_us",
    )
    name = _materialize(out, "append", expect_single_batch=True)
    return spark.table(name)


# constant-K drop contract on the md5-jitter fixture — shared with the
# QL kslack rows in siddhiql_suite (one relational fixed point proving
# the batch runner, the per-key streaming op, and the bucketed tier)
_KSLACK_CONST_ORACLE = f"""
    WITH {_JITTER_LATE_CTES}
    SELECT event_id, user_id, ts, late_us,
           CAST(3600000000 AS BIGINT) AS slack_us
    FROM l
    WHERE late_us <= 3600000000
    """


@register(
    "streaming_reorder_kslack_bucketed",
    oracle=_KSLACK_CONST_ORACLE,
    tags=("streaming", "reorder", "kslack", "state-buckets"),
)
def streaming_reorder_kslack_bucketed(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Constant-K `reorder:kslack` on the COARSE-bucket state layout
    (`streaming.reorder.kslack_stateful` with ``n_buckets=16`` — r11
    code, first oracle row r12 per the r11 verdict: the op was pinned
    row-identical to `kslack_batch` by routing tests but never
    exercised through the oracle gate). Same geometry as the bucketed
    akslack sibling (hash(key) % n_buckets state, numpy per-event
    work) with the 1-hour constant slack; the md5-jittered lateness fixed point is
    the same relational oracle the QL kslack row proves, so all three
    runners (batch, per-key streaming, bucketed streaming) land on
    one row set."""
    from ..streaming.reorder import kslack_stateful

    s = _events_stream(spark, sf).select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, "
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 5), "
            "16, 10) AS BIGINT) % 86400)"
        ).alias("ts"),
    )
    out = kslack_stateful(
        s, ts="ts", key="user_id", slack_ms=3_600_000, n_buckets=16
    ).select(
        "event_id",
        F.col("key").cast("long").alias("user_id"),
        "ts",
        "late_us",
        "slack_us",
    )
    name = _materialize(out, "append", expect_single_batch=True)
    return spark.table(name)


@register(
    "streaming_join_full_outer",
    oracle="""
    WITH cutoff AS (
      SELECT max(ts) - INTERVAL 3 HOURS AS c FROM events
    ), a AS (
      SELECT user_id, event_id, ts FROM events, cutoff
      WHERE event_type = 'click' AND ts <= c
    ), b AS (
      SELECT user_id, event_id, ts FROM events, cutoff
      WHERE event_type = 'view' AND ts <= c
    )
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           a.event_id AS click_id, b.event_id AS view_id
    FROM a FULL JOIN b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts - INTERVAL 5 MINUTES
     AND b.ts <= a.ts + INTERVAL 5 MINUTES
    """,
    tags=("streaming", "join", "outer"),
)
def streaming_join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """REAL watermarked stream-stream FULL OUTER join (§3.4 completes
    the outer family: left r6, full r7): unmatched events from EITHER
    side emit with nulls once the watermark passes their join window.
    Same closing-margin contract as the left-outer twin, now applied
    to BOTH sides (an unmatched near-end view is as undefined as an
    unmatched near-end click) — both engines exclude the final 3-hour
    margin."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..operators.joins import windowed_stream_join
    from ..streaming import sources as SRC

    e = load(spark, sf, "events")
    cutoff = (
        e.agg(F.max("ts").alias("m"))
        .select(F.col("m") - F.expr("INTERVAL 3 HOURS"))
        .first()[0]
    )
    n_rows = e.count()  # parquet metadata count — state-size estimate
    full = e.select(*SCHEMAS["events"].fieldNames())
    d1 = tempfile.mkdtemp(prefix="replay_foj1_")
    SRC.replay_dir(full, d1, "ts", 3)
    d2 = tempfile.mkdtemp(prefix="replay_foj2_")
    SRC.replay_dir(full, d2, "ts", 3)
    clicks = (
        SRC.file_stream(spark, d1, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter(
            (F.col("event_type") == "click") & (F.col("ts") <= F.lit(cutoff))
        )
    )
    views = (
        SRC.file_stream(spark, d2, SCHEMAS["events"], max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .filter(
            (F.col("event_type") == "view") & (F.col("ts") <= F.lit(cutoff))
        )
    )
    joined = windowed_stream_join(
        clicks,
        views,
        left_ts="ts",
        right_ts="ts",
        equi_keys=[("user_id", "user_id")],
        within_seconds=300,
        how="fullOuter",
    )
    out = joined.select(
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("view_id"),
    )
    from ..streaming import derived_state_partitions

    name = _materialize(
        out, "append",
        state_partitions=derived_state_partitions(spark, n_rows),
    )
    return spark.table(name)


@register(
    "streaming_incr_agg_state",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           event_type,
           count(*) AS cnt,
           round(1e-9 + sum(value), 4) AS sum_v,
           round(1e-9 + min(value), 4) AS min_v,
           round(1e-9 + max(value), 4) AS max_v
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "incremental", "state"),
)
def streaming_incr_agg_state(spark: SparkSession, sf: str) -> DataFrame:
    """`define aggregation` STREAMING runtime end-to-end through the
    versioned state table (r7 exactly-once layout): the replayed
    corpus micro-batches through `incremental_agg_sink` (per-batch
    composable rollup, merge-ADD into `_SUCCESS`-gated `v=<epoch>`
    snapshots), then the LATEST COMMITTED snapshot must equal the
    batch hour rollup — the reference's ingest path, not a retrieval
    re-aggregation. Out-of-order events across replay files merge-add
    order-free; a replayed epoch would overwrite its own version
    byte-identically (pinned separately by the replay tests)."""
    import tempfile

    from ..catalog import SCHEMAS
    from ..streaming import sources as SRC
    from ..streaming.incremental import (
        IncrementalStateTable,
        incremental_agg_sink,
    )

    e = load(spark, sf, "events")
    d = tempfile.mkdtemp(prefix="incr_state_")
    SRC.replay_dir(e.select(*SCHEMAS["events"].fieldNames()), d, "ts", 4)
    stream = SRC.file_stream(
        spark, d, SCHEMAS["events"], max_files_per_trigger=1
    )
    state = IncrementalStateTable(
        spark, tempfile.mkdtemp(prefix="incr_tab_"), keys=["event_type"]
    )
    q = incremental_agg_sink(
        stream,
        state,
        ts="ts",
        value="value",
        gran="hour",
        checkpoint=tempfile.mkdtemp(prefix="incr_ck_"),
    )
    q.processAllAvailable()
    q.stop()
    return state.current().select(
        "bucket_start",
        "event_type",
        "cnt",
        r4(F.col("sum_v"), 4).alias("sum_v"),
        r4(F.col("min_v"), 4).alias("min_v"),
        r4(F.col("max_v"), 4).alias("max_v"),
    )

@register(
    "streaming_incr_agg_replay",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
           event_type,
           count(*) AS cnt,
           round(1e-9 + sum(value), 4) AS sum_v,
           round(1e-9 + min(value), 4) AS min_v,
           round(1e-9 + max(value), 4) AS max_v
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "incremental", "state", "exactly-once"),
)
def streaming_incr_agg_replay(spark: SparkSession, sf: str) -> DataFrame:
    """The exactly-once CRASH-REPLAY contract driver-proven (r7
    verdict #5; the reference's `restoreLastRevision` claim, `[core]
    util/snapshot/SnapshotService.java`): ingest the corpus through
    the versioned state table, then simulate the worst-case crash —
    the LAST epoch's state write is TORN (``v=N`` exists without
    ``_SUCCESS``) and the streaming checkpoint never recorded the
    epoch's commit — and RESTART the query from the same checkpoint.
    Structured Streaming's offset log replays epoch N with identical
    inputs; `merge_batch` reads the latest committed version strictly
    below N and recomputes ``v=N`` byte-identically, so the final
    snapshot equals the batch hour rollup — no double-add, no loss.
    The happy path is `streaming_incr_agg_state`; THIS row is the
    at-least-once → exactly-once proof."""
    import shutil
    import tempfile

    from ..catalog import SCHEMAS
    from ..streaming import sources as SRC
    from ..streaming.incremental import (
        IncrementalStateTable,
        incremental_agg_sink,
    )

    e = load(spark, sf, "events")
    d = tempfile.mkdtemp(prefix="incr_rp_src_")
    SRC.replay_dir(e.select(*SCHEMAS["events"].fieldNames()), d, "ts", 4)
    stream = SRC.file_stream(
        spark, d, SCHEMAS["events"], max_files_per_trigger=1
    )
    state = IncrementalStateTable(
        spark, tempfile.mkdtemp(prefix="incr_rp_tab_"), keys=["event_type"]
    )
    ck = tempfile.mkdtemp(prefix="incr_rp_ck_")
    q = incremental_agg_sink(
        stream, state, ts="ts", value="value", gran="hour", checkpoint=ck
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    # stop() deregisters asynchronously — wait until the manager drops
    # the query or the restart trips the shared-checkpoint guard
    import time

    for _ in range(100):
        if all(a.id != q.id for a in spark.streams.active):
            break
        time.sleep(0.1)

    # crash simulation: the process died AFTER epoch N's foreachBatch
    # started writing state but BEFORE either commit landed — tear the
    # state version (drop its _SUCCESS) and erase the checkpoint's
    # commit marker so the restart MUST re-execute the epoch
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")  # local-fs checksum twin
    if os.path.exists(crc):
        os.remove(crc)
    success = os.path.join(state.store.dir(last), "_SUCCESS")
    if os.path.exists(success):  # torn write: files present, no marker
        os.remove(success)

    stream2 = SRC.file_stream(
        spark, d, SCHEMAS["events"], max_files_per_trigger=1
    )
    q2 = incremental_agg_sink(
        stream2, state, ts="ts", value="value", gran="hour", checkpoint=ck
    )
    q2.processAllAvailable()
    q2.stop()
    shutil.rmtree(d, ignore_errors=True)

    return state.current().select(
        "bucket_start",
        "event_type",
        "cnt",
        r4(F.col("sum_v"), 4).alias("sum_v"),
        r4(F.col("min_v"), 4).alias("min_v"),
        r4(F.col("max_v"), 4).alias("max_v"),
    )

@register(
    "streaming_text_dedup_lines",
    oracle=None,  # set right below to the batch dedup_lines oracle
    tags=("streaming", "text", "dedup"),
)
def streaming_text_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level boilerplate dedup as a RESIDENT streaming service
    (streaming/dedup.py `incremental_line_dedup_sink` — the r7
    verdict's asked-for streaming twin of `text_dedup_lines`): the
    lined corpus replays in 3 micro-batches; per-hash document counts
    accumulate epoch-idempotently, a line's positions drop the moment
    its corpus count crosses min_docs (stored docs retroactively, new
    docs at arrival), and the read-face refold of all stored docs
    against all emitted drops equals the BATCH operator output — so
    the batch DuckDB oracle proves the incremental service end to
    end. Same 8-token line materialization as the batch row."""
    import tempfile

    from ..streaming import dedup as SD
    from ..streaming import sources as SRC

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
    d = tempfile.mkdtemp(prefix="linededup_replay_")
    SRC.replay_dir(lined, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, lined.schema, max_files_per_trigger=1)
    state = tempfile.mkdtemp(prefix="linededup_state_")
    q = SD.incremental_line_dedup_sink(
        s, state, f"{state}/ckpt", min_docs=2, min_line_tokens=3
    )
    q.processAllAvailable()
    q.stop()
    return SD.read_line_dedup(spark, state)


# the oracle is the batch line-dedup oracle — identical output contract
_REG["streaming_text_dedup_lines"].oracle = _REG["text_dedup_lines"].oracle

@register(
    "streaming_text_remove_spans",
    oracle=None,  # set right below to the batch span-removal oracle
    tags=("streaming", "text", "dedup"),
)
def streaming_text_remove_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Repeated-span removal as a RESIDENT streaming service
    (streaming/dedup.py `incremental_span_removal_sink` — completes
    the text-dedup family's streaming twins): documents replay in 3
    micro-batches; winnow-fingerprint document counts accumulate
    epoch-idempotently, covered positions mask the moment a
    fingerprint crosses min_docs (stored docs retroactively, new docs
    at arrival), and the read-face refold equals the BATCH operator
    output — the batch DuckDB oracle proves the incremental service
    end to end."""
    import tempfile

    from ..streaming import dedup as SD
    from ..streaming import sources as SRC

    docs = load(spark, sf, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="spanrm_replay_")
    SRC.replay_dir(docs, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = tempfile.mkdtemp(prefix="spanrm_state_")
    q = SD.incremental_span_removal_sink(
        s, state, f"{state}/ckpt", k=3, w=4, min_docs=2
    )
    q.processAllAvailable()
    q.stop()
    return SD.read_span_removal(spark, state, k=3, w=4)


# the oracle is the batch span-removal oracle — identical output contract
_REG["streaming_text_remove_spans"].oracle = _REG[
    "text_remove_repeated_spans"
].oracle


@register(
    "streaming_text_dsir",
    oracle=None,  # set right below to the batch DSIR oracle
    tags=("streaming", "text", "sampling"),
)
def streaming_text_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """r15: DSIR importance scoring as a RESIDENT serving stream —
    the deploy shape of `text_dsir_weight`: the 256-bucket model is
    derived ONCE offline (`pipeline/text.py::dsir_model`, a
    bucket-count-bounded collect), frozen into a map literal, and the
    document stream is scored STATELESSLY (`dsir_apply` — map-only
    stage, no shuffle, no state store, so micro-batch boundaries
    cannot change any row). The corpus replays in 3 micro-batches;
    the union equals the batch operator output, so the batch DuckDB
    oracle proves the serving path end to end."""
    import tempfile

    from ..pipeline import text as X
    from ..streaming import sources as SRC

    docs = load(spark, sf, "documents")
    model = X.dsir_model(docs, F.col("lang") == "en")
    d = tempfile.mkdtemp(prefix="dsir_replay_")
    SRC.replay_dir(docs, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    name = _materialize(X.dsir_apply(s, model), "append")
    return spark.table(name)


_REG["streaming_text_dsir"].oracle = _REG["text_dsir_weight"].oracle


@register(
    "streaming_shard_assign",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != ''))
               AS n_tokens
      FROM documents
    )
    SELECT source, doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (
             ORDER BY source, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / 512) AS BIGINT) AS shard_id
    FROM d
    """,
    tags=("streaming", "curation", "packing"),
)
def streaming_shard_assign(spark: SparkSession, sf: str) -> DataFrame:
    """r15: global shard assignment as a RESIDENT ingest service
    (`streaming/curation.py::incremental_shard_sink` — the streaming
    twin of `corpus_shard_manifest`'s assignment stage): the
    per-source offset table is derived ONCE offline
    (`pipeline.curation.shard_offsets`, source-count-bounded — the
    frozen-serving shape of the DSIR twin), the corpus replays in 3
    micro-batches in doc_id order, per-source running token totals
    accumulate epoch-idempotently, and every doc receives its FINAL
    global shard id at arrival.  The read face is per-doc assignment —
    pinned row-for-row against the naive single-global-window SQL."""
    import tempfile

    from ..pipeline import curation as C
    from ..streaming import curation as SC
    from ..streaming import sources as SRC

    docs = load(spark, sf, "documents")
    offsets = C.shard_offsets(docs)
    d = tempfile.mkdtemp(prefix="shard_replay_")
    SRC.replay_dir(docs, d, "doc_id", 3)
    s = SRC.file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    state = tempfile.mkdtemp(prefix="shard_state_")
    q = SC.incremental_shard_sink(
        s, state, f"{state}/ckpt", offsets, budget=512
    )
    q.processAllAvailable()
    q.stop()
    return SC.read_shard_assign(spark, state)
