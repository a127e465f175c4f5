"""The two workloads. Each takes a ``Run`` and returns a ``Result``.

- ``stream_replay``: open loop. The same app through
  ``run_app_streaming`` from a file source into noop sinks; a
  generator thread lands one file per fixed interval (paced phase),
  then a backlog at once (burst phase). An op is one landed file.
- ``curate_dedup``: closed loop, one client. An op is step 4 of
  ``examples/curate_corpus.py``: minhash, capped LSH, strong pairs,
  connected components, survivors.

Every op's outputs are checked; a mismatch, an exception or a
terminated query counts as a failed op.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import gen
import tracing as tr

APP_PATH = os.path.join("examples", "user_activity_monitoring.siddhi")
OUTPUTS = ("VipPurchases", "RecentErrors", "ErrorCounts", "Recovered", "TypeTotals")

# Per-output fingerprints: aggregate SQL expressions that Spark observes
# over the drained rows, of the streaming queries and of ``run_app``.
CHECKS = {
    "VipPurchases": ("count(*)", "sum(user_id)", "sum(value)",
                     "sum(CASE WHEN tier = 'gold' THEN 1 ELSE 0 END)"),
    "RecentErrors": ("count(*)", "sum(event_id)", "sum(user_id)"),
    "ErrorCounts": ("count(*)", "sum(n)", "sum(n * user_id)"),
    "Recovered": ("count(*)", "sum(user_id)", "sum(err_id)", "sum(buy_id)"),
    "TypeTotals": ("count(*)", "sum(n)", "sum(total)", "sum(n * length(event_type))"),
}

# stream_replay shape: the paced phase lands one FILE_EVENTS file every
# PACE_S for the run's seconds, an offered rate well below the burst
# drain rate; a query's micro-batch spans several landings. In a traced
# run, once every query has committed the paced files, BURST_FILES land
# at once (the burst's single batch per query drains at a rate too
# unsteady from run to run to gate on, so it is a per-layer figure).
FILE_EVENTS = 125
PACE_S = 1.0
BURST_FILES = 24
# events per day of the fixture (100k events over 30 days), kept so
# windows and patterns see the fixture density
EVENTS_PER_DAY = 100_000 / 30


@dataclass
class Run:
    spark: object
    tracer: tr.Tracer
    seed: int
    seconds: float
    work: str  # scratch directory of this run
    groups: dict[str, list[str]] = field(default_factory=dict)

    def group(self, kind: str) -> None:
        """Tag the jobs that follow with a job group of this layer
        (traced runs only, so the untraced run's jobs are untouched)."""
        if self.tracer.enabled:
            name = f"{kind}#{self.tracer.op}"
            self.spark.sparkContext.setJobGroup(name, name)
            self.groups.setdefault(kind, []).append(name)


@dataclass
class Result:
    # one sample per closed-loop op, or per paced file and output query
    # of the stream: from when the file was due until that query
    # committed the batch that read it
    latencies_ms: list[float]
    attempted: int
    failed: int
    gen_s: float  # input generation
    warm_s: float  # deploy and first (cold) op
    layers: dict[str, float] = field(default_factory=dict)


def _same(got, want) -> bool:
    return len(got) == len(want) and all(
        math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6) for g, w in zip(got, want)
    )


def _duck(files: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for view, path in files.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    return con


def _observe(df, name: str):
    """Attach the output's fingerprint to ``df``. A streaming frame
    reports it per batch in its progress under ``name``; a batch frame
    through the returned ``Observation``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [F.expr(e).alias(f"c{i}") for i, e in enumerate(CHECKS[name])]
    if df.isStreaming:
        return df.observe(name, *cols), None
    obs = Observation(name)
    return df.observe(obs, *cols), obs


def _row(row: dict, n: int) -> tuple:
    return tuple(float(row[f"c{i}"] or 0) for i in range(n))


def _read_app() -> str:
    with open(APP_PATH) as f:
        return f.read()


def _timed(fn) -> float:
    """Seconds ``fn()`` takes."""
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _closed_loop(run: Run, op) -> tuple[list[float], int, int]:
    """Run ``op`` back to back for ``run.seconds``. An op returns
    whether its outputs checked out and its own time in ms, which
    leaves the check out."""
    lat, failed = [], 0
    deadline = time.perf_counter() + run.seconds
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            ok, ms = op()
        except Exception:  # a raising op is a failed op; keep measuring
            traceback.print_exc()
            ok, ms = False, 1000 * (time.perf_counter() - t0)
        failed += not ok
        lat.append(ms)
    return lat, len(lat), failed


def _job_floor_ms(spark, n: int = 7) -> float:
    """Median wall time of a noop drain of a one-row frame: the fixed
    cost of one Spark job on this machine."""
    df = spark.range(1)
    times = []
    for _ in range(n):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(1000 * (time.perf_counter() - t))
    return statistics.median(times)


def _sched_exec(run: Run, groups, n_ops: int) -> dict[str, float]:
    """Scheduler and executor counters of the jobs in ``groups``, per op."""
    s = tr.job_stats(run.spark, groups)
    n = max(n_ops, 1)
    return {
        "sched.job_floor_ms": _job_floor_ms(run.spark),
        "sched.jobs": s["jobs"] / n,
        "sched.stages": s["stages"] / n,
        "sched.tasks": s["tasks"] / n,
        "exec.shuffle_write_bytes": s["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": s["shuffle_read_bytes"] / n,
        "exec.spill_bytes": s["spill_bytes"] / n,
        "exec.gc_ms": s["gc_ms"] / n,
    }


def _span_ms(run: Run, n_ops: int, names: dict[str, str]) -> dict[str, float]:
    """Per-op self time of each span name, under its metric name."""
    totals = tr.totals_ms(run.tracer.spans)
    return {m: totals.get(s, 0.0) / max(n_ops, 1) for m, s in names.items()}


def _reset_trace(run: Run) -> None:
    run.tracer.spans.clear()
    run.groups.clear()


# ---- curate_dedup ---------------------------------------------------------

N_DOCS = 5000
# the warm-up op runs on a small corpus of its own: it pays the cold
# costs (JIT, Python workers, first plans) that a warm op does not
WARM_DOCS = 200
DUP_SHARE = 0.1
DOC_WORDS = (10, 40)
N_HASHES, BAND_SIZE, LSH_CAP, STRONG = 32, 8, 2000, 30


def _pairs_oracle_sql() -> str:
    """The capped MinHash oracle from the engine's suite, at the
    ``lsh_candidate_pairs`` default cap."""
    from siddhi_operator_spark.suite import pipeline as SP

    cap = f"HAVING count(*) <= {SP.LSH_CAP}"
    if cap not in SP.MINHASH_CAPPED_ORACLE:
        raise RuntimeError("capped MinHash oracle changed shape")
    return SP.MINHASH_CAPPED_ORACLE.replace(cap, f"HAVING count(*) <= {LSH_CAP}")


PAIR_CHECK = (
    "count(*)", "sum(id_a)", "sum(id_b)", "sum(n_sig_match)",
    f"sum(CASE WHEN n_sig_match >= {STRONG} THEN 1 ELSE 0 END)",
)


def _survivors(n_docs: int, strong_pairs) -> int:
    """Documents left after dropping every non-minimum member of each
    connected component of the strong-pair graph (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in strong_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return n_docs - sum(1 for x in parent if find(x) != x)


def curate_dedup(run: Run) -> Result:
    from pyspark.sql import functions as F

    from siddhi_operator_spark.pipeline import dedup as D

    spark, t = run.spark, run.tracer
    docs_path = os.path.join(run.work, "documents.parquet")
    warm_path = os.path.join(run.work, "warm_documents.parquet")

    def write_inputs() -> None:
        gen.write(gen.documents(run.seed, N_DOCS, DUP_SHARE, DOC_WORDS), docs_path)
        gen.write(gen.documents(run.seed + 1, WARM_DOCS, DUP_SHARE, DOC_WORDS), warm_path)

    gen_s = _timed(write_inputs)
    con = _duck({"documents": docs_path})
    try:
        con.execute(f"CREATE TEMP TABLE pairs AS {_pairs_oracle_sql()}")
        want_pairs = tuple(
            float(v or 0)
            for v in con.execute(f"SELECT {', '.join(PAIR_CHECK)} FROM pairs").fetchone()
        )
        strong = con.execute(
            f"SELECT id_a, id_b FROM pairs WHERE n_sig_match >= {STRONG}"
        ).fetchall()
    finally:
        con.close()
    want_survivors = _survivors(N_DOCS, strong)
    stats: dict[str, float] = {"candidates": 0.0, "strong": 0.0, "survivors": 0.0}

    def op(path: str, check: bool) -> tuple[bool, float]:
        t.op += 1
        t0 = time.perf_counter()
        docs = spark.read.parquet(path)
        pair_fp = None
        with t.span("op"):
            run.group("minhash")
            with t.span("pipeline.minhash_signature"):
                sigs = D.minhash_signature(docs, n_hashes=N_HASHES, impl="arrow")
                if t.enabled:  # materialize to time the Arrow boundary alone
                    sigs = sigs.cache()
                    sigs.count()
            run.group("lsh")
            with t.span("pipeline.lsh_candidate_pairs"):
                pairs = D.lsh_candidate_pairs(sigs, n_hashes=N_HASHES, band_size=BAND_SIZE)
                if t.enabled:
                    pairs = pairs.cache()
                    pair_fp = pairs.agg(*[F.expr(e) for e in PAIR_CHECK]).first()
            run.group("cc")
            with t.span("pipeline.connected_components"):
                cc = D.connected_components(pairs.filter(F.col("n_sig_match") >= STRONG))
            dupes = cc.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id")
            )
            survivors = docs.join(dupes, "doc_id", "left_anti")
            run.group("exec")
            if t.enabled:
                with t.span("catalyst.plan"):
                    tr.force_plan(survivors)
            with t.span("exec.action"):
                n_survivors = survivors.count()
        ms = 1000 * (time.perf_counter() - t0)
        # the check is not timed: untraced, it computes the pairs again
        if check and pair_fp is None:
            pair_fp = pairs.agg(*[F.expr(e) for e in PAIR_CHECK]).first()
        spark.catalog.clearCache()
        if not check:
            return True, ms
        got = tuple(float(v or 0) for v in pair_fp)
        stats["candidates"] += got[0]
        stats["strong"] += got[4]
        stats["survivors"] += n_survivors
        return _same(got, want_pairs) and n_survivors == want_survivors, ms

    warm_s = _timed(lambda: op(warm_path, check=False))
    _reset_trace(run)
    lat, attempted, failed = _closed_loop(run, lambda: op(docs_path, check=True))
    layers = {}
    if t.enabled:
        n = max(attempted, 1)
        layers = _span_ms(run, attempted, {
            "pipeline.minhash_signature_ms": "pipeline.minhash_signature",
            "pipeline.lsh_pairs_ms": "pipeline.lsh_candidate_pairs",
            "pipeline.cc_ms": "pipeline.connected_components",
            "catalyst.plan_ms": "catalyst.plan",
            "exec.action_ms": "exec.action",
        })
        layers["pipeline.lsh_candidate_pairs"] = stats["candidates"] / n
        layers["pipeline.lsh_pair_yield"] = stats["strong"] / max(stats["candidates"], 1)
        layers["pipeline.survivors"] = stats["survivors"] / n
        layers["pipeline.cc_jobs"] = tr.job_stats(spark, run.groups.get("cc", []))["jobs"] / n
        groups = [g for k in ("minhash", "lsh", "cc", "exec") for g in run.groups[k]]
        layers.update(_sched_exec(run, groups, attempted))
    return Result(lat, attempted, failed, gen_s, warm_s, layers)


# ---- stream_replay --------------------------------------------------------

STREAM_MODES = {n: "complete" if n == "TypeTotals" else "append" for n in OUTPUTS}
# outputs whose streaming rows equal the batch runner's rows once drained
# (ErrorCounts emits sliding panes, a different shape from batch)
STREAM_CHECKED = ("VipPurchases", "RecentErrors", "Recovered", "TypeTotals")


class Lander(threading.Thread):
    """Open-loop generator: moves staged files into the watched
    directory on a fixed schedule, whatever the engine is doing, and
    records when each file was due and when it landed."""

    def __init__(self, files: list[tuple[str, str]], due: list[float]) -> None:
        super().__init__(name="lander", daemon=True)
        self.files, self.due = files, due
        self.landed: dict[str, tuple[float, float]] = {}  # dst -> (due, landed)

    def run(self) -> None:
        for (src, dst), due in zip(self.files, self.due):
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(src, dst)
            self.landed[dst] = (due, time.time())


def stream_replay(run: Run) -> Result:
    from siddhi_operator_spark.catalog import SCHEMAS
    from siddhi_operator_spark.siddhiql import parse_app, run_app, run_app_streaming

    spark, t = run.spark, run.tracer
    n_paced = max(1, int(run.seconds / PACE_S))
    n_files = 1 + n_paced + BURST_FILES
    stage, land = os.path.join(run.work, "stage"), os.path.join(run.work, "land")
    ckpt = os.path.join(run.work, "checkpoints")
    vip_path = os.path.join(run.work, "vip.parquet")
    names = [f"part-{i:05d}.parquet" for i in range(n_files)]
    os.makedirs(stage)
    os.makedirs(land)

    def write_inputs() -> None:
        n = FILE_EVENTS * n_files
        tables = gen.events(
            run.seed, n, n_files=n_files, days=n / EVENTS_PER_DAY,
            skew=0.8, ooo_share=0.05,
        )
        for name, table in zip(names, tables):
            gen.write(table, os.path.join(stage, name))
        gen.write(gen.vip_users(run.seed), vip_path)

    gen_s = _timed(write_inputs)
    vip = spark.read.parquet(vip_path)

    # deploy: parse, build, start one query per output, then land the
    # first file and wait until every query has committed it
    t0 = time.perf_counter()
    t.op += 1
    observed = {}
    queries = {}
    with t.span("op"):
        text = _read_app()
        with t.span("siddhiql.parse"):
            model = parse_app(text)
        source = spark.readStream.schema(SCHEMAS["events"]).parquet(land)
        run.group("build")
        with t.span("siddhiql.build"):
            outs = run_app_streaming(
                model, {"Events": source, "VipUsers": vip}, watermark="10 minutes"
            )
        with t.span("streaming.start"):
            for name in OUTPUTS:
                df = outs[name]
                if name in STREAM_CHECKED:
                    df, observed[name] = _observe(df, name)
                queries[name] = (
                    df.writeStream.format("noop").queryName(name)
                    .outputMode(STREAM_MODES[name])
                    .option("checkpointLocation", os.path.join(ckpt, name))
                    .start()
                )
    try:
        first = os.path.join(land, names[0])
        os.rename(os.path.join(stage, names[0]), first)
        _await_commits(queries, ckpt, [first], deadline=time.time() + 150)
        warm_s = time.perf_counter() - t0
        # batches up to the warm-up's are left out of the per-layer figures
        _await_progress(queries, ckpt, deadline=time.time() + 30)
        after = {n: (q.lastProgress or {}).get("batchId", -1) for n, q in queries.items()}

        def land_files(batch: list[str], due: list[float]) -> Lander:
            lander = Lander(
                [(os.path.join(stage, n), os.path.join(land, n)) for n in batch], due
            )
            lander.start()
            lander.join(timeout=max(due) - time.time() + 60)
            return lander

        # paced phase: one landing per PACE_S, then wait until every
        # query has committed them, so the burst does not mix in
        start = time.time() + 0.5
        paced = land_files(
            names[1:1 + n_paced], [start + i * PACE_S for i in range(n_paced)]
        )
        commits = _await_commits(queries, ckpt, paced.landed, deadline=time.time() + 60)
        landed = dict(paced.landed)
        layers = {}
        if t.enabled:
            # burst phase (traced run only): the backlog lands at once
            burst = land_files(names[1 + n_paced:], [time.time() + 0.2] * BURST_FILES)
            landed.update(burst.landed)
            commits = _await_commits(queries, ckpt, landed, deadline=time.time() + 90)
            layers["streaming.drain_events_per_s"] = _drain_rate(burst.landed, commits)
        _await_progress(queries, ckpt, deadline=time.time() + 30)
        if t.enabled:
            progress = [
                {**p, "name": n} for n, q in queries.items() for p in q.recentProgress
            ]
            layers.update(tr.progress_layers(progress, after))
            layers.update(_stream_layers(run, queries, landed, commits))
        got = _stream_outputs(queries, observed)
    finally:
        for q in queries.values():
            q.stop()

    # one sample per paced file and output: the five queries commit on
    # their own schedules, so pooling them covers many more batch
    # boundaries than one sample per file would
    lat = [
        1000 * (c[p] - due)
        for c in commits.values()
        for p, (due, _) in paced.landed.items()
        if p in c
    ]
    attempted = len(landed)
    failed = attempted - sum(
        1 for p in landed if all(p in c for c in commits.values())
    )
    if failed:
        print(f"{failed} of {attempted} files not committed by every query", file=sys.stderr)

    # finalized streaming outputs against the batch runner on the same events
    run.group("check")
    events = spark.read.schema(SCHEMAS["events"]).parquet(land)
    ref = run_app(model, {"Events": events, "VipUsers": vip})
    want = {}
    for name in STREAM_CHECKED:
        df, obs = _observe(ref[name], name)
        df.write.format("noop").mode("overwrite").save()
        want[name] = _row(obs.get, len(CHECKS[name]))
    if not all(_same(got[n], want[n]) for n in STREAM_CHECKED):
        print(f"stream outputs differ from run_app: {got} != {want}", file=sys.stderr)
        failed = attempted
    if t.enabled:
        layers["gen.late_ms_max"] = max(
            1000 * (landed_at - due_at) for due_at, landed_at in landed.values()
        )
        layers["gen.files_landed"] = float(len(landed))
        layers["siddhiql.build_jobs"] = tr.job_stats(
            spark, run.groups.get("build", [])
        )["jobs"]
    return Result(lat, attempted, failed, gen_s, warm_s, layers)


def _drain_rate(burst: dict, commits) -> float:
    """Events per second of the burst: from its landing until a query
    committed all of it, averaged over the queries."""
    due = min(d for d, _ in burst.values())
    drain_s = statistics.fmean(
        max(c.get(p, math.inf) for p in burst) - due for c in commits.values()
    )
    return FILE_EVENTS * len(burst) / drain_s


def _await_commits(queries, ckpt: str, paths, deadline: float) -> dict[str, dict[str, float]]:
    """Poll each query's checkpoint until every path is committed by
    every query, a query dies, or the deadline passes. Returns
    query -> {path: commit time}."""
    want = set(paths)
    while True:
        commits = {n: tr.file_commits(os.path.join(ckpt, n)) for n in queries}
        if all(want <= c.keys() for c in commits.values()):
            return commits
        dead = [n for n, q in queries.items() if not q.isActive]
        if dead or time.time() > deadline:
            for n in dead:
                print(f"query {n} terminated: {queries[n].exception()}", file=sys.stderr)
            return commits
        time.sleep(0.05)


def _await_progress(queries, ckpt: str, deadline: float) -> None:
    """Wait until each query has reported progress for its last
    committed batch (the commit log is written before the report)."""
    for name, q in queries.items():
        last = max(
            (int(n) for n in os.listdir(os.path.join(ckpt, name, "commits")) if n.isdigit()),
            default=-1,
        )
        while (q.lastProgress or {}).get("batchId", -1) < last and time.time() < deadline:
            time.sleep(0.05)


def _stream_outputs(queries, observed) -> dict[str, tuple]:
    """Sum each checked append output's observed fingerprint over all
    its batches; a complete-mode output's last batch is its total."""
    out = {}
    for name in observed:
        rows = [
            p["observedMetrics"][name]
            for p in queries[name].recentProgress
            if name in p.get("observedMetrics", {})
        ]
        k = len(CHECKS[name])
        if STREAM_MODES[name] == "complete":
            out[name] = _row(rows[-1], k) if rows else ()
        else:
            out[name] = tuple(map(sum, zip(*(_row(r, k) for r in rows)))) or (0.0,) * k
    return out


def _stream_layers(run: Run, queries, landed, commits) -> dict[str, float]:
    """Driver-side spans and the scheduler/executor view of the
    streaming queries' jobs (each query's run id is its job group)."""
    layers = _span_ms(run, 1, {
        "siddhiql.parse_ms": "siddhiql.parse",
        "siddhiql.build_ms": "siddhiql.build",
    })
    layers.update(_sched_exec(run, [str(q.runId) for q in queries.values()], 1))
    # backlog: files landed but not yet committed by every query, seen
    # at each landing
    done = {p: max(c.get(p, math.inf) for c in commits.values()) for p in landed}
    layers["streaming.backlog_files_max"] = float(max(
        sum(1 for q, (_, other) in landed.items() if other <= at < done[q])
        for _, at in landed.values()
    ))
    return layers
