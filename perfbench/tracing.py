"""Spans and Spark-side harvests for the traced run.

Everything here observes the engine from outside: spans wrap calls the
benchmark makes into the engine's public functions, and the Spark
numbers come from public status surfaces (``StatusTracker``, the
status store's stage data, ``StreamingQuery.recentProgress`` and the
checkpoint's own logs).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a bare
    ``nullcontext`` and records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[int] = []

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, reach), min(hi, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.end - s.start - covered)
    return out


def totals_ms(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name, in ms."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + 1000 * t
    return out


def p50(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---- Spark scheduler / executor harvest ----------------------------------


def job_stats(spark, groups) -> dict[str, float]:
    """Jobs, stages, tasks and executor counters of every job in the
    given job groups, from the status tracker and the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "gc_ms"), 0.0
    )
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                try:
                    data = store.lastStageAttempt(stage_id)
                except Exception:  # evicted from the bounded status store
                    continue
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["shuffle_read_bytes"] += data.shuffleReadBytes()
                out["spill_bytes"] += (
                    data.memoryBytesSpilled() + data.diskBytesSpilled()
                )
                out["gc_ms"] += data.jvmGcTime()
    return out


def force_plan(df) -> None:
    """Run Catalyst analysis, optimization and physical planning."""
    df._jdf.queryExecution().executedPlan()


# ---- Structured Streaming harvest -----------------------------------------


def _log_entries(log_dir: str):
    """(name, lines after the version line) of each entry of a
    checkpoint metadata log; an absent log has none."""
    if not os.path.isdir(log_dir):
        return
    for name in sorted(os.listdir(log_dir)):
        if not name.startswith("."):
            with open(os.path.join(log_dir, name)) as f:
                yield name, f.read().splitlines()[1:]


def file_commits(checkpoint: str) -> dict[str, float]:
    """landed file -> wall time the query batch that read it committed.

    The file source logs each discovered file under its own log offset
    (``sources/0``, compacted and delta entries alike); the query's
    ``offsets/<batch>`` log records the source offset each batch read
    up to, and ``commits/<batch>`` is written when the batch is done."""
    discovered: dict[str, int] = {}
    for _, lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for line in lines:
            entry = json.loads(line)
            discovered[entry["path"].removeprefix("file://")] = entry["batchId"]
    read_up_to = {
        int(name): json.loads(lines[1])["logOffset"]
        for name, lines in _log_entries(os.path.join(checkpoint, "offsets"))
        if name.isdigit() and len(lines) > 1
    }
    commit_dir = os.path.join(checkpoint, "commits")
    done = sorted(
        (read_up_to[b], os.stat(os.path.join(commit_dir, name)).st_mtime)
        for name, _ in _log_entries(commit_dir)
        if name.isdigit() and (b := int(name)) in read_up_to
    )
    out = {}
    for path, offset in discovered.items():
        at = next((t for up_to, t in done if up_to >= offset), None)
        if at is not None:
            out[path] = at
    return out


def progress_layers(progress: list[dict], after: dict[str, int]) -> dict[str, float]:
    """Per-layer streaming numbers from ``recentProgress`` of every
    query (``progress`` entries carry their query name), counting only
    executed batches with an id above ``after[name]``."""
    batches = [
        p for p in progress
        if "addBatch" in p["durationMs"] and p["batchId"] > after[p["name"]]
    ]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    nfa = [op for op in ops if "PandasWithState" in op["operatorName"]]
    last: dict[str, dict] = {}
    for p in batches:
        last[p["name"]] = p
    final_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    return {
        "streaming.trigger_ms_p50": p50(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": p50(dur("addBatch")),
        "streaming.query_planning_ms_p50": p50(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": p50(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": p50(dur("commitOffsets")),
        "streaming.input_rows_per_batch_p50": p50(p["numInputRows"] for p in batches),
        "streaming.batches": float(len(batches)),
        "sources.latest_offset_ms_p50": p50(dur("latestOffset")),
        "sources.get_batch_ms_p50": p50(dur("getBatch")),
        "state.commit_ms_p50": p50(op["commitTimeMs"] for op in ops),
        "state.all_updates_ms_p50": p50(op["allUpdatesTimeMs"] for op in nfa),
        "state.rows_total": float(sum(op["numRowsTotal"] for op in final_ops)),
        "state.memory_bytes": float(sum(op["memoryUsedBytes"] for op in final_ops)),
        "state.store_instances": float(
            sum(op.get("numStateStoreInstances", 0) for op in final_ops)
        ),
        "state.rows_dropped_by_watermark": float(
            sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
        ),
    }
