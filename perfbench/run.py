"""Layered benchmark of the siddhi_operator_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 10 --trace 0

Workloads: ``stream_replay`` and ``curate_dedup`` (see ``workloads.py``).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. Every metric name, unit and the
set of names come from ``BENCHMARK.json``. Spans of a traced run are
written to ``perfbench/.work/spans-<workload>-<seed>.jsonl``.

Nothing is written outside the checkout: Spark's local and temporary
directories, checkpoints and inputs live under ``perfbench/.work`` and
are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
WORKLOADS = ("stream_replay", "curate_dedup")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM and the Python processes
    (this one and the workers), read from /proc: the kernel's
    high-water mark of the JVM, and the highest sampled sum of the
    Python processes' proportional set sizes (the workers are forks
    that share pages, and come and go). Short-lived forks of the JVM
    (shell commands) are left out. The JVM grows its heap on its own
    schedule, so its peak moves by a tenth or more from run to run;
    both figures are per-layer, not gated."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(name="rss", daemon=True)
        self.period_s = period_s
        self.jvm_hwm = 0
        self.python_peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:  # process ended while listing
                continue
            comm[int(pid)] = head.split("(", 1)[1]
            children.setdefault(int(tail.split()[1]), []).append(int(pid))
        python = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            if comm.get(pid) == "java":
                self.jvm_hwm = max(self.jvm_hwm, _proc_bytes(pid, "status", "VmHWM:"))
            elif comm.get(pid, "").startswith("python"):
                python += _proc_bytes(pid, "smaps_rollup", "Pss:")
        self.python_peak = max(self.python_peak, python)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _proc_bytes(pid: int, name: str, key: str) -> int:
    """A kB field of /proc/<pid>/<name> in bytes; 0 once the process
    has ended."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def start_session(work: str):
    """The engine's own session builder and its default driver heap,
    with every scratch path inside the run's work directory and the
    package importable by Python workers (the streaming NFA runs in
    them)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    from siddhi_operator_spark.session import build_session

    spark = build_session(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def metrics(declared: list[dict], values: dict[str, float]) -> dict[str, dict]:
    """Every declared metric by name with its unit. A per-layer metric a
    workload does not touch is 0; an undeclared name is an error."""
    names = {m["name"] for m in declared}
    extra = set(values) - names
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


def end_to_end(result, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + result.gen_s + result.warm_s,
        "latency_ms_p50": statistics.median(result.latencies_ms),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    declared = spec()
    sys.path.insert(0, ROOT)
    import siddhi_operator_spark  # noqa: F401  (fails outside a checkout)
    import tracing
    import workloads

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = start_session(work)
        session_s = process_age_s()
        tracer = tracing.Tracer(bool(args.trace))
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work)
        result = getattr(workloads, args.workload)(run)
        if tracer.enabled:
            tracer.write(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(
        f"session {session_s:.2f} s, generate {result.gen_s:.3f} s, warm-up "
        f"{result.warm_s:.2f} s, rss jvm {sampler.jvm_hwm >> 20} MB + python "
        f"{sampler.python_peak >> 20} MB, {result.attempted} ops: "
        f"{[round(x) for x in result.latencies_ms]} ms",
        file=sys.stderr,
    )
    if args.trace:
        values = dict(result.layers)
        # the traced run's own end-to-end figures: minus the untraced
        # run's, they are the tracing overhead
        values["trace.latency_ms_p50"] = statistics.median(result.latencies_ms)
        values["trace.spans"] = float(len(tracer.spans))
        values["mem.jvm_peak_rss_mb"] = sampler.jvm_hwm / 2**20
        values["mem.python_peak_pss_mb"] = sampler.python_peak / 2**20
        out = metrics(declared["per_layer"], values)
    else:
        out = metrics(declared["end_to_end"], end_to_end(result, session_s))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
