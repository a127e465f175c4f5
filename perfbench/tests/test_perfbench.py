"""Fast checks of the benchmark's own pieces; no Spark needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import ast
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SPEC = run.spec()


def _bytes(tmp_path, name: str, table) -> bytes:
    path = tmp_path / name
    gen.write(table, str(path))
    return path.read_bytes()


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.events(seed, 5000, n_files=3, skew=0.8, ooo_share=0.05)[1],
        lambda seed: gen.vip_users(seed),
        lambda seed: gen.documents(seed, 300, dup_share=0.1, words=(10, 40)),
    ],
    ids=["events", "vip_users", "documents"],
)
def test_same_seed_same_bytes(tmp_path, make):
    a = _bytes(tmp_path, "a.parquet", make(7))
    b = _bytes(tmp_path, "b.parquet", make(7))
    c = _bytes(tmp_path, "c.parquet", make(8))
    assert a == b
    assert a != c


def test_event_shape():
    files = gen.events(3, 9000, n_files=3, days=3, ooo_share=0.2)
    ts = [f.column("ts").to_pylist() for f in files]
    # disorder stays inside a file: every file starts after the last
    # event time of the file before it
    assert all(max(a) <= min(b) for a, b in zip(ts, ts[1:]))
    assert any(t != sorted(t) for t in ts)
    assert set(files[0].column("event_type").to_pylist()) == set(gen.EVENT_TYPES)


def test_near_duplicate_share():
    docs = gen.documents(5, 2000, dup_share=0.1, words=(10, 40))
    n_dup = sum("dup" in t.split(" ") for t in docs.column("text").to_pylist())
    assert 150 < n_dup < 250


def _span(name, start, end, parent=None):
    return tracing.Span(name, start, end, parent, 1)


def test_self_time_subtracts_child_coverage():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),  # overlaps a: 1..6 covered once
        _span("c", 8.0, 12.0, parent=0),  # runs past its parent: clipped
        _span("d", 2.0, 3.0, parent=1),
    ]
    assert tracing.self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])
    assert tracing.totals_ms(spans)["op"] == pytest.approx(3000.0)


def _log(path, *lines):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(["v1", *lines]))


def test_file_commits_maps_files_to_the_batch_that_read_them(tmp_path):
    # file a is logged at offset 0, b and c at offset 1; batch 0 reads
    # up to offset 0 and batch 1 up to offset 1; batch 2 is not committed
    ckpt = tmp_path / "ckpt"
    for batch, names in ((0, "a"), (1, "bc"), (2, "d")):
        _log(ckpt / "sources" / "0" / str(batch), *(
            json.dumps({"path": f"file:///land/{n}", "timestamp": 0, "batchId": batch})
            for n in names
        ))
        _log(ckpt / "offsets" / str(batch), "{}", json.dumps({"logOffset": batch}))
    for batch, at in ((0, 100.0), (1, 200.0)):
        _log(ckpt / "commits" / str(batch), "{}")
        os.utime(ckpt / "commits" / str(batch), (at, at))
    assert tracing.file_commits(str(ckpt)) == {
        "/land/a": 100.0, "/land/b": 200.0, "/land/c": 200.0
    }


def test_survivors_union_find():
    # components {0,1,2}, {5,6}; singletons 3, 4, 7 of 8 documents
    assert workloads._survivors(8, [(1, 2), (0, 2), (5, 6)]) == 5


def _declared(section):
    return [m["name"] for m in SPEC[section]]


def test_declared_names_are_valid():
    for section in ("workloads", "end_to_end", "per_layer"):
        names = [m["name"] for m in SPEC[section]]
        assert len(names) == len(set(names))
        assert all(run.NAME_RE.fullmatch(n) for n in names)
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)


def test_every_end_to_end_metric_is_emitted():
    result = workloads.Result([10.0, 30.0, 20.0, 40.0], 4, 0, 0.2, 2.0)
    values = run.end_to_end(result, 1.5)
    out = run.metrics(SPEC["end_to_end"], values)
    assert list(out) == _declared("end_to_end")
    assert set(values) == set(out)
    assert out["setup_s"] == {"value": pytest.approx(3.7), "unit": "s"}
    assert out["latency_ms_p50"]["value"] == 25.0


def test_undeclared_metric_is_refused():
    with pytest.raises(KeyError):
        run.metrics(SPEC["per_layer"], {"no.such_metric": 1.0})


def _string_literals(module) -> set[str]:
    with open(module.__file__) as f:
        tree = ast.parse(f.read())
    return {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def test_every_per_layer_metric_has_a_producer():
    """Each declared per-layer name appears in the code that fills it,
    and the code fills no layer name that is not declared."""
    layers = {n.split(".")[0] for n in _declared("per_layer")}
    produced = {
        s for m in (run, tracing, workloads) for s in _string_literals(m)
        if "." in s and s.split(".")[0] in layers and run.NAME_RE.fullmatch(s)
        and not s.endswith(("parquet", "siddhi", "jsonl"))
    }
    spans = {"siddhiql.parse", "siddhiql.build", "catalyst.plan", "exec.action",
             "pipeline.minhash_signature", "pipeline.lsh_candidate_pairs",
             "pipeline.connected_components", "streaming.start"}
    assert produced >= set(_declared("per_layer"))
    assert produced - set(_declared("per_layer")) <= spans


def test_benchmark_json_contract_shape():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in spec["end_to_end"]
    )
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
