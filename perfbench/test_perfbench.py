"""Smoke tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench -q      (from the checkout root, ~7 min)

Each gated workload runs once untraced and once traced. The tests check the
output contract (every metric named in BENCHMARK.json printed with its
unit), that no operation failed, and that the traced self times of an
operation sum to no more than its wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import types
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import percentile_tail  # noqa: E402
from tracing import Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "11", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
        "--spans", str(tmp_path / "spans.jsonl"),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


# kpi_reports is not gated (see README) but must stay runnable
@pytest.mark.parametrize("workload", WORKLOADS + ["kpi_reports"])
def test_end_to_end_contract(workload, tmp_path):
    record, result = _run(workload, 0, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["checks"]
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload, tmp_path):
    record, result = _run(workload, 1, tmp_path)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert result["metrics"]["failed_ratio"]["value"] == 0
    assert result["failed"] == 0, record["checks"]

    tracer = Tracer()
    with open(tmp_path / "spans.jsonl") as f:
        tracer.spans = [Span(**json.loads(line)) for line in f]
    wall = {o["id"]: o["s"] for o in record["ops"] if o["traced"]}
    assert wall, "no traced operation"
    for op_id, seconds in wall.items():
        self_s = sum(v["s"] for v in tracer.self_times({op_id}).values())
        assert 0 <= self_s <= seconds + 1e-3, (op_id, self_s, seconds)


def test_self_time_subtracts_children():
    t = Tracer()
    t.active, t.op = True, 1
    with t.span("outer", "a"):
        time.sleep(0.02)
        with t.span("inner", "b"):
            time.sleep(0.03)
    st = t.self_times({1})
    outer = next(s for s in t.spans if s.name == "outer")
    assert st["a"]["calls"] == 1 and st["b"]["calls"] == 1
    assert st["a"]["s"] + st["b"]["s"] == pytest.approx(outer.end - outer.start)
    assert st["b"]["s"] >= 0.03 > st["a"]["s"] >= 0.02


def test_tail_never_below_median():
    xs = [float(i) for i in range(1, 17)]
    assert percentile_tail(xs) == (8.5, 50.0, 8)
    xs = [float(i) for i in range(1, 41)]
    value, pct, beyond = percentile_tail(xs)
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    assert sum(x > value for x in xs) == 10


def test_wrapped_layers_count_entries_once():
    mod = types.ModuleType("fake_layer")
    exec(
        "def outer(x):\n    return inner(x) + 1\n\ndef inner(x):\n    return x * 2\n",
        mod.__dict__,
    )
    mod.__name__ = "fake_layer"
    for fn in (mod.outer, mod.inner):
        fn.__module__ = "fake_layer"
    t = Tracer()
    assert sorted(t.wrap_module(mod, "fake")) == ["inner", "outer"]
    t.active, t.op = True, 7
    assert mod.outer(3) == 7
    calls = defaultdict(int)
    for s in t.spans:
        calls[s.name] += 1
    assert calls == {"fake.outer": 1, "fake.inner": 1}
    assert t.self_times({7})["fake"]["calls"] == 1
