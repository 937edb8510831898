"""Self-checks of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The first two tests need no Spark. The traced-run tests launch the
benchmark twice per workload (under a minute each) and check that the
per-layer split of every op adds up to its wall time and that every
count repeats exactly under one seed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_seed_changes_order_not_multiset():
    for wl in WORKLOADS.values():
        a, b = wl.passes(1), wl.passes(2)
        first_a = [next(a) for _ in range(3)]
        first_b = [next(b) for _ in range(3)]
        for order in first_a + first_b:
            assert Counter(order) == Counter(wl.ops)
        again = wl.passes(1)
        assert [next(again) for _ in range(3)] == first_a
        assert first_a != first_b


def test_self_time_subtracts_covered_children():
    t = layers.Tracer()
    root = t.add("op", 0.0, 10.0, "0:x", None)
    build = t.add("queries.build", 0.0, 4.0, "0:x", root)
    t.add("dialect.validate", 1.0, 2.0, "0:x", build)
    t.add("engine.analysis", 1.5, 3.0, "0:x", build)  # overlaps validate
    execute = t.add("spark_exec", 4.0, 10.0, "0:x", root)
    t.add("engine.optimize", 9.5, 11.0, "0:x", execute)  # ends past its parent
    selfs = layers.self_times(t.spans)
    assert selfs[build] == pytest.approx(2.0)
    assert selfs[execute] == pytest.approx(5.5)
    assert selfs[root] == pytest.approx(0.0)


def _run(workload: str, seed: int, cwd: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(cwd, ".perfbench", "out", f"spans-{workload}-seed{seed}.json")) as f:
        return result, json.load(f)


def _counts(spans: dict) -> list:
    keep = ("jobs", "stages", "tasks")
    return [
        (r["name"], r.get("result_rows"), r.get("plans"),
         {k: r["build"][k] for k in keep}, {k: r["execute"][k] for k in keep})
        for r in spans["ops"]
    ]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reconciles_and_repeats(workload):
    first, spans = _run(workload, 7, ROOT)
    assert first["correct"] and first["failed"] == 0
    # every op's layer self times add up to its wall time, and each
    # Catalyst phase, stamped by the JVM in whole milliseconds, falls
    # inside the span it was placed in
    by_op: dict[str, list[dict]] = {}
    for s in spans["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    for op, group in by_op.items():
        root = next(s for s in group if s["name"] == "op")
        wall = root["end"] - root["start"]
        phases = [s for s in group if s["name"].startswith("engine.")]
        slack = 0.002 * len(phases)
        assert sum(s["self_s"] for s in group) == pytest.approx(wall, abs=1e-6 + slack), op
        assert all(s["self_s"] >= -slack for s in group), op
        for s in phases:
            parent = spans["spans"][s["parent"]]
            assert parent["start"] - 0.002 <= s["start"] <= s["end"] <= parent["end"] + 0.002, op
    again, spans2 = _run(workload, 7, ROOT)
    assert _counts(spans) == _counts(spans2)
    for name in ("queries.build_jobs", "spark_exec.jobs", "spark_exec.stages",
                 "spark_exec.tasks", "plans.exchanges", "plans.broadcast_joins"):
        assert first["metrics"][name] == again["metrics"][name], name


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "keenwa_surface", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
