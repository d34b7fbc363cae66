"""Smoke test of the benchmark harness on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced at a small fraction of
the benchmark's input size. Both runs must pass their output checks and
print every metric that BENCHMARK.json names for their mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("detail: ")
    return json.loads(lines[-2][len("detail: "):]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_clean(workload, trace):
    detail, out = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0, (detail, out)
    assert out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    if trace:
        m = out["metrics"]
        for name in m:
            if name.endswith(".driver_only_s"):
                base = name[: -len("driver_only_s")]
                assert m[name]["value"] <= m[base + "self_s"]["value"] + 1e-6
        if workload == "quality_checks":
            assert m["profiler.profile_table.jobs"]["value"] > 0
    else:
        for name, v in out["metrics"].items():
            assert v["value"] > 0, name
    assert detail["failed_frac"] == 0


def test_refuses_without_program(tmp_path):
    """Outside a checkout of the program, the harness exits non-zero
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "quality_checks",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
