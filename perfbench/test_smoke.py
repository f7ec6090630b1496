"""Smoke test of the benchmark command at a tiny input size.

    python -m pytest perfbench/test_smoke.py -q

Runs the one command BENCHMARK.json names on every workload, untraced and
traced, and checks that it prints every metric BENCHMARK.json lists with its
unit, that every output checks correct, and that a deliberately wrong
expected output is counted as a failed operation. About seven minutes on a
4-core machine (each run starts its own Spark driver).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(out) -> tuple[list[str], dict]:
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_with_unit(workload, trace):
    lines, res = result(bench(workload, trace))
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert any(
            line.startswith(f"{m['name']} ") and line.endswith(f" {m['unit']}")
            for line in lines
        )
    assert any(line.startswith("failed_ops 0 ") for line in lines)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_output_raises_failed_ops(workload):
    lines, res = result(bench(workload, 0, "--inject-wrong"))
    assert res["failed"] >= 1 and not res["correct"]
    assert any(line.startswith(f"failed_ops {res['failed']} ") for line in lines)


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark must exit non-zero and print
    no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    out = bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
