"""The benchmark's own test: every workload at the smoke size, traced and
untraced, from a working directory outside the repository.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE),
                                   "BENCHMARK.json")))


def _run(tmp_path, workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--size", "smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    (w["name"], t) for w in SPEC["workloads"] for t in (0, 1)])
def test_workload_reports_every_metric(tmp_path, workload, trace):
    res = _run(tmp_path, workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_package(tmp_path):
    """In a tree that holds only the benchmark, the command must fail
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_join",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
