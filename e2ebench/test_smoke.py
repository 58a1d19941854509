"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced.

    python3 -m pytest e2ebench/test_smoke.py -q -p no:cacheprovider

Asserts that every metric BENCHMARK.json names is printed with its unit,
that the output checks pass with no failed operation, and that no process
the run started survives it. About three minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# command-line fragments of the processes one run starts: the child, the
# Spark JVM, the PySpark daemon and its workers
MARKERS = ("e2ebench/child.py", "org.apache.spark.deploy.SparkSubmit",
           "pyspark.daemon", "pyspark.worker")


def _bench_processes() -> set[int]:
    found = set()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(m in cmd for m in MARKERS):
            found.add(int(pid))
    return found


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    before = _bench_processes()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _bench_processes() - before == set()

    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        printed = result["metrics"][m["name"]]
        assert printed["unit"] == m["unit"], m["name"]
        assert isinstance(printed["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_without_the_engine() -> None:
    """Copied alone, without the engine package, the benchmark exits non-zero
    and prints no result."""
    alone = os.path.join(ROOT, ".bench_work", "alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(alone, "e2ebench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    proc = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", "archive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=alone, capture_output=True, text=True, timeout=60,
    )
    shutil.rmtree(alone, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
