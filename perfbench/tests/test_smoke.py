"""Smoke tests of the benchmark itself, on tiny inputs (``--smoke``).

    python3 -m pytest perfbench/tests -q

Each case starts one Spark session, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


@pytest.mark.parametrize("workload", ["extract", "search"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_reports_every_metric(workload, trace):
    out = result(bench("--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", trace, "--smoke"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = declared("per_layer" if trace == "1" else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_same_seed_same_inputs():
    import inputs

    assert inputs.search_queries(50, 3) == inputs.search_queries(50, 3)
    assert inputs.search_queries(50, 3) != inputs.search_queries(50, 4)
    a = inputs.pages_table(120, 5, 0.1)
    assert inputs.table_digest(a) == inputs.table_digest(inputs.pages_table(120, 5, 0.1))


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
