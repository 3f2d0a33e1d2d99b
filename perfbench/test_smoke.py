"""The benchmark's own test: every workload in smoke mode (template tier,
tiny stream sizes) prints a correct result line with every metric it
declares, and the benchmark refuses to run without the program.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import metrics  # noqa: E402
from common import run_key  # noqa: E402

SECONDS = {"batch_sql": 1, "stream_predict": 5}


def _run(workload: str, trace: int, cwd: str = ROOT, timeout: int = 400):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds",
         str(SECONDS[workload]), "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (n, metrics.UNITS[n]) for n in metrics.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, metrics.UNITS[n]) for n in metrics.PER_LAYER]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SECONDS))
def test_smoke_run(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, lines[-2][:3000]
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert list(result["metrics"]) == names
    for name in names:
        assert result["metrics"][name]["unit"] == metrics.UNITS[name]
        if not trace:
            assert result["metrics"][name]["value"] > 0, name
    if trace:
        key = run_key(workload, "smoke", 1, SECONDS[workload])
        spans = os.path.join(BENCH_DIR, "out", f"spans-{key}.json")
        with open(spans) as f:
            assert json.load(f), "traced run wrote no spans"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out",
                                                  "__pycache__"))
    proc = _run("batch_sql", 0, cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
