"""Toy-size smoke check of the benchmark: every workload, both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Each run uses ``--scale tiny`` and a 2-second loop. It asserts that the
last stdout line is the result object, that every declared metric appears
with its unit (also as a printed line), and that no operation failed.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    assert "error_rate 0.000000 ratio" in lines
    spec = PER_LAYER if trace else END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == dict(spec)
    for name, unit in spec:
        assert any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}") for ln in lines), name
    if not trace:
        assert all(result["metrics"][n]["value"] > 0 for n, _ in END_TO_END)


def test_declared_metrics_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only the benchmark, it fails without a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", "interactive", "--seconds", "1")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
