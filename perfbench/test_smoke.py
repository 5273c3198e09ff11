"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``run.py`` in a fresh process, as the benchmark is run. The
fault cases prove that the checks fire: a corrupted build output and a
planted leak the audit does not report must each count as failures.
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
TIMEOUT_S = 600


def run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "7",
         "--seconds", "1", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


@pytest.mark.parametrize("workload", ["pit_build", "corpus_clean"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_runs_clean(workload, trace):
    code, result = run("--workload", workload, "--trace", trace)
    assert code == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in result["metrics"].values():
        assert isinstance(m["value"], float) and m["unit"]
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("fault", ["corrupt_build", "hide_leak"])
def test_checks_fire(fault):
    code, result = run("--workload", "pit_build", "--trace", "1", "--fault", fault)
    assert code == 0
    assert not result["correct"]
    assert result["failed"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, result = run("--workload", "pit_build", cwd=str(tmp_path))
    assert code != 0
    assert result is None
