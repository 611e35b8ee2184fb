"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests run every workload on tiny inputs for a few operations,
untraced and traced, and require every metric BENCHMARK.json names, with
its unit, and no failed operation.  They start a Spark session per run
(about five minutes in all).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

sys.path.insert(0, str(HERE))

from spans import _uncovered  # noqa: E402
from workloads import _autocut_keep, _topk_ok  # noqa: E402


def _run(cwd: Path, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "2",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stdout[-4000:] + p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["end_to_end" if trace == 0 else "per_layer"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_topk_check_accepts_ties_and_rejects_misses():
    ids = np.array(["a", "b", "c", "d"])
    scores = np.array([0.9, 0.5, 0.5, 0.1])
    assert _topk_ok(["a", "b"], [0.9, 0.5], ids, scores, 2)
    assert _topk_ok(["a", "c"], [0.9, 0.5], ids, scores, 2)
    assert not _topk_ok(["a", "d"], [0.9, 0.1], ids, scores, 2)
    assert not _topk_ok(["b", "a"], [0.5, 0.9], ids, scores, 2)
    assert not _topk_ok(["a"], [0.9], ids, scores, 2)


def test_autocut_keeps_up_to_the_largest_drop():
    assert _autocut_keep([1.0, 0.95, 0.5, 0.45]) == 2
    assert _autocut_keep([1.0, 0.9, 0.85]) == 3
    assert _autocut_keep([0.7]) == 1


def test_driver_gap_counts_time_outside_jobs():
    jobs = [{"submit": 1.0, "end": 2.0}, {"submit": 1.5, "end": 3.0}, {"submit": 5.0, "end": 6.0}]
    assert _uncovered(0.0, 10.0, jobs) == pytest.approx(10.0 - 2.0 - 1.0)
    assert _uncovered(0.0, 1.0, []) == pytest.approx(1.0)
