"""Tests of the benchmark itself (not of validr_spark).

    python3 -m pytest perfbench/tests -q

Each smoke case starts its own JVM on a tiny table, so the module takes
a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = "0.01"


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", TINY],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_names_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_emits_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stderr[-4000:]
    assert result["failed"] == 0
    # warm-up passes, then at least one measured pass (one of each kind
    # when traced)
    wl = workloads.WORKLOADS[workload]
    assert result["attempted"] >= wl.warm_passes + 1 + trace
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0


class _WrongCount(workloads.SeqVerdicts):
    """The verdict job with one expected duplicate key too many."""

    def prepare(self, cache):
        super().prepare(cache)
        self.expected = {**self.expected,
                         "dup_keys": self.expected["dup_keys"] + 1}


def test_wrong_expected_count_fails_every_pass(tmp_path):
    base = str(tmp_path)
    work = os.path.join(base, "work")
    os.makedirs(os.path.join(work, "tmp"))
    args = run._args(["--workload", "seq_verdicts", "--seed", "3",
                      "--seconds", "0", "--scale", TINY])
    bench = run.Bench(args, _WrongCount, base, work, t_begin=0.0)
    try:
        result = bench.run()
    finally:
        bench.close()
    assert result["correct"] is False
    assert result["failed"] == result["attempted"]
    assert result["attempted"] >= _WrongCount.warm_passes + 1
    assert any("dup_keys" in e for e in bench.errors)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("seq_verdicts", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
