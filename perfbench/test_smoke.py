"""Smoke test of the benchmark at its smallest input size.

    python3 -m pytest perfbench/test_smoke.py -q      (about five minutes)

Per workload (the two of BENCHMARK.json and text_dedup) it checks that a traced run prints every per-layer metric of
BENCHMARK.json with its unit and every end-to-end metric in its report
line, with an error rate of 0; that an untraced run with one deliberately
wrong expected output prints every end-to-end metric and counts the
mismatch as a failure; and that the benchmark refuses to run without the
program next to it.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
# text_dedup is not gated by BENCHMARK.json but stays runnable by hand
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["text_dedup"]


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--tiny", *extra,
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def parse(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2].removeprefix("# report "))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result, report


def assert_metrics(printed: dict, declared: list[dict], exact: bool) -> None:
    names = [m["name"] for m in declared]
    if exact:
        assert list(printed) == names
    for m in declared:
        assert m["name"] in printed, m["name"]
        assert printed[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(printed[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_layers_and_is_correct(workload):
    result, report = parse(run(workload, 1))
    assert_metrics(result["metrics"], BENCH["per_layer"], exact=True)
    assert_metrics(report["metrics"], BENCH["end_to_end"], exact=False)
    assert result["correct"] and result["failed"] == 0
    assert report["metrics"]["error_rate"]["value"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expectation_counts_as_failure(workload):
    result, report = parse(run(workload, 0, "--break-check"))
    assert_metrics(result["metrics"], BENCH["end_to_end"], exact=True)
    for m in BENCH["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    assert result["failed"] >= 1 and not result["correct"]
    assert report["metrics"]["error_rate"]["value"] > 0


def test_refuses_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(WORKLOADS[0], 0, cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
