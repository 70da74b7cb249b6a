"""Command-line contracts of the repo's scripts.

* ``bench.py`` prints exactly one JSON line, which an outside runner parses:
  the headline metric, its per-label warm times and build times, and the SF.
* ``tools/gen_coverage.py --check`` passes, so COVERAGE.md matches the live
  registry.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from bench import HEADLINE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str], **env: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        env={**os.environ, **env},
        capture_output=True,
        text=True,
        timeout=900,
    )


def _is_json(line: str) -> bool:
    try:
        json.loads(line)
    except ValueError:
        return False
    return True


@pytest.mark.slow
def test_bench_prints_one_json_line(sf_dir):
    bench_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    proc = _run(["bench.py"], SPARK_GRAFT_SF_DIR=bench_sf)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert lines and _is_json(lines[-1]), proc.stdout[-2000:]
    assert sum(map(_is_json, lines)) == 1

    out = json.loads(lines[-1])
    # exactly these keys: no calibration, normalized or Arrow columns
    assert set(out) == {"metric", "value", "unit", "queries", "build", "sf"}
    assert out["metric"] == "sum_warm_best_of_3_latency"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert set(out["queries"]) == set(HEADLINE)
    assert set(out["build"]) == set(HEADLINE)
    assert abs(out["value"] - sum(out["queries"].values())) <= 1e-4


def test_coverage_doc_is_current():
    proc = _run(["tools/gen_coverage.py", "--check"])
    assert proc.returncode == 0, proc.stdout + proc.stderr
