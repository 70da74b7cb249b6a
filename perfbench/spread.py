"""Run one workload on several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload kv_log --seeds 1-10 --seconds 20

For every metric of the result line it prints the median and the
distance between the first and third quartile (``statistics.quantiles``
with n=4) as a share of the median — the run-to-run spread that each
end-to-end metric's bound in BENCHMARK.json must cover. Results are
appended to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    log_path = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
            ],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.time() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        steal = json.loads(lines[-2].removeprefix("# report "))["provenance"]["host_steal_share"]
        with open(log_path, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "result": result}) + "\n")
        flag = "" if result["correct"] else "  INCORRECT"
        print(
            f"seed {seed}: wall {wall:.1f} s, {result['attempted']} requests, "
            f"host steal {steal:.3f}{flag}",
            flush=True,
        )
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:32s} median {med:12.4f}  iqr/median {share:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
