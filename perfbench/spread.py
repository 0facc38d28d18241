"""Run one workload on several seeds and print each metric's median and
quartile spread (``(Q3 - Q1) / median``), plus each run's wall time.

    python3 perfbench/spread.py clinical_service 1,2,3,4,5,6,7,8,9,10 [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", help="comma-separated seeds")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    spec = json.loads((RUN.parents[1] / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds.split(","):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, str(RUN), "--workload", args.workload, "--seed", seed,
             "--seconds", str(spec["run_seconds"]), "--trace", args.trace],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t)
        if p.returncode:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
            return 1
        result = json.loads(p.stdout.splitlines()[-1])
        report = json.loads(p.stdout.splitlines()[-2])["report"]
        print(f"seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"named={report['named']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"run wall: mean {statistics.mean(walls):.1f}s max {max(walls):.1f}s")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{name}: median {med:.4f} spread {(q3 - q1) / med if med else 0.0:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
