"""Run one workload on several seeds and print each metric's spread.

    python3 perfbench/steady.py --workload serve_zipf --seeds 1-10 [--seconds 8]

Spread is the distance between the first and third quartile of the runs'
values (``statistics.quantiles(values, n=4)``) as a share of their median,
the figure a metric's bound in BENCHMARK.json is held against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or a range such as 1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", a.seconds, "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{name:28s} median {med:12.4f}  q1 {q[0]:12.4f}  q3 {q[2]:12.4f}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
