"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload named in
BENCHMARK.json and prints, per metric, the median and the quartile
spread (Q3 - Q1) / median as ``statistics.quantiles(values, n=4)``
gives it, next to the metric's bound.

Usage (from the repository root)::

    python3 perfbench/spread.py [--seeds 10] [--workload NAME ...] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="append every run's result line to this JSONL file")
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for name in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = [*spec["command"], "--workload", name, "--seed", str(seed)]
            cmd += ["--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": name, "seed": seed, **res}) + "\n")
            if not res["correct"]:
                print(f"{name} seed {seed}: INCORRECT, failed {res['failed']}/{res['attempted']}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{name} seed {seed}: " + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            worst = max(worst, spread / bounds[m])
            print(f"  {name:<12} {m:<14} median {med:.4g}  spread {spread:.3f}  bound {bounds[m]}")
    print(f"largest spread / bound: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
