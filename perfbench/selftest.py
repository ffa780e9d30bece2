"""Self-test: run every workload at sf0.001, untraced and traced, and
check that the result line carries every metric BENCHMARK.json names,
with its unit, and that every oracle check passed.

Usage (from the repository root)::

    python3 perfbench/selftest.py [WORKLOAD ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [*spec["command"], "--workload", workload, "--seed", "7", "--seconds", "0"]
    cmd += ["--trace", str(trace), "--sf", "sf0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        return [f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}"]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errors.append(f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errors.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errors.append(f"{k} is not a number: {v['value']!r}")
    if trace and res["metrics"].get("frame.cache_left", {}).get("value") != 0:
        errors.append("frame.cache_left is not 0")
    # every metric is printed by name and unit above the result line
    for name, unit in want.items():
        if not any(line.split()[:1] == [name] and line.split()[-1] == unit for line in out.stdout.splitlines()):
            errors.append(f"{name} [{unit}] not printed")
    return [f"{workload} trace={trace}: {e}" for e in errors]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    # the declared metrics are exactly what run.py emits
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if {m["name"]: m["unit"] for m in spec[key]} != emitted:
            errors.append(f"BENCHMARK.json {key} differs from run.py")
    for workload in sys.argv[1:] or WORKLOAD_NAMES:
        for trace in (0, 1):
            errs = check(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
