"""Run one workload over several seeds and report each end-to-end
metric's median, quartiles and spread (inter-quartile distance as a
share of the median) next to its bound.

    python3 perfbench/spread.py --workload landings --seeds 1-10

Run from the repository root; runs are sequential, never concurrent.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartiles, spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", help="default: run_seconds from BENCHMARK.json")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    seconds = args.seconds or str(doc["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", seconds, "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        if len(vs) < 2:
            print(f"{name:24s} {vs}")
            continue
        q1, q2, q3 = quartiles(vs)
        bound = bounds.get(name)
        flag = "" if bound is None or spread(vs) < bound / 3 else "  <-- over a third of its bound"
        print(f"{name:24s} median {median(vs):12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {spread(vs):7.4f}  bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
