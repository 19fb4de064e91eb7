"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload tok_combined --seeds 1-10

Runs perfbench/run.py once per seed (one at a time, tracing off) and
prints, per metric, the median and the interquartile range as a share of
the median, as statistics.quantiles(values, n=4) gives the quartiles.
BENCHMARK.json's bound for a metric should be at least three times that
share.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect output ({result['failed']} of {result['attempted']} rows)")
            return 1
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.6g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        share = (q3 - q1) / med
        print(f"{k:20s} median {med:12.6g}  iqr/median {share:.4f}  bound {bounds.get(k)}"
              f"  {'ok' if share < bounds.get(k, 0) / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
