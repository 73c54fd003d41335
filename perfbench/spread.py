#!/usr/bin/env python3
"""Same-code noise check: run one workload on several seeds, one run after
another, and print each end-to-end metric's median and its spread (the
distance between the first and third quartile as a share of the median).

    python3 perfbench/spread.py --workload frontier_table --seeds 101-110

Run it twice on the same code to see how far two sets of runs agree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-110", help="inclusive range, e.g. 101-110")
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        out = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{k}: median {med:.4g}  spread {(q3 - q1) / med:.3f}  (n={len(vs)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
