"""Tracing overhead: one untraced and one traced run on the same seed.

The traced run still measures the end-to-end metrics (they are in the
summary line before its result line); the difference from the untraced
run is the cost of the spans and the Spark listener.

Usage: python3 perfbench/overhead.py --workload serve_zipf --seed 1 --seconds 8
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def e2e(args, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-2])["e2e"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args()
    off, on = e2e(args, 0), e2e(args, 1)
    print(f"{'metric':18} {'untraced':>12} {'traced':>12} {'delta':>8}")
    for k in off:
        print(f"{k:18} {off[k]:12.4f} {on[k]:12.4f} {(on[k] - off[k]) / off[k]:+8.1%}")


if __name__ == "__main__":
    main()
