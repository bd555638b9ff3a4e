"""Tracing overhead of one workload: runs the benchmark untraced and traced
with the same seed and prints the traced median operation wall minus the
untraced one.

    python3 perfbench/overhead.py --workload serve_warm_head --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = result(args.workload, args.seed, args.seconds, 0)
    traced = result(args.workload, args.seed, args.seconds, 1)
    base = plain["batch_p50_s"]["value"]
    op = traced["trace.op_p50_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "untraced_op_p50_s": base, "traced_op_p50_s": op,
        "overhead_s": op - base, "overhead_share": (op - base) / base,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
