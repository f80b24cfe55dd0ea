"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 over the median), the figure the
benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload lake_etl --seeds 1-10 --seconds 15
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
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(json.dumps({"seed": seed, **res}), flush=True)

    print(f"{'metric':32} {'median':>12} {'spread':>8}  correct={all(r['correct'] for r in runs)}"
          f" failed/attempted={[(r['failed'], r['attempted']) for r in runs]}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:32} {med:12.4f} {(q3 - q1) / med:8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
