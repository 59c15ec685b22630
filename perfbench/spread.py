#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload online --seeds 1-10 --seconds 10

runs ``run.py`` once per seed, one run at a time, and prints for every
metric of the last output line its median and its quartile spread
(Q3 - Q1) / median, plus each run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in last["metrics"].items()}
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "load": os.getloadavg()[0],
                          "correct": last["correct"], **row}), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        spread = quartile_spread(v) if len(v) >= 2 and median(v) else float("nan")
        print(f"{k:40s} median {median(v):12.4f}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
