"""Run the benchmark once per seed and print, per metric, the median and
the quartile spread ((Q3 - Q1) / median) over the runs, plus each run's
wall time. This is the steadiness check the bounds in BENCHMARK.json are
set against, and the tool for a same-session A/B of two checkouts.

    python3 perfbench/spread.py --workload search-broad --seeds 1 2 3 4 5

Run it from the repository root; add ``--trace 1`` for per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from harness import quartile_spread


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.perf_counter()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        print(f"seed {seed}: wall {time.perf_counter() - t:.1f} s, correct "
              f"{res['correct']}, attempted {res['attempted']}, failed {res['failed']}",
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("  " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) > 1 and statistics.median(vs) else 0.0
        print(f"{k:32s} median {statistics.median(vs):12.6g}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
