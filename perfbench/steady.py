#!/usr/bin/env python3
"""Steadiness report: run the benchmark on several seeds and print, per
workload and end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1 as a share of the median), next to each run's host weather.

    python3 perfbench/steady.py --workloads relational vector --seeds 1-10

Run from the root of a checkout.  Runs are sequential; each is one
``run.py`` process.  A run whose calibration kernel read slower after than
before, or whose CPU-steal share is high, ran in a slow-host period: compare
its metrics with that in mind before calling a change a regression.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median) as ``statistics.quantiles`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    seconds = args.seconds or json.loads(Path("BENCHMARK.json").read_text())["run_seconds"]
    for workload in args.workloads:
        runs = []
        for seed in args.seeds:
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed",
                 str(seed), "--seconds", str(seconds), "--trace", "0"],
                capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            host_line, result_line = proc.stdout.strip().splitlines()[-2:]
            res, host = json.loads(result_line), json.loads(host_line)["host"]
            runs.append(res)
            print(f"{workload} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  f"steal={host['steal_share']:.3f} load1={host['load1_start']:.2f} "
                  f"calib={host['calib_before_s']:.3f}->{host['calib_after_s']:.3f} "
                  + " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()),
                  flush=True)
        for name in runs[0]["metrics"]:
            med, q1, q3, s = spread([r["metrics"][name]["value"] for r in runs])
            print(f"{workload} {name}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={s:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
