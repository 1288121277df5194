"""Steadiness: one workload run N times with distinct seeds.

    python3 pinotbench/steady.py --workload scan_full --runs 10 [--seed0 1]

Prints, for every metric, the median, the quartiles (``statistics.quantiles``
with ``n=4``), the min-max and the quartile spread as a share of the median,
plus each run's failed/attempted. Each run is a separate ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", default="8")
    args = ap.parse_args(argv)
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in range(args.seed0, args.seed0 + args.runs):
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={last['correct']} "
              f"failed={last['failed']}/{last['attempted']}", flush=True)
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    print(f"{'metric':34s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'min':>12s} {'max':>12s} {'iqr/med':>8s}")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:34s} {units[name]:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{min(xs):12.4f} {max(xs):12.4f} {spread:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
