"""Self-test at toy sizes: every workload runs clean, and a run whose
expected answer is deliberately altered reports that operation as failed.

    python3 pinotbench/selftest.py

Each run is a separate ``run.py`` process at ``--scale toy``; the whole test
takes a few minutes. Exits non-zero on the first unexpected result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
CASES = [
    # (workload, trace, altered answer id, expected failed, expected correct)
    ("scan_full", "0", None, 0, True),
    ("scan_fragmented", "0", None, 0, True),
    ("scan_full", "1", None, 0, True),
    ("scan_fragmented", "1", None, 0, True),
    # scan_full makes at least two rounds, each with a topk_raw answer
    ("scan_full", "0", "topk_raw", 2, False),
]


def main() -> int:
    for workload, trace, alter, want_failed, want_correct in CASES:
        cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", trace, "--scale", "toy"]
        if alter:
            cmd += ["--alter", alter]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"FAIL {workload} trace={trace}: exit {proc.returncode}")
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        ok = out["failed"] == want_failed and out["correct"] == want_correct
        print(f"{'PASS' if ok else 'FAIL'} {workload} trace={trace} alter={alter}: "
              f"correct={out['correct']} failed={out['failed']}/{out['attempted']} "
              f"metrics={len(out['metrics'])}", flush=True)
        if not ok:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
