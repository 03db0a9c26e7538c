"""Run every workload once with one seed and print the workloads' own
metrics side by side, each with its unit.

    python3 perfbench/report.py --seed 1 [--seconds 6] [--trace 0]

Each workload runs in its own process (``run.py``); the table is built
from the ``report`` line each run prints before its result line.
Exits 1 when a run fails or its outputs are not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT  # noqa: E402
from run import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    ok = True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            print(f"{w}: run failed (exit {out.returncode})\n{out.stderr[-3000:]}")
            ok = False
            continue
        report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
        ok = ok and result["correct"]
        print(f"{w}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
        for name, m in report.items():
            if isinstance(m, dict):
                extra = {k: v for k, v in m.items() if k not in ("value", "unit")}
                print(f"  {name:24s} {m['value']:14.4f} {m['unit']:8s} {json.dumps(extra) if extra else ''}")
        if args.trace:
            for name, m in result["metrics"].items():
                print(f"  {name:36s} {m['value']:14.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
