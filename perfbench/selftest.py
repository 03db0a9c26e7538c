"""Smallest-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Runs every workload at the tiny size, untraced and traced, and
   checks that the last line is a correct result whose metrics are
   exactly the ``end_to_end`` (untraced) or ``per_layer`` (traced)
   names of BENCHMARK.json, each with its unit.
2. Runs every workload at the tiny size in this process, corrupts the
   in-process model (``sensor_ingest``) or the oracle
   (``pipeline_lifecycles``), and checks that the correctness check
   then fails.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, pin_environment, run_dir, start_spark, stop_spark  # noqa: E402
from run import WORKLOADS, measure, workload_class  # noqa: E402


def emitted_metrics(spec: dict) -> list[str]:
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "3",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ: {sorted(set(got.items()) ^ set(want.items()))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not a clean run: {res}")
            print(f"ok  {w} trace={trace}: {len(got)} metrics", flush=True)
    return problems


def corrupt(wl) -> None:
    if wl.name == "sensor_ingest":
        wl.model._v[-1][0] += 1  # the newest write of a live key
    else:
        wl.oracles = {q: f"SELECT * FROM ({sql}) OFFSET 1" for q, sql in wl.oracles.items()}


def corruption_caught() -> list[str]:
    problems = []
    rdir = run_dir("selftest", 0)
    pin_environment(rdir)
    sys.path.insert(0, ROOT)
    spark = start_spark(rdir, event_log=False)
    try:
        for w in WORKLOADS:
            wl = workload_class(w)(spark, 5, os.path.join(rdir, w), "tiny")
            os.makedirs(os.path.join(rdir, w))
            wl.setup()
            measure(wl, 1)
            failed, errors = wl.check()
            if failed or errors:
                problems.append(f"{w}: clean run failed its check: {errors}")
            corrupt(wl)
            failed, errors = wl.check()
            if not failed or not errors:
                problems.append(f"{w}: corrupted model or oracle passed the check")
            print(f"ok  {w}: corruption caught ({errors[:1]})", flush=True)
    finally:
        stop_spark(spark)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = emitted_metrics(spec) + corruption_caught()
    for p in problems:
        print("FAIL", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
