"""The repo benchmark: one closed-loop client against the public API.

    python3 perfbench/run.py --workload sensor_ingest --seed 1 --seconds 20 --trace 0

Workloads (see each module's docstring for why it was chosen):
``sensor_ingest`` and ``pipeline_lifecycles``.

A run pins its environment, starts a local Spark session, sets the
workload up (store build and a warm-up pass), measures for
``--seconds`` and at least three rounds (a round is one pass, or one
whole cycle of a workload's operation mix), then checks every output
against the workload's model or oracle.
Only the calls into the package are timed; input generation and
checks are not.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end set, the same names for every workload:

- ``setup_s``: process start to the end of set-up (session start,
  store build, warm-up). Inputs built once per checkout and code
  version (the ``sensor_ingest`` history) are built before, in a
  process of their own, and are not counted.
- ``op_p50_ms``: median latency of the workload's operation: a commit
  (begin, write, commit, folds included) for ``sensor_ingest``; one
  pass over the registry calls, build and execute, for
  ``pipeline_lifecycles``.
- ``ops_per_s``: operations per second of operation time, over every
  operation of the mix (for ``sensor_ingest``, its tail reads too).
- ``rows_per_s``: rows committed or returned per second of operation
  time, over the same operations.

The line before it reports the workload's own metrics (commit tail,
tail-read latency, bytes per live row, pipeline pass time, ...) under
``report``.

With ``--trace 1`` the metrics are the per-layer set (see
``layers.py``): span recorders are wrapped around each layer's public
functions and the Spark event log is on. The window is twice as long
and alternates, round by round, between recorded and not recorded;
the difference of the two halves' operation medians is
``trace.overhead_pct``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, Op, median, now, pin_environment, run_dir, since, start_spark, stop_spark  # noqa: E402

WORKLOADS = ("sensor_ingest", "pipeline_lifecycles")

#: A window holds at least this many rounds. Latency keeps falling as
#: the JVM warms up, so a window that ended after fewer rounds on a
#: slow host would measure an earlier, slower stretch than on a fast
#: one; and a median of two passes is their mean.
MIN_ROUNDS = 3


def workload_class(name: str):
    if name == "sensor_ingest":
        from sensor_ingest import SensorIngest as cls
    else:
        from pipeline_lifecycles import PipelineLifecycles as cls
    return cls


def measure(wl, seconds: float, rec=None) -> list[Op]:
    """Run operations back to back for ``seconds`` and ``MIN_ROUNDS``
    rounds, up to the workload's next round boundary. With a span
    recorder, recording is switched on and off at every round boundary
    (whole rounds, so that periodic work such as folds is recorded as
    often as not), and each operation notes in ``info["traced"]`` whether it was recorded. An
    operation that raises ends the window: the store and the model may
    no longer agree."""
    ops: list[Op] = []
    rounds = 0
    traced = True
    p0 = time.perf_counter()
    while True:
        if rec is not None:
            rec.enabled = traced
        w0, q0 = now()
        try:
            ops.append(wl.next_op())
        except Exception:
            traceback.print_exc()
            ops.append(Op("error", w0, since(q0), failed=True))
            break
        ops[-1].info["traced"] = traced
        if not wl.boundary():
            continue
        rounds += 1
        if since(p0) >= seconds and rounds >= MIN_ROUNDS and (rec is None or not traced):
            break
        if rec is not None:
            traced = not traced
    return ops


def end_to_end(wl, ops: list[Op], setup_s: float) -> dict:
    busy = sum(o.seconds for o in ops) or float("nan")
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median([o.seconds * 1e3 for o in ops if o.kind in wl.primary]), "ms"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "rows_per_s": (sum(o.rows for o in ops) / busy, "rows/s"),
    }


def metric_obj(m: dict) -> dict:
    out = {}
    for k, v in m.items():
        out[k] = {"value": v[0], "unit": v[1]}
        if len(v) > 2:
            out[k].update(v[2])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default", help="tiny: self-test inputs")
    args = ap.parse_args(argv)

    p0 = time.perf_counter()
    cls = workload_class(args.workload)
    if hasattr(cls, "prepare"):
        cls.prepare(args.size)
    prepare_s = time.perf_counter() - p0
    rdir = run_dir(args.workload, args.seed)
    pin_environment(rdir)
    sys.path.insert(0, ROOT)
    spark = start_spark(rdir, event_log=bool(args.trace))
    try:
        result, report = run(spark, args, rdir, prepare_s)
    finally:
        stop_spark(spark)
    if args.trace:
        from layers import per_layer

        result["metrics"] = metric_obj(per_layer(*report.pop("_trace"), rdir))
    # keep only the trace output (spans, event log)
    if args.trace:
        for d in ("store", "scratch", "sf", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(rdir, d), ignore_errors=True)
    else:
        shutil.rmtree(rdir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def run(spark, args, rdir: str, prepare_s: float):
    rec = None
    if args.trace:
        from spans import Recorder

        rec = Recorder()
        rec.install()
    wl = workload_class(args.workload)(spark, args.seed, rdir, args.size)
    wl.setup()
    setup_s = time.perf_counter() - T0 - prepare_s
    if rec is None:
        ops = measure(wl, args.seconds)
    else:
        ops = measure(wl, 2 * args.seconds, rec)
        rec.enabled = False
        rec.write(os.path.join(rdir, "spans.jsonl"))
    failed, errors = wl.check()
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    failed += sum(o.failed for o in ops)
    attempted = len(ops)
    e2e = end_to_end(wl, ops, setup_s)
    report = {"workload": wl.name, "seed": args.seed, **metric_obj(e2e), **metric_obj(wl.report(ops))}
    report["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    result = {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metric_obj(e2e),
    }
    if rec is not None:
        split = [o for o in ops if o.info.get("traced")], [o for o in ops if not o.info.get("traced")]
        report["_trace"] = (wl, *split, rec.spans)
    return result, report


if __name__ == "__main__":
    sys.exit(main())
