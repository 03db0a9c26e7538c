"""Tracing for the traced run: span recorders wrapped around each
layer's public functions, and Spark event-log parsing.

The recorders are installed from the benchmark's own files by
replacing each function where its callers look it up. Spans (name,
start, end, parent) stay in memory and are written out when the run
ends. Spark work is counted from the event log, attributed to an
operation by job submission time: job groups are not used because
streaming jobs do not carry them.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- recording --------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def record(self, name: str, fn, args, kwargs, on_result=None):
        """Run ``fn(*args, **kwargs)`` inside a span named ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        with self._lock:
            sid = len(self.spans)
            span = {
                "id": sid,
                "name": name,
                "parent": st[-1] if st else None,
                "start": time.time(),
                "attrs": {},
            }
            self.spans.append(span)
        st.append(sid)
        p0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            span["attrs"]["error"] = True
            raise
        finally:
            span["seconds"] = time.perf_counter() - p0
            span["end"] = span["start"] + span["seconds"]
            st.pop()
        if on_result is not None:
            span["attrs"].update(on_result(out, args))
        return out

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.record(name, fn, args, kwargs, on_result=on_result)

        return wrapper

    # ---- installation -----------------------------------------------
    def _patch(self, owner, attr: str, name: str, on_result=None) -> None:
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), on_result))

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from matdb_spark import database, manifest, scan, stats, transaction

        self._patch(database.Database, "begin", "manifest.resolve")
        self._patch(database.Database, "compact", "database.compact")
        self._patch(transaction.Transaction, "add_dataframe", "transaction.add_dataframe")
        self._patch(transaction.Transaction, "flush", "transaction.flush")
        self._patch(transaction.Transaction, "commit", "transaction.commit")
        self._patch(manifest, "publish", "manifest.publish")
        self._patch(
            manifest,
            "maybe_checkpoint",
            "manifest.checkpoint",
            on_result=lambda out, a: {"folded": out is not None},
        )
        self._patch(
            manifest,
            "visible_txn_ids",
            "manifest.visible_txn_ids",
            on_result=lambda out, a: {"visible": len(out)},
        )
        self._patch(
            stats,
            "collect_segment_info",
            "stats.collect_segment_info",
            on_result=lambda out, a: {"seg_dir": a[0], "files": list(out[1])},
        )
        # transaction.py binds scan_dataframe at import time; database.py
        # imports it from scan at call time: wrap both lookups
        self._patch(scan, "scan_dataframe", "scan.scan_dataframe")
        self._patch(transaction, "scan_dataframe", "scan.scan_dataframe")
        # each registry call, as handed out by queries()
        import __spark_entry__ as entry

        queries = entry.queries
        entry.queries = lambda: {q: self.wrap(f"registry.{q}", fn) for q, fn in queries().items()}
        self.enabled = True

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---- event log --------------------------------------------------------
WORK_KEYS = ("tasks", "shuffle_bytes", "spill_bytes", "records_read", "bytes_written", "records_written")


def read_event_log(ev_dir: str) -> tuple[list[dict], dict[int, dict], list[dict]]:
    """From the event log of the (stopped) session: jobs (id, submit
    time in epoch seconds, stage ids), per-stage task totals, and SQL
    executions (start time, data files their scans read)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    file_accs: set[int] = set()
    for path in glob.glob(os.path.join(ev_dir, "*")):
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a truncated last line
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "stages": list(e.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerStageCompleted":
                    stages.setdefault(e["Stage Info"]["Stage ID"], _stage())["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(e["Stage ID"], _stage()), e.get("Task Metrics") or {})
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[e["executionId"]] = {"start": e["time"] / 1000.0, "accs": {}}
                    _file_accs(e.get("sparkPlanInfo") or {}, file_accs)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _file_accs(e.get("sparkPlanInfo") or {}, file_accs)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = execs.get(e["executionId"])
                    if ex is not None:
                        for acc, v in e.get("accumUpdates", []):
                            ex["accs"][acc] = max(v, ex["accs"].get(acc, 0))
    sql = [
        {"start": x["start"], "files": sum(v for a, v in x["accs"].items() if a in file_accs)}
        for x in execs.values()
    ]
    return [dict(id=k, **v) for k, v in sorted(jobs.items())], stages, sql


def _stage() -> dict:
    return dict(completed=False, **{k: 0 for k in WORK_KEYS})


def _add_task(st: dict, m: dict) -> None:
    st["tasks"] += 1
    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    st["bytes_written"] += out.get("Bytes Written", 0)
    st["records_written"] += out.get("Records Written", 0)


def _file_accs(node: dict, acc: set[int]) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of files read":
            acc.add(m["accumulatorId"])
    for c in node.get("children", []):
        _file_accs(c, acc)


def spark_work(jobs: list[dict], stages: dict[int, dict], start: float, end: float) -> dict:
    """Jobs submitted in [start, end] and the work of the stages they
    ran (stages skipped because their shuffle output existed are not
    counted)."""
    out = dict(jobs=0, stages=0, **{k: 0 for k in WORK_KEYS})
    seen: set[int] = set()
    # event-log times are whole milliseconds
    for j in jobs:
        if start - 0.001 <= j["submit"] <= end + 0.001:
            out["jobs"] += 1
            for sid in j["stages"]:
                st = stages.get(sid)
                if sid in seen or st is None or not st["completed"]:
                    continue
                seen.add(sid)
                out["stages"] += 1
                for k in WORK_KEYS:
                    out[k] += st[k]
    return out


def files_read(sql: list[dict], start: float, end: float) -> int:
    """Data files read by the scans of SQL executions started in
    [start, end]."""
    return sum(x["files"] for x in sql if start - 0.001 <= x["start"] <= end + 0.001)
