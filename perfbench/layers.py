"""Per-layer metrics of a traced run.

Every workload reports the same names, so that a layer a workload
does not exercise reads as a count or share of zero, never as a
missing metric. Times of layer calls (``*_ms``) are medians over every
call the traced run recorded, set-up included, so that every layer a
workload touches at all is timed. Counts, shares and per-operation
figures are over the traced measured window. A "read" is an operation
that builds and executes a DataFrame: a tail read of ``sensor_ingest``
or a registry call of ``pipeline_lifecycles``.

Which end-to-end metric each layer should move, on which workload:

- ``transaction.*``, ``stats.*``: ``op_p50_ms``, ``ops_per_s`` and
  ``rows_per_s`` on ``sensor_ingest``.
- ``manifest.*``: ``ops_per_s`` (checkpoint folds, snapshot
  resolution) and the tail-read latency on ``sensor_ingest``.
- ``database.*``: ``ops_per_s`` and ``rows_per_s`` (fold stalls) and
  bytes per live row on ``sensor_ingest``.
- ``scan.*``: the tail-read latency on ``sensor_ingest``.
- ``<query>.*``: every end-to-end metric of ``pipeline_lifecycles``.
"""

from __future__ import annotations

import os

from common import median, tail
from pipeline_lifecycles import QUERIES
from spans import files_read, read_event_log, spark_work

#: per-operation Spark work reported for each registry query
QUERY_WORK = (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("shuffle_bytes", "B"), ("spill_bytes", "B"))


def windows(o) -> list[tuple[float, float]]:
    """The timed [start, end] intervals of an operation: each registry
    call of a pass, or the whole operation."""
    calls = o.info.get("calls")
    return [(c["start"], c["end"]) for c in calls] if calls else [(o.start, o.end)]


def per_layer(wl, ops, untraced, spans, rdir: str) -> dict:
    """``ops`` were recorded, ``untraced`` (interleaved with them) not."""
    jobs, stages, sql = read_event_log(os.path.join(rdir, "eventlog"))

    def work(a: float, b: float) -> dict:
        return spark_work(jobs, stages, a, b)

    def ms(xs) -> float:
        return median([s["seconds"] * 1e3 for s in xs])

    def named(name: str, xs=None) -> list[dict]:
        return [s for s in (spans if xs is None else xs) if s["name"] == name and "seconds" in s]

    by_id = {s["id"]: s for s in spans}

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    prim = [o for o in ops if o.kind in wl.primary]
    w0, w1 = ops[0].start, ops[-1].end
    win = [s for s in spans if w0 <= s["start"] <= w1]
    busy = sum(o.seconds for o in ops)
    m: dict = {}

    # ---- tracing and the operation as a whole ----------------------
    t_med = median([o.seconds for o in prim])
    u_med = median([o.seconds for o in untraced if o.kind in wl.primary])
    m["trace.overhead_pct"] = (100.0 * (t_med / u_med - 1.0), "%")
    m["trace.spans_per_op"] = (len(win) / len(ops), "count")
    tail_ms, tail_pct = tail([o.seconds * 1e3 for o in prim])
    m["op.tail_ms"] = (tail_ms, "ms")
    m["op.tail_pct"] = (tail_pct, "%")
    # over the timed parts of an operation only: a pass's calls, not
    # the untimed result collection between them
    op_work = [work(a, b) for o in prim for a, b in windows(o)]
    for k, unit in QUERY_WORK:
        m[f"op.{k}"] = (sum(w[k] for w in op_work) / len(prim), unit)

    # ---- transaction -------------------------------------------------
    commits = [s for s in named("transaction.commit") if not under(s, "database.compact")]
    folding = {s["parent"] for s in named("database.compact")}
    plain = [s for s in commits if s["id"] not in folding]
    n_commits = max(1, len(commits))
    writes = [s for s in named("transaction.add_dataframe") + named("transaction.flush") if not under(s, "database.compact")]
    m["transaction.add_dataframe_ms"] = (ms(named("transaction.add_dataframe")), "ms")
    m["transaction.flush_ms"] = (sum(s["seconds"] for s in named("transaction.flush")) * 1e3 / n_commits, "ms")
    m["transaction.commit_ms"] = (ms(plain), "ms")
    m["transaction.commit_fold_ms"] = (ms([s for s in commits if s["id"] in folding]), "ms")
    m["transaction.jobs_per_commit"] = (sum(work(s["start"], s["end"])["jobs"] for s in writes) / n_commits, "count")
    seg = [s for s in named("stats.collect_segment_info") if not under(s, "database.compact")]
    m["transaction.files_per_commit"] = (sum(len(s["attrs"].get("files", [])) for s in seg) / n_commits, "count")

    # ---- stats -------------------------------------------------------
    m["stats.footer_walk_ms"] = (ms(named("stats.collect_segment_info")), "ms")

    # ---- manifest ----------------------------------------------------
    m["manifest.publish_ms"] = (ms(named("manifest.publish")), "ms")
    # most calls find the log short of the interval and return at once
    m["manifest.checkpoint_ms"] = (ms([s for s in named("manifest.checkpoint") if s["attrs"].get("folded")]), "ms")
    m["manifest.checkpoints"] = (sum(bool(s["attrs"].get("folded")) for s in named("manifest.checkpoint", win)), "count")
    m["manifest.resolve_ms"] = (ms(named("manifest.resolve")), "ms")
    m["manifest.visible_txns"] = (median([s["attrs"].get("visible", 0) for s in named("manifest.visible_txn_ids")]), "count")

    # ---- database (auto-compaction folds) ----------------------------
    folds = named("database.compact", win)
    m["database.folds"] = (len(folds), "count")
    m["database.fold_ms"] = (ms(named("database.compact")), "ms")
    written = [work(s["start"], s["end"]) for s in writes]
    rewritten = [work(s["start"], s["end"]) for s in named("database.compact")]
    rows_in = sum(w["records_written"] for w in written)
    m["database.bytes_written_per_row"] = (sum(w["bytes_written"] for w in written + rewritten) / max(1, rows_in), "B/row")

    # ---- scan (reads: every op that executed a returned DataFrame) ---
    calls = [c for o in ops for c in o.info.get("calls", [])]
    reads = [
        dict(start=o.start, end=o.end, build=o.parts["build"], exec=o.parts["exec"], rows=o.rows, visible=o.info["files_visible"])
        for o in ops
        if "exec" in o.parts
    ] + [dict(c, visible=0) for c in calls]
    read_work = [work(r["start"], r["end"]) for r in reads]
    n_reads = max(1, len(reads))
    m["scan.build_ms"] = (median([r["build"] * 1e3 for r in reads]), "ms")
    m["scan.exec_ms"] = (median([r["exec"] * 1e3 for r in reads]), "ms")
    m["scan.files_read_frac"] = (
        sum(files_read(sql, r["start"], r["end"]) for r in reads if r["visible"])
        / max(1, sum(r["visible"] for r in reads)),
        "ratio",
    )
    m["scan.rows_examined_per_row"] = (
        sum(w["records_read"] for w in read_work) / max(1, sum(r["rows"] for r in reads)),
        "ratio",
    )
    m["scan.jobs_per_read"] = (sum(w["jobs"] for w in read_work) / n_reads, "count")
    m["scan.shuffle_bytes_per_read"] = (sum(w["shuffle_bytes"] for w in read_work) / n_reads, "B")

    # ---- registry queries (pipeline_lifecycles) ----------------------
    for q in QUERIES:
        qc = [c for c in calls if c["query"] == q]
        n = max(1, len(qc))
        m[f"{q}.build_pct"] = (100.0 * sum(c["build"] for c in qc) / busy, "%")
        m[f"{q}.exec_pct"] = (100.0 * sum(c["exec"] for c in qc) / busy, "%")
        qw = [work(c["start"], c["end"]) for c in qc]
        for k, unit in QUERY_WORK:
            m[f"{q}.{k}"] = (sum(w[k] for w in qw) / n, unit)
    return m
