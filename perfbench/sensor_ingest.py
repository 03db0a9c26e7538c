"""Workload ``sensor_ingest``: the paper's sensor-log pattern.

One client commits seeded batches of ``(t, sensor) -> value`` rows to
a chunked store with auto-compaction at its defaults. Each batch
covers the next slice of time for every sensor and also upserts and
tombstones keys of earlier slices. A share of the commits are late
point corrections written with ``add_rows``/``delete_rows``, and after
every few commits the client reads the newest time window.

Why: it loads the write path (transaction, stats, manifest publish,
auto-compaction folds) and puts tail reads beside the writes. The
store starts from a history long enough that the manifest log crosses
the checkpoint interval during the measured window, so a checkpoint
fold is measured.

Sizes at the default size and a 20 s window: a batch is 2,368 rows
(32 time steps x 64 sensors, 256 upserts, 64 tombstones), a correction
10 keys; the run ends near 100 commits, about 0.2 M rows written and
1 MB of data on disk, far below the JVM heap, with about 110
manifests: past the 64-entry checkpoint interval, inside the
256-entry manifest cache. Manifests are fsynced on publish, the
program's default. One client; the seed drives every generated value
after the cached history (which uses seed 0).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np

from common import Op, cache_dir, cached, median, noop, now, since, tail
from model import TOMBSTONE, VALUE_RANGE, SensorModel, observed, old_keys, sensor_schema, to_frame

SIZES = {
    # sensors, time steps per batch, upserts and tombstones per batch
    "default": dict(sensors=64, steps=32, upserts=256, tombstones=64),
    "tiny": dict(sensors=8, steps=4, upserts=4, tombstones=2),
}

#: ``enable_auto_compact()`` folds every 8th commit by default. Each
#: fold cycle holds one late correction (its 4th commit) and two tail
#: reads (after its 4th and 8th commits), so every window has the same
#: mix; set-up and the window both end on a boundary of two cycles.
FOLD_EVERY = 8
CYCLE = 16

#: The store's history before a run: commits from a fixed seed, built
#: once per checkout and code version and copied into each run's own
#: directory (building it in every run would cost more than the rest of
#: the run).
HISTORY_COMMITS = 32

#: Set-up adds warm-up commits from the run's seed (commit latency in a
#: fresh JVM settles after 10 to 15 commits). 48 commits and their
#: 6 folds leave the manifest log 10 entries short of
#: ``manifest.DEFAULT_CHECKPOINT_INTERVAL`` (64), so the window's first
#: two fold cycles always include a checkpoint fold.
WARM_COMMITS = 48


class SensorIngest:
    name = "sensor_ingest"
    primary = ("commit", "correction")

    def __init__(self, spark, seed: int, rdir: str, size: str = "default"):
        self.spark = spark
        self.size = size
        self.p = SIZES[size]
        self.rng = np.random.default_rng(seed)
        self.path = os.path.join(rdir, "store")
        self.model = SensorModel(self.p["sensors"])
        self.batches = 0
        self.read_due = False
        self.reads: list[dict] = []
        self.db = None

    @staticmethod
    def prepare(size: str) -> None:
        """Build the history, if this checkout has none for this code
        version, in a process of its own, so that a run's set-up time
        never includes it and its session starts as cold as any other."""
        if not os.path.isdir(cache_dir(history_name(size))):
            subprocess.run([sys.executable, os.path.abspath(__file__), "--size", size], check=True)

    def setup(self) -> None:
        from matdb_spark import Database

        hist = self._history()
        shutil.copytree(os.path.join(hist, "store"), self.path)
        with np.load(os.path.join(hist, "model.npz")) as saved:
            self.model.load(saved)
            self.batches = int(saved["batches"])
        self.db = Database.open(self.spark, self.path)
        self.db.enable_auto_compact()
        while self.model.commits < WARM_COMMITS or self.read_due:
            self.next_op()

    def _history(self) -> str:
        """Directory of the history store and its model, built from
        seed 0 on first use in a checkout and code version."""

        def build(d: str) -> None:
            from matdb_spark import Database

            b = SensorIngest(self.spark, 0, d, self.size)
            b.db = Database.create(self.spark, b.path, sensor_schema(256, 32))
            b.db.enable_auto_compact()
            while b.model.commits < HISTORY_COMMITS:
                b._commit()
            np.savez(os.path.join(d, "model.npz"), batches=b.batches, **b.model.state())

        return cached(history_name(self.size), build)

    def boundary(self) -> bool:
        return not self.read_due and self.model.commits % CYCLE == 0

    # ---- operations -------------------------------------------------
    def next_op(self) -> Op:
        if self.read_due:
            self.read_due = False
            return self._tail_read()
        op = self._commit()
        self.read_due = self.model.commits % (FOLD_EVERY // 2) == 0
        return op

    def _commit(self) -> Op:
        if self.model.commits % FOLD_EVERY == 3:
            return self._correction()
        return self._batch()

    def _batch(self) -> Op:
        p, n = self.p, self.p["sensors"]
        lo = self.batches * p["steps"]
        t = np.repeat(np.arange(lo, lo + p["steps"]), n)
        s = np.tile(np.arange(n), p["steps"])
        v = self.rng.integers(0, VALUE_RANGE, len(t))
        # upserts and tombstones of distinct keys of the last 8 slices
        back = max(0, lo - 8 * p["steps"])
        ot, os_ = old_keys(self.rng, back, lo, n, p["upserts"] + p["tombstones"])
        ov = self.rng.integers(0, VALUE_RANGE, len(ot))
        ov[: min(p["tombstones"], len(ov))] = TOMBSTONE
        t, s, v = np.concatenate([t, ot]), np.concatenate([s, os_]), np.concatenate([v, ov])
        df = to_frame(self.spark, t, s, v)
        w0, p0 = now()
        txn = self.db.begin()
        txn.add_dataframe(df)
        txn.commit()
        op = Op("commit", w0, since(p0), rows=len(t))
        self.model.add_commit(t, s, v)
        self.batches += 1
        return op

    def _correction(self) -> Op:
        p, n = self.p, self.p["sensors"]
        hi = (self.batches - 2) * p["steps"]
        lo = max(0, hi - 16 * p["steps"])
        t, s = old_keys(self.rng, lo, hi, n, 10)
        v = self.rng.integers(0, VALUE_RANGE, len(t))
        v[-2:] = TOMBSTONE
        rows = [(int(a), int(b), int(c)) for a, b, c in zip(t[:-2], s[:-2], v[:-2])]
        keys = [(int(a), int(b)) for a, b in zip(t[-2:], s[-2:])]
        w0, p0 = now()
        txn = self.db.begin()
        txn.add_rows(rows)
        txn.delete_rows(keys)
        txn.commit()
        op = Op("correction", w0, since(p0), rows=len(t))
        self.model.add_commit(t, s, v)
        return op

    def _tail_read(self) -> Op:
        """Read the newest two batches' time range as a client would:
        begin (snapshot resolution), build, execute through the noop
        sink. The phases are timed apart; the count and checksum come
        back through an Observation."""
        from matdb_spark import manifest

        hi = self.batches * self.p["steps"] - 1
        lo = max(0, hi + 1 - 2 * self.p["steps"])
        w0, p0 = now()
        txn = self.db.begin()
        p1 = since(p0)
        df, obs = observed(txn.query_range({"t": (lo, hi)}), f"tail{len(self.reads)}")
        p2 = since(p0)
        noop(df)
        op = Op("tail_read", w0, since(p0), parts={"build": p2 - p1})
        op.parts["exec"] = op.seconds - p2
        op.rows = obs.get["n"]
        op.info["files_visible"] = sum(
            len(manifest.read_manifest_cached(self.path, t).get("files") or [])
            for t in txn.visible_txns
        )
        self.reads.append(dict(upto=self.model.commits, t_range=(lo, hi), got=(obs.get["n"], obs.get["h"])))
        return op

    # ---- checks and report -----------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """Every tail read and the final snapshot against the model;
        the final full scan must also come back in key order."""
        errors, failed = [], 0
        for r in self.reads:
            want = self.model.expect(upto=r["upto"], t_range=r["t_range"])
            if tuple(r["got"]) != want:
                failed += 1
                errors.append(f"tail read t={r['t_range']}: got {r['got']}, want {want}")
        snap = self.model.resolve()
        want = self.model.expect(snap=snap)
        df, obs = observed(self.db.begin().query(ordered=True), "final")
        keys = df.select("t", "sensor").toPandas()
        got = (obs.get["n"], obs.get["h"])
        if got != want:
            failed += 1
            errors.append(f"final snapshot: got {got}, want {want}")
        if not (
            np.array_equal(keys["t"].to_numpy(), snap[0])
            and np.array_equal(keys["sensor"].to_numpy(), snap[1])
        ):
            failed += 1
            errors.append("final snapshot is not in (t, sensor) order")
        self.live_rows = want[0]
        return failed, errors

    def report(self, ops: list[Op]) -> dict:
        commits = [o for o in ops if o.kind in self.primary]
        reads = [o for o in ops if o.kind == "tail_read"]
        tail_ms, tail_pct = tail([o.seconds * 1e3 for o in commits])
        data_bytes = self.db.stats()["data_bytes"]
        busy = sum(o.seconds for o in commits)
        return {
            "ingest_rows_per_s": (sum(o.rows for o in commits) / busy, "rows/s"),
            "commit_p50_ms": (median([o.seconds * 1e3 for o in commits]), "ms"),
            "commit_tail_ms": (tail_ms, "ms", {"percentile": tail_pct, "samples": len(commits)}),
            "tail_read_p50_ms": (median([o.seconds * 1e3 for o in reads]), "ms"),
            "bytes_per_live_row": (data_bytes / max(1, self.live_rows), "B/row"),
        }


def history_name(size: str) -> str:
    return f"sensor_ingest-{size}-h{HISTORY_COMMITS}"


def main() -> int:
    """Build the history store of one size (see ``prepare``)."""
    import argparse

    from common import ROOT, pin_environment, run_dir, start_spark, stop_spark

    ap = argparse.ArgumentParser(description="Build the sensor_ingest history store.")
    ap.add_argument("--size", choices=tuple(SIZES), default="default")
    args = ap.parse_args()
    rdir = run_dir("history", 0)
    pin_environment(rdir)
    sys.path.insert(0, ROOT)
    spark = start_spark(rdir, event_log=False)
    try:
        SensorIngest(spark, 0, rdir, args.size)._history()
    finally:
        stop_spark(spark)
    shutil.rmtree(rdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
