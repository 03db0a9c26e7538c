"""Shared pieces of the benchmark: environment pinning, the Spark
session, operation records and latency statistics.

Nothing here imports pyspark at module level: ``pin_environment`` must
run before the JVM starts.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

#: The checkout root: the benchmark lives one directory below it.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Local-mode parallelism, at most the box's core count.
MAX_CPUS = 4

#: JVM heap of the local-mode Spark process, which runs every executor
#: thread: the package default (16g) is more than a 15 GB box has, and
#: the workloads here fit in a small fraction of it.
HEAP = "2g"

def run_dir(workload: str, seed: int) -> str:
    """A fresh directory for one run's store, fixtures, Spark scratch
    space and trace output. The registry's fixture cache is keyed only
    by path, so runs must never share one."""
    d = os.path.join(ROOT, ".perfbench_runs", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def source_digest() -> str:
    """Short hash of the package's and the benchmark's Python sources:
    part of every cache key, so that inputs one version of the code
    wrote are never reused by another."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "matdb_spark"), os.path.dirname(os.path.abspath(__file__))):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def cache_dir(name: str) -> str:
    """Where ``cached(name, ...)`` keeps its directory."""
    return os.path.join(ROOT, ".perfbench_cache", f"{name}-{source_digest()}")


def cached(name: str, build) -> str:
    """A directory built once per checkout and code version by
    ``build(dir)`` and shared read-only by later runs, which copy what
    they change. Published by an atomic rename, so a partial build is
    never seen."""
    d = cache_dir(name)
    if os.path.isdir(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, d)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def pin_environment(rdir: str) -> None:
    """Environment every run uses, set before the JVM starts: a bounded
    JVM heap, the checkout on Python workers' import path (workers
    launched outside the repo root cannot otherwise import the
    package), and every temp/scratch directory inside the run dir."""
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def start_spark(rdir: str, event_log: bool):
    """The benchmark's SparkSession: ``get_spark`` on local[N], N <= 4,
    with the progress bar off and all Spark-side files in the run dir."""
    from matdb_spark import get_spark

    tmp = os.path.join(rdir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(rdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if event_log:
        ev = os.path.join(rdir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ev
        # one plain JSON-lines file, parsed when the run ends
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Op:
    """One closed-loop operation: what it was, when it ran (epoch
    seconds, to line up with Spark's event log), how long it took and
    how many rows it wrote or returned. ``parts`` holds named phase
    durations (e.g. build / exec) in seconds, ``info`` anything else a
    report needs."""

    kind: str
    start: float
    seconds: float
    rows: int = 0
    parts: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    failed: bool = False

    @property
    def end(self) -> float:
        return self.info.get("end", self.start + self.seconds)


def median(xs: list[float]) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond``
    samples above it, as (value, percentile). With too few samples for
    any such percentile, the median is returned as percentile 50."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return median(s), 50.0
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def now() -> tuple[float, float]:
    """(epoch seconds, perf counter): the first lines operations up
    with the event log, the second times them."""
    return time.time(), time.perf_counter()


def since(p0: float) -> float:
    return time.perf_counter() - p0
