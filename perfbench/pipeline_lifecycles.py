"""Workload ``pipeline_lifecycles``: registry queries that rebuild
their state on every call.

One client calls a fixed list of ``__spark_entry__.queries()`` entries
in passes; one pass is the workload's operation. A call builds the
query's DataFrame and executes it by collecting its rows (1,062 rows
a pass), which the check then uses, so no result is computed twice. Each call starts from an empty
registry scratch directory, so persisted indexes, stores, streaming
checkpoints and memory-sink tables are rebuilt every time. The seed
only permutes the order of the calls. Each result is compared with the
query's ``oracle_sql()`` twin on DuckDB over the same tables.

Inputs: the sf0.001 ``documents`` (500 rows), ``embeddings`` (500
64-d vectors) and ``events`` (1,000 rows) tables of the repo's test
data, copied unchanged into ``data/sf0.001``; the tiny size (self-test)
reads the first rows of each.

Why: these calls load the layers ``sensor_ingest`` does not touch
(the DSv2 change-feed stream source, k-means training, the curation
pipeline's selection, dedup and packing operators), and barely use the
store layers.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd

from common import Op, median, now, since

#: the input tables, read in place (the tiny size writes a slice of them)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
TINY_ROWS = 120

#: sources.dsv2 and streaming (the change-feed stream source),
#: operators.similarity (k-means training), operators.selection with
#: operators.dedup and packing (the curation pipeline)
QUERIES = (
    "q_dsv2_cdc",
    "q_kmeans_train",
    "q_llm_pipeline",
)
TABLES = ("documents", "embeddings", "events")


class PipelineLifecycles:
    name = "pipeline_lifecycles"
    primary = ("pass",)

    def __init__(self, spark, seed: int, rdir: str, size: str = "default"):
        self.spark = spark
        self.size = size
        # the tiny size (self-test) calls one query only
        queries = QUERIES if size == "default" else ("q_kmeans_train",)
        self.order = list(np.random.default_rng(seed).permutation(queries))
        self.sf_dir = DATA if size == "default" else os.path.join(rdir, "sf")
        self.scratch = os.path.join(rdir, "scratch")
        self.pos = 0
        self.results: list[dict] = []

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        if self.sf_dir != DATA:
            write_slices(self.sf_dir, TINY_ROWS)
        # the registry keeps every fixture under this module constant
        entry.SCRATCH = self.scratch
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory='{os.path.join(self.scratch, 'duckdb')}'")
        for t in TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.next_op()  # warm-up pass
        self.results.clear()

    def boundary(self) -> bool:
        return True

    def next_op(self) -> Op:
        """One pass over the call list. The pass's time is the sum of
        its calls' times; the scratch reset between calls is not
        timed."""
        calls = [self._call(q) for q in self.order]
        op = Op("pass", calls[0]["start"], sum(c["seconds"] for c in calls), rows=sum(c["rows"] for c in calls))
        op.info.update(calls=calls, end=calls[-1]["end"])
        return op

    def _call(self, q: str) -> dict:
        shutil.rmtree(self.scratch, ignore_errors=True)
        w0, p0 = now()
        df = self.fns[q](self.spark, self.sf_dir)
        build = since(p0)
        got = df.toPandas()
        seconds = since(p0)
        self.results.append(dict(query=q, got=got))
        return dict(query=q, start=w0, end=w0 + seconds, seconds=seconds, build=build, exec=seconds - build, rows=len(got))

    # ---- checks and report -----------------------------------------
    def check(self) -> tuple[int, list[str]]:
        errors, failed = [], 0
        for r in self.results:
            want = self.duck.execute(self.oracles[r["query"]]).fetchdf()
            why = compare(r["got"], want)
            if why:
                failed += 1
                errors.append(f"{r['query']}: {why}")
        return failed, errors

    def report(self, ops: list[Op]) -> dict:
        return {"pipeline_pass_s": (median([o.seconds for o in ops if o.kind == "pass"]), "s")}


def write_slices(sf_dir: str, rows: int) -> None:
    """The first ``rows`` rows of each input table, into ``sf_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for t in TABLES:
        pq.write_table(pq.read_table(os.path.join(DATA, f"{t}.parquet")).slice(0, rows), os.path.join(sf_dir, f"{t}.parquet"))


def _norm(v):
    """A result cell as a plain comparable value: arrays as tuples,
    numpy scalars as Python ones, NaN/NA/NaT as None, times as text."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else v
    return v.isoformat() if hasattr(v, "isoformat") else v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) or isinstance(b, float) and isinstance(a, int):
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got, want) -> str | None:
    """Order-insensitive comparison of two result frames: same column
    names, same row count, same values (floats to 1e-9 relative).
    Returns why they differ, or None."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"

    def rows(df):
        out = [tuple(_norm(x) for x in r) for r in df[gc].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: tuple(str(x) if not isinstance(x, float) else f"{x:.6e}" for x in r))

    for i, (a, b) in enumerate(zip(rows(got), rows(want))):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != oracle {b}"
    return None
