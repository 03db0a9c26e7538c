"""The query operator: snapshot scan with version resolution.

The reference's entire query surface is one operator — an ordered,
k-way merge over every visible block, deduplicating equal keys to the
newest transaction (reference: src/scan.rs:55-239; contract
README.md:61-66, :107-109). Rebuilt Spark-first, that operator is a
*declarative plan*, not a merge loop:

    parquet scan of pinned visible files        (O1 source)
      → union with staged / in-memory rows      (P9 read-your-own-writes)
      → groupBy(dims).agg(max_by(values, (txn, seq)))   (O2 version dedup)
      → orderBy(dims)                           (O1 ordering contract)

Catalyst supplies everything the reference hand-built:
- lazy block activation (scan.rs:119-180) → Parquet row-group
  on-demand reads + min/max stats skipping,
- zone maps (segment.rs:138-163) → Parquet column statistics,
- chunk routing (schema.rs:28-38) → Hive partition pruning on
  ``__chunk_*`` directory columns,
- the merge itself → hash aggregation (one shuffle, map-side partial
  aggregation) instead of a single-threaded k-way merge.

Version resolution implements the *documented* newest-txn-wins
semantics (README.md:107-109) — the reference's code path is stubbed
(scan.rs:162 tags every live source ``TransactionId::MAX``); see
SURVEY §2.1 O2. Within-transaction duplicates resolve to the highest
write sequence (last-write-wins, mirroring the in-place cell overwrite
of block.rs:45-49).

Scale: the only shuffle is the dedup aggregation, partitioned by the
full dimension tuple (maximum key cardinality → no skew beyond actual
key skew, which AQE skew handling covers). If a caller does not need
global order, ``ordered=False`` skips the range shuffle entirely.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from matdb_spark.schema import Schema, SEQ_COL, TXN_COL, _dtype
from matdb_spark import manifest


@dataclass
class ScanSource:
    """Pinned inputs of one snapshot scan (reference: ScanSource,
    database.rs:91-98 + transaction.rs:67-85). Captured eagerly at
    transaction start so lazy execution cannot see later commits
    (SURVEY §7.4.2)."""

    db_path: str
    schema: Schema
    visible_txns: list[int] = field(default_factory=list)  # committed, < horizon
    own_txn: int | None = None          # this txn's staged (flushed) data
    own_staged_segments: int = 0
    buffered_rows: list[tuple] = field(default_factory=list)  # unsaved, with seq


def _chunked(df: DataFrame, schema: Schema) -> DataFrame:
    """Derive ``__chunk_<dim> = dim // chunk_size`` partition columns.

    Exact integer floor division (``x - pmod(x, s)`` is the greatest
    multiple of ``s`` ≤ ``x``, and ``div`` on it is exact), matching
    the Python ``//`` used by the read-side chunk-range predicates in
    ``_range_filters`` for every integral value — including negatives
    (where ``div`` alone truncates toward zero) and keys above 2^53
    (where ``floor(x / s)`` in double arithmetic is inexact). Write
    routing and read pruning must share one arithmetic or rows near
    chunk boundaries silently vanish from range scans."""
    for d in schema.chunked_dims:
        n, s = f"`{d.name}`", int(d.chunk_size)
        if d.type.startswith("decimal"):
            # div would narrow to BIGINT and overflow near 2^64; stay
            # in decimal (exact: numerator is a multiple of s, and
            # x - pmod stays inside decimal(20,0)'s ±1e20 headroom).
            expr = f"CAST(({n} - pmod({n}, {s})) / {s} AS {d.type})"
        else:
            # floor division via truncate-and-correct: `div` truncates
            # toward zero, so subtract 1 for inexact negative
            # quotients. No intermediate can overflow — the earlier
            # (x - pmod(x, s)) form underflowed at the type minimum
            # (INT_MIN/LONG_MIN), mis-routing those rows to a chunk the
            # read-side floor predicates then pruned away.
            expr = (
                f"({n} div {s}) - "
                f"(CASE WHEN ({n} % {s}) != 0 AND {n} < 0 THEN 1 ELSE 0 END)"
            )
        df = df.withColumn(d.chunk_col, F.expr(expr))
    return df


def _floor_div(x, size: int):
    """Exact floor(x / size) for int OR decimal.Decimal bounds. A bare
    ``x // size`` is wrong for Decimal — decimal floor-division
    truncates toward zero (Decimal(-5) // 10 == -0), which would build
    an over-tight chunk predicate that prunes away the partition the
    write side routed a negative key to."""
    import decimal
    import math

    if isinstance(x, decimal.Decimal):
        return math.floor(x / decimal.Decimal(size))
    return x // size


def _chunk_ranges(schema: Schema, bounds: dict[str, tuple]) -> dict[str, tuple]:
    """chunk_col -> (chunk_lo|None, chunk_hi|None) for every bounded,
    chunked dim — the Python twin of the chunk predicates in
    ``_range_filters`` (same ``_floor_div`` arithmetic on both sides)."""
    out: dict[str, tuple] = {}
    by_name = {d.name: d for d in schema.dimensions}
    for name, (lo, hi) in (bounds or {}).items():
        d = by_name[name]
        if not d.chunk_size:
            continue
        out[d.chunk_col] = (
            _floor_div(lo, d.chunk_size) if lo is not None else None,
            _floor_div(hi, d.chunk_size) if hi is not None else None,
        )
    return out


def _select_manifest_files(
    files: list[str], chunk_ranges: dict[str, tuple]
) -> list[str]:
    """Chunk-prune a manifest file list driver-side: keep only paths
    whose ``__chunk_<dim>=<v>`` directory components intersect the
    bounds. Paths without a referenced chunk component are kept
    (cannot prune ⇒ read)."""
    if not chunk_ranges:
        return files
    keep = []
    for f in files:
        parts = dict(p.split("=", 1) for p in f.split("/") if "=" in p)
        ok = True
        for ccol, (clo, chi) in chunk_ranges.items():
            v = parts.get(ccol)
            if v is None:
                continue
            try:
                iv = int(v)
            except ValueError:
                continue
            if (clo is not None and iv < clo) or (chi is not None and iv > chi):
                ok = False
                break
        if ok:
            keep.append(f)
    return keep


#: above this many explicit paths, pass directories instead (py4j
#: argument-marshalling and driver plan size outweigh listing savings)
_MAX_EXPLICIT_PATHS = 50_000


def _leaf_dirs(tdir: str) -> list[str]:
    """Relative ``seg=<s>[/__chunk_<dim>=<v>...]`` leaf directories of
    a txn data directory: a walk of partition directories only — the
    reader's own hidden-path rule skips ``.``-prefixed names and
    ``_``-prefixed ones without ``=`` (``_temporary`` debris) —
    leaving the file listing to the reader."""
    out = []
    for root, subdirs, _ in os.walk(tdir):
        subdirs[:] = sorted(d for d in subdirs if "=" in d and d[0] != ".")
        if not subdirs and root != tdir:
            out.append(os.path.relpath(root, tdir).replace(os.sep, "/"))
    return out


@dataclass
class SnapshotPlan:
    """Driver-side planning of one snapshot read — the single copy
    shared by the library scan (``scan_dataframe``) and both DSv2
    readers (sources/dsv2.py)."""

    txns: list[int]                      # survivors of tier-0 pruning
    files: list[tuple[str, int]]         # (abs path, effective txn)
    rank_overrides: dict[int, int]       # physical txn -> version rank
    dedup_free: bool
    tie_free: bool


def plan_snapshot(
    db_path: str, schema: Schema, txns: list[int], bounds: dict[str, tuple] | None
) -> SnapshotPlan:
    """Plan a read of the committed ``txns`` within the dim ``bounds``.

    - Tier-0 pruning drops whole transactions whose manifest stats
      (txn-level zone maps, stats.py) cannot intersect the bounds —
      before any file listing or Spark job. Missing stats keep the txn
      (correctness never depends on stats).
    - ``dedup_free``: the snapshot provably holds ONE version per key —
      exactly one surviving txn whose manifest carries ``unique_keys``
      (stamped by compaction, whose output is by construction the
      version-resolved snapshot). Version resolution, and with it the
      scan's only shuffle, can be skipped. Bounded scans compose:
      pruning only REMOVES txns, and a key inside the bounds cannot
      live in a pruned txn.
    - ``tie_free``: EVERY surviving txn is stamped ``unique_keys``, so
      versions per key are provably distinct (ties can only come from
      duplicate keys inside one write call) and multi-value row-level
      resolution may use per-column ``max_by``.
    - ``rank_overrides``: a compaction that folded only a PREFIX of the
      version order (minor compaction) writes under a new physical txn
      id but keeps its *logical* position — its manifest's
      ``version_rank``. Resolution compares effective versions, so
      transactions newer than the folded prefix still win.
    - ``files``: the manifest-recorded file lists, chunk-pruned
      driver-side against the bounds — no file LISTING at read time.
      A manifest without a file list (legacy store, capped txn)
      contributes its leaf data directories instead, pruned the same
      way, so a reader still sees one entry per chunk.

    Callers add what only they know: a read-your-own-writes overlay
    voids ``dedup_free``/``tie_free`` (scan_dataframe)."""
    read = list(txns)

    def mf(t: int) -> dict:
        return manifest.read_manifest_cached(db_path, t)

    if bounds:
        from matdb_spark.stats import txn_intersects

        read = [t for t in read if txn_intersects(mf(t).get("stats"), bounds)]
    rank: dict[int, int] = {}
    for t in read:
        vr = mf(t).get("version_rank")
        if vr is not None and int(vr) != int(t):
            rank[int(t)] = int(vr)
    cranges = _chunk_ranges(schema, bounds or {})
    files: list[tuple[str, int]] = []
    for t in read:
        tdir = manifest.txn_data_dir(db_path, t)
        eff = rank.get(t, t)
        fl = mf(t).get("files")
        if fl is None:
            fl = _leaf_dirs(tdir)
        files.extend(
            (f"{tdir}/{rel}", eff) for rel in _select_manifest_files(fl, cranges)
        )
    return SnapshotPlan(
        txns=read,
        files=files,
        rank_overrides=rank,
        dedup_free=len(read) == 1 and bool(mf(read[0]).get("unique_keys")),
        tie_free=bool(read) and all(mf(t).get("unique_keys") for t in read),
    )


def _read_schema(schema: Schema):
    """Explicit Parquet read schema for segment scans: file columns
    (dims, values, write sequence) plus the partition-directory columns
    (``txn``, ``seg``, ``__chunk_*``).

    The schema is *catalog metadata* (schema.json), exactly as in the
    reference (schema.rs:40-55, schema.json is authoritative; file
    contents never define the schema) — so the reader never infers or
    merges Parquet footers. Columns a file predates (additive value
    evolution) resolve to typed nulls by Spark's by-name clipping; a
    never-evolved store skips even the single-footer inference read.
    At 100 TB this removes the O(#file-footers) driver-coordinated
    mergeSchema job an evolved store used to pay on EVERY snapshot
    read."""
    from pyspark.sql import types as T

    fields = [T.StructField(f.name, f.dataType, True) for f in schema.spark_schema()]
    fields.append(T.StructField(SEQ_COL, T.LongType(), True))
    fields.append(T.StructField("txn", T.LongType(), True))
    fields.append(T.StructField("seg", T.IntegerType(), True))
    for d in schema.chunked_dims:
        # _chunked computes LONG for integral dims (`div`), the decimal
        # type itself for decimal dims — partition values parse back
        # under the same type so read predicates compare exactly.
        ctype = _dtype(d.type) if d.type.startswith("decimal") else T.LongType()
        fields.append(T.StructField(d.chunk_col, ctype, True))
    return T.StructType(fields)


def _range_filters(
    schema: Schema, bounds: dict[str, tuple], with_chunks: bool
) -> list:
    """Filters for a key-range scan: per bounded dim, a row-level
    predicate (drives parquet row-group min/max skipping — the zone
    maps of segment.rs:138-163) and, when the dim is chunked and the
    relation still carries its ``__chunk_*`` partition column, the
    derived chunk-range predicate floor(lo/size)..floor(hi/size) —
    which Catalyst turns into Hive partition pruning (the merge-scan's
    lazy block activation, scan.rs:119-180, at directory granularity).
    """
    conds = []
    for name, (lo, hi) in bounds.items():
        col = F.col(name)
        if lo is not None:
            conds.append(col >= F.lit(lo))
        if hi is not None:
            conds.append(col <= F.lit(hi))
    if with_chunks:
        # chunk predicates from the SAME arithmetic as the driver-side
        # manifest file pruning (_chunk_ranges/_floor_div) — one source
        # of truth, so the two pruning layers cannot desynchronize
        for ccol, (clo, chi) in _chunk_ranges(schema, bounds).items():
            if clo is not None:
                conds.append(F.col(ccol) >= F.lit(clo))
            if chi is not None:
                conds.append(F.col(ccol) <= F.lit(chi))
    return conds


def scan_dataframe(
    spark: SparkSession,
    source: ScanSource,
    ordered: bool = True,
    include_txn: bool = False,
    drop_null_value_rows: bool = True,
    bounds: dict[str, tuple] | None = None,
    predicate=None,
    cell_merge: bool = False,
) -> DataFrame:
    """Build the snapshot-scan DataFrame for a pinned source set.

    ``bounds`` maps dim name → (lo, hi) inclusive key bounds (either
    side None for open): applied at the scan relation itself so both
    partition pruning and parquet stats pruning engage before any
    shuffle. ``predicate`` is an optional extra Column over DIM
    columns only, also applied at the scan relation (point lookups push
    exact key sets down this way); dim-only predicates commute with the
    version-dedup aggregation, so applying them pre-shuffle is
    semantics-preserving."""
    schema = source.schema
    dims = schema.dim_names
    vals = schema.value_names

    parts: list[DataFrame] = []

    plan = plan_snapshot(source.db_path, schema, source.visible_txns, bounds)
    # read-your-own-writes overlays add versions no manifest describes
    staged = source.own_txn is not None and source.own_staged_segments > 0
    overlay = staged or bool(source.buffered_rows)
    dedup_free = plan.dedup_free and not overlay
    tie_free = plan.tie_free and not overlay
    paths = [path for path, _ in plan.files]
    if len(paths) > _MAX_EXPLICIT_PATHS:
        # past this size the directory reader wins anyway
        paths = [manifest.txn_data_dir(source.db_path, t) for t in plan.txns]
    if staged:
        # own staged segments have no manifest yet: their txn dir is
        # passed as a directory (small listing)
        paths.append(manifest.txn_data_dir(source.db_path, source.own_txn))
    if paths:  # empty = no txn, or every committed file chunk-pruned away
        # Catalog-schema read: no footer inference, no mergeSchema job
        # (see _read_schema). Files predating an evolved value column
        # read it as typed null.
        df = (
            spark.read.option("basePath", manifest.data_dir(source.db_path))
            .schema(_read_schema(schema))
            .parquet(*paths)
        )
        # Prune BEFORE projecting away the __chunk_* partition columns.
        for cond in _range_filters(schema, bounds or {}, with_chunks=True):
            df = df.filter(cond)
        if predicate is not None:
            df = df.filter(predicate)
        # Partition dirs contribute txn=<t>, seg=<s>, __chunk_* columns;
        # the explicit catalog read schema guarantees every value
        # column exists (typed null where a file predates it).
        txn_expr = F.col("txn").cast("long")
        if plan.rank_overrides:
            case = None
            for t, r in sorted(plan.rank_overrides.items()):
                cond = F.col("txn") == F.lit(t)
                case = (
                    F.when(cond, F.lit(r))
                    if case is None
                    else case.when(cond, F.lit(r))
                )
            txn_expr = case.otherwise(txn_expr).cast("long")
        df = df.select(
            txn_expr.alias(TXN_COL),
            F.col(SEQ_COL),
            *[F.col(c) for c in dims],
            *[F.col(c) for c in vals],
        )
        parts.append(df)

    if source.buffered_rows:
        # Read-your-own-writes overlay for unflushed rows
        # (reference: transaction.rs:80-83). Driver-side by nature:
        # these are rows the application just add_row()ed.
        # The sentinel must outrank every committed txn AND survive the
        # packed (txn·2³² + seq) version key without overflow: 2³¹−1 is
        # the top of the txn-id space (manifest.publish reserves it —
        # committed ids stay strictly below), and (2³¹−1)·2³² + seq
        # tops out at 2⁶³−1, the last representable long.
        own = source.own_txn if source.own_txn is not None else (1 << 31) - 1
        buf = spark.createDataFrame(source.buffered_rows, schema.staging_schema())
        for cond in _range_filters(schema, bounds or {}, with_chunks=False):
            buf = buf.filter(cond)
        if predicate is not None:
            buf = buf.filter(predicate)
        buf = buf.select(
            F.lit(own).cast("long").alias(TXN_COL),
            F.col(SEQ_COL),
            *[F.col(c) for c in dims],
            *[F.col(c) for c in vals],
        )
        parts.append(buf)

    if not parts:
        empty = spark.createDataFrame([], schema.spark_schema())
        out = empty.select(*dims, *vals)
        if include_txn:
            out = out.withColumn(TXN_COL, F.lit(None).cast("long"))
        return out

    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    # O2: newest-(txn, seq) wins per key. max_by keeps map-side partial
    # aggregation (one shuffle) — cheaper at scale than a row_number
    # window, which cannot partially aggregate.
    #
    # Version encoding: (txn, seq) packs into ONE long (txn·2³² + seq —
    # lexicographic order preserved; txn < 2³¹ and seq < 2³² are
    # engine invariants, seq counts WRITE CALLS per txn, not rows).
    # The packed form matters for the physical strategy: a struct
    # ordering key forces an immutable aggregation buffer, which
    # disqualifies HashAggregate and compiles the whole resolution to
    # SortAggregate — a per-partition sort on BOTH sides of the
    # exchange (found by the r7 version-skew probe, scale_probe.py
    # mvccskew). With a long key and a primitive value the buffer is
    # mutable and the plan is two-phase HashAggregate: O(n) instead of
    # O(n log n) per scan, and the map-side partial still collapses a
    # hot key (one dim tuple holding 10% of rows) to one candidate per
    # task before the shuffle.
    version = F.struct(F.col(TXN_COL), F.col(SEQ_COL))
    version_long = F.col(TXN_COL) * F.lit(1 << 32) + F.col(SEQ_COL)
    if dedup_free:
        # One version per key already (single compacted txn): project
        # away the bookkeeping columns and skip the aggregation. Under
        # one version per key, row-level and cell-level resolution
        # coincide, so ``cell_merge`` needs no separate handling.
        cols = [F.col(d) for d in dims] + [F.col(v) for v in vals]
        if include_txn:
            cols.append(F.col(TXN_COL))
        df = df.select(*cols)
    elif cell_merge:
        # CELL-level resolution — the reference's actual write model:
        # add_row overwrites individual value cells in place
        # (block.rs:45-49), so each value column's newest NON-NULL
        # write wins independently; a null cell is "no write", not a
        # value. This is what a partial-column upsert needs. Same
        # single shuffle (max_by per column, ordering null for null
        # cells → ignored by the aggregate). Consequence: all-null
        # tombstones cannot delete under cell merge — deletes need the
        # default row-level mode.
        aggs = [
            F.max_by(F.col(v), F.when(F.col(v).isNotNull(), version_long)).alias(v)
            for v in vals
        ]
        if include_txn:
            aggs.append(F.max_by(F.col(TXN_COL), version_long).alias(TXN_COL))
        if not aggs:  # key-only schema: plain distinct on dims
            df = df.select(*[F.col(d) for d in dims]).distinct()
        else:
            df = df.groupBy(*[F.col(d) for d in dims]).agg(*aggs)
    elif len(vals) == 1 or tie_free:
        # Per-column max_by over the packed-long version IS row-level
        # resolution whenever no two versions of a key can tie:
        # - a SINGLE value column (the reference's exercised shape,
        #   block.rs:45-49) has no cross-column atomicity to protect
        #   (ties pick an arbitrary value, same as the struct path, and
        #   tied versions share their txn so __txn stays consistent);
        # - ``tie_free`` stores (every visible txn stamped unique_keys)
        #   provably have no ties at all, multi-value included.
        # Unlocks two-phase HashAggregate (see version note above).
        aggs = [F.max_by(F.col(v), version_long).alias(v) for v in vals]
        if include_txn:
            aggs.append(F.max_by(F.col(TXN_COL), version_long).alias(TXN_COL))
        df = df.groupBy(*[F.col(d) for d in dims]).agg(*aggs)
    else:
        # Multiple value columns resolve through ONE struct payload:
        # per-column max_by would be faster (hash-aggregable) but
        # could stitch a row from DIFFERENT tied writes (same
        # (txn, seq), e.g. duplicate keys inside one
        # add_dataframe(dedup=False) call) — row atomicity wins.
        payload = F.struct(*[F.col(v) for v in vals], F.col(TXN_COL))
        winner = F.max_by(payload, version).alias("__w")
        df = df.groupBy(*[F.col(d) for d in dims]).agg(winner)
        cols = [F.col(d) for d in dims] + [F.col(f"__w.{v}").alias(v) for v in vals]
        if include_txn:
            cols.append(F.col(f"__w.{TXN_COL}").alias(TXN_COL))
        df = df.select(*cols)

    if drop_null_value_rows and vals:
        # Reference scans never emit unset cells (block.rs:277-279):
        # a row whose value cells are all absent does not exist.
        cond = F.lit(False)
        for v in vals:
            cond = cond | F.col(v).isNotNull()
        df = df.filter(cond)

    if ordered:
        # O1 ordering contract (scan.rs:38-54): ascending lexicographic
        # key order. Range-partitioned sort; skipped when ordered=False.
        df = df.orderBy(*[F.col(d).asc() for d in dims])
    return df


def iterate_rows(df: DataFrame) -> Iterator[Row]:
    """Reference-style consumption (``for row in txn.query()``) without
    collecting the full result on the driver."""
    return df.toLocalIterator(prefetchPartitions=True)
