"""Ingest encoders, re-creating the reference example's scalar
transforms (examples/sensor-log.rs) as JVM-side column expressions:

- O19 timestamp parse (sensor-log.rs:123-128): ``"%d/%m/%Y %I:%M:%S
  %p"`` with ``a.m./p.m.`` normalization → epoch milliseconds.
- O20 fixed-point encode (sensor-log.rs:130-136): f64 string → ×1000
  truncated long; empty → 0.
- O21 dictionary encoding (sensor-log.rs:19-105): persistent
  (component, sensor, kind) → dense id mapping; see
  sources/sensor_tsv.py for the table-level implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def parse_sensor_time(col: Column) -> Column:
    """``14/02/2023 3:05:09 p.m.`` → epoch millis (UTC).
    Normalizes ``a.m./p.m.`` → ``AM/PM`` then parses with the
    reference's format string (d/M/yyyy h:mm:ss a)."""
    # (?i): the reference data is lowercase but uppercase 'A.M./P.M.'
    # would otherwise silently fail to parse and drop the row
    norm = F.upper(F.regexp_replace(col, r"(?i)([ap])\.m\.", r"$1m"))
    # try_: unparsable input → NULL (callers drop it), matching the
    # reference's skip-bad-line behavior (sensor-log.rs:199-204)
    ts = F.try_to_timestamp(norm, F.lit("d/M/yyyy h:mm:ss a"))
    return F.unix_millis(ts)


def fixed_point_encode(col: Column, scale: int = 1000) -> Column:
    """Parse a decimal string, multiply by ``scale``, truncate to long;
    empty/invalid → 0 (reference: parse_value, sensor-log.rs:130-136)."""
    d = F.coalesce(col.cast("double"), F.lit(0.0))
    return (d * scale).cast("long")


def dictionary_encode(
    df: DataFrame,
    key_cols: list[str],
    existing: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Assign dense ids (from 1, or continuing ``existing``) to each
    distinct key tuple — the Spark form of the reference's
    ``sensors.json`` dictionary (ids allocated on first sight,
    sensor-log.rs:85-104).

    Deterministic: new keys are numbered in sorted key order. The
    numbering is TWO-PHASE, never a single-task global window:
    repartitionByRange on the keys, row_number within each range
    partition, plus a broadcast per-partition offset — partition ids
    ascend with the ranges, so offset + within-partition rank IS the
    global sorted rank, for any dictionary size (the result does not
    depend on where the sampled range boundaries fall). A
    high-cardinality key space (user ids, URLs) therefore numbers
    distributed; the reference holds its dictionary in memory as
    sensors.json (sensor-log.rs:85-104), which caps it at driver
    scale by construction.
    """
    distinct = df.select(*key_cols).distinct()
    if existing is not None:
        start = existing.agg(F.max(id_col)).first()[0] or 0
        new = distinct.join(existing.select(*key_cols), key_cols, "left_anti")
    else:
        start = 0
        new = distinct
    # localCheckpoint PINS the partition assignment: counts/offsets and
    # the numbering branch both consume this relation, and without
    # materialization a re-executed range exchange could re-sample
    # DIFFERENT boundaries (RangePartitioner sampling is per-execution),
    # silently pairing rows with offsets from another partitioning —
    # duplicate/skipped ids with no error. The checkpoint holds only
    # the NEW keys (dictionary delta), not the corpus.
    parted = (
        new.repartitionByRange(*[F.col(c).asc() for c in key_cols])
        .withColumn("__dp", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = parted.groupBy("__dp").agg(F.count(F.lit(1)).alias("__dc"))
    # window over partition COUNTS only: #shuffle-partitions rows
    w_off = Window.orderBy("__dp").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__dp", F.coalesce(F.sum("__dc").over(w_off), F.lit(0)).alias("__doff")
    )
    w_in = Window.partitionBy("__dp").orderBy(*[F.col(c).asc() for c in key_cols])
    numbered = (
        parted.join(F.broadcast(offsets), "__dp")
        .withColumn(
            id_col,
            (F.row_number().over(w_in) + F.col("__doff") + F.lit(start)).cast("long"),
        )
        .drop("__dp", "__doff")
    )
    if existing is not None:
        numbered = existing.select(id_col, *key_cols).unionByName(
            numbered.select(id_col, *key_cols)
        )
    return numbered.select(id_col, *key_cols)
