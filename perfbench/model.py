"""Seeded sensor-log inputs and the in-process model they are checked
against.

``sensor_ingest`` writes rows of the ``(t, sensor) -> value`` schema
of the paper's sensor-log example. Every generated write is also
appended to a :class:`SensorModel`, which replays the store's
semantics in Python: per key the newest write wins, and a write
whose value is missing (a tombstone) removes the key. Reads are
checked by row count and an order-insensitive checksum
(:func:`row_hash_np`).
"""

from __future__ import annotations

import numpy as np

#: value written for a tombstone in the model arrays (real values are
#: drawn from [0, VALUE_RANGE))
TOMBSTONE = -1
VALUE_RANGE = 1_000_000

#: Checksum modulus (a prime below 2^31): per-row hashes stay small, so
#: a sum over millions of rows fits a long on both sides.
HASH_MOD = 2147483647


def row_hash_np(t, sensor, value):
    """Per-row checksum term over int64 numpy arrays."""
    return (t * 1000003 + sensor * 10007 + value) % HASH_MOD


def observed(df, name: str):
    """Attach the row count and the checksum (the Spark form of
    :func:`row_hash_np`, summed) to ``df`` as an Observation, collected
    by the job that executes the read: a read forced through the noop
    sink can still be checked against the model."""
    from pyspark.sql import Observation, functions as F

    h = F.pmod(F.col("t") * 1000003 + F.col("sensor") * 10007 + F.col("value"), F.lit(HASH_MOD))
    obs = Observation(name)
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h"))
    return out, obs


def sensor_schema(t_chunk: int, sensor_chunk: int):
    from matdb_spark import Dimension, Schema, Value

    return Schema(
        dimensions=[Dimension("t", t_chunk), Dimension("sensor", sensor_chunk)],
        values=[Value("value", "long")],
    )


class SensorModel:
    """Every write in commit order; ``resolve`` folds them into the
    live rows of a snapshot."""

    def __init__(self, n_sensors: int):
        self.n_sensors = n_sensors
        self._t: list[np.ndarray] = []
        self._s: list[np.ndarray] = []
        self._v: list[np.ndarray] = []
        self.commits = 0

    def add_commit(self, t: np.ndarray, s: np.ndarray, v: np.ndarray) -> None:
        self._t.append(t.astype(np.int64))
        self._s.append(s.astype(np.int64))
        self._v.append(v.astype(np.int64))
        self.commits += 1

    def state(self) -> dict:
        """Arrays that :meth:`load` restores the model from."""
        return {
            "t": np.concatenate(self._t),
            "s": np.concatenate(self._s),
            "v": np.concatenate(self._v),
            "sizes": np.array([len(x) for x in self._t]),
        }

    def load(self, state) -> None:
        bounds = np.cumsum(state["sizes"])[:-1]
        self._t = np.split(state["t"], bounds)
        self._s = np.split(state["s"], bounds)
        self._v = np.split(state["v"], bounds)
        self.commits = len(state["sizes"])

    def resolve(self, upto: int | None = None):
        """Live (t, sensor, value) arrays of the snapshot holding the
        first ``upto`` commits (all by default), sorted by key."""
        k = self.commits if upto is None else upto
        if k == 0:
            e = np.zeros(0, np.int64)
            return e, e, e
        t = np.concatenate(self._t[:k])
        s = np.concatenate(self._s[:k])
        v = np.concatenate(self._v[:k])
        key = t * self.n_sensors + s
        # last occurrence of each key = newest write
        uniq, first_rev = np.unique(key[::-1], return_index=True)
        idx = len(key) - 1 - first_rev
        t, s, v = t[idx], s[idx], v[idx]
        live = v != TOMBSTONE
        return t[live], s[live], v[live]

    def expect(self, upto=None, t_range=None, snap=None):
        """(count, checksum) a read should return: the whole snapshot
        of the first ``upto`` commits, or its rows in the inclusive
        ``t_range``. ``snap`` reuses an already resolved snapshot."""
        t, s, v = snap if snap is not None else self.resolve(upto)
        mask = np.ones(len(t), bool)
        if t_range is not None:
            mask &= (t >= t_range[0]) & (t <= t_range[1])
        return int(mask.sum()), int(row_hash_np(t[mask], s[mask], v[mask]).sum())


def to_frame(spark, t: np.ndarray, s: np.ndarray, v: np.ndarray):
    """The rows as a Spark DataFrame (Arrow transfer); tombstones
    become null values."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "t": t.astype(np.int64),
            "sensor": s.astype(np.int64),
            "value": pd.array(np.where(v == TOMBSTONE, 0, v), dtype="Int64"),
        }
    )
    pdf.loc[v == TOMBSTONE, "value"] = pd.NA
    return spark.createDataFrame(pdf, "t long, sensor long, value long")


def old_keys(rng: np.random.Generator, lo_t: int, hi_t: int, n_sensors: int, n: int):
    """``n`` distinct (t, sensor) keys drawn from t in [lo_t, hi_t)."""
    space = (hi_t - lo_t) * n_sensors
    n = min(n, space)
    if n <= 0:
        e = np.zeros(0, np.int64)
        return e, e
    ids = rng.choice(space, size=n, replace=False)
    return lo_t + ids // n_sensors, ids % n_sensors
