"""Property-based engine semantics: random transaction workloads vs a
driver-side model of the reference contract.

The model is the documented matdb behavior (README.md:107-109 of the
reference): a dict key→value where later transactions overwrite
earlier ones, within-txn writes overwrite in order, rollbacks vanish,
and the scan returns exactly the model's content in ascending key
order. Running dozens of random interleavings catches versioning/
visibility bugs that fixed fixtures miss.
"""

from __future__ import annotations

import os
import shutil

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from matdb_spark import Database, Dimension, Schema, Value

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# a workload is a list of transactions; each txn is (commit?, rows);
# keys stay in a small domain so upsert collisions are common
_row = st.tuples(
    st.integers(min_value=0, max_value=7),    # dim a
    st.integers(min_value=0, max_value=3),    # dim b
    st.integers(min_value=-100, max_value=100),  # value
)
_txn = st.tuples(st.booleans(), st.lists(_row, min_size=0, max_size=12))
_workload = st.lists(_txn, min_size=1, max_size=5)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload, compact_at_end=st.booleans())
def test_random_workloads_match_model(spark, workload, compact_at_end):
    path = os.path.join(SCRATCH, "prop_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}
    for commit, rows in workload:
        txn = db.begin()
        staged: dict[tuple[int, int], int] = {}
        for a, b, v in rows:
            txn.add_row([a, b, v])
            staged[(a, b)] = v
        # read-your-own-writes inside the txn: model ∪ staged
        expected_inside = {**model, **staged}
        got_inside = {
            (r["a"], r["b"]): r["v"] for r in txn.query(ordered=False).collect()
        }
        assert got_inside == expected_inside
        if commit:
            txn.commit()
            model.update(staged)
        else:
            txn.rollback()

    if compact_at_end:
        db.compact()

    rows = db.snapshot().collect()
    got = {(r["a"], r["b"]): r["v"] for r in rows}
    assert got == model

    # ordering contract of the ordered scan
    ordered = [(r["a"], r["b"]) for r in db.begin().query(ordered=True).collect()]
    assert ordered == sorted(ordered)


# richer op alphabet: upserts AND deletes, with per-commit history
# snapshots checked back through time travel, plus a bounded
# query_range compared against the model filter
_op = st.one_of(
    st.tuples(st.just("put"), st.integers(0, 7), st.integers(0, 3), st.integers(-50, 50)),
    st.tuples(st.just("del"), st.integers(0, 7), st.integers(0, 3)),
)
_txn2 = st.tuples(st.booleans(), st.lists(_op, min_size=0, max_size=10))
_workload2 = st.lists(_txn2, min_size=1, max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload2, lo=st.integers(0, 7), hi=st.integers(0, 7))
def test_random_workloads_with_deletes_history_and_range(spark, workload, lo, hi):
    path = os.path.join(SCRATCH, "prop_db2")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}
    history: list[tuple[int, dict]] = []  # (txn_id, model state after it)
    for commit, ops in workload:
        txn = db.begin()
        staged = dict(model)
        for op in ops:
            if op[0] == "put":
                _, a, b, v = op
                txn.add_row([a, b, v])
                staged[(a, b)] = v
            else:
                _, a, b = op
                txn.delete_row([a, b])
                staged.pop((a, b), None)
        if commit:
            txn.commit()
            model = staged
            if txn.txn_id is not None:  # empty txns may not allocate an id
                history.append((txn.txn_id, dict(model)))
        else:
            txn.rollback()

    got = {(r["a"], r["b"]): r["v"] for r in db.snapshot().collect()}
    assert got == model

    # time travel: every committed txn's snapshot is reproducible
    for txn_id, state in history:
        at = {
            (r["a"], r["b"]): r["v"]
            for r in db.begin(as_of=txn_id).query(ordered=False).collect()
        }
        assert at == state, f"as_of={txn_id}"

    # bounded range scan == model filter (inclusive bounds)
    lo, hi = min(lo, hi), max(lo, hi)
    rng = {
        (r["a"], r["b"]): r["v"]
        for r in db.begin().query_range({"a": (lo, hi)}, ordered=False).collect()
    }
    assert rng == {k: v for k, v in model.items() if lo <= k[0] <= hi}


# fold-schedule invariance: ANY sequence of contiguous window folds
# (oldest/newest, any size) is layout-only — the resolved state must
# be bit-identical to the model at every step, including tombstones
# shadowing across fold boundaries and writes landing after folds
_fold_op = st.tuples(st.sampled_from(["oldest", "newest"]), st.integers(2, 5))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    workload=_workload2,
    folds=st.lists(_fold_op, min_size=1, max_size=3),
    extra=st.lists(_op, min_size=0, max_size=6),
)
def test_random_fold_schedules_preserve_state(spark, workload, folds, extra):
    from matdb_spark.sources.dsv2 import register_matdb_source

    register_matdb_source(spark)
    path = os.path.join(SCRATCH, "prop_fold_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)

    model: dict[tuple[int, int], int] = {}

    def apply(txn, ops, staged):
        for op in ops:
            if op[0] == "put":
                _, a, b, v = op
                txn.add_row([a, b, v])
                staged[(a, b)] = v
            else:
                _, a, b = op
                txn.delete_row([a, b])
                staged.pop((a, b), None)
        return staged

    for commit, ops in workload:
        txn = db.begin()
        staged = apply(txn, ops, dict(model))
        if commit:
            txn.commit()
            model = staged
        else:
            txn.rollback()

    def check(tag):
        got = {(r["a"], r["b"]): r["v"] for r in db.snapshot().collect()}
        assert got == model, tag
        # the DSv2 snapshot reader plans and resolves on its own path
        # (Arrow, per chunk): same state under minor-fold version_rank
        # overrides and vacuum
        rows = spark.read.format("matdb").load(path).collect()
        assert {(r["a"], r["b"]): r["v"] for r in rows} == model, f"{tag} (dsv2)"
        assert len(rows) == len(model), f"{tag} (dsv2 duplicate keys)"

    for i, (mode, size) in enumerate(folds):
        db.compact(max_txns=size, fold=mode)  # None (too few txns) is fine
        check(f"after fold {i} ({mode}, {size})")
        db.vacuum()
        check(f"after vacuum {i}")

    # a write AFTER the folds must win over every rollup
    txn = db.begin()
    model = apply(txn, extra, dict(model))
    txn.commit()
    check("after post-fold commit")
    db.compact()
    db.vacuum()
    check("after final full compact")
    ordered = [(r["a"], r["b"]) for r in db.begin().query(ordered=True).collect()]
    assert ordered == sorted(ordered)


# incremental aggregate maintenance: for ANY committed workload split
# at ANY cursor, state(since) patched with the diff feed must equal a
# full recompute of the final snapshot — including nullable values
# (None puts keep the row but contribute no sum) and emptied groups
_op3 = st.one_of(
    st.tuples(
        st.just("put"),
        st.integers(0, 5),
        st.integers(0, 2),
        st.one_of(st.none(), st.integers(-50, 50)),
    ),
    st.tuples(st.just("del"), st.integers(0, 5), st.integers(0, 2)),
)
_txn3 = st.lists(_op3, min_size=1, max_size=8)
_workload3 = st.lists(_txn3, min_size=2, max_size=5)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(workload=_workload3, cut=st.integers(1, 4))
def test_incremental_maintenance_matches_recompute(spark, workload, cut):
    from matdb_spark.operators.incremental import maintain_sum_count, sum_count_state

    path = os.path.join(SCRATCH, "prop_incr_db")
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("a", 3), Dimension("b", 2)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)
    ids = []
    for ops in workload:
        txn = db.begin()
        for op in ops:
            if op[0] == "put":
                txn.add_row([op[1], op[2], op[3]])
            else:
                txn.delete_row([op[1], op[2]])
        txn.commit()
        if txn.txn_id is not None:
            ids.append(txn.txn_id)
    since = ids[min(cut, len(ids)) - 1]

    patched = maintain_sum_count(db, keys=["a"], value_cols=["v"], since=since)
    recomputed = sum_count_state(db.snapshot(), keys=["a"], value_cols=["v"])

    def norm(df):
        return sorted(tuple(r) for r in df.collect())

    assert norm(patched) == norm(recomputed)
