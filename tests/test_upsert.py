"""Keyed-snapshot upsert — arg-max semantics, associativity, determinism."""

from __future__ import annotations

import datetime as dt

import pytest

from diagnosisextraction_ml_spark.operators.upsert import upsert_latest

SCHEMA = "k long, ts timestamp, uid long, state string"


def _ts(h):
    return dt.datetime(2024, 1, 1, h)


@pytest.fixture(scope="module")
def history(spark):
    rows = [
        (1, _ts(1), 10, "a"),
        (1, _ts(3), 11, "b"),
        (2, _ts(2), 12, "c"),
        (3, _ts(5), 13, "d"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def batch(spark):
    rows = [
        (1, _ts(4), 14, "e"),   # newer -> wins key 1
        (2, _ts(1), 15, "f"),   # older -> snapshot keeps key 2
        (4, _ts(6), 16, "g"),   # brand-new key
        (4, _ts(6), 17, "h"),   # same ts, higher uid -> tiebreak wins
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _merge(snapshot, batch):
    return upsert_latest(snapshot, batch, ["k"], ["ts"], ["uid"], ["state"])


def test_upsert_semantics(spark, history, batch):
    snap = _merge(history.limit(0), history)
    merged = {r.k: (r.ts, r.uid, r.state) for r in _merge(snap, batch).collect()}
    assert merged == {
        1: (_ts(4), 14, "e"),
        2: (_ts(2), 12, "c"),
        3: (_ts(5), 13, "d"),
        4: (_ts(6), 17, "h"),
    }


def test_upsert_associative(spark, history, batch):
    # incremental (reduce history, then merge batch) == one-shot arg-max
    snap = _merge(history.limit(0), history)
    incremental = sorted(map(tuple, _merge(snap, batch).collect()))
    oneshot = sorted(
        map(tuple, _merge(history.limit(0), history.unionByName(batch)).collect())
    )
    assert incremental == oneshot


def test_upsert_partitioning_invariance(spark, history, batch):
    a = sorted(map(tuple, _merge(history.coalesce(1), batch.coalesce(1)).collect()))
    b = sorted(
        map(tuple, _merge(history.repartition(5), batch.repartition(3)).collect())
    )
    assert a == b


def test_upsert_plan_shape(spark, history, batch):
    # no Window (that would shuffle unreduced history); exactly one
    # Exchange; partial aggregation runs before it (map-side combine)
    plan = _merge(history, batch)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_max" in plan


# ---------------------------------------------------------------------------
# snapshot_diff (CDC)
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from diagnosisextraction_ml_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", None)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 25.0), (4, "d", None), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r.k: (r.change_type, list(r.changed_cols))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    # 1 unchanged → absent; 4 has equal NULLs → unchanged, absent
    assert got == {
        2: ("changed", ["s", "v"]),
        3: ("removed", []),
        5: ("added", []),
    }


def test_snapshot_diff_respects_compare_cols(spark):
    from diagnosisextraction_ml_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame([(1, "a", 10.0)], "k long, s string, v double")
    new = spark.createDataFrame([(1, "a", 99.0)], "k long, s string, v double")
    assert snapshot_diff(old, new, ["k"], ["s"]).count() == 0
    got = snapshot_diff(old, new, ["k"], ["v"]).collect()
    assert [(r.k, r.change_type, list(r.changed_cols)) for r in got] == [
        (1, "changed", ["v"])
    ]
