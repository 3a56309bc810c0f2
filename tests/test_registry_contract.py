"""Registry-level contract guards — cheap failures before the driver
finds them: every oracle SQL must at least PLAN in DuckDB against the
real views, and the spotlight must reference real queries."""

from __future__ import annotations

import duckdb
import pytest

from diagnosisextraction_ml_spark.plans.queries import (
    DRIVER_SPOTLIGHT,
    oracle_sql,
    queries,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def test_spotlight_names_exist_and_unique():
    qs = queries()
    missing = [n for n in DRIVER_SPOTLIGHT if n not in qs]
    assert not missing, f"spotlight references unknown queries: {missing}"
    assert len(set(DRIVER_SPOTLIGHT)) == len(DRIVER_SPOTLIGHT)


def test_every_oracle_sql_plans_in_duckdb(sf_dir):
    """EXPLAIN every twin against the sf0.001 views — catches SQL
    typos, bad casts, and schema drift in seconds instead of a full
    compare run."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name, sql in oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001 — collecting all failures
            bad[name] = str(e)[:120]
    assert not bad, f"oracle SQL fails to plan: {bad}"


def test_every_registered_query_has_an_oracle():
    """Round 11: the last two rows-only entries gained frozen-table
    twins (frozen_artifacts.py), so the registry contract is now total —
    every queries() key must have an oracle_sql() twin."""
    qs, oracles = queries(), oracle_sql()
    assert sorted(set(qs) - set(oracles)) == []


def test_register_rejects_a_name_already_registered(monkeypatch):
    """A second ``register`` of a taken name must fail loudly: silently
    replacing the entry would drop a query from the registry."""
    from diagnosisextraction_ml_spark.plans import queries as registry

    monkeypatch.setattr(registry, "_REGISTRY", dict(registry._REGISTRY))
    before = registry._REGISTRY["rel_q1_pricing"]
    with pytest.raises(ValueError, match="rel_q1_pricing"):
        registry.register("rel_q1_pricing", None)(lambda spark, sf_dir: None)
    assert registry._REGISTRY["rel_q1_pricing"] == before
