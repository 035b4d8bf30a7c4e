"""The main correctness gate mirror: every registry query that has
oracle SQL must match DuckDB on sf0.001 (fast) — the driver runs the
same comparison at sf0.01."""

from __future__ import annotations

import pytest

from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES

from .oracle_util import assert_matches_oracle


def test_every_oracle_key_has_query():
    missing = set(ORACLE) - set(QUERIES)
    assert not missing, f"oracle SQL without query impl: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, sf_smoke, name):
    df = QUERIES[name](spark, sf_smoke)
    assert_matches_oracle(df, ORACLE[name], sf_smoke, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, sf_smoke, name):
    df = QUERIES[name](spark, sf_smoke)
    assert df.count() >= 0


def test_driver_window_order_reaches_contract():
    """The driver sweeps the FIRST 50 keys of __spark_entry__.queries()
    — pin that the derived ACTIVE window leads the contract dict, that
    the contract still offers every registry key exactly once, and
    that every window key has oracle SQL, so a refactor can't silently
    demote a never-verified key out of its sweep slot."""
    import __spark_entry__ as E

    active, _ = E.window()
    contract_keys = list(E.queries())
    assert contract_keys[:50] == active
    assert len(active) == 50
    assert sorted(contract_keys) == sorted(QUERIES)
    oracles = E.oracle_sql()
    missing = [k for k in contract_keys[:50] if k not in oracles]
    assert not missing, f"window keys without oracle SQL: {missing}"
