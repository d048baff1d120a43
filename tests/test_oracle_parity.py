"""The local replica of the driver's t2 gate: every oracle-backed
queries() entry must match its DuckDB oracle on row count, schema, and
order-insensitive values at the test scale factor."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.oracle import compare, duck_connection

pytestmark = pytest.mark.driver

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    try:
        compare(df, duck, ORACLES[name], name=name)
    finally:
        # harness-owned cache release (the verify-recipe/bench.timed
        # convention): several ops persist shared subtrees their lazy
        # result re-reads; without this the cached relation leaks into
        # LATER tests' plans (a live emb-projection cache substitutes an
        # InMemoryRelation where a plan-pruning pin expects a parquet
        # ReadSchema) and 260+ persists accumulate in one session.
        spark.catalog.clearCache()


def test_every_query_has_an_oracle():
    """test_oracle_parity runs every oracle_sql() name, so a query
    without an oracle would escape the sweep."""
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
