"""Run every suite query against its DuckDB oracle at sf0.001 (the driver
does the same at sf0.01 — this is the fast pre-flight for that gate)."""

from __future__ import annotations

import pytest

from oracle_schema_copy_spark import queries
from tests.oracle_check import compare, duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


queries.queries()  # force-load every query module into the registry
ORACLED = sorted(n for n, s in queries.REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in queries.REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    spec = queries.REGISTRY[name]
    sdf = spec.fn(spark, SF)
    ddf = duck.sql(spec.oracle).df()
    compare(sdf, ddf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = queries.REGISTRY[name]
    sdf = spec.fn(spark, SF)
    assert sdf.count() >= 0
    assert len(sdf.schema) > 0
