"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``oracle_schema_copy_spark.queries`` — the engine's named
query registry. Each query is paired (where SQL-expressible) with a DuckDB
oracle; see that package's docstring for conventions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oracle_schema_copy_spark import queries as registry
from oracle_schema_copy_spark.queries import reference_surface

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: FK-subgraph copy
    (copy_tree) customer→orders→lineitem, returning copied lineitem rows."""
    return reference_surface.q_copy_tree_lineitem(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
