"""Hive-layout partitioned parquet tables: write, pruned read, and
dynamic partition overwrite.

The reference copies whole tables through a single JDBC stream
(`CopyUtils.java:682-710`) with no physical-layout control at all; at
100 TB the dominant cost control is the DIRECTORY layout — a table
partitioned by a low-cardinality column (date, source, event type) lets
a filtered scan touch only the matching directories, turning a full-
table read into a partition-pruned one. These helpers pin the engine's
conventions:

- ``write_partitioned``: one directory level per partition column
  (``col=value/``), parquet within. Partition columns should be LOW
  cardinality (dates/enums — thousands of values, not millions): each
  distinct tuple is a directory, and a high-cardinality partition key
  produces the classic small-files problem.
- ``read_partitioned``: plain ``spark.read.parquet`` on the root —
  partition discovery types the directory columns; filters on them
  become ``PartitionFilters`` (directory pruning at PLANNING time, no
  file IO), filters on data columns become ``PushedFilters`` (row-group
  pruning at SCAN time). ``tests/test_plan_contracts.py`` pins both.
- ``overwrite_partitions``: dynamic partition overwrite — replaces ONLY
  the partitions present in the incoming frame (the daily-refresh /
  backfill pattern), leaving sibling partitions untouched. Static
  overwrite (the default mode) would drop the whole table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    *,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as a hive-layout parquet table partitioned by the
    given columns. ``max_records_per_file`` bounds output file size the
    same way the oplog sink's ``ROWS_PER_OP`` does."""
    w = df.write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-layout table; partition columns come back typed via
    directory discovery. Apply filters on the RETURNED frame — Catalyst
    turns partition-column predicates into directory pruning."""
    return spark.read.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """Dynamic partition overwrite: replace exactly the partitions that
    appear in ``df``, keep the rest. This is the idempotent daily-refresh
    primitive — re-running a day's load rewrites that day's directory
    only. (With an ACID table format this is ``replaceWhere`` /
    ``MERGE``; on plain parquet Spark's dynamic mode gives the same
    per-partition atomicity via staged directory swap.)"""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
