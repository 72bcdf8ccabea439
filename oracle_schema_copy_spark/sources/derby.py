"""Embedded Apache Derby: the live-database execution path.

The reference's entire purpose is executing copy/upsert/delete/DDL against
a real RDBMS (``ExecuteTarget.java:12-32``, ``Main.java:46-58``). No
external database ships in this environment, but Derby 10.16 rides inside
Spark's own jars directory (``derby-10.16.1.1.jar`` + shared + tools), is
embeddable (same-JVM, file-backed), and supports ANSI ``MERGE`` — so the
K1/K4/K5/K6 paths (live batched INSERT, staged MERGE upsert, staged
keyed DELETE, ordered DDL execution) can run for real through the exact
same ``spark.write.jdbc`` + ``jvm_statement_executor`` code a production
Oracle or Postgres target would use.

Identifier case: Derby's dialect folds identifiers at the JDBC boundary
(``dialects.Dialect.fold_upper``, module doc there); ``JdbcTarget``
applies that rule once for every ``jdbc:derby:`` URL, and
:func:`fold_names` folds read-backs to the engine's lowercase schema.

Scale note: embedded Derby is the TEST database; at production scale the
same code paths point at a server-class RDBMS via ``JdbcConnection`` with
partitioned reads and capped write connections (``sources/jdbc.py``). The
Spark-side plumbing — parallel batched INSERT, one set-oriented MERGE
statement instead of O(rows) round-trips, one staged EXISTS statement per
keyed delete — is what this module proves live.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_schema_copy_spark.sources import jdbc_mutations
from oracle_schema_copy_spark.sources.dialects import get_dialect
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection, read_table
from oracle_schema_copy_spark.sources.jdbc_mutations import JdbcTarget


def fold_names(df: DataFrame, names: list[str], schema: T.StructType | None = None) -> DataFrame:
    """Restore the engine's canonical (lowercase) column names after a
    JDBC read, positionally by the target schema's column order; with
    ``schema``, also cast each column back to the source Spark type
    (Derby has no NTZ/LTZ distinction, so a TIMESTAMP_NTZ source column
    reads back as TIMESTAMP — under UTC sessions the cast is lossless)."""
    by_upper = {c.upper(): c for c in df.columns}
    types = {f.name: f.dataType for f in schema.fields} if schema is not None else {}
    return df.select(
        *[
            (
                df[by_upper[n.upper()]].cast(types[n]).alias(n)
                if n in types
                else df[by_upper[n.upper()]].alias(n)
            )
            for n in names
        ]
    )


def embedded_connection(spark: SparkSession, db_dir: str) -> JdbcConnection:
    """Connection to a file-backed embedded Derby database inside the
    Spark JVM, created on first use. Routes derby.log away from the CWD
    (first call only — the property is read when the Derby engine
    boots)."""
    import os

    os.makedirs(os.path.dirname(db_dir) or ".", exist_ok=True)
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.System.setProperty("derby.stream.error.file", f"{db_dir}.derby.log")
    return JdbcConnection(url=f"jdbc:derby:{db_dir};create=true")


class DerbyTarget(JdbcTarget):
    """``JdbcTarget`` over an embedded Derby database: this class adds only
    what belongs to Derby — booting the database, ``create_table`` for
    replay, ``read`` and shutdown. The verbs are ``JdbcTarget``'s, bound
    here so each is an attribute of this class too."""

    insert = JdbcTarget.insert
    upsert = JdbcTarget.upsert
    delete = JdbcTarget.delete

    def __init__(self, spark: SparkSession, db_dir: str):
        conn = embedded_connection(spark, db_dir)
        super().__init__(conn, executor=jdbc_mutations.jvm_statement_executor(spark, conn))
        self.spark = spark
        self.db_dir = db_dir

    def create_table(self, table: str, schema: T.StructType, primary_key=None) -> None:
        self.execute_sql(
            [get_dialect("derby").create_table_sql(table, schema, primary_key=primary_key)]
        )

    def read(
        self, table: str, names: list[str], schema: T.StructType | None = None, **partition_kwargs
    ) -> DataFrame:
        df = read_table(self.spark, self.conn, table.upper(), **partition_kwargs)
        return fold_names(df, names, schema)

    def close(self) -> None:
        shutdown(self.spark, self.db_dir)


def shutdown(spark: SparkSession, db_dir: str) -> None:
    """Cleanly shut down one embedded database (releases its page cache).
    Derby signals success via SQLException 08006 — swallowed here."""
    jvm = spark._jvm  # noqa: SLF001
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db_dir};shutdown=true")
    except Exception:
        pass  # XJ015/08006: successful shutdown is reported as an exception
