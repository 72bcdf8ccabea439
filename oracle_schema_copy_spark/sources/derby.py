"""Embedded Apache Derby: the live-database execution path.

The reference's entire purpose is executing copy/upsert/delete/DDL against
a real RDBMS (``ExecuteTarget.java:12-32``, ``Main.java:46-58``). No
external database ships in this environment, but Derby 10.16 rides inside
Spark's own jars directory (``derby-10.16.1.1.jar`` + shared + tools), is
embeddable (same-JVM, file-backed), and supports ANSI ``MERGE`` — so the
K1/K4/K5/K6 paths (live batched INSERT, staged MERGE upsert, keyed DELETE,
ordered DDL execution) can run for real through the exact same
``spark.write.jdbc`` + ``jvm_statement_executor`` code a production Oracle
or Postgres target would use.

Identifier-case contract (the one Derby-specific wrinkle): Spark's JDBC
writer QUOTES column names in its generated INSERT/CREATE statements
(case-sensitive), while hand-written DDL/DML folds unquoted identifiers to
uppercase. Mixing the two makes "o_orderkey" and O_ORDERKEY different
columns. The convention here: UPPERCASE-fold every DataFrame before it
crosses the JDBC boundary (``fold_upper``) and write all hand DDL/DML
unquoted — both sides then agree on uppercase — and fold back to the
engine's lowercase schema on read (``fold_names``). This keeps the shared
SQL generators in ``sources/jdbc_mutations.py`` (unit-tested, unquoted)
usable verbatim against Derby, Oracle, and Postgres.

Scale note: embedded Derby is the TEST database; at production scale the
same code paths point at a server-class RDBMS via ``JdbcConnection`` with
partitioned reads and capped write connections (``sources/jdbc.py``). The
Spark-side plumbing — parallel batched INSERT, one set-oriented MERGE
statement instead of O(rows) round-trips, staged EXISTS deletes — is what
this module proves live.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_schema_copy_spark.sources.dialects import get_dialect
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection

_DERBY = get_dialect("derby")


def derby_type(dt: T.DataType, *, varchar_len: int = 1024) -> str:
    """Derby column type for a Spark type (``sources/dialects.py`` holds
    the full dialect matrix; the Derby rules — VARCHAR over CLOB so MERGE
    keys and DELETE predicates stay comparable — live there)."""
    return _DERBY.column_type(dt, varchar_len=varchar_len)


def create_table_sql(
    table: str,
    schema: T.StructType,
    *,
    primary_key: list[str] | None = None,
    varchar_len: int = 1024,
    dialect: str = "derby",
) -> str:
    """CREATE TABLE DDL for a Spark schema (the ExecuteSqlList-analog DDL
    the reference ships ahead of data, ``CopyUtils.java:682-710`` export
    order), dialect-parameterized — derby (proven live here), oracle,
    postgres. Unquoted identifiers — the database folds them to a
    consistent case, matching ``fold_upper``-ed DataFrame writes."""
    return get_dialect(dialect).create_table_sql(
        table, schema, primary_key=primary_key, varchar_len=varchar_len
    )


def column_types_option(schema: T.StructType, *, varchar_len: int = 1024) -> str:
    """``createTableColumnTypes`` value forcing VARCHAR for strings when
    SPARK creates the table (overwrite-mode staging writes) — Spark's
    DerbyDialect would otherwise map StringType to CLOB, which cannot be
    compared for equality (breaks MERGE ON and keyed DELETE)."""
    return ", ".join(
        f"{f.name} VARCHAR({min(varchar_len, 32672)})"
        for f in schema.fields
        if isinstance(f.dataType, T.StringType)
    )


def fold_upper(df: DataFrame) -> DataFrame:
    """Uppercase-fold column names before a JDBC write (see module doc)."""
    return df.toDF(*[c.upper() for c in df.columns])


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


def at_boundary(
    url: str,
    table: str,
    df,
    columns: str | list[str] = (),
    *,
    varchar_len: int = 1024,
) -> tuple[str, object, list[str], dict[str, str] | None]:
    """Apply the identifier-case convention (module doc) for the database
    at ``url`` to one write: on Derby (``jdbc:derby:``) upper-case the
    table, the key ``columns`` and the frame's columns, and type staged
    strings VARCHAR; any other database passes through unchanged. ``df``
    may be a key iterable instead of a DataFrame (left as is). Returns
    ``(table, df, columns, write_options)``."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    if not url.startswith("jdbc:derby:"):
        return table, df, cols, None
    opts = None
    if isinstance(df, DataFrame):
        df = fold_upper(df)
        ct = column_types_option(df.schema, varchar_len=varchar_len)
        opts = {"createTableColumnTypes": ct} if ct else {}
    return table.upper(), df, [c.upper() for c in cols], opts


def embedded_connection(spark: SparkSession, db_dir: str, *, create: bool = True) -> JdbcConnection:
    """Connection to a file-backed embedded Derby database inside the
    Spark JVM. Routes derby.log away from the CWD (first call only — the
    property is read when the Derby engine boots)."""
    import os

    os.makedirs(os.path.dirname(db_dir) or ".", exist_ok=True)
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.System.setProperty("derby.stream.error.file", f"{db_dir}.derby.log")
    url = f"jdbc:derby:{db_dir}" + (";create=true" if create else "")
    return JdbcConnection(url=url)


class DerbyTarget:
    """ExecuteTarget against embedded Derby: the live-database analog of
    ``engine.JdbcTarget`` with the case-fold + VARCHAR conventions applied
    at the boundary. Same verb surface (insert/upsert/delete/execute_sql),
    so ``Engine.copy_tree``/``delete_tree``/``update`` drive it unchanged.
    """

    def __init__(self, spark: SparkSession, db_dir: str, *, varchar_len: int = 1024):
        from oracle_schema_copy_spark.sources import jdbc_mutations

        self.spark = spark
        self.db_dir = db_dir
        self.varchar_len = varchar_len
        self.conn = embedded_connection(spark, db_dir)
        self.executor = jdbc_mutations.jvm_statement_executor(spark, self.conn)

    def insert(self, table: str, df: DataFrame) -> None:
        from oracle_schema_copy_spark.sources.jdbc import write_table

        table, df, _, opts = at_boundary(self.conn.url, table, df, varchar_len=self.varchar_len)
        write_table(df, self.conn, table, write_options=opts)

    def upsert(self, table: str, df: DataFrame, key) -> None:
        from oracle_schema_copy_spark.sources import jdbc_mutations

        table, df, keys, opts = at_boundary(
            self.conn.url, table, df, key, varchar_len=self.varchar_len
        )
        jdbc_mutations.jdbc_upsert(
            df, self.conn, table, keys, executor=self.executor, write_options=opts
        )

    def delete(self, table: str, key_columns, keys: DataFrame) -> None:
        from oracle_schema_copy_spark.sources import jdbc_mutations

        table, keys, cols, opts = at_boundary(
            self.conn.url, table, keys, key_columns, varchar_len=self.varchar_len
        )
        jdbc_mutations.jdbc_delete(
            keys, self.conn, table, cols, executor=self.executor, write_options=opts
        )

    def execute_sql(self, statements: list[str]) -> None:
        self.executor(statements)

    def create_table(self, table: str, schema: T.StructType, primary_key=None) -> None:
        self.execute_sql(
            [create_table_sql(table, schema, primary_key=primary_key, varchar_len=self.varchar_len)]
        )

    def read(
        self, table: str, names: list[str], schema: T.StructType | None = None, **partition_kwargs
    ) -> DataFrame:
        from oracle_schema_copy_spark.sources.jdbc import read_table

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
