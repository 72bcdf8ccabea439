"""JDBC mutation path: set-oriented upsert/delete/statement-execution
against a live database (SURVEY §2.2 K1, the direct-execute target's
mutation half).

Reference behavior re-expressed (not ported):
- upsert      ≈ ``ExecuteTableUpdate.java:10-27`` — per-row optimistic
  UPDATE-else-INSERT round-trips. Spark-first shape: bulk-write the update
  set to a STAGING table (parallel batched INSERT), then ONE set-oriented
  ``MERGE`` statement on the database, then drop staging. O(1) statements
  instead of O(rows) round-trips; the database's MERGE raises on duplicate
  source keys (e.g. ORA-30926), preserving the reference's ">1 row
  updated" guard server-side.
- delete      ≈ ``DeleteByPk.java:15-43`` — batched keyed ``DELETE``
  statements. Same staged shape as upsert: the distinct keys bulk-write
  to a staging table and ONE ``DELETE ... WHERE EXISTS`` statement
  removes the matching rows. The keys never pass through the driver and
  never become SQL literals.
- execute_sql ≈ ``ExecuteSqlList.java:11-40`` — ordered statement list on
  one connection, in one transaction.
- ``JdbcTarget`` ≈ ``ExecuteTarget.java:12-32`` — the one target class
  that applies these verbs to a live database.

The statement generators below are pure functions unit-tested against
expected SQL. The executor is pluggable: production uses
``jdbc.jvm_statement_executor``, which drives ``java.sql.DriverManager``
through Spark's own JVM (the JDBC driver jar is already on the classpath
for spark.read/write.jdbc to work); tests run the verbs live against
embedded Derby (``sources/derby.py``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from oracle_schema_copy_spark.operators.walk import key_cols, key_frame
from oracle_schema_copy_spark.sources.dialects import get_dialect, url_dialect
from oracle_schema_copy_spark.sources.jdbc import (
    JdbcConnection,
    StatementExecutor,
    jvm_statement_executor,
    staging_index_sql,
    staging_name,
    write_table,
)

_MERGE_STYLES = ("ansi", "postgres_upsert")


# ---------------------------------------------------------------------------
# SQL generation (pure, unit-testable)
# ---------------------------------------------------------------------------


def merge_sql(
    table: str,
    staging_table: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    *,
    dialect: str = "ansi",
) -> str:
    """One set-oriented MERGE from staging into the target table.

    ``dialect`` is a merge style or a dialect name from
    ``sources/dialects.py`` (its ``merge_style`` applies). ``ansi`` covers
    Oracle / SQL Server / DB2 / Derby / recent Postgres (15+);
    ``postgres_upsert`` emits ``INSERT ... ON CONFLICT``, correct on every
    supported Postgres. Non-key columns update on match; all columns
    insert on miss.
    """
    style = dialect if dialect in _MERGE_STYLES else get_dialect(dialect).merge_style
    keys = list(key_columns)
    non_keys = [c for c in columns if c not in keys]
    if style == "postgres_upsert":
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
        action = f"DO UPDATE SET {sets}" if non_keys else "DO NOTHING"
        return (
            f"INSERT INTO {table} ({', '.join(columns)}) "
            f"SELECT {', '.join(columns)} FROM {staging_table} "
            f"ON CONFLICT ({', '.join(keys)}) {action}"
        )
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sets = ", ".join(f"t.{c} = s.{c}" for c in non_keys)
    ins_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if non_keys else ""
    return (
        f"MERGE INTO {table} t USING {staging_table} s ON ({on}) "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def delete_using_staging_sql(
    table: str, staging_table: str, key_columns: Sequence[str]
) -> str:
    """Set-oriented keyed delete via a staged key table: one statement
    whatever the key count. A NULL key component matches nothing, as
    SQL equality never holds for NULL."""
    on = " AND ".join(f"s.{k} = t.{k}" for k in key_columns)
    return (
        f"DELETE FROM {table} t WHERE EXISTS "
        f"(SELECT 1 FROM {staging_table} s WHERE {on})"
    )


# ---------------------------------------------------------------------------
# Mutation operations (staging writes via Spark, statements via executor)
# ---------------------------------------------------------------------------


def _staged(
    df: DataFrame,
    conn: JdbcConnection,
    staging: str,
    key_columns: list[str],
    statement: str,
    *,
    executor: StatementExecutor,
    allow_production: bool,
) -> list[str]:
    """Bulk-write ``df`` to the ``staging`` table (``write_table``'s
    production guard runs first), then index its key, run the one set
    ``statement`` and drop staging, in one transaction. An empty ``df``
    still creates the table, so the index and the drop succeed. Returns
    the executed statements."""
    write_table(
        df,
        conn,
        staging,
        mode="overwrite",
        allow_production=allow_production,
    )
    statements = [
        staging_index_sql(staging, key_columns),
        statement,
        f"DROP TABLE {staging}",
    ]
    executor(statements)
    return statements


def jdbc_upsert(
    df: DataFrame,
    conn: JdbcConnection,
    table: str,
    key_columns: Sequence[str] | str,
    *,
    executor: StatementExecutor,
    allow_production: bool = False,
) -> list[str]:
    """Staged set-oriented upsert: stage ``df``, MERGE once in the merge
    style of the URL's dialect (ANSI when it names none), drop staging.
    Returns the executed statements (for logs/tests)."""
    keys = key_cols(key_columns)
    dialect = url_dialect(conn.url)
    staging = staging_name(table, "upsert")
    merge = merge_sql(table, staging, df.columns, keys, dialect=dialect.name if dialect else "ansi")
    return _staged(
        df, conn, staging, keys, merge,
        executor=executor, allow_production=allow_production,
    )


def jdbc_delete(
    keys: DataFrame,
    conn: JdbcConnection,
    table: str,
    key_columns: Sequence[str] | str,
    *,
    executor: StatementExecutor,
    allow_production: bool = False,
) -> list[str]:
    """Staged keyed delete, single-column or composite: stage the distinct
    keys, delete with one ``EXISTS`` statement, drop staging. ``keys``
    pairs with ``key_columns`` by ``walk.key_frame``. No count and no
    collect: the key set never reaches the driver; a string key stages
    with a comparable type (``jdbc.write_table``). Returns the executed
    statements."""
    cols = key_cols(key_columns)
    staging = staging_name(table, "delete")
    return _staged(
        key_frame(keys, cols).distinct(), conn, staging, cols,
        delete_using_staging_sql(table, staging, cols),
        executor=executor, allow_production=allow_production,
    )


# ---------------------------------------------------------------------------
# The live-database target
# ---------------------------------------------------------------------------


@dataclass
class JdbcTarget:
    """Applies operations to a live database via spark JDBC (ExecuteTarget,
    ``ExecuteTarget.java:12-32``): the one target class for every JDBC
    database (``derby.DerbyTarget`` adds only the embedded database's
    boot and shutdown, ``create_table`` and read-back).

    Inserts are parallel batched JDBC writes; upsert stages the update set
    and runs one MERGE; delete stages the distinct keys and runs one
    EXISTS delete; SQL lists execute in order on one connection, in one
    transaction. The dialect the URL names (``dialects.url_dialect``)
    decides the identifier case at the boundary and the merge style;
    ``jdbc.write_table`` types the staged strings for the same dialect. ``executor`` is injectable for tests; by default
    statements run through the Spark JVM's java.sql.DriverManager.
    """

    conn: JdbcConnection
    allow_production: bool = False
    executor: StatementExecutor | None = None

    def _executor(self) -> StatementExecutor:
        if self.executor is None:
            spark = SparkSession.getActiveSession()
            assert spark is not None, "an active SparkSession is required"
            self.executor = jvm_statement_executor(spark, self.conn)
        return self.executor

    def _boundary(
        self, table: str, df: DataFrame, columns: str | Sequence[str] = ()
    ) -> tuple[str, DataFrame, list[str]]:
        """``(table, df, columns)`` for one write, under the URL dialect's
        identifier rule (``dialects`` module doc)."""
        cols = key_cols(columns)
        d = url_dialect(self.conn.url)
        if d is None or not d.fold_upper:
            return table, df, cols
        df = df.toDF(*[c.upper() for c in df.columns])
        return table.upper(), df, [c.upper() for c in cols]

    def insert(self, table: str, df: DataFrame) -> None:
        table, df, _ = self._boundary(table, df)
        write_table(df, self.conn, table, allow_production=self.allow_production)

    def upsert(self, table: str, df: DataFrame, key) -> None:
        table, df, keys = self._boundary(table, df, key)
        jdbc_upsert(
            df,
            self.conn,
            table,
            keys,
            executor=self._executor(),
            allow_production=self.allow_production,
        )

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        table, keys, cols = self._boundary(table, keys, key_columns)
        jdbc_delete(
            keys,
            self.conn,
            table,
            cols,
            executor=self._executor(),
            allow_production=self.allow_production,
        )

    def execute_sql(self, statements: list[str]) -> None:
        self._executor()(statements)

    def close(self) -> None:
        pass
