"""JDBC source/sink: the database-facing half of the engine.

Reference analogs: connection factory (``Main.java:46-58``,
``SqlUtils.groovy:20-32``), direct-execute target (``ExecuteTarget.java``),
batched INSERT (``CopyUtils.java:805-834``), and the Gradle prod-URL guard
(``GradleUtils.groovy:42-51``).

The Spark calls are the standard ``spark.read/write.jdbc`` surface;
tests drive them live against embedded Derby (``sources/derby.py``) and
unit-test the config/SQL generation.

Scale notes baked into the defaults:
- reads partition on a numeric column (``partitionColumn/lowerBound/
  upperBound/numPartitions``) so a 100 TB table fans out across executors
  instead of one connection;
- ``pushDownPredicate`` (default on) sends filters to the database;
- writes batch at ``WRITE_BATCH`` rows (the reference's 500 → 10k here,
  modern drivers handle it) over at most ``WRITE_CONNECTIONS`` concurrent
  connections.
"""

from __future__ import annotations

import datetime as _dt
import math as _math
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_schema_copy_spark.sources.dialects import url_dialect

WRITE_BATCH = 10_000  # rows per JDBC batch insert
WRITE_CONNECTIONS = 16  # cap on one write's concurrent connections


class ProductionGuardError(RuntimeError):
    pass


def prod_check(url: str, *, allow_production: bool = False) -> None:
    """Refuse destination URLs that look like production unless explicitly
    allowed (the reference's -PdstProduction guard)."""
    if "prod" in url.lower() and not allow_production:
        raise ProductionGuardError(
            f"destination JDBC url {url!r} looks like production; "
            "pass allow_production=True to proceed"
        )


@dataclass
class JdbcConnection:
    """Alias -> connection info (the reference's ~/.oracle-schema-copy
    properties file becomes an explicit config object)."""

    url: str
    user: str = ""
    password: str = ""
    driver: str | None = None
    options: dict[str, str] = field(default_factory=dict)

    def spark_options(self) -> dict[str, str]:
        opts = {"url": self.url, **self.options}
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        if self.driver:
            opts["driver"] = self.driver
        return opts


# An executor runs SQL statements in order against the target database.
StatementExecutor = Callable[[Sequence[str]], None]


def staging_name(table: str, op: str) -> str:
    """Deterministic staging-table name: re-running a failed verb reuses
    (overwrites) the same staging table instead of leaking one per run."""
    return f"{table}_oscs_{op}_stg"


def staging_index_sql(staging_table: str, key_columns: Sequence[str]) -> str:
    """Index the staging key before the set-oriented MERGE / EXISTS-delete.
    Without it a planner with no staging statistics (measured: embedded
    Derby) nested-loops the probe — 1.65M x 236k row scans turned a
    seconds-long delete into 45+ minutes at the 10x fixture. One O(n log n)
    index build makes the probe an index lookup on any RDBMS."""
    return (
        f"CREATE INDEX {staging_table}_kix ON {staging_table} "
        f"({', '.join(key_columns)})"
    )


def jvm_statement_executor(spark: SparkSession, conn: JdbcConnection) -> StatementExecutor:
    """Ordered statement execution over one java.sql connection obtained
    through Spark's JVM (the driver jar is on the classpath already).

    The list runs in one transaction, the reference's single-transaction
    replay semantics where the database supports transactional DDL/DML
    mixes; on failure the transaction is rolled back and the error
    re-raised.
    """

    def run(statements: Sequence[str]) -> None:
        jvm = spark._jvm  # noqa: SLF001 — py4j bridge is the supported path
        dm = jvm.java.sql.DriverManager
        c = dm.getConnection(conn.url, conn.user, conn.password)
        try:
            c.setAutoCommit(False)
            st = c.createStatement()
            try:
                for s in statements:
                    st.execute(s)
            finally:
                st.close()
            c.commit()
        except Exception:
            c.rollback()
            raise
        finally:
            c.close()

    return run


def read_table(
    spark: SparkSession,
    conn: JdbcConnection,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Partitioned JDBC table read; single-connection only when no
    partition column is given (fine for dimension tables)."""
    reader = spark.read.format("jdbc").options(**conn.spark_options()).option("dbtable", table)
    if partition_column is not None:
        assert lower_bound is not None and upper_bound is not None
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def sql_literal(v) -> str:
    """Render a Python value as a SQL literal (key values only: numbers,
    strings, dates — the types primary keys are made of). The pushed
    keyed read (:func:`read_table_keyed`) renders its probes with it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not _math.isfinite(v):
        # str(nan/inf) is not valid SQL in any dialect; a NaN "key" can
        # never equality-match a row anyway, so this is always a caller bug
        raise ValueError(f"non-finite float {v!r} cannot be a SQL key literal")
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, _dt.datetime):
        # isoformat keeps microseconds when present; a whole-second value
        # renders without them — both are valid TIMESTAMP literals, and
        # sub-second keys must not be silently truncated to a wrong match.
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("'", "''")
    if "\x00" in s:
        # NUL terminates the quoted literal in the PG-family parsers (and
        # PG text columns cannot store it at all) — inlining it silently
        # yields an unparseable statement (found by the r13 dialect
        # property suite). Loud, like the non-finite-float guard above.
        raise ValueError("NUL (\\x00) cannot appear in a SQL string literal key")
    return f"'{s}'"


def read_table_keyed(
    spark: SparkSession,
    conn: JdbcConnection,
    table: str,
    key_column: str,
    keys,
    *,
    keys_per_probe: int = 1000,
) -> DataFrame:
    """Keyed scan PUSHED to the database: ``WHERE key IN (...)`` batched
    ``keys_per_probe`` keys per probe, one probe per Spark partition
    (``DataFrameReader.jdbc(predicates=...)``) so probes run in parallel
    over separate connections. The database answers each probe with an
    index lookup; only matching rows cross the wire.

    This is SURVEY §4's custom-strategy candidate for walking a subgraph
    OUT of a live database (``S2 keyed scan``): the A/B against the
    default read-all + Spark semi-join is recorded in BENCH_NOTES_r10.md
    §1 — pushed probes win when the frontier is a small
    fraction of the child table (the common copy_tree shape) because the
    read-all path ships the entire child table through JDBC first.

    ``keys`` is a driver-side sequence — key lists, never rows, bounded
    by ``read_table_keyed_auto``'s ``max_inline_keys`` (a frontier larger
    than that belongs on the staged/semi-join path anyway).
    """
    # dedupe: predicates must partition the keyspace DISJOINTLY — a key
    # landing in two probe batches would return its rows twice. None is
    # dropped, not rendered: a bare NULL inside IN (...) is a syntax error
    # on Derby (found by the r12 hypothesis probe test), and SQL equality
    # can never match a NULL key anyway — dropping preserves semantics.
    ks = list(dict.fromkeys(k for k in keys if k is not None))
    if not ks:
        # no keys -> empty probe; one FALSE predicate keeps the schema
        preds = ["1 = 0"]
    else:
        preds = [
            f"{key_column} IN ({', '.join(sql_literal(k) for k in ks[i : i + keys_per_probe])})"
            for i in range(0, len(ks), keys_per_probe)
        ]
    props = {k: v for k, v in conn.spark_options().items() if k != "url"}
    return spark.read.jdbc(conn.url, table, predicates=preds, properties=props)


def read_table_keyed_staged(
    spark: SparkSession,
    conn: JdbcConnection,
    table: str,
    key_column: str,
    keys_df: DataFrame,
    *,
    allow_production: bool = False,
) -> DataFrame:
    """Keyed scan for frontiers ABOVE the inline budget (VERDICT r10 #7):
    the key DataFrame stages into the database with a parallel batched
    write, the probe is ONE set-oriented join the database answers with
    an index lookup, and the keys NEVER pass through the driver — the
    read twin of the staged-EXISTS delete (``jdbc_mutations.jdbc_delete``).

    The matched rows are materialized eagerly (localCheckpoint) so the
    staging table can be dropped before returning — the result frame has
    no remaining dependency on the database, mirroring the livedb
    read-back convention. Size is bounded by the probe result itself
    (the same rows the pushed path would ship). The staging table is
    dropped even when its index or the probe fails."""
    staging = staging_name(table, "probe")
    write_table(
        keys_df.toDF(key_column).distinct(),
        conn,
        staging,
        mode="overwrite",
        allow_production=allow_production,
    )
    executor = jvm_statement_executor(spark, conn)
    try:
        executor([staging_index_sql(staging, [key_column])])
        probe = (
            f"(SELECT t.* FROM {table} t JOIN {staging} s "
            f"ON t.{key_column} = s.{key_column}) w"
        )
        props = {k: v for k, v in conn.spark_options().items() if k != "url"}
        return spark.read.jdbc(conn.url, probe, properties=props).localCheckpoint(
            eager=True
        )
    finally:
        executor([f"DROP TABLE {staging}"])


def read_table_keyed_auto(
    spark: SparkSession,
    conn: JdbcConnection,
    table: str,
    key_column: str,
    keys_df: DataFrame,
    *,
    max_inline_keys: int = 100_000,
    keys_per_probe: int = 1000,
    allow_production: bool = False,
) -> tuple[DataFrame, str]:
    """The keyed-read strategy matrix as one entry point, switching on the
    frontier size: frontiers up to ``max_inline_keys`` collect
    driver-side (keys only, bounded) and go as batched pushed IN-list
    probes, which win on small frontiers (BENCH_NOTES_r10.md §1); larger
    frontiers stage into the database and probe with one set-oriented
    join — no driver collect.
    Returns (rows, path) with path in {'pushed', 'staged'} so callers
    (and the gating oracle) can assert the crossover rule itself."""
    distinct = keys_df.toDF(key_column).distinct()
    n = distinct.count()  # bounded probe: count before any collect
    if n > max_inline_keys:
        return (
            read_table_keyed_staged(
                spark, conn, table, key_column, distinct,
                allow_production=allow_production,
            ),
            "staged",
        )
    frontier = [r[0] for r in distinct.collect()]  # keys only, bounded
    return (
        read_table_keyed(
            spark, conn, table, key_column, frontier,
            keys_per_probe=keys_per_probe,
        ),
        "pushed",
    )


def read_query(spark: SparkSession, conn: JdbcConnection, query: str) -> DataFrame:
    """Push an arbitrary query to the database (dictionary-view reads:
    the reference's user_objects/user_constraints catalog scans, S4-S6)."""
    return spark.read.format("jdbc").options(**conn.spark_options()).option("query", query).load()


ORACLE_DICTIONARY_QUERIES = {
    # The same dictionary interrogations the reference issues, reusable when
    # the source really is Oracle (S4/S5/S6/S7 via JDBC pushdown).
    "tables": (
        "SELECT object_name FROM user_objects WHERE object_type = 'TABLE' "
        "AND secondary = 'N' AND object_name NOT LIKE 'BIN$%'"
    ),
    "primary_keys": (
        "SELECT ucc.table_name, ucc.column_name, ucc.position "
        "FROM user_constraints uc JOIN user_cons_columns ucc "
        "ON uc.constraint_name = ucc.constraint_name "
        "WHERE uc.constraint_type = 'P'"
    ),
    "fk_edges": (
        "SELECT uc.constraint_name AS name, uccp.table_name AS parent_table, "
        "uccp.column_name AS parent_column, uccc.table_name AS child_table, "
        "uccc.column_name AS child_column "
        "FROM user_constraints uc "
        "JOIN user_cons_columns uccc ON uc.constraint_name = uccc.constraint_name "
        "JOIN user_cons_columns uccp ON uc.r_constraint_name = uccp.constraint_name "
        "AND uccc.position = uccp.position "
        "WHERE uc.constraint_type = 'R'"
    ),
    "columns": (
        "SELECT table_name, column_name, data_type, column_id FROM user_tab_columns "
        "ORDER BY table_name, column_id"
    ),
}


def write_table(
    df: DataFrame,
    conn: JdbcConnection,
    table: str,
    *,
    mode: str = "append",
    allow_production: bool = False,
) -> None:
    """Batched JDBC write (K1/K3), ``WRITE_BATCH`` rows per batch. Caps
    write parallelism at ``WRITE_CONNECTIONS`` so a wide cluster doesn't
    open thousands of connections against the database.

    A table this write creates (every overwrite-mode staging table) gets
    the URL dialect's string type for its string columns when that
    dialect folds identifiers (``dialects`` module doc): Spark's own
    Derby mapping would create CLOB, which has no equality, so a staged
    string key could be neither indexed nor joined on."""
    prod_check(conn.url, allow_production=allow_production)
    # coalesce never increases partition count, so this caps concurrent
    # connections without the plan->RDD conversion a getNumPartitions()
    # probe would force, and without a shuffle
    df = df.coalesce(WRITE_CONNECTIONS)
    d = url_dialect(conn.url)
    strings = [
        f"{f.name} {d.column_type(f.dataType)}"
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ] if d is not None and d.fold_upper else []
    types = {"createTableColumnTypes": ", ".join(strings)} if strings else {}
    (
        df.write.format("jdbc")
        .options(**conn.spark_options())
        .options(**types)
        .option("dbtable", table)
        .option("batchsize", str(WRITE_BATCH))
        .mode(mode)
        .save()
    )
