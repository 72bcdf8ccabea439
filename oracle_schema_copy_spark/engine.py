"""Engine facade: the script-DSL surface (SURVEY §2.4 E2).

The reference exposes nine Groovy-binding verbs (``Main.java:106-211``):
``args, createConnection, createDbTarget, createFileTarget, executeSql,
copyTree, deleteTree, copy, update``. Here scripts are plain Python and
the verbs are methods on ``Engine``; targets are strategy objects
(operation-log file target vs warehouse target vs JDBC target); the
warehouse target lives in ``plans/oplog.py`` beside the warehouse it
writes, because every warehouse replay runs through it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from oracle_schema_copy_spark.catalog import Catalog
from oracle_schema_copy_spark.operators import mutate, walk
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.plans.oplog import WarehouseTarget
from oracle_schema_copy_spark.sources import jdbc as jdbc_mod
from oracle_schema_copy_spark.sources import jdbc_mutations
from oracle_schema_copy_spark.sources.tables import load_table


@dataclass
class FileTarget:
    """Writes operations to an operation log (the OutputStreamTarget analog)."""

    log: oplog.OperationLogWriter

    def insert(self, table: str, df: DataFrame) -> None:
        self.log.insert(table, df)

    def upsert(self, table: str, df: DataFrame, key) -> None:
        self.log.upsert(table, df, key)

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        self.log.delete(table, key_columns, keys)

    def execute_sql(self, statements: list[str]) -> None:
        # opaque: live targets execute it on replay, warehouses skip it
        self.log.ddl(statements, opaque=True)

    def close(self) -> None:
        self.log.close()


@dataclass
class JdbcTarget:
    """Applies operations to a live database via spark JDBC (ExecuteTarget).

    Inserts are parallel batched JDBC writes; upsert stages the update set
    and runs one MERGE; deletes batch keys into IN-lists (or stage + one
    EXISTS delete for huge key sets); SQL lists execute in order on one
    connection (see sources/jdbc_mutations.py). ``executor`` is injectable
    for tests; by default statements run through the Spark JVM's
    java.sql.DriverManager.
    """

    conn: jdbc_mod.JdbcConnection
    allow_production: bool = False
    dialect: str = "ansi"
    executor: jdbc_mutations.StatementExecutor | None = None

    def _executor(self) -> jdbc_mutations.StatementExecutor:
        if self.executor is None:
            spark = SparkSession.getActiveSession()
            assert spark is not None, "an active SparkSession is required"
            self.executor = jdbc_mutations.jvm_statement_executor(spark, self.conn)
        return self.executor

    def insert(self, table: str, df: DataFrame) -> None:
        jdbc_mod.write_table(
            df, self.conn, table, allow_production=self.allow_production
        )

    def upsert(self, table: str, df: DataFrame, key) -> None:
        jdbc_mutations.jdbc_upsert(
            df,
            self.conn,
            table,
            key,
            executor=self._executor(),
            dialect=self.dialect,
            allow_production=self.allow_production,
        )

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        jdbc_mutations.jdbc_delete(
            keys,
            self.conn,
            table,
            key_columns,
            executor=self._executor(),
            allow_production=self.allow_production,
        )

    def execute_sql(self, statements: list[str]) -> None:
        self._executor()(statements)

    def close(self) -> None:
        pass


class Engine:
    """The nine-verb scripting surface over a catalog of tables."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    # -- sources -------------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        path = self.catalog.paths[name.lower()]
        sf_dir, fname = path.rsplit("/", 1)
        return load_table(self.spark, sf_dir, fname.removesuffix(".parquet"))

    def tables(self, names: Iterable[str]) -> dict[str, DataFrame]:
        return {n: self.table(n) for n in names}

    # -- targets (createDbTarget / createFileTarget) -------------------------

    def create_file_target(self, path: str, rows_per_op: int = 10_000) -> FileTarget:
        return FileTarget(oplog.OperationLogWriter(path, rows_per_op=rows_per_op))

    def create_warehouse_target(self, root: str) -> WarehouseTarget:
        return WarehouseTarget(oplog.Warehouse(self.spark, root))

    def create_db_target(
        self, conn: jdbc_mod.JdbcConnection, *, allow_production: bool = False
    ) -> JdbcTarget:
        jdbc_mod.prod_check(conn.url, allow_production=allow_production)
        return JdbcTarget(conn, allow_production)

    # -- verbs ----------------------------------------------------------------

    def execute_sql(self, target, statements: list[str]) -> None:
        target.execute_sql(statements)

    def copy_tree(self, target, paths: list[str], root_ids) -> dict[str, int]:
        """Walk FK paths from seed ids and copy the reachable subgraph."""
        from oracle_schema_copy_spark.catalog import tables_from_paths

        tabs = self.tables(tables_from_paths(paths))
        copied = walk.copy_tree(self.spark, tabs, self.catalog, paths, root_ids)
        out = {}
        for t, df in copied.items():
            target.insert(t, df)
            out[t] = df.count()
        return out

    def delete_tree(self, target, paths: list[str], root_ids) -> None:
        """Walk FK paths and delete the reachable subgraph (child-first by
        reversed selection order, safe for FK-enforcing targets)."""
        from oracle_schema_copy_spark.catalog import tables_from_paths

        tabs = self.tables(tables_from_paths(paths))
        sels = walk.walk_linked(self.spark, tabs, self.catalog, paths, root_ids)
        for sel in reversed(sels):
            # full composite key list — the leading column alone would
            # over-delete any partial selection of a composite-PK table.
            # Leaf selections derive their key tuples lazily here (sinks
            # need explicit keys; data-plane deletes never do).
            target.delete(sel.table, list(sel.key_columns), sel.keys)

    def copy(self, target, table: str, columns: list[str] | None = None) -> None:
        """Whole-table copy (the reference's ``copy`` verb)."""
        target.insert(table, mutate.bulk_copy(self.table(table), columns))

    def update(self, target, table: str, df: DataFrame | None = None) -> None:
        """Whole-table upsert (the reference's ``update`` verb)."""
        pk = list(self.catalog.primary_keys[table.lower()])
        target.upsert(table, df if df is not None else self.table(table), pk)

    def export_schema(self, tables: list[str], log_path: str) -> None:
        """exportAll: DDL → data (topo order) → constraints after data."""
        tabs = self.tables(tables)
        order = [t for t in self.catalog.topo_order(tables)]
        oplog.export_all(tabs, log_path, topo_order=order)

    def import_schema(
        self, log_path: str, warehouse_root: str, *, atomic: bool = False
    ) -> oplog.Warehouse:
        """``atomic=True`` replays through a staging warehouse + commit
        marker (the reference's one-transaction import semantics,
        CopyUtils.java:367); default is the idempotent-rerun replay."""
        wh = oplog.Warehouse(self.spark, warehouse_root)
        fn = oplog.replay_atomic if atomic else oplog.replay
        fn(self.spark, log_path, wh)
        return wh
