"""Engine facade: the script-DSL surface (SURVEY §2.4 E2).

The reference exposes nine Groovy-binding verbs (``Main.java:106-211``):
``args, createConnection, createDbTarget, createFileTarget, executeSql,
copyTree, deleteTree, copy, update``. Here scripts are plain Python and
the verbs are methods on ``Engine``; targets are strategy objects
(operation-log file target vs warehouse target vs JDBC target); the
warehouse target lives in ``plans/oplog.py`` beside the warehouse it
writes, because every warehouse replay runs through it, and the one JDBC
target lives in ``sources/jdbc_mutations.py`` beside the statements it
runs, so ``sources/derby.py`` can build on it.

The subgraph verbs pay few fixed Spark jobs per call: ``Engine.table``
reads each source's parquet schema once (a bare ``spark.read.parquet``
starts a schema-inference job on every call), ``copy_tree`` checks the
copy on what landed in the target with one count action after the
writes (``walk.copy_selections`` with the target's ``insert`` as its
sink; one exchange per checked table), seed ids become an uncached
broadcast frame (``walk.seed_frame``), ``delete_tree`` hands each target
a selection's own ``(on, probe)`` — a leaf goes by its FK against the
parent's keys — and both verbs release what the walk cached.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from oracle_schema_copy_spark.catalog import Catalog
from oracle_schema_copy_spark.operators import mutate, walk
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.plans.oplog import WarehouseTarget
from oracle_schema_copy_spark.sources import jdbc as jdbc_mod
from oracle_schema_copy_spark.sources.jdbc_mutations import JdbcTarget
from oracle_schema_copy_spark.sources.tables import load_table


@dataclass
class FileTarget:
    """Writes operations to an operation log (the OutputStreamTarget analog)."""

    log: oplog.OperationLogWriter

    def insert(self, table: str, df: DataFrame) -> DataFrame:
        """Logs ``df``; returns the payload that landed, read with ``df``'s
        schema."""
        path = self.log.insert(table, df)
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def upsert(self, table: str, df: DataFrame, key) -> None:
        self.log.upsert(table, df, key)

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        self.log.delete(table, key_columns, keys)

    def execute_sql(self, statements: list[str]) -> None:
        # opaque: live targets execute it on replay, warehouses skip it
        self.log.ddl(statements, opaque=True)

    def close(self) -> None:
        self.log.close()


class Engine:
    """The nine-verb scripting surface over a catalog of tables."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        self._schemas: dict[str, StructType] = {}

    # -- sources -------------------------------------------------------------

    def _path(self, name: str) -> str:
        sf_dir, fname = self.catalog.paths[name.lower()].rsplit("/", 1)
        return f"{sf_dir}/{fname.removesuffix('.parquet')}.parquet"

    def table(self, name: str) -> DataFrame:
        """The catalog table as a DataFrame. Its parquet schema is inferred
        on the first call only; later calls read with the remembered one."""
        path = self._path(name)
        sf_dir, fname = path.rsplit("/", 1)
        stem = fname.removesuffix(".parquet")
        if path in self._schemas:
            return self.spark.read.schema(self._schemas[path]).parquet(path)
        df = load_table(self.spark, sf_dir, stem)
        if stem != "events":  # load_table converts its timestamps after the read
            self._schemas[path] = df.schema
        return df

    def tables(self, names: Iterable[str]) -> dict[str, DataFrame]:
        return {n: self.table(n) for n in names}

    # -- targets (createDbTarget / createFileTarget) -------------------------

    def create_file_target(self, path: str) -> FileTarget:
        return FileTarget(oplog.OperationLogWriter(path))

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
        """Walk FK paths from seed ids and copy the reachable subgraph into
        ``target``. The coverage check runs on what landed and raises after
        the write (``walk.copy_selections``). Returns the landed row count
        per table (no recount)."""
        from oracle_schema_copy_spark.catalog import tables_from_paths

        tabs = self.tables(tables_from_paths(paths))
        sels = walk.walk_linked(self.spark, tabs, self.catalog, paths, root_ids)
        try:
            return walk.copy_selections(tabs, sels, insert=target.insert)[1]
        finally:
            walk.release(sels)

    def delete_tree(self, target, paths: list[str], root_ids) -> None:
        """Walk FK paths and delete the reachable subgraph (child-first by
        reversed selection order, safe for FK-enforcing targets)."""
        from oracle_schema_copy_spark.catalog import tables_from_paths

        tabs = self.tables(tables_from_paths(paths))
        sels = walk.walk_linked(self.spark, tabs, self.catalog, paths, root_ids)
        try:
            for sel in reversed(sels):
                # an exact selection by its full (composite) key, a leaf
                # by its FK: every target child of a deleted parent
                target.delete(sel.table, list(sel.on), sel.probe)
        finally:
            walk.release(sels)

    def copy(self, target, table: str, columns: list[str] | None = None) -> None:
        """Whole-table copy (the reference's ``copy`` verb)."""
        target.insert(table, mutate.bulk_copy(self.table(table), columns))

    def update(self, target, table: str, df: DataFrame | None = None) -> None:
        """Whole-table upsert (the reference's ``update`` verb)."""
        pk = list(self.catalog.primary_keys[table.lower()])
        target.upsert(table, df if df is not None else self.table(table), pk)

    def export_schema(self, tables: list[str], log_path: str) -> None:
        """exportAll: DDL → data (topo order) → constraints after data.

        A table that :meth:`table` reads bare — its schema is remembered,
        i.e. every catalog table but ``events``, whose timestamps are
        converted after the read — is exported without a Spark job: the
        log hard-links its parquet files into the payload
        (``oplog.link_parquet``; a partitioned directory, or a filesystem
        that cannot link, is written instead). The log then shares those
        files' inodes with the source, and a warehouse import shares them
        once more, so the source's files must never be written in place
        (``pq.write_table`` over one, ``open(path, "wb")``, a truncate):
        replay refuses such a payload. Replacing the source by new files —
        a Spark overwrite, a rename — leaves the log's rows as exported."""
        tabs = self.tables(tables)
        order = [t for t in self.catalog.topo_order(tables)]
        sources = {t: p for t in tables if (p := self._path(t)) in self._schemas}
        oplog.export_all(tabs, log_path, topo_order=order, sources=sources)

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
