"""Operation log: the engine's export/import interchange format.

Reference analog: a gzipped stream of Java-serialized ``Operation`` objects
(write ``CopyUtils.writeObject`` ``CopyUtils.java:377-391``; replay
``importSchema`` ``CopyUtils.java:353-375``; ops ``ExecuteSqlList`` /
``ExecuteTableLoad`` / ``ExecuteTableUpdate`` / ``DeleteByPk``).

Spark-native format: a directory
    <log>/manifest.jsonl      one JSON record per operation, in seq order
    <log>/payloads/op_NNNNN/  parquet payload for data operations

This keeps the two semantics that matter — ordered replay and
self-contained data+schema per operation — while making payloads
splittable/columnar (a 100 TB export is N parquet files per op, written
in parallel by executors; the Java-serialization format was a
single-threaded byte stream).

Replay (``Operation.execute(Connection)``, ``Operation.java:9-11``):
``replay_into_target`` is the one loop that reads a manifest and applies
each record through a target's verbs. Targets differ by one rule and
hooks, not options: a table's first insert in a run calls the target's
``create_table`` (a live database creates it, a warehouse drops it so the
run replaces it); opaque SQL follows the target's ``on_opaque`` (a
warehouse skips it, a live database executes it); views go to
``create_view`` where a target has one. Logged table DDL is skipped.

Transactionality (SURVEY §3.2): the reference imports inside one JDBC
transaction. ``replay`` (the warehouse entry point) is per-table staged
writes + atomic renames, idempotent to re-run after failure;
``replay_atomic`` stages the WHOLE replay into a shadow warehouse and
commits via one marker rename + roll-forward, so a crashed import is never
observable as a partially-applied warehouse (CopyUtils.java:367). Both
roll a pending commit forward first and create views last, over the final
tables.

Data operations are chunked at ``rows_per_op`` (reference flushes every
10k rows, ``AbstractLoadRowsCallback.java:28``) — kept as a knob for
payload file sizing, implemented with ``maxRecordsPerFile`` rather than
driver-side buffering.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from oracle_schema_copy_spark.operators import mutate

MANIFEST = "manifest.jsonl"


@dataclass
class OpRecord:
    seq: int
    kind: str  # ddl | insert | upsert | delete | opaque_sql
    table: str | None
    params: dict
    payload: str | None  # relative payload dir for data ops

    def to_json(self) -> str:
        return json.dumps(
            {
                "seq": self.seq,
                "kind": self.kind,
                "table": self.table,
                "params": self.params,
                "payload": self.payload,
            },
            sort_keys=True,
        )


class OperationLogWriter:
    """Append-only operation-log writer (the FileTarget / K2 sink).

    The manifest is written to a temp file and atomically renamed on
    ``close()`` so a partially-written log is never readable as valid.
    """

    def __init__(self, path: str, rows_per_op: int = 10_000):
        self.path = path
        self.rows_per_op = rows_per_op
        self._records: list[OpRecord] = []
        self._closed = False
        os.makedirs(os.path.join(path, "payloads"), exist_ok=True)

    # -- operation kinds ----------------------------------------------------

    def ddl(self, statements: list[str], *, opaque: bool = False) -> None:
        """A list of SQL statements executed in order on replay (K6).
        ``opaque=True`` marks engine-foreign DDL (triggers/sequences/...)
        that only a JDBC target may execute."""
        self._append(
            OpRecord(
                seq=len(self._records),
                kind="opaque_sql" if opaque else "ddl",
                table=None,
                params={"statements": statements},
                payload=None,
            )
        )

    def view(self, name: str, query: str) -> None:
        """A view definition (S9): replayed as CREATE OR REPLACE VIEW over
        the imported tables (temp view on Spark targets, executable DDL on
        SQL-catalog/JDBC targets). Exported after data, like the
        reference's other-objects phase (``CopyUtils.java:996-1010``)."""
        self._append(
            OpRecord(
                seq=len(self._records),
                kind="view",
                table=None,
                params={"name": name, "query": query},
                payload=None,
            )
        )

    def insert(self, table: str, df: DataFrame) -> None:
        """Bulk-load rows into ``table`` on replay (K3 / ExecuteTableLoad)."""
        self._data_op("insert", table, df, {})

    def upsert(self, table: str, df: DataFrame, key_columns: list[str] | str) -> None:
        """Merge rows into ``table`` by key on replay (K4 / ExecuteTableUpdate)."""
        keys = [key_columns] if isinstance(key_columns, str) else list(key_columns)
        self._data_op("upsert", table, df, {"key_columns": keys})

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        """Delete rows of ``table`` by (possibly composite) key on replay
        (K5 / DeleteByPk).

        Column pairing: when every key-column NAME exists in ``keys`` the
        named columns are selected (order-insensitive — a frame that
        coincidentally shares the names is assumed to mean them); otherwise
        the frame's columns pair POSITIONALLY with ``key_columns`` and the
        arity must match."""
        cols = [key_columns] if isinstance(key_columns, str) else list(key_columns)
        if set(cols) <= set(keys.columns):
            payload = keys.select(*cols)
        else:  # positional pairing (e.g. a differently-named key frame)
            assert len(keys.columns) == len(cols), "key frame arity mismatch"
            payload = keys.toDF(*cols)
        self._data_op("delete", table, payload, {"key_columns": cols})

    # -- plumbing ------------------------------------------------------------

    def _data_op(self, kind: str, table: str, df: DataFrame, params: dict) -> None:
        seq = len(self._records)
        rel = f"payloads/op_{seq:05d}"
        (
            df.write.option("maxRecordsPerFile", self.rows_per_op)
            .mode("overwrite")
            .parquet(os.path.join(self.path, rel))
        )
        self._append(OpRecord(seq=seq, kind=kind, table=table, params=params, payload=rel))

    def _append(self, rec: OpRecord) -> None:
        assert not self._closed, "operation log already closed"
        self._records.append(rec)

    def close(self) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            for rec in self._records:
                f.write(rec.to_json() + "\n")
        os.replace(tmp, os.path.join(self.path, MANIFEST))
        self._closed = True

    def __enter__(self) -> "OperationLogWriter":
        return self

    def __exit__(self, *exc) -> None:
        if exc[0] is None:
            self.close()


def read_manifest(path: str) -> Iterator[OpRecord]:
    """Operation-log source (S10): manifest records in seq order."""
    with open(os.path.join(path, MANIFEST)) as f:
        for line in f:
            d = json.loads(line)
            yield OpRecord(d["seq"], d["kind"], d["table"], d["params"], d["payload"])


@dataclass
class Warehouse:
    """A directory of parquet tables — the replay target for file-based
    imports (the ExecuteTarget analog for our storage). Mutations are
    staged-write + atomic swap; reads always see a complete table."""

    spark: SparkSession
    root: str
    tables_written: set[str] = field(default_factory=set)

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._dir(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(table))

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """``partition_by`` lays the table out hive-style (one directory
        per value): queries filtering on those columns prune whole
        directories at planning time — the 100 TB analog of the
        reference's per-table copy granularity."""
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._dir(table))
        self.tables_written.add(table)

    def append(self, table: str, df: DataFrame) -> None:
        self.write(table, df, mode="append")

    def rewrite(self, table: str, df: DataFrame) -> None:
        """Full-table rewrite via staging dir + atomic swap (upsert/delete
        on immutable parquet). The swap is the commit point."""
        stage = self._dir(table) + ".__stage__"
        shutil.rmtree(stage, ignore_errors=True)
        df.write.mode("overwrite").parquet(stage)
        old = self._dir(table)
        trash = old + ".__old__"
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(old):
            os.replace(old, trash)
        os.replace(stage, old)
        shutil.rmtree(trash, ignore_errors=True)
        self.tables_written.add(table)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._dir(table), ignore_errors=True)

    def create_views(self, views: dict[str, str]) -> None:
        """Create logged views (S9) as session temp views: every table
        written so far is exposed under its bare name first, because view
        text references tables that way (no persistent-catalog writes).

        The views deliberately OUTLIVE the replay in the session catalog:
        a view dropped the moment the import ends would be useless to the
        reader the import exists for. On a shared session, replay N's views
        shadow same-named earlier ones (latest import wins); callers
        needing isolation should replay in their own SparkSession or
        ``spark.catalog.dropTempView`` afterwards."""
        if not views:
            return
        for t in self.tables_written:
            self.read(t).createOrReplaceTempView(t)
        for name, query in views.items():
            self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {query}")


@dataclass
class WarehouseTarget:
    """Applies operations directly to a parquet warehouse (ExecuteTarget
    analog for file-backed tables); every warehouse replay runs through it."""

    wh: Warehouse
    views: dict[str, str] = field(default_factory=dict, init=False)
    on_opaque = "skip"  # parquet cannot run source-dialect triggers/sequences

    def create_table(self, table: str, schema: StructType) -> None:
        """A replay's first insert of ``table`` replaces it: drop what is
        there (a prior partial replay's leftovers), so re-running a failed
        replay from seq 0 reproduces the same state instead of duplicating
        rows."""
        self.wh.drop(table)

    def create_view(self, name: str, query: str) -> None:
        """Deferred: :func:`replay` creates views after the last operation,
        over the final tables."""
        self.views[name] = query

    def insert(self, table: str, df: DataFrame) -> None:
        if self.wh.exists(table):
            self.wh.append(table, df)
        else:
            self.wh.write(table, df)

    def upsert(self, table: str, df: DataFrame, key) -> None:
        self.wh.rewrite(table, mutate.merge_upsert(self.wh.read(table), df, key))

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        self.wh.rewrite(table, mutate.delete_by_keys(self.wh.read(table), key_columns, keys))

    def execute_sql(self, statements: list[str]) -> None:
        for s in statements:
            self.wh.spark.sql(s)

    def close(self) -> None:
        pass


def replay_into_target(
    spark: SparkSession,
    log_path: str,
    target,
    *,
    on_opaque: str | None = None,
) -> list[OpRecord]:
    """Replay an operation log in seq order into an execute-target (S10):
    the reference's ``import`` flow (``Main.java:46-58``, §3.2). The target
    is anything with the ExecuteTarget verb surface
    (insert/upsert/delete/execute_sql — :class:`WarehouseTarget`,
    ``engine.JdbcTarget``, ``sources.derby.DerbyTarget``,
    ``engine.FileTarget``); the module docstring lists how each record
    kind applies. ``on_opaque`` is ``"execute"``, ``"skip"`` or
    ``"error"``; the default is the target's ``on_opaque`` attribute, else
    ``"execute"`` (the reference carries source-dialect SQL to live
    targets).

    Returns the records that reached the target; skipped records are
    excluded, so callers can audit exactly what was applied. Nothing passes
    through the driver but the manifest: payloads stream through the
    target's set-oriented verbs.
    """
    on_opaque = on_opaque or getattr(target, "on_opaque", "execute")
    create_table = getattr(target, "create_table", None)
    create_view = getattr(target, "create_view", None)
    applied: list[OpRecord] = []
    created: set[str] = set()
    for rec in read_manifest(log_path):
        df = spark.read.parquet(os.path.join(log_path, rec.payload)) if rec.payload else None
        if rec.kind == "ddl":
            continue  # tables come from payload schemas at their first insert
        elif rec.kind == "opaque_sql":
            if on_opaque == "error":
                raise ValueError(f"opaque SQL operation {rec.seq} refused")
            if on_opaque != "execute":
                continue
            target.execute_sql(list(rec.params["statements"]))
        elif rec.kind == "view":
            if create_view is None:
                continue
            create_view(rec.params["name"], rec.params["query"])
        elif rec.kind == "insert":
            if create_table is not None and rec.table not in created:
                create_table(rec.table, df.schema)
                created.add(rec.table)
            target.insert(rec.table, df)
        elif rec.kind == "upsert":
            target.upsert(rec.table, df, rec.params["key_columns"])
        elif rec.kind == "delete":
            # key_columns is the current form; key_column the pre-composite one
            cols = rec.params.get("key_columns") or [rec.params["key_column"]]
            if set(cols) <= set(df.columns):
                # project by name: tolerates a payload carrying extra
                # columns (e.g. a legacy single-key record over a wider
                # key frame) — keyed deletes require exact arity
                df = df.select(*cols)
            target.delete(rec.table, cols, df)
        else:
            raise ValueError(f"unknown operation kind {rec.kind!r} at seq {rec.seq}")
        applied.append(rec)
    return applied


def replay(
    spark: SparkSession,
    log_path: str,
    warehouse: Warehouse,
    *,
    on_opaque: str | None = None,
) -> list[OpRecord]:
    """Replay an operation log into a parquet warehouse through a
    :class:`WarehouseTarget`. First rolls forward a commit that a crashed
    :func:`replay_atomic` left pending, so its stale stage cannot later land
    over tables written here; creates the logged views last, because a view
    made mid-log reads files that a later rewrite deletes. Returns the
    records that reached the warehouse."""
    recover_replay(warehouse)
    target = WarehouseTarget(warehouse)
    applied = replay_into_target(spark, log_path, target, on_opaque=on_opaque)
    warehouse.create_views(target.views)
    return applied


STAGE_DIRNAME = ".replay_stage"
COMMIT_MARKER = ".replay_commit.json"


class _StagingWarehouse(Warehouse):
    """Replay target whose WRITES all land under a staging root while
    READS overlay stage-over-base — upsert/delete ops see prior staged
    state (or the untouched base table), and the base warehouse is never
    written until commit."""

    def __init__(self, spark: SparkSession, root: str, base: Warehouse):
        super().__init__(spark, root)
        self.base = base
        self.views: dict[str, str] = {}

    def _staged(self, table: str) -> bool:
        return os.path.isdir(os.path.join(self.root, table))

    def exists(self, table: str) -> bool:
        return self._staged(table) or self.base.exists(table)

    def read(self, table: str) -> DataFrame:
        if self._staged(table):
            return self.spark.read.parquet(self._dir(table))
        return self.base.read(table)

    def create_views(self, views: dict[str, str]) -> None:
        """Held for :func:`replay_atomic`, which creates them over the base
        warehouse after commit — the commit moves the staged files away."""
        self.views = views


def replay_atomic(
    spark: SparkSession,
    log_path: str,
    warehouse: Warehouse,
) -> list[OpRecord]:
    """Whole-log transactional replay: the reference imports an entire
    schema inside ONE JDBC transaction (``CopyUtils.java:353-375``, commit
    at ``:367``); plain ``replay`` substitutes per-table staged renames +
    re-run idempotence, leaving a window where a crashed replay is
    OBSERVABLE as a partially-applied warehouse (SURVEY §3.2's documented
    delta). This closes it with a staging warehouse + commit marker:

    1. Roll forward a previous crashed commit (marker present → finish it).
    2. :func:`replay` every operation into ``<root>/.replay_stage`` —
       reads overlay stage-over-target, the target is never written.
    3. COMMIT POINT: one atomic rename of a marker file listing the staged
       tables into the warehouse root.
    4. Roll forward: move each staged table over its live counterpart,
       then drop marker + stage; then create the logged views over the
       committed tables.

    A failure before (3) leaves the target byte-identical (the stale stage
    is discarded by the next run); a failure during (4) is completed by
    the roll-forward in (1), which skips already-moved tables — so readers
    either see the pre-replay state or the fully-replayed one, never a
    prefix. Single-writer, like the reference's import. Returns the
    records that reached the warehouse."""
    os.makedirs(warehouse.root, exist_ok=True)
    recover_replay(warehouse)
    stage_root = os.path.join(warehouse.root, STAGE_DIRNAME)
    shutil.rmtree(stage_root, ignore_errors=True)
    stage = _StagingWarehouse(spark, stage_root, warehouse)
    applied = replay(spark, log_path, stage)
    fd, tmp = tempfile.mkstemp(dir=warehouse.root, suffix=".marker.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"tables": sorted(stage.tables_written)}, f)
    os.replace(tmp, os.path.join(warehouse.root, COMMIT_MARKER))  # COMMIT POINT
    _apply_commit(warehouse)
    warehouse.create_views(stage.views)
    return applied


def recover_replay(warehouse: Warehouse) -> bool:
    """Roll forward a committed-but-unapplied replay (crash between commit
    marker and table moves). Returns True if there was one. Idempotent."""
    if os.path.isfile(os.path.join(warehouse.root, COMMIT_MARKER)):
        _apply_commit(warehouse)
        return True
    return False


def _apply_commit(warehouse: Warehouse) -> None:
    root = warehouse.root
    with open(os.path.join(root, COMMIT_MARKER)) as f:
        tables = json.load(f)["tables"]
    stage_root = os.path.join(root, STAGE_DIRNAME)
    for t in tables:
        src = os.path.join(stage_root, t)
        if not os.path.isdir(src):
            continue  # already moved by a previous (crashed) roll-forward
        dst = os.path.join(root, t)
        trash = dst + ".__old__"
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(dst):
            os.replace(dst, trash)
        os.replace(src, dst)
        shutil.rmtree(trash, ignore_errors=True)
        warehouse.tables_written.add(t)
    os.remove(os.path.join(root, COMMIT_MARKER))
    shutil.rmtree(stage_root, ignore_errors=True)


def export_all(
    tables: dict[str, DataFrame],
    log_path: str,
    *,
    topo_order: list[str] | None = None,
    constraint_sql: list[str] | None = None,
    views: dict[str, str] | None = None,
    other_object_sql: list[str] | None = None,
    rows_per_op: int = 10_000,
) -> None:
    """Full export pipeline (E1 / ``exportAll`` ``CopyUtils.java:966-1010``):
    table DDL → row data (in FK-safe topo order) → constraints AFTER data
    (the reference's load-order trick, §3.1.d) → views → other objects
    (triggers/sequences/packages) as opaque SQL a JDBC target may execute.
    """
    from oracle_schema_copy_spark.plans.ddl import export_schema_ddl

    order = topo_order or sorted(tables)
    with OperationLogWriter(log_path, rows_per_op=rows_per_op) as log:
        log.ddl([ddl for _, ddl in export_schema_ddl({t: tables[t] for t in order})])
        for t in order:
            log.insert(t, tables[t])
        if constraint_sql:
            log.ddl(constraint_sql, opaque=True)
        for name, query in (views or {}).items():
            log.view(name, query)
        if other_object_sql:
            log.ddl(other_object_sql, opaque=True)
