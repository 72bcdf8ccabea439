"""Operation log: the engine's export/import interchange format.

Reference analog: a gzipped stream of Java-serialized ``Operation`` objects
(write ``CopyUtils.writeObject`` ``CopyUtils.java:377-391``; replay
``importSchema`` ``CopyUtils.java:353-375``; ops ``ExecuteSqlList`` /
``ExecuteTableLoad`` / ``ExecuteTableUpdate`` / ``DeleteByPk``).

Spark-native format: a directory
    <log>/manifest.jsonl      one JSON record per operation, in seq order
    <log>/payloads/op_NNNNN/  parquet payload for data operations

A data operation's record carries its payload's schema
(``params["schema"]``), so replay reads each payload without a
schema-inference job; a record without one (an older log) replays by
inference.

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
run replaces it); an insert goes to the target's ``adopt`` where it has
one, else to ``insert``; opaque SQL follows the target's ``on_opaque`` (a
warehouse skips it, a live database executes it); views go to
``create_view`` where a target has one. Logged table DDL is skipped.

Zero-copy warehouse import: a payload is already parquet, the warehouse's
own storage format, so a warehouse adopts an insert's payload files
instead of re-encoding them (:meth:`Warehouse.adopt`; the Iceberg
``add_files`` / Delta ``CONVERT TO DELTA`` move). Each payload file and
its Hadoop ``.crc`` sidecar is hard-linked into the table directory under
a name unique to the record (``op00003-part-...parquet``). When the link
cannot be made (the log on another filesystem, a filesystem without hard
links, a full link count) the call removes the links it made and replay
falls back to the Spark write; bytes are never copied in Python, so every
written byte stays visible in Spark's output metrics. An adopted
warehouse file SHARES ITS INODE with the log's payload: nothing may open a
warehouse or payload parquet file for writing in place. Every mutation
here writes new files and renames or unlinks old ones, which leaves the
other name intact — so upserting, deleting or dropping an imported table
never changes the log, and the log replays again to the same rows.

Transactionality (SURVEY §3.2): the reference imports inside one JDBC
transaction (``CopyUtils.java:353-375``, commit at ``:367``). Here every
operation that replaces a table directory commits the same way, through
its :class:`Warehouse`: ``Warehouse.rewrite`` (a warehouse upsert or
delete), ``replay_atomic``, ``mor.MergeOnReadTable.compact`` and the
streaming upsert sink (``streaming.ops.stream_upsert_to_parquet``). Each
one stages its new table directories under ``<root>/.stage``, then commits
with ONE ``os.replace`` of a journal, ``<root>/.commit.json``, that names
the staged tables and the tables the commit removes. The roll-forward
(:func:`_apply_commit`) moves each staged directory over its live one,
removes the retired ones, then deletes the stage and the journal; every
step can be repeated. A cut before the journal's rename leaves every table
as it was (the next commit empties the stale stage); a cut after it is
finished by the warehouse's next table access. So a reader sees each
table's old or new rows, never a mix, and a multi-table commit never as a
prefix. ``replay`` (the plain warehouse entry point) commits each record
on its own and is idempotent to re-run from seq 0; ``replay_atomic``
commits the whole log at once. Both create views last, over the final
tables.

Zero-copy export: an insert whose frame reads a parquet source bare
(``Engine.export_schema``'s catalog tables, ``export_all(sources=)``) is
logged by hard-linking the source's files into its payload directory
(:func:`link_parquet`, the same helper ``Warehouse.adopt`` uses), so no
Spark job runs and no byte is written. A partitioned source directory, or a
link refused with a ``LINK_FALLBACK`` errno, is written with Spark instead.
The payload then SHARES ITS INODES with the user's source. A source replaced
by new files (a Spark overwrite) leaves the log intact; one written in place
changes the log, so the insert record keeps each linked file's ``[size,
mtime_ns]`` (``params["linked"]``) and replay raises, naming the table and
the file, when they differ. A record without them (a written payload, an
older log) replays as before.

Written data operations are chunked at ``ROWS_PER_OP`` rows per payload
file (the reference flushes every 10k rows,
``AbstractLoadRowsCallback.java:28``), implemented with ``maxRecordsPerFile``
rather than driver-side buffering. A linked payload keeps its source's file
layout instead — one file may hold every row — and nothing depends on the
bound: replay reads each payload through Spark's file splits, whose size does
not follow the file count.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from oracle_schema_copy_spark.operators import mutate
from oracle_schema_copy_spark.operators.walk import key_cols, key_frame

MANIFEST = "manifest.jsonl"
ROWS_PER_OP = 10_000  # rows per payload file
# os.link failures that mean "no hard link here": the rows are written instead
LINK_FALLBACK = {errno.EXDEV, errno.EPERM, errno.ENOTSUP, errno.EMLINK}
# a warehouse's commit entries: dot-entries of its root, never tables
STAGE_DIRNAME = ".stage"
JOURNAL = ".commit.json"


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

    def __init__(self, path: str):
        self.path = path
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

    def insert(self, table: str, df: DataFrame, source: str | None = None) -> str:
        """Bulk-load rows into ``table`` on replay (K3 / ExecuteTableLoad).
        Returns the payload directory.

        ``source`` is the parquet path ``df`` reads bare (no conversion
        after the read): its files are then hard-linked into the payload
        (:func:`link_parquet`) and each link's ``[size, mtime_ns]`` is
        recorded under ``params["linked"]``, so replay can refuse a payload
        that was written in place since. Where they cannot be linked, the
        rows are written as for any frame."""
        return self._data_op("insert", table, df, {}, source)

    def upsert(self, table: str, df: DataFrame, key_columns: list[str] | str) -> None:
        """Merge rows into ``table`` by key on replay (K4 / ExecuteTableUpdate)."""
        self._data_op("upsert", table, df, {"key_columns": key_cols(key_columns)})

    def delete(self, table: str, key_columns: str | list[str], keys: DataFrame) -> None:
        """Delete rows of ``table`` by (possibly composite) key on replay
        (K5 / DeleteByPk). ``keys`` pairs with ``key_columns`` by
        ``walk.key_frame``; the payload holds exactly the key columns."""
        cols = key_cols(key_columns)
        self._data_op("delete", table, key_frame(keys, cols), {"key_columns": cols})

    # -- plumbing ------------------------------------------------------------

    def _data_op(
        self, kind: str, table: str, df: DataFrame, params: dict, source: str | None = None
    ) -> str:
        seq = len(self._records)
        rel = f"payloads/op_{seq:05d}"
        path = os.path.join(self.path, rel)
        linked = None
        if source is not None:
            shutil.rmtree(path, ignore_errors=True)  # what the write's overwrite mode does
            linked = link_parquet(source, path)
        if linked is None:
            df.write.option("maxRecordsPerFile", ROWS_PER_OP).mode("overwrite").parquet(path)
        else:
            params = {**params, "linked": {n: _stamp(os.path.join(path, n)) for n in linked}}
        params = {**params, "schema": df.schema.jsonValue()}
        self._append(OpRecord(seq=seq, kind=kind, table=table, params=params, payload=rel))
        return path

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


def read_parquet(spark: SparkSession, path: str, schema: StructType | None) -> DataFrame:
    """A parquet read; with ``schema`` it starts no schema-inference job
    (``spark.read.parquet`` alone starts one on every call)."""
    return (spark.read.schema(schema) if schema is not None else spark.read).parquet(path)


def read_manifest(path: str) -> Iterator[OpRecord]:
    """Operation-log source (S10): manifest records in seq order."""
    with open(os.path.join(path, MANIFEST)) as f:
        for line in f:
            d = json.loads(line)
            yield OpRecord(d["seq"], d["kind"], d["table"], d["params"], d["payload"])


def link_parquet(src: str, dst_dir: str, prefix: str = "") -> list[str] | None:
    """Hard-link the parquet data of ``src`` into ``dst_dir`` without
    reading or writing a byte: ``src`` is one file, or a flat directory
    whose ``*.parquet`` files are taken (entries starting with ``_`` or
    ``.`` skipped). Each file lands as ``<prefix><name>`` beside its linked
    Hadoop ``.crc`` sidecar. Returns the names made in ``dst_dir``.

    Returns None, having made nothing, when the files cannot be linked
    with their layout: a directory holding anything else that Spark would
    read (subdirectories such as hive partitions, a data file not named
    ``*.parquet``), or an ``os.link`` errno in ``LINK_FALLBACK``; the
    caller then writes the rows with Spark. Any other error propagates
    after the same clean-up (the links made, and ``dst_dir`` if this call
    created it)."""
    if os.path.isdir(src):
        folder = src
        entries = [e for e in os.scandir(src) if e.name[0] not in "._"]
        if any(e.is_dir() or not e.name.endswith(".parquet") for e in entries):
            return None
        names = sorted(e.name for e in entries)
    else:
        folder, name = os.path.split(src)
        names = [name]
    created = not os.path.isdir(dst_dir)
    os.makedirs(dst_dir, exist_ok=True)
    made: list[str] = []
    try:
        for name in names:
            links = [(name, prefix + name)]
            if os.path.isfile(os.path.join(folder, f".{name}.crc")):
                links.append((f".{name}.crc", f".{prefix}{name}.crc"))
            for s, d in links:
                os.link(os.path.join(folder, s), os.path.join(dst_dir, d))
                made.append(d)
    except OSError as e:
        for f in made:
            os.remove(os.path.join(dst_dir, f))
        if created:
            os.rmdir(dst_dir)
        if e.errno in LINK_FALLBACK:
            return None
        raise
    return made


def _stamp(path: str) -> list[int]:
    st = os.stat(path)
    return [st.st_size, st.st_mtime_ns]


def _check_linked(rec: OpRecord, payload: str) -> None:
    """Raise when a linked payload file no longer has the ``[size,
    mtime_ns]`` recorded at export (``params["linked"]``): it shares its
    inode with the export's source, which was written in place since, so
    its rows are no longer the exported ones. A written payload records
    nothing and passes."""
    for name, stamp in rec.params.get("linked", {}).items():
        path = os.path.join(payload, name)
        if _stamp(path) != stamp:
            raise ValueError(
                f"table {rec.table!r}: payload file {path} of operation {rec.seq} "
                f"changed since export (size, mtime_ns {stamp} -> {_stamp(path)}); "
                "its source was written in place"
            )


@dataclass
class Warehouse:
    """A directory of parquet tables — the replay target for file-based
    imports (the ExecuteTarget analog for our storage). A table is the
    plain parquet directory ``<root>/<table>``; a commit replaces whole
    table directories at once (:meth:`replace`, the module docstring), so
    reads always see a complete table. The stage and the journal are
    dot-entries of the root, never tables.

    A replayed insert adopts the payload's files by hard link
    (:meth:`adopt`), so a table file may share its inode with an oplog
    payload: files here are only ever created, renamed or unlinked, never
    opened for writing in place.

    ``schemas`` holds the schema of each table this warehouse wrote
    (``write``/``rewrite`` and a table-creating ``adopt`` set it, ``drop``
    forgets it), so ``read`` starts no schema-inference job for them."""

    spark: SparkSession
    root: str
    tables_written: set[str] = field(default_factory=set)
    schemas: dict[str, StructType] = field(default_factory=dict)

    def _dir(self, table: str) -> str:
        """The table's directory. Every read, listing, write and commit
        goes through here, so a commit whose journal is pending is rolled
        forward (:func:`_apply_commit`) before anything looks at a table or
        empties the stage."""
        if os.path.isfile(os.path.join(self.root, JOURNAL)):
            _apply_commit(self)
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._dir(table))

    def files(self, table: str) -> set[str]:
        """The table's parquet data files."""
        d = self._dir(table)
        if not os.path.isdir(d):
            return set()
        return {os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")}

    def read(self, table: str) -> DataFrame:
        return read_parquet(self.spark, self._dir(table), self.schemas.get(table))

    def write(self, table: str, df: DataFrame, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(self._dir(table))
        self.tables_written.add(table)
        if mode == "overwrite":
            self.schemas[table] = df.schema

    def append(self, table: str, df: DataFrame) -> None:
        self.write(table, df, mode="append")

    def adopt(self, table: str, payload_dir: str, tag: str, schema: StructType) -> bool:
        """Add the parquet files of ``payload_dir`` to ``table`` by hard
        link (:func:`link_parquet`), each under ``<tag>-<name>`` beside its
        linked ``.crc`` sidecar, without reading or writing a byte. Returns
        False, having removed what this call made, when the filesystem
        cannot link them; the caller then writes the rows. Any other error
        (a name already taken, too) propagates after the same clean-up.
        ``schema`` becomes the table's read schema only when this call
        created the table."""
        d = self._dir(table)
        created = not os.path.isdir(d)
        if link_parquet(payload_dir, d, f"{tag}-") is None:
            return False
        self.tables_written.add(table)
        if created:
            self.schemas[table] = schema
        return True

    def rewrite(self, table: str, df: DataFrame) -> None:
        """Full-table rewrite (upsert/delete on immutable parquet): one
        :meth:`replace` of ``table`` with the rows of ``df``."""
        self.replace({table: df})

    def replace(self, tables: dict[str, DataFrame | None]) -> None:
        """Replace every named table with its frame's rows, or remove it
        where the frame is None, in ONE commit: write the frames under the
        emptied stage, then :meth:`_commit`. A frame may read the tables it
        replaces; the live directories move only after every write."""
        frames = {t: df for t, df in tables.items() if df is not None}
        stage = self._stage()
        for t, df in frames.items():
            df.write.parquet(os.path.join(stage, t))
        self._commit(list(frames), [t for t in tables if t not in frames])
        self.schemas.update({t: df.schema for t, df in frames.items()})

    def _stage(self) -> str:
        """The stage directory, emptied of what a cut commit left before
        its journal; a pending journal is rolled forward first
        (:meth:`_dir`), because it names directories in the stage."""
        stage = self._dir(STAGE_DIRNAME)
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        return stage

    def _commit(self, staged: list[str], retired: list[str]) -> None:
        """COMMIT POINT: one ``os.replace`` of a journal naming the
        ``staged`` tables (directories in the stage) and the ``retired``
        ones, then the roll-forward (:func:`_apply_commit`)."""
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, STAGE_DIRNAME), prefix=".journal")
        with os.fdopen(fd, "w") as f:
            json.dump({"staged": staged, "retired": retired}, f)
        os.replace(tmp, os.path.join(self.root, JOURNAL))
        _apply_commit(self)

    def drop(self, table: str) -> None:
        """Remove the table's directory and forget its schema. A commit
        never leaves a table's old files beside it (they wait in the stage
        until the roll-forward ends), so nothing of it can come back."""
        shutil.rmtree(self._dir(table), ignore_errors=True)
        self.schemas.pop(table, None)

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
    analog for file-backed tables); every warehouse replay runs through it.
    A replayed insert is adopted (:meth:`adopt`): its payload files are
    hard-linked into the table, and only where that fails are the rows
    written by :meth:`insert`."""

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

    def adopt(self, table: str, payload_dir: str, tag: str, schema: StructType) -> bool:
        """Links a logged insert's payload files into ``table``
        (:meth:`Warehouse.adopt`); False means replay must insert the rows."""
        return self.wh.adopt(table, payload_dir, tag, schema)

    def insert(self, table: str, df: DataFrame) -> DataFrame:
        """Writes (or appends) ``df``; returns the rows that landed — the
        files this call added, read with ``df``'s schema, so an append's
        earlier files are not counted."""
        before = self.wh.files(table)
        if self.wh.exists(table):
            self.wh.append(table, df)
        else:
            self.wh.write(table, df)
        added = sorted(self.wh.files(table) - before)
        return self.wh.spark.read.schema(df.schema).parquet(*added)

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
    ``jdbc_mutations.JdbcTarget`` and its ``derby.DerbyTarget``,
    ``engine.FileTarget``); the module docstring lists how each record
    kind applies. ``on_opaque`` is ``"execute"``, ``"skip"`` or
    ``"error"``; the default is the target's ``on_opaque`` attribute, else
    ``"execute"`` (the reference carries source-dialect SQL to live
    targets).

    Returns the records that reached the target; skipped records are
    excluded, so callers can audit exactly what was applied. Nothing passes
    through the driver but the manifest: payloads stream through the
    target's set-oriented verbs, or are linked in whole by its ``adopt``.
    """
    on_opaque = on_opaque or getattr(target, "on_opaque", "execute")
    create_table = getattr(target, "create_table", None)
    create_view = getattr(target, "create_view", None)
    adopt = getattr(target, "adopt", None)
    applied: list[OpRecord] = []
    created: set[str] = set()
    for rec in read_manifest(log_path):
        df = payload = None
        if rec.payload:
            logged = rec.params.get("schema")
            schema = StructType.fromJson(logged) if logged is not None else None
            payload = os.path.join(log_path, rec.payload)
            _check_linked(rec, payload)
            df = read_parquet(spark, payload, schema)
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
            if adopt is None or not adopt(rec.table, payload, f"op{rec.seq:05d}", df.schema):
                target.insert(rec.table, df)
        elif rec.kind == "upsert":
            target.upsert(rec.table, df, rec.params["key_columns"])
        elif rec.kind == "delete":
            # key_columns is the current form; key_column the pre-composite
            # one. The target pairs the payload's columns (walk.key_frame).
            cols = rec.params.get("key_columns") or [rec.params["key_column"]]
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
    :class:`WarehouseTarget`; creates the logged views last, because a view
    made mid-log reads files that a later rewrite deletes. Returns the
    records that reached the warehouse."""
    target = WarehouseTarget(warehouse)
    applied = replay_into_target(spark, log_path, target, on_opaque=on_opaque)
    warehouse.create_views(target.views)
    return applied


class _StagingWarehouse(Warehouse):
    """Replay target rooted at a warehouse's stage: WRITES land in the
    stage while READS overlay stage-over-base — upsert/delete ops see prior
    staged state (or the untouched base table), and the base warehouse is
    never written until commit."""

    def __init__(self, spark: SparkSession, root: str, base: Warehouse):
        super().__init__(spark, root)
        self.base = base
        self.views: dict[str, str] = {}

    def _staged(self, table: str) -> bool:
        return os.path.isdir(os.path.join(self.root, table))

    def exists(self, table: str) -> bool:
        return self._staged(table) or self.base.exists(table)

    def read(self, table: str) -> DataFrame:
        return super().read(table) if self._staged(table) else self.base.read(table)

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
    at ``:367``); plain ``replay`` commits record by record, so a crashed
    replay is OBSERVABLE as a partially-applied warehouse (SURVEY §3.2's
    documented delta). This closes it with the warehouse's one commit
    protocol (module docstring): :func:`replay` every operation into the
    emptied stage through a :class:`_StagingWarehouse` — the target is
    never written — then commit every table the replay wrote with one
    journal, then create the logged views over the committed tables.

    A failure before the journal's rename leaves the target byte-identical
    (the next commit empties the stale stage); a failure after it is
    finished by the warehouse's next table access — so readers see either
    the pre-replay state or the fully-replayed one, never a prefix.
    Single-writer, like the reference's import. Returns the records that
    reached the warehouse."""
    stage = _StagingWarehouse(spark, warehouse._stage(), warehouse)
    applied = replay(spark, log_path, stage)
    warehouse._commit(sorted(stage.tables_written), [])
    warehouse.create_views(stage.views)
    return applied


def _apply_commit(warehouse: Warehouse) -> None:
    """The roll-forward of a pending journal, the one recovery rule, run
    by its :class:`Warehouse` (``_commit`` and ``_dir``). A live table is
    moved into ``<stage>/.old`` before its staged directory is renamed
    in, and a retired one is moved there too; a staged table already
    renamed in is skipped. Every step can be repeated, so a roll-forward
    cut anywhere is finished by the next one. The stage goes before the
    journal, so a pending journal is the only thing a cut can leave."""
    root = warehouse.root
    with open(os.path.join(root, JOURNAL)) as f:
        journal = json.load(f)
    stage = os.path.join(root, STAGE_DIRNAME)
    old = os.path.join(stage, ".old")
    os.makedirs(old, exist_ok=True)
    for t in journal["retired"]:
        if os.path.isdir(os.path.join(root, t)):
            os.replace(os.path.join(root, t), os.path.join(old, t))
        warehouse.tables_written.discard(t)
        warehouse.schemas.pop(t, None)
    for t in journal["staged"]:
        src, dst = os.path.join(stage, t), os.path.join(root, t)
        if os.path.isdir(src):
            if os.path.isdir(dst):
                os.replace(dst, os.path.join(old, t))
            os.replace(src, dst)
        warehouse.tables_written.add(t)
        warehouse.schemas.pop(t, None)  # the staged files replaced the table
    shutil.rmtree(stage)
    os.remove(os.path.join(root, JOURNAL))


def export_all(
    tables: dict[str, DataFrame],
    log_path: str,
    *,
    topo_order: list[str] | None = None,
    constraint_sql: list[str] | None = None,
    views: dict[str, str] | None = None,
    other_object_sql: list[str] | None = None,
    sources: dict[str, str] | None = None,
) -> None:
    """Full export pipeline (E1 / ``exportAll`` ``CopyUtils.java:966-1010``):
    table DDL → row data (in FK-safe topo order) → constraints AFTER data
    (the reference's load-order trick, §3.1.d) → views → other objects
    (triggers/sequences/packages) as opaque SQL a JDBC target may execute.
    ``sources`` names the parquet path a table's frame reads bare; that
    table's payload links the path's files (:meth:`OperationLogWriter.insert`),
    every other frame is written with Spark.
    """
    from oracle_schema_copy_spark.plans.ddl import export_schema_ddl

    order = topo_order or sorted(tables)
    sources = sources or {}
    with OperationLogWriter(log_path) as log:
        log.ddl([ddl for _, ddl in export_schema_ddl({t: tables[t] for t in order})])
        for t in order:
            log.insert(t, tables[t], sources.get(t))
        if constraint_sql:
            log.ddl(constraint_sql, opaque=True)
        for name, query in (views or {}).items():
            log.view(name, query)
        if other_object_sql:
            log.ddl(other_object_sql, opaque=True)
