"""Spark 4 Python Data Source: the operation log as a queryable table.

``spark.read.format("oplog_history").load(path)`` returns one row per
logged operation with payload statistics — the engine's analog of a
lakehouse table's DESCRIBE HISTORY, answering "what is in this export?"
without replaying it (reference: the export FILE is opaque until
imported, `ImportFromFileTask.groovy` just replays it blind; re-expressed
as an inspectable source per SURVEY.md §2.1 S10).

Implementation notes (the Python Data Source API, SPARK-44076):
- ``partitions()`` plans ONE InputPartition per logged operation from the
  manifest (a metadata-sized driver read, like any catalog listing), so
  payload statistics for different ops are gathered in parallel on
  executors;
- per-op row counts/bytes come from parquet FOOTERS via pyarrow
  (``metadata.num_rows``) — no data pages are ever scanned, so cost is
  O(files), not O(rows), at any payload size;
- the manifest is only readable after the writer's atomic close-rename,
  so a half-written log reads as "no such log", never as a partial
  history; it is parsed by ``oplog.read_manifest``, the one reader of the
  log format.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from oracle_schema_copy_spark.plans.oplog import OpRecord, read_manifest

_SCHEMA = (
    "seq bigint, kind string, table_name string, payload_dir string, "
    "n_statements int, n_files int, n_rows bigint, n_bytes bigint"
)


class _OpPartition(InputPartition):
    def __init__(self, base: str, record: OpRecord):
        self.base = base
        self.record = record


class OplogHistoryReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("oplog_history requires a load(path)")
        self.base = path

    def partitions(self):
        return [_OpPartition(self.base, rec) for rec in read_manifest(self.base)]

    def read(self, partition: _OpPartition):
        import pyarrow.parquet as pq

        r = partition.record
        n_statements = len(r.params.get("statements", ()))
        n_files = 0
        n_rows = 0
        n_bytes = 0
        if r.payload:
            pdir = os.path.join(partition.base, r.payload)
            for name in sorted(os.listdir(pdir)):
                if not name.endswith(".parquet"):
                    continue
                fpath = os.path.join(pdir, name)
                n_files += 1
                n_rows += pq.ParquetFile(fpath).metadata.num_rows
                n_bytes += os.path.getsize(fpath)
        yield (r.seq, r.kind, r.table, r.payload, n_statements, n_files, n_rows, n_bytes)


class OplogHistoryDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "oplog_history"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> OplogHistoryReader:
        return OplogHistoryReader(self.options)


def register(spark) -> None:
    """Idempotently register the data source on a session."""
    spark.dataSource.register(OplogHistoryDataSource)
