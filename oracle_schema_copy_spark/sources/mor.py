"""Merge-on-read parquet table: key-level deletes and upserts WITHOUT
rewriting base data files.

The reference mutates rows only through live JDBC statements
(`DeleteByPk.java:15-43`, `ExecuteTableUpdate` batches) and replays its
serialized operation log strictly in order (`CopyUtils.java:353-375`);
our staged-swap upsert (`operators/mutate.py`, K4/K5) re-expresses the
former as copy-on-write — correct, but a copy-on-write of a 100 TB table
rewrites 100 TB to delete a million rows. This module is the
merge-on-read counterpart (the Iceberg v2 / Delta deletion-vector
pattern re-expressed on plain parquet): mutations append small KEY
files; readers subtract them.

Layout under the table root:
    base/      data parquet (immutable between compactions)
    deletes/   key-only parquet, one directory per delete batch
    updates/   full-row parquet, one directory per upsert batch

Every batch — delete or upsert — carries a table-wide monotonically
increasing sequence number (in the directory name AND as a ``__seq``
column on every row), forming ONE ordered mutation log across both
kinds, the same ordered-replay semantic the oplog honors.

Read semantics (documented contract, mirrored by every SQL oracle):
    for each key, the mutation with the HIGHEST sequence number wins —
    a delete hides the key, an upsert replaces the row; keys with no
    mutation come from base. upsert(k) -> delete(k) -> upsert(k) reads
    back the final upsert; upsert(k) -> delete(k) reads back nothing.
    Within a single upsert batch, duplicate keys resolve arbitrarily
    (caller contract: one row per key per batch).

Ordered replay is evaluated RELATIONALLY, not iteratively: last-writer-
wins per key is one argmax over (key, __seq) on the union of the (small)
mutation log — a window over log rows only, never over base. The base
table contributes one broadcast anti-join against the mutated keys;
base file scans stay pruned/pushed-down because read() is plain
DataFrame composition over parquet scans.

The table root is an ``oplog.Warehouse`` whose tables are ``base``,
``deletes`` and ``updates``, so it commits the way every mutable parquet
table here does (``oplog``'s module docstring). ``compact()`` folds the log
into a new base, bounding read amplification, and replaces ``base`` and
retires both logs in ONE warehouse commit (``Warehouse.replace``): a cut
compaction reads as the old base with its whole log or the new base with
none, never as a base beside part of its log, which would bring back a key
that a later delete hid. ``stats()`` reports the log size that triggers
compaction.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oracle_schema_copy_spark.operators.walk import _keyed_join, key_frame
from oracle_schema_copy_spark.plans.oplog import Warehouse


class MergeOnReadTable:
    def __init__(self, spark: SparkSession, path: str, key_columns: Sequence[str]):
        self.spark = spark
        self.path = path
        self.key_columns = list(key_columns)
        self.wh = Warehouse(spark, path)

    # -- write side ---------------------------------------------------------

    def write_base(self, df: DataFrame) -> None:
        self.wh.write("base", df)

    def _next_seq(self) -> int:
        """Next table-wide sequence number: 1 + max over BOTH log kinds.
        Driver-side directory listing only — the log is batch metadata,
        bounded by compaction, never data-sized."""
        seqs = [
            int(os.path.basename(d).split("_")[1])
            for d in self._log("deletes") + self._log("updates")
        ]
        return max(seqs, default=0) + 1

    def _batch_dir(self, kind: str, seq: int) -> str:
        # zero-padded seq first so the lexicographic sort in _log() IS
        # sequence order; uuid suffix keeps concurrent-writer dirs unique
        return f"{self.path}/{kind}/b_{seq:010d}_{uuid.uuid4().hex[:8]}"

    def delete_keys(self, keys: DataFrame) -> None:
        """Append a delete batch: ``keys`` pairs with ``key_columns`` by
        ``walk.key_frame``, and the batch stores only the key columns."""
        keys = key_frame(keys, self.key_columns)
        seq = self._next_seq()
        keys.withColumn(
            "__seq", F.lit(seq).cast("long")
        ).write.mode("overwrite").parquet(self._batch_dir("deletes", seq))

    def upsert(self, rows: DataFrame) -> None:
        """Append an upsert batch: full rows, keyed by ``key_columns``."""
        seq = self._next_seq()
        rows.withColumn("__seq", F.lit(seq).cast("long")).write.mode(
            "overwrite"
        ).parquet(self._batch_dir("updates", seq))

    # -- read side ----------------------------------------------------------

    def _log(self, kind: str) -> list[str]:
        if not self.wh.exists(kind):
            return []
        d = f"{self.path}/{kind}"
        return sorted(
            f"{d}/{b}" for b in os.listdir(d) if b.startswith("b_")
        )

    @staticmethod
    def _seq_of(batch_dir: str) -> int:
        return int(os.path.basename(batch_dir).split("_")[1])

    def read(self, as_of_seq: int | None = None) -> DataFrame:
        """Current-state read, or a TIME-TRAVEL read when ``as_of_seq`` is
        given: only mutation batches with seq <= as_of_seq are replayed,
        reproducing the table exactly as it stood after that batch —
        free on this layout, since the log is append-only and sequenced
        (the Delta/Iceberg snapshot-isolation read re-expressed)."""
        base = self.wh.read("base")
        del_dirs = self._log("deletes")
        upd_dirs = self._log("updates")
        if as_of_seq is not None:
            del_dirs = [d for d in del_dirs if self._seq_of(d) <= as_of_seq]
            upd_dirs = [d for d in upd_dirs if self._seq_of(d) <= as_of_seq]
        if not del_dirs and not upd_dirs:
            return base
        updates = (
            self.spark.read.parquet(*upd_dirs) if upd_dirs else None
        )
        # one ordered log across both kinds: (key, __seq, __del)
        parts = []
        if del_dirs:
            parts.append(
                self.spark.read.parquet(*del_dirs).select(
                    *self.key_columns, "__seq", F.lit(True).alias("__del")
                )
            )
        if updates is not None:
            parts.append(
                updates.select(
                    *self.key_columns, "__seq", F.lit(False).alias("__del")
                )
            )
        muts = parts[0]
        for p in parts[1:]:
            muts = muts.unionByName(p)
        # last-writer-wins per key: window over LOG rows only (the log is
        # small by construction; compact() bounds it)
        w = Window.partitionBy(*self.key_columns).orderBy(F.desc("__seq"))
        winner = (
            muts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        live = _keyed_join(base, self.key_columns, muts, "left_anti")
        if updates is None:
            return live
        win_upserts = winner.filter(~F.col("__del")).select(
            *self.key_columns, "__seq"
        )
        data_cols = [c for c in updates.columns if c != "__seq"]
        # join the winning (key, seq) pairs back to fetch the upsert
        # payload — log-sized join, broadcast by the planner
        replayed = updates.join(
            win_upserts, [*self.key_columns, "__seq"]
        ).select(*data_cols)
        return live.unionByName(replayed)

    # -- maintenance --------------------------------------------------------

    def stats(self) -> dict:
        return {
            "n_delete_batches": len(self._log("deletes")),
            "n_update_batches": len(self._log("updates")),
        }

    def compact(self) -> None:
        """Fold the mutation log into a fresh base and retire the log in
        one warehouse commit — the read-amplification bound. Readers
        opened after the commit see identical rows."""
        self.wh.replace({"base": self.read(), "deletes": None, "updates": None})
