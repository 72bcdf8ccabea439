"""One commit protocol for every mutable parquet table (plans/oplog.py's
module docstring): each verb that replaces a table directory — warehouse
delete and upsert, a two-table ``replay_atomic``, merge-on-read
``compact`` and the streaming upsert sink — is cut at each of its
``os.replace`` / ``os.rename`` / ``shutil.rmtree`` calls in turn.

After every cut, a fresh warehouse (or merge-on-read table) reads every
table as exactly its old rows, or exactly its new rows once the journal's
rename has happened, and so does one
that first commits something unrelated (a pending journal must be rolled
forward before anything empties the stage). The retried verb then
succeeds and leaves no stage, journal or trash behind."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources.mor import MergeOnReadTable
from oracle_schema_copy_spark.sources.tables import load_table
from oracle_schema_copy_spark.streaming import ops


class _Cut(Exception):
    pass


def _cut_at(monkeypatch, k: int) -> list[str]:
    """The k-th call (1-based; 0 for none) of ``os.replace``,
    ``os.rename`` or ``shutil.rmtree`` raises instead of running. Returns
    the list the calls are recorded in."""
    calls: list[str] = []

    def wrap(real):
        def cut(*args, **kwargs):
            calls.append(f"{real.__name__}({args[0]})")
            if len(calls) == k:
                raise _Cut(f"cut at call {k}: {calls[-1]}")
            return real(*args, **kwargs)

        return cut

    monkeypatch.setattr(os, "replace", wrap(os.replace))
    monkeypatch.setattr(os, "rename", wrap(os.rename))
    monkeypatch.setattr(shutil, "rmtree", wrap(shutil.rmtree))
    return calls


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@dataclass
class Verb:
    setup: Callable[[str], None]  # the old state under a case root
    run: Callable[[str], None]  # the verb, on fresh objects
    state: Callable[[str], object]  # every table's rows, read fresh
    warehouse: Callable[[str], str]  # the root whose entries are checked
    entries: list[str]  # that root's entries after a successful verb


def _verbs(spark, sf_dir: str, tmp: str) -> dict[str, Verb]:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    key = F.col("n_nationkey")

    def wh(root: str) -> oplog.Warehouse:
        return oplog.Warehouse(spark, root)

    def nation_only(root: str) -> dict:
        return {"nation": _rows(wh(root).read("nation"))}

    def mutate(root: str, verb: str) -> None:
        target = oplog.WarehouseTarget(wh(root))
        if verb == "delete":
            target.delete("nation", "n_nationkey", nation.filter(key < 5))
        else:
            target.upsert(
                "nation", nation.filter(key < 10).withColumn("n_name", F.lit("x")), ["n_nationkey"]
            )

    log = os.path.join(tmp, "log")

    def old_pair(root: str) -> None:
        with oplog.OperationLogWriter(log) as lg:
            lg.insert("nation", nation)
            lg.insert("region", region)
            lg.delete("nation", "n_nationkey", nation.filter(key < 3))
        wh(root).write("nation", nation.filter(key < 5))
        wh(root).write("region", region.filter(F.col("r_regionkey") < 2))

    def pair(root: str) -> dict:
        return {"nation": _rows(wh(root).read("nation")), "region": _rows(wh(root).read("region"))}

    kv = "k long, v string"

    def mor_setup(root: str) -> None:
        # a later delete hides an earlier upsert: losing the delete batch
        # without the upsert batch brings key 1 back as (1, 'u1')
        t = MergeOnReadTable(spark, root, ["k"])
        t.write_base(spark.createDataFrame([(1, "a"), (2, "b")], kv))
        t.upsert(spark.createDataFrame([(1, "u1")], kv))
        t.delete_keys(spark.createDataFrame([(1,)], "k long"))

    def mor_state(root: str) -> tuple:
        t = MergeOnReadTable(spark, root, ["k"])
        return _rows(t.read()), _rows(t.wh.read("base")), t.stats()

    src = os.path.join(tmp, "src")

    def flat(i: int, v) -> None:
        """Add the stream's i-th file: keys [5i, 5i + 10) with value ``v``."""
        part = os.path.join(tmp, f"part{i}")
        rows = nation.filter(key.between(5 * i, 5 * i + 9))
        rows.select(key.cast("long").alias("k"), v.alias("v")).coalesce(1).write.parquet(part)
        (f,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        os.makedirs(src, exist_ok=True)
        os.rename(os.path.join(part, f), os.path.join(src, f"{i}.parquet"))

    def sink(root: str) -> None:
        stream = spark.readStream.schema(kv).option("maxFilesPerTrigger", 1).parquet(src)
        ops.stream_upsert_to_parquet(
            stream, os.path.join(root, "wh", "serving"), ["k"], os.path.join(root, "ckpt")
        )

    def sink_setup(root: str) -> None:
        flat(0, F.col("n_name"))
        sink(root)  # the old state: the first file's batch
        flat(1, F.lit("x"))  # the verb: the batch of the second file

    return {
        "delete": Verb(
            lambda r: wh(r).write("nation", nation),
            lambda r: mutate(r, "delete"),
            nation_only,
            lambda r: r,
            ["nation"],
        ),
        "upsert": Verb(
            lambda r: wh(r).write("nation", nation),
            lambda r: mutate(r, "upsert"),
            nation_only,
            lambda r: r,
            ["nation"],
        ),
        "replay_atomic": Verb(
            old_pair, lambda r: oplog.replay_atomic(spark, log, wh(r)), pair, lambda r: r,
            ["nation", "region"],
        ),
        "compact": Verb(
            mor_setup,
            lambda r: MergeOnReadTable(spark, r, ["k"]).compact(),
            mor_state,
            lambda r: r,
            ["base"],
        ),
        "sink": Verb(
            sink_setup,
            sink,
            lambda r: {"serving": _rows(wh(os.path.join(r, "wh")).read("serving"))},
            lambda r: os.path.join(r, "wh"),
            ["serving"],
        ),
    }


@pytest.mark.parametrize("name", ["delete", "upsert", "replay_atomic", "compact", "sink"])
def test_every_cut_reads_old_or_new_and_the_retry_commits(spark, sf_dir, tmp_path, monkeypatch, name):
    verb = _verbs(spark, sf_dir, str(tmp_path))[name]
    template = str(tmp_path / "template")
    verb.setup(template)
    old = verb.state(template)

    def case(tag: str) -> str:
        root = str(tmp_path / tag)
        shutil.copytree(template, root)
        return root

    root = case("uncut")
    calls = _cut_at(monkeypatch, 0)
    verb.run(root)
    monkeypatch.undo()
    new = verb.state(root)
    assert new != old
    assert sorted(os.listdir(verb.warehouse(root))) == verb.entries
    assert calls, "the verb replaced no directory"

    for k in range(1, len(calls) + 1):
        root = case(f"cut{k}")
        _cut_at(monkeypatch, k)
        with pytest.raises(Exception, match=f"cut at call {k}:"):
            verb.run(root)
        monkeypatch.undo()
        read, other = f"{root}_read", f"{root}_other"
        shutil.copytree(root, read)
        shutil.copytree(root, other)
        # committed exactly when the journal's rename happened
        committed = os.path.isfile(os.path.join(verb.warehouse(root), oplog.JOURNAL))
        seen = verb.state(read)
        assert seen == (new if committed else old), f"{calls[k - 1]}: {seen}"
        oplog.Warehouse(spark, verb.warehouse(other)).replace({"unrelated": None})
        assert verb.state(other) == seen, calls[k - 1]

        verb.run(root)
        assert verb.state(root) == new, calls[k - 1]
        assert sorted(os.listdir(verb.warehouse(root))) == verb.entries, calls[k - 1]
