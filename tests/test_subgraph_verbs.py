"""The subgraph verbs on the engine: ``copy_tree`` checks the copy on
what landed in the target, ``copy_tree`` and ``delete_tree`` release what
the walk cached, and repeated verbs start no schema-inference job.
Reference: the post-copy count assertion of ``copySelections``
(``CopyUtils.java:33-47``)."""

from __future__ import annotations

from dataclasses import dataclass

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.plans.oplog import Warehouse, WarehouseTarget

PATHS = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]
MULTI = ["NATION->CUSTOMER.C_NATIONKEY", "NATION->SUPPLIER.S_NATIONKEY", *PATHS,
         "SUPPLIER->LINEITEM.L_SUPPKEY"]


@pytest.fixture
def engine(spark, sf_dir):
    return Engine(spark, cat.tpch_catalog(sf_dir))


@dataclass
class DroppingTarget(WarehouseTarget):
    """A warehouse target that silently drops the rows of ``table`` that
    match ``drop`` on write."""

    table: str = ""
    drop: Column | None = None

    def insert(self, table, df):
        return super().insert(table, df.filter(~self.drop) if table == self.table else df)


def cached_blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(r.numCachedPartitions() for r in infos)


def test_dropped_keyed_rows_are_caught(engine, spark, tmp_path):
    """orders is a keyed selection: an order that never lands fails the
    key check, after the write."""
    target = DroppingTarget(Warehouse(spark, str(tmp_path / "wh")), table="orders",
                            drop=F.col("o_orderkey") % 2 == 0)
    with pytest.raises(AssertionError, match="selection copy of orders matched"):
        engine.copy_tree(target, PATHS, [1, 2, 3])


def test_dropped_leaf_rows_are_caught(engine, spark, tmp_path):
    """lineitem is a leaf selection: dropping every second line keeps each
    order's FK value present, so only the handed == landed rule sees it."""
    target = DroppingTarget(Warehouse(spark, str(tmp_path / "wh")), table="lineitem",
                            drop=F.col("l_linenumber") == 2)
    with pytest.raises(AssertionError, match="sink for lineitem was handed"):
        engine.copy_tree(target, PATHS, [1, 2, 3])


def test_same_seeds_twice_into_one_warehouse(engine, spark, tmp_path):
    """The second copy appends to tables that already hold the first: the
    check reads back only the files each call added."""
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    first = engine.copy_tree(target, PATHS, [1, 2, 3])
    second = engine.copy_tree(target, PATHS, [1, 2, 3])
    assert first == second and first["lineitem"] > 0
    assert {t: target.wh.read(t).count() for t in first} == {t: 2 * n for t, n in first.items()}


def test_verbs_leave_no_cached_blocks(engine, spark, tmp_path):
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    file_target = engine.create_file_target(str(tmp_path / "log"))
    before = cached_blocks(spark)
    engine.copy_tree(target, PATHS, [11, 12])
    assert cached_blocks(spark) == before
    engine.copy_tree(file_target, MULTI, [3])  # a union frontier on lineitem
    file_target.close()
    assert cached_blocks(spark) == before
    engine.delete_tree(target, PATHS, [11])
    assert cached_blocks(spark) == before
    dropping = DroppingTarget(Warehouse(spark, str(tmp_path / "wh2")), table="lineitem",
                              drop=F.col("l_linenumber") == 2)
    with pytest.raises(AssertionError, match="sink for lineitem"):
        engine.copy_tree(dropping, PATHS, [13])
    assert cached_blocks(spark) == before


def test_sink_that_writes_nothing_is_caught(engine, spark, tmp_path):
    """A sink that drops every row plans the write without the observed
    count; a missing count raises, it never reads as 0 == 0."""
    target = DroppingTarget(Warehouse(spark, str(tmp_path / "wh")), table="lineitem",
                            drop=F.lit(True))
    with pytest.raises(AssertionError, match="sink for lineitem"):
        engine.copy_tree(target, PATHS, [1, 2, 3])


def test_copy_tree_runs_one_check_action(engine, spark, tmp_path, monkeypatch):
    """The whole coverage check of a copy is one action after the writes:
    want and found sides of every table in one collect."""
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    cls = type(spark.range(1))  # the concrete class: Spark 4's classic DataFrame
    real = cls.collect
    calls = []

    def counting(self, *a, **kw):
        calls.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "collect", counting)
    rows = engine.copy_tree(target, PATHS, [1, 2, 3])
    monkeypatch.undo()
    assert len(calls) == 1
    assert rows == {t: target.wh.read(t).count() for t in rows} and rows["lineitem"] > 0


def test_repeated_verbs_run_no_schema_job(engine, spark, tmp_path, reader_jobs):
    """After the first call, copy_tree and delete_tree read every source,
    warehouse table and landed file with a known schema."""
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    engine.copy_tree(target, PATHS, [1, 2, 3])
    file_target = engine.create_file_target(str(tmp_path / "log"))

    def verbs():
        engine.copy_tree(target, PATHS, [4, 5])
        engine.copy_tree(file_target, PATHS, [6])
        engine.delete_tree(target, PATHS, [1])
        engine.delete_tree(target, PATHS, [4])

    jobs, reader = reader_jobs(verbs)
    file_target.close()
    assert jobs > 0 and reader == 0


def test_verb_job_counts(engine, spark, tmp_path, reader_jobs):
    """The exact Spark jobs of each subgraph verb, once every source's
    schema is known. A leaf copy: one broadcast of the seed frame and one
    of the orders frontier, three writes with their read-backs and the
    check (one stage per table, then the final one). A delete writes each
    table once, anti-joined by its (on, probe): no key frame derived from
    the source, no cached seed and no frontier distinct."""
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    warm = engine.create_file_target(str(tmp_path / "warm"))
    engine.copy_tree(target, PATHS, [1, 2, 3])
    engine.copy_tree(warm, MULTI, [2])
    warm.close()
    file_target = engine.create_file_target(str(tmp_path / "log"))
    jobs = {
        "leaf copy": reader_jobs(lambda: engine.copy_tree(target, PATHS, [4, 5]))[0],
        "multi copy": reader_jobs(lambda: engine.copy_tree(file_target, MULTI, [3]))[0],
        "delete": reader_jobs(lambda: engine.delete_tree(target, PATHS, [1]))[0],
    }
    file_target.close()
    assert jobs == {"leaf copy": 12, "multi copy": 26, "delete": 8}


@pytest.mark.parametrize("verb", ["copy_tree", "delete_tree"])
def test_empty_path_list_is_refused(engine, tmp_path, verb):
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="empty path list"):
        getattr(engine, verb)(target, [], [1])
