"""One keyed-join rule: every semi/anti join of a frame to a key frame
joins ``on=`` the key column names and keeps the frame's column order.

A Column-reference condition (``df[c] == keys[c]``) between a frame and
a key frame taken from that same frame is correct only through Spark's
self-join auto-resolution (SPARK-6231); with it off, such a delete
removed every row and such a copy failed its check. The counts below
are computed on the driver from the small fixture, with no join."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.operators import mutate, walk
from oracle_schema_copy_spark.plans.oplog import Warehouse, WarehouseTarget
from oracle_schema_copy_spark.sources.mor import MergeOnReadTable
from oracle_schema_copy_spark.sources.tables import load_tables

# lineitem is reached by two edges, so its selection is exact (keyed)
MULTI = [
    "NATION->CUSTOMER.C_NATIONKEY",
    "NATION->SUPPLIER.S_NATIONKEY",
    "CUSTOMER->ORDERS.O_CUSTKEY",
    "ORDERS->LINEITEM.L_ORDERKEY",
    "SUPPLIER->LINEITEM.L_SUPPKEY",
]
NAMES = ("nation", "customer", "supplier", "orders", "lineitem")
NATION = 19  # has customers and a supplier in the fixture


@pytest.fixture
def no_self_join_resolution(spark):
    key = "spark.sql.selfJoinAutoResolveAmbiguity"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def multi(spark, sf_dir):
    """The catalog, the tables, and per table the (selected, total) row
    counts of the MULTI walk from ``NATION``."""
    tables = load_tables(spark, sf_dir, NAMES)

    def col(t, *cs):
        return [tuple(r) for r in tables[t].select(*cs).collect()]

    cust = {k for k, n in col("customer", "c_custkey", "c_nationkey") if n == NATION}
    supp = {k for k, n in col("supplier", "s_suppkey", "s_nationkey") if n == NATION}
    orders = col("orders", "o_orderkey", "o_custkey")
    okeys = {k for k, c in orders if c in cust}
    # lineitem's selection is its (l_orderkey, l_linenumber) key tuples,
    # which repeat in the fixture: every row sharing a reached tuple goes
    lines = col("lineitem", "l_orderkey", "l_linenumber", "l_suppkey")
    pks = {(o, n) for o, n, s in lines if o in okeys or s in supp}
    selected = {
        "nation": 1,
        "customer": len(cust),
        "supplier": len(supp),
        "orders": len(okeys),
        "lineitem": sum(1 for o, n, _ in lines if (o, n) in pks),
    }
    totals = {
        "nation": tables["nation"].count(),
        "customer": len(col("customer", "c_custkey")),
        "supplier": len(col("supplier", "s_suppkey")),
        "orders": len(orders),
        "lineitem": len(lines),
    }
    assert all(selected.values()), selected
    return cat.tpch_catalog(sf_dir), tables, selected, totals


def test_walk_delete_and_copy_without_self_join_resolution(
    spark, multi, no_self_join_resolution
):
    c, tables, selected, totals = multi
    surviving = walk.delete_tree(spark, tables, c, MULTI, [NATION])
    assert {t: df.count() for t, df in surviving.items()} == {
        t: totals[t] - selected[t] for t in NAMES
    }
    copied, rows = walk.copy_tree(spark, tables, c, MULTI, [NATION])
    assert rows == {t: df.count() for t, df in copied.items()} == selected


def test_delete_by_keys_from_the_target_without_self_join_resolution(
    spark, multi, no_self_join_resolution
):
    orders = multi[1]["orders"]
    gone = sum(1 for (k,) in orders.select("o_orderkey").collect() if k < 100)
    assert gone > 0
    left = mutate.delete_by_keys(orders, "o_orderkey", orders.filter("o_orderkey < 100"))
    assert left.count() == multi[3]["orders"] - gone


def test_engine_delete_tree_into_warehouse_without_self_join_resolution(
    spark, multi, tmp_path, no_self_join_resolution
):
    c, _, selected, totals = multi
    engine = Engine(spark, c)
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    for t in NAMES:
        engine.copy(target, t)
    engine.delete_tree(target, MULTI, [NATION])
    assert {t: target.wh.read(t).count() for t in NAMES} == {
        t: totals[t] - selected[t] for t in NAMES
    }


# -- column order -------------------------------------------------------------

COLS = ["name", "id", "v"]  # the key is not the first column
SCHEMA = "name string, id long, v string"
BASE = [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")]
UPDATES = [("B", 2, "Y"), ("d", 4, "w")]


def test_merge_upsert_keeps_column_order(spark):
    target = spark.createDataFrame(BASE, SCHEMA)
    merged = mutate.merge_upsert(target, spark.createDataFrame(UPDATES, SCHEMA), "id")
    assert merged.columns == COLS
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        [("a", 1, "x"), ("c", 3, "z"), *UPDATES]
    )


def test_mor_read_keeps_column_order(spark, tmp_path):
    t = MergeOnReadTable(spark, str(tmp_path / "mor"), ["id"])
    t.write_base(spark.createDataFrame(BASE, SCHEMA))
    assert t.read().columns == COLS
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert t.read().columns == COLS
    t.upsert(spark.createDataFrame(UPDATES, SCHEMA))
    read = t.read()
    assert read.columns == COLS
    assert sorted(tuple(r) for r in read.collect()) == sorted([("c", 3, "z"), *UPDATES])


def test_warehouse_files_keep_column_order(spark, tmp_path):
    """insert → upsert → insert leaves every file of the table in the
    table's column order."""
    target = WarehouseTarget(Warehouse(spark, str(tmp_path / "wh")))
    target.insert("t", spark.createDataFrame(BASE, SCHEMA))
    target.upsert("t", spark.createDataFrame(UPDATES, SCHEMA), "id")
    target.insert("t", spark.createDataFrame([("e", 5, "v")], SCHEMA))
    files = target.wh.files("t")
    assert files
    assert {tuple(pq.read_schema(f).names) for f in files} == {tuple(COLS)}
    assert target.wh.read("t").filter(F.col("id") == 2).first().name == "B"
