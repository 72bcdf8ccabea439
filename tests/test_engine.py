from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources import jdbc
from tests.oracle_check import duck_connection, mismatch


@pytest.fixture
def engine(spark, sf_dir):
    return Engine(spark, cat.tpch_catalog(sf_dir))


def test_copy_tree_via_file_target_then_import(engine, spark, tmp_path):
    log_path = str(tmp_path / "log")
    wh_path = str(tmp_path / "wh")
    target = engine.create_file_target(log_path)
    counts = engine.copy_tree(
        target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2, 3]
    )
    target.close()
    assert counts["customer"] == 3 and counts["orders"] > 0 and counts["lineitem"] > 0

    wh = engine.import_schema(log_path, wh_path)
    assert wh.read("customer").count() == 3
    assert wh.read("lineitem").count() == counts["lineitem"]


def test_copy_tree_counts_come_from_the_walk_check(engine, tmp_path, monkeypatch):
    """copy_tree's per-table row counts ride on the walk's fused coverage
    check: no DataFrame.count() recount per copied table."""
    target = engine.create_warehouse_target(str(tmp_path / "wh"))
    expected = {
        "customer": 3,
        "orders": engine.table("orders").filter(F.col("o_custkey").isin([1, 2, 3])).count(),
    }

    def no_count(self):
        raise AssertionError("copy_tree recounted a copied table")

    # the concrete class: Spark 4's classic DataFrame overrides count()
    monkeypatch.setattr(type(engine.table("orders")), "count", no_count)
    counts = engine.copy_tree(target, ["CUSTOMER->ORDERS.O_CUSTKEY"], [1, 2, 3])
    monkeypatch.undo()
    assert counts == expected
    assert target.wh.read("orders").count() == expected["orders"]


def test_delete_tree_child_first_on_warehouse(engine, spark, tmp_path):
    wh_target = engine.create_warehouse_target(str(tmp_path / "wh"))
    # seed warehouse with full copies
    for t in ("customer", "orders", "lineitem"):
        wh_target.insert(t, engine.table(t))
    engine.delete_tree(
        wh_target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2]
    )
    wh = wh_target.wh
    assert wh.read("customer").filter(F.col("c_custkey").isin([1, 2])).count() == 0
    assert (
        wh.read("orders").join(
            engine.table("orders").filter(F.col("o_custkey").isin([1, 2])),
            "o_orderkey",
            "left_semi",
        ).count()
        == 0
    )


def _delete_tree_replayed(engine, spark, tmp_path, paths, seeds):
    """delete_tree into a file target, replayed into a warehouse holding
    full copies of the walked tables; returns the log's records and the
    warehouse."""
    tables = sorted(cat.tables_from_paths(paths))
    wh_target = engine.create_warehouse_target(str(tmp_path / "wh"))
    for t in tables:
        wh_target.insert(t, engine.table(t))
    log_path = str(tmp_path / "log")
    target = engine.create_file_target(log_path)
    engine.delete_tree(target, paths, seeds)
    target.close()
    oplog.replay(spark, log_path, wh_target.wh)
    return list(oplog.read_manifest(log_path)), log_path, wh_target.wh


def _assert_survivors(sf_dir, wh, expected: dict[str, str]):
    con = duck_connection(sf_dir)
    for t, where in expected.items():
        why = mismatch(wh.read(t).toPandas(), con.sql(f"SELECT * FROM {t} WHERE {where}").df())
        assert why is None, f"{t}: {why}"


def test_delete_tree_payload_carries_composite_key(engine, spark, sf_dir, tmp_path):
    """A leaf delete record carries the leaf's FK column and the parent's
    keys: it removes every lineitem of a deleted order. Replayed, it
    leaves exactly the rows DuckDB keeps."""
    paths = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]
    recs, log_path, wh = _delete_tree_replayed(engine, spark, tmp_path, paths, [1, 2])
    assert [r.table for r in recs] == ["lineitem", "orders", "customer"]  # child-first
    li = recs[0]
    assert li.params["key_columns"] == ["l_orderkey"]
    payload = spark.read.parquet(os.path.join(log_path, li.payload))
    assert payload.columns == ["l_orderkey"] and payload.count() > 0
    orders = "SELECT o_orderkey FROM orders WHERE o_custkey IN (1, 2)"
    _assert_survivors(sf_dir, wh, {
        "customer": "c_custkey NOT IN (1, 2)",
        "orders": "o_custkey NOT IN (1, 2)",
        "lineitem": f"l_orderkey NOT IN ({orders})",
    })


def test_delete_tree_union_reached_leaf_carries_full_key(engine, spark, sf_dir, tmp_path):
    """lineitem reached by two edges is an exact selection: its delete
    record carries the full composite key, and replay removes exactly the
    (l_orderkey, l_linenumber) tuples of the reached rows."""
    paths = ["NATION->CUSTOMER.C_NATIONKEY", "NATION->SUPPLIER.S_NATIONKEY",
             "CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY",
             "SUPPLIER->LINEITEM.L_SUPPKEY"]
    recs, log_path, wh = _delete_tree_replayed(engine, spark, tmp_path, paths, [3])
    assert recs[0].table == "lineitem"
    assert recs[0].params["key_columns"] == ["l_orderkey", "l_linenumber"]
    payload = spark.read.parquet(os.path.join(log_path, recs[0].payload))
    assert payload.columns == ["l_orderkey", "l_linenumber"] and payload.count() > 0
    custs = "SELECT c_custkey FROM customer WHERE c_nationkey = 3"
    reached = (
        "SELECT 1 FROM lineitem d WHERE d.l_orderkey = l.l_orderkey"
        " AND d.l_linenumber = l.l_linenumber AND (d.l_suppkey IN"
        " (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3) OR d.l_orderkey IN"
        f" (SELECT o_orderkey FROM orders WHERE o_custkey IN ({custs})))"
    )
    con = duck_connection(sf_dir)
    want = con.sql(f"SELECT * FROM lineitem l WHERE NOT EXISTS ({reached})").df()
    assert mismatch(wh.read("lineitem").toPandas(), want) is None
    _assert_survivors(sf_dir, wh, {
        "nation": "n_nationkey <> 3",
        "supplier": "s_nationkey <> 3",
        "customer": "c_nationkey <> 3",
        "orders": f"o_custkey NOT IN ({custs})",
    })


def test_copy_and_update_verbs(engine, tmp_path):
    wh_target = engine.create_warehouse_target(str(tmp_path / "wh"))
    engine.copy(wh_target, "nation")
    assert wh_target.wh.read("nation").count() == 25
    updates = engine.table("nation").withColumn("n_name", F.upper(F.col("n_name")))
    engine.update(wh_target, "nation", updates)
    assert wh_target.wh.read("nation").filter(F.col("n_name") != F.upper(F.col("n_name"))).count() == 0


def test_export_import_schema_end_to_end(spark, src_dir, tmp_path):
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    log_path = str(tmp_path / "log")
    engine.export_schema(["region", "nation"], log_path)
    wh = engine.import_schema(log_path, str(tmp_path / "wh"))
    assert wh.read("region").count() == 5
    assert wh.read("nation").count() == 25


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_export_links_catalog_tables_without_a_spark_job(spark, src_dir, tmp_path, reader_jobs):
    """export_schema links each bare catalog table's parquet file into its
    payload (same inode, no Spark job once the schemas are known), records
    the link's size and mtime, and a warehouse replay reproduces the rows."""
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    tpch = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    want = {t: _rows(engine.table(t)) for t in tpch}
    log = str(tmp_path / "log")
    jobs, _ = reader_jobs(lambda: engine.export_schema(tpch, log))
    assert jobs == 0
    inserts = [r for r in oplog.read_manifest(log) if r.kind == "insert"]
    assert sorted(r.table for r in inserts) == sorted(tpch)
    for rec in inserts:
        payload = os.path.join(log, rec.payload)
        src = os.path.join(src_dir, f"{rec.table}.parquet")
        name = f"{rec.table}.parquet"
        assert os.listdir(payload) == [name]
        assert os.stat(os.path.join(payload, name)).st_ino == os.stat(src).st_ino
        st = os.stat(src)
        assert rec.params["linked"] == {name: [st.st_size, st.st_mtime_ns]}
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert {t: _rows(wh.read(t)) for t in tpch} == want


def test_export_writes_the_converted_events_table(spark, src_dir, tmp_path):
    """events is converted after its read, so its payload is written by
    Spark: no file of it shares the source's inode."""
    engine = Engine(spark, cat.tpch_catalog(src_dir))
    log = str(tmp_path / "log")
    engine.export_schema(["events"], log)
    (rec,) = [r for r in oplog.read_manifest(log) if r.kind == "insert"]
    assert "linked" not in rec.params
    src = os.stat(os.path.join(src_dir, "events.parquet"))
    payload = os.path.join(log, rec.payload)
    assert src.st_nlink == 1
    assert all(os.stat(os.path.join(payload, f)).st_ino != src.st_ino for f in os.listdir(payload))
    wh = engine.import_schema(log, str(tmp_path / "wh"))
    assert _rows(wh.read("events")) == _rows(engine.table("events"))


def test_prod_guard():
    with pytest.raises(jdbc.ProductionGuardError):
        jdbc.prod_check("jdbc:oracle:thin:@prod-db:1521/ORCL")
    jdbc.prod_check("jdbc:oracle:thin:@prod-db:1521/ORCL", allow_production=True)
    jdbc.prod_check("jdbc:oracle:thin:@dev-db:1521/ORCL")


def test_jdbc_options_shape():
    conn = jdbc.JdbcConnection(
        url="jdbc:oracle:thin:@host:1521/X", user="u", password="p", driver="oracle.jdbc.OracleDriver"
    )
    opts = conn.spark_options()
    assert opts["url"].startswith("jdbc:oracle")
    assert {"user", "password", "driver"} <= set(opts)
    assert "tables" in jdbc.ORACLE_DICTIONARY_QUERIES
