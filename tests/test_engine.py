from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources import jdbc


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


def test_delete_tree_payload_carries_composite_key(engine, spark, tmp_path):
    """Engine.delete_tree must hand targets the FULL composite key — the
    leading column alone would over-delete partial selections (and wrote
    duplicate keys into the payload before r4)."""
    from oracle_schema_copy_spark.plans import oplog

    log_path = str(tmp_path / "log")
    target = engine.create_file_target(log_path)
    engine.delete_tree(
        target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2]
    )
    target.close()
    recs = list(oplog.read_manifest(log_path))
    assert [r.table for r in recs] == ["lineitem", "orders", "customer"]  # child-first
    li = recs[0]
    assert li.params["key_columns"] == ["l_orderkey", "l_linenumber"]
    payload = spark.read.parquet(os.path.join(log_path, li.payload))
    assert set(payload.columns) == {"l_orderkey", "l_linenumber"}
    assert payload.count() == payload.distinct().count() > 0


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
