"""One target boundary: every target pairs a delete's key frame with its
key columns the same way (``walk.key_frame``: by name when every key
column is in the frame, else by position with an arity check), and the
live database has one target class whose dialect comes from its URL.
Reference: one DeleteByPk operation applied by one ExecuteTarget
(DeleteByPk.java:15-43, ExecuteTarget.java:12-32)."""

from __future__ import annotations

import pytest

from oracle_schema_copy_spark.catalog import Catalog
from oracle_schema_copy_spark.engine import Engine, FileTarget
from oracle_schema_copy_spark.plans.oplog import (
    OperationLogWriter,
    Warehouse,
    WarehouseTarget,
    replay,
)
from oracle_schema_copy_spark.sources import derby
from oracle_schema_copy_spark.sources import jdbc_mutations as jm
from oracle_schema_copy_spark.sources.dialects import get_dialect
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection, read_table

KEYS = ["a", "b"]
SCHEMA = "a long, b long, v string"
BASE = [(1, 10, "x"), (2, 20, "y"), (3, 30, "z")]


def _file_replay(spark, root):
    """FileTarget logs insert + delete; replay applies them to a warehouse."""

    def run(table, keys):
        log = OperationLogWriter(f"{root}/{table}_log")
        target = FileTarget(log)
        target.insert(table, spark.createDataFrame(BASE, SCHEMA))
        target.delete(table, KEYS, keys)
        log.close()
        wh = Warehouse(spark, f"{root}/{table}_wh")
        replay(spark, log.path, wh)
        return wh.read(table)

    return run, lambda: None


def _warehouse(spark, root):
    target = WarehouseTarget(Warehouse(spark, f"{root}/wh"))

    def run(table, keys):
        target.insert(table, spark.createDataFrame(BASE, SCHEMA))
        target.delete(table, KEYS, keys)
        return target.wh.read(table)

    return run, lambda: None


def _derby(spark, root):
    target = derby.DerbyTarget(spark, f"{root}/db")

    def run(table, keys):
        base = spark.createDataFrame(BASE, SCHEMA)
        target.create_table(table, base.schema, primary_key=KEYS)
        target.insert(table, base)
        target.delete(table, KEYS, keys)
        return target.read(table, base.columns)

    return run, target.close


def _db_target_derby_url(spark, root):
    db = f"{root}/dbt"
    target = Engine(spark, Catalog()).create_db_target(derby.embedded_connection(spark, db))

    def run(table, keys):
        base = spark.createDataFrame(BASE, SCHEMA)
        target.execute_sql(
            [get_dialect("derby").create_table_sql(table, base.schema, primary_key=KEYS)]
        )
        target.insert(table, base)
        target.delete(table, KEYS, keys)
        return derby.fold_names(read_table(spark, target.conn, table.upper()), base.columns)

    return run, lambda: derby.shutdown(spark, db)


TARGETS = {
    "file_replay": _file_replay,
    "warehouse": _warehouse,
    "derby": _derby,
    "db_target_derby_url": _db_target_derby_url,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(TARGETS))
def test_delete_pairs_key_frame_one_way(spark, tmp_path, kind):
    run, close = TARGETS[kind](spark, str(tmp_path))
    try:
        # (i) the key names in another order pair by name
        by_name = spark.createDataFrame([(20, 2)], "b long, a long")
        assert _rows(run("t_name", by_name)) == [(1, 10, "x"), (3, 30, "z")]
        # (ii) other names pair by position
        by_position = spark.createDataFrame([(3, 30)], "x long, y long")
        assert _rows(run("t_pos", by_position)) == [(1, 10, "x"), (2, 20, "y")]
        # (iii) a frame of the wrong arity raises — the leading key column
        # alone would delete every row that matches on it
        with pytest.raises(ValueError, match="arity"):
            run("t_arity", spark.createDataFrame([(2,)], "a long"))
    finally:
        close()


ON_CONFLICT = (
    "INSERT INTO T (K, V) SELECT K, V FROM T_oscs_upsert_stg "
    "ON CONFLICT (K) DO UPDATE SET V = EXCLUDED.V"
)
MERGE = (
    "MERGE INTO T t USING T_oscs_upsert_stg s ON (t.K = s.K) "
    "WHEN MATCHED THEN UPDATE SET t.V = s.V "
    "WHEN NOT MATCHED THEN INSERT (K, V) VALUES (s.K, s.V)"
)


@pytest.mark.parametrize(
    "url, upsert_sql",
    [
        ("jdbc:postgresql://db:5432/shop", ON_CONFLICT),
        ("jdbc:oracle:thin:@db:1521/SHOP", MERGE),
        ("jdbc:derby:memory:shop", MERGE),
    ],
)
def test_jdbc_target_merge_style_follows_url(spark, monkeypatch, url, upsert_sql):
    """The URL's dialect picks the upsert statement: Postgres upserts with
    ON CONFLICT (ANSI MERGE needs PostgreSQL 15+), Oracle and Derby MERGE."""
    monkeypatch.setattr(jm, "write_table", lambda *a, **kw: None)
    recorded: list[str] = []
    target = jm.JdbcTarget(JdbcConnection(url=url), executor=recorded.extend)
    target.upsert("T", spark.createDataFrame([(1, "a")], "K long, V string"), "K")
    assert recorded[1] == upsert_sql


def test_derby_target_defines_no_verb_bodies():
    """DerbyTarget binds JdbcTarget's verbs (perfbench's tracer wraps them
    from DerbyTarget's own class dict) and adds no verb body of its own."""
    own = vars(derby.DerbyTarget)
    for verb in ("insert", "upsert", "delete"):
        assert own[verb] is vars(jm.JdbcTarget)[verb]
    assert "execute_sql" not in own
    assert issubclass(derby.DerbyTarget, jm.JdbcTarget)
