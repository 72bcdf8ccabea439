"""Live-database tests against embedded Derby (sources/derby.py).

These execute the K1/K4/K5/K6 paths for real — actual JDBC writes, an
actual MERGE, actual DELETE statements, actual transactional rollback —
rather than asserting on generated SQL strings (test_jdbc_mutations.py
keeps that pure-function layer). Reference behaviors exercised live:
ExecuteTarget.java:12-32 (execute verbs), ExecuteTableUpdate.java:10-27
(upsert), DeleteByPk.java:15-43 (keyed delete), ExecuteSqlList.java:11-40
(ordered DDL on one transaction).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_schema_copy_spark.sources import derby, jdbc_mutations
from oracle_schema_copy_spark.sources.dialects import get_dialect
from oracle_schema_copy_spark.sources.jdbc import read_query


@pytest.fixture
def tgt(spark, tmp_path):
    t = derby.DerbyTarget(spark, f"{tmp_path}/db")
    yield t
    t.close()


def _mk(spark, rows):
    return spark.createDataFrame([Row(k=k, v=v, p=p) for k, v, p in rows])


def _state(spark, tgt):
    df = read_query(spark, tgt.conn, "SELECT K, V, P FROM T ORDER BY K")
    return [(r[0], r[1], r[2]) for r in df.collect()]


def test_live_insert_upsert_delete_roundtrip(spark, tgt):
    base = _mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    assert _state(spark, tgt) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]

    # upsert: update k=2, insert k=4 — one staged MERGE
    tgt.upsert("t", _mk(spark, [(2, "B", 20.0), (4, "d", 4.0)]), "k")
    assert _state(spark, tgt) == [
        (1, "a", 1.0),
        (2, "B", 20.0),
        (3, "c", 3.0),
        (4, "d", 4.0),
    ]
    # staging table dropped after the MERGE
    with pytest.raises(Exception, match="does not exist"):
        read_query(spark, tgt.conn, "SELECT * FROM T_OSCS_UPSERT_STG").collect()

    # keyed delete: staged keys + one EXISTS statement
    keys = spark.createDataFrame([Row(k=1), Row(k=4)])
    tgt.delete("t", "k", keys)
    assert _state(spark, tgt) == [(2, "B", 20.0), (3, "c", 3.0)]
    assert _staging_tables(spark, tgt) == []


def _staging_tables(spark, tgt):
    """Names of the staging tables left in the database."""
    df = read_query(
        spark, tgt.conn,
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE '%_OSCS_%'",
    )
    return [r[0] for r in df.collect()]


def _keyed_table(spark, tgt, rows, schema, key):
    df = spark.createDataFrame(rows, schema)
    tgt.create_table("t", df.schema, primary_key=key)
    tgt.insert("t", df)


def _rows(spark, tgt, cols):
    df = read_query(spark, tgt.conn, f"SELECT {cols} FROM T")
    return sorted(tuple(r) for r in df.collect())


def test_live_delete_staged_exists_path(spark, tgt):
    """Keys stage to the database and one set-oriented EXISTS delete runs
    in the executor's one transaction: index, delete, drop."""
    base = _mk(spark, [(i, f"v{i}", float(i)) for i in range(20)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    keys = spark.range(0, 20, 2).select(F.col("id").alias("k"))
    stmts = jdbc_mutations.jdbc_delete(keys, tgt.conn, "T", ["K"], executor=tgt.executor)
    assert stmts == [
        "CREATE INDEX T_oscs_delete_stg_kix ON T_oscs_delete_stg (K)",
        jdbc_mutations.delete_using_staging_sql("T", "T_oscs_delete_stg", ["K"]),
        "DROP TABLE T_oscs_delete_stg",
    ]
    assert [r[0] for r in _state(spark, tgt)] == list(range(1, 20, 2))
    assert _staging_tables(spark, tgt) == []


def test_live_delete_composite_key(spark, tgt):
    """A two-column key deletes exactly the (a, b) pairs given: a pair
    sharing one component with a deleted pair survives."""
    _keyed_table(
        spark, tgt, [(a, b, f"{a}{b}") for a in range(3) for b in range(3)],
        "a long, b long, v string", ["a", "b"],
    )
    keys = spark.createDataFrame([(0, 1), (2, 2), (1, 0), (7, 7)], "a long, b long")
    tgt.delete("t", ["a", "b"], keys)
    gone = {(0, 1), (2, 2), (1, 0)}
    want = [(a, b) for a in range(3) for b in range(3) if (a, b) not in gone]
    assert _rows(spark, tgt, "A, B") == want
    assert _staging_tables(spark, tgt) == []


def test_live_delete_adversarial_string_keys(spark, tgt):
    """String keys with quotes, SQL text and unicode delete exactly
    themselves: they travel as staged rows, never as SQL literals."""
    nasty = ["O'Brien", "''", "'; DROP TABLE T; --", "a''b'", "日本語'キー", 'q"q', "é"]
    keep = ["O'Brie", "plain", "日本語", "a'b"]
    _keyed_table(
        spark, tgt, [(k, i) for i, k in enumerate(nasty + keep)], "k string, v long", ["k"]
    )
    tgt.delete("t", "k", spark.createDataFrame([(k,) for k in nasty], "k string"))
    assert _rows(spark, tgt, "K") == sorted((k,) for k in keep)
    assert _staging_tables(spark, tgt) == []


def test_live_delete_null_key_deletes_nothing(spark, tgt):
    """A NULL key matches no row, not even rows whose key column is NULL
    (SQL equality), and the statement still runs."""
    _keyed_table(
        spark, tgt, [(1, 2), (2, None), (3, 5)], "k long, g long", ["k"]
    )
    keys = spark.createDataFrame([(None,), (2,)], "g long")
    tgt.delete("t", "g", keys)
    assert _rows(spark, tgt, "K") == [(2,), (3,)]
    tgt.delete("t", "g", spark.createDataFrame([(None,)], "g long"))
    assert _rows(spark, tgt, "K") == [(2,), (3,)]
    assert _staging_tables(spark, tgt) == []


def test_live_delete_empty_key_frame(spark, tgt):
    """An empty key frame still creates the staging table, so the index,
    the delete and the drop all run; nothing is deleted."""
    _keyed_table(spark, tgt, [(1, "a"), (2, "b")], "k long, v string", ["k"])
    tgt.delete("t", "k", spark.createDataFrame([], "k long"))
    assert _rows(spark, tgt, "K") == [(1,), (2,)]
    assert _staging_tables(spark, tgt) == []


def test_live_delete_runs_no_driver_count_or_collect(spark, tgt, monkeypatch):
    """The keyed delete neither counts nor collects its key set: the keys
    go from the executors straight to the staging table."""
    _keyed_table(spark, tgt, [(i, str(i)) for i in range(10)], "k long, v string", ["k"])
    keys = spark.range(0, 10, 3).select(F.col("id").alias("k"))

    def refuse(self, *a, **kw):
        raise AssertionError("jdbc_delete pulled its keys to the driver")

    # the concrete class: Spark 4's classic DataFrame overrides both
    for name in ("count", "collect"):
        monkeypatch.setattr(type(keys), name, refuse)
    tgt.delete("t", "k", keys)
    monkeypatch.undo()
    assert _rows(spark, tgt, "K") == [(k,) for k in range(10) if k % 3]


def test_live_merge_duplicate_source_keys_raise(spark, tgt):
    """The reference guards '>1 row updated' per key
    (ExecuteTableUpdate.java:10-27); set-oriented MERGE preserves that
    guard server-side — Derby rejects a source with duplicate match keys."""
    base = _mk(spark, [(1, "a", 1.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    dup = _mk(spark, [(1, "x", 9.0), (1, "y", 8.0)])
    with pytest.raises(Exception):  # noqa: B017 — py4j-wrapped SQLException
        tgt.upsert("t", dup, "k")


def test_live_transactional_rollback(spark, tgt):
    """ExecuteSqlList semantics: an ordered statement list is one
    transaction — a failing statement rolls back the earlier ones."""
    base = _mk(spark, [(1, "a", 1.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    with pytest.raises(Exception):  # noqa: B017
        tgt.execute_sql(
            [
                "INSERT INTO T VALUES (2, 'b', 2.0)",
                "INSERT INTO NO_SUCH_TABLE VALUES (1)",
            ]
        )
    assert _state(spark, tgt) == [(1, "a", 1.0)]


def test_live_ddl_types_roundtrip(spark, tgt):
    """DDL generator covers the engine's scalar types; values survive the
    write→read round trip exactly (timestamps under UTC sessions)."""
    df = spark.sql(
        """
        SELECT CAST(1 AS BIGINT) k, CAST(2 AS INT) i, CAST(3 AS SMALLINT) s,
               CAST(1.5 AS DOUBLE) d, CAST(2.5 AS FLOAT) f,
               TRUE b, CAST('2024-03-01' AS DATE) dt,
               TIMESTAMP '2024-03-01 12:34:56.789' ts, 'text' t
        """
    )
    tgt.create_table("types_t", df.schema, primary_key=["k"])
    tgt.insert("types_t", df)
    back = tgt.read("types_t", df.columns, schema=df.schema)
    # nullability differs (literals are non-null, JDBC reads nullable)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.collect() == df.collect()


def test_replay_into_target_modes(spark, tgt, tmp_path, monkeypatch):
    """replay_into_target: tables are created from payload schemas on
    first insert; multi-chunk inserts append; upsert/delete records
    execute through the staged live paths; opaque records (here SQL sent
    through a file target) run by default and on_opaque='error' refuses
    them; Spark-dialect view text is skipped."""
    from oracle_schema_copy_spark.engine import FileTarget
    from oracle_schema_copy_spark.plans import oplog

    base = _mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    log_path = str(tmp_path / "log")
    monkeypatch.setattr(oplog, "ROWS_PER_OP", 2)
    with oplog.OperationLogWriter(log_path) as log:
        log.insert("t", base)  # one insert record; ROWS_PER_OP chunks files
        FileTarget(log).execute_sql(["CREATE INDEX T_IX ON T (V)"])
        log.upsert("t", _mk(spark, [(2, "B", 20.0), (9, "i", 9.0)]), ["k"])
        log.delete("t", "k", spark.createDataFrame([Row(k=1)]))
        log.view("v_t", "SELECT k FROM t")  # Spark-dialect text
    applied = oplog.replay_into_target(spark, log_path, tgt)
    # executed records only: the skipped view record is excluded
    assert [r.kind for r in applied] == [
        "insert", "opaque_sql", "upsert", "delete",
    ]
    assert _state(spark, tgt) == [(2, "B", 20.0), (3, "c", 3.0), (9, "i", 9.0)]
    # the opaque index record executed: the index is in Derby's catalog
    n_ix = read_query(
        spark,
        tgt.conn,
        "SELECT COUNT(*) AS N FROM SYS.SYSCONGLOMERATES "
        "WHERE CONGLOMERATENAME = 'T_IX'",
    ).first()[0]
    assert n_ix == 1
    # on_opaque='error' refuses (fresh target: inserts replay, the opaque
    # record then raises before any mutation past it)
    tgt2 = derby.DerbyTarget(spark, str(tmp_path / "db2"))
    with pytest.raises(ValueError, match="opaque"):
        oplog.replay_into_target(spark, log_path, tgt2, on_opaque="error")
    tgt2.close()


def test_live_engine_copy_and_delete_tree(spark, tgt, sf_dir):
    """Engine verbs drive the live target unchanged: copy_tree lands the
    FK subgraph in Derby; delete_tree removes it child-first (FK-safe)."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine

    c = cat.tpch_catalog(sf_dir)
    eng = Engine(spark, c)
    paths = ["CUSTOMER->ORDERS.O_CUSTKEY"]
    roots = eng.table("customer").filter(F.col("c_custkey") % 50 == 0).select("c_custkey")
    for t in ("customer", "orders"):
        tgt.create_table(t, eng.table(t).schema, primary_key=list(c.primary_keys[t]))
    # FK constraint after DDL so delete order actually matters
    tgt.execute_sql(
        [
            "ALTER TABLE ORDERS ADD CONSTRAINT o_fk FOREIGN KEY (O_CUSTKEY) "
            "REFERENCES CUSTOMER (C_CUSTKEY)"
        ]
    )
    counts = eng.copy_tree(tgt, paths, roots)
    live = {
        t: read_query(spark, tgt.conn, f"SELECT COUNT(*) AS N FROM {t.upper()}").first()[0]
        for t in counts
    }
    assert live == counts and counts["customer"] > 0
    eng.delete_tree(tgt, paths, roots)
    for t in counts:
        n = read_query(spark, tgt.conn, f"SELECT COUNT(*) AS N FROM {t.upper()}").first()[0]
        assert n == 0, t


def test_read_table_keyed_pushed_probe(spark, tgt):
    """Pushed IN-list keyed scan (sources/jdbc.read_table_keyed, the
    live-source child-probe default per BENCH_NOTES_r10.md §1): batched
    probes return exactly the semi-join result, across batch boundaries,
    with duplicates in the key list harmless and an empty key list giving
    an empty frame with the table's schema."""
    from oracle_schema_copy_spark.sources.jdbc import read_table_keyed

    rows = [(i, f"v{i}", float(i % 7)) for i in range(50)]
    df = _mk(spark, rows)
    tgt.create_table("t", df.schema, primary_key=["k"])
    tgt.insert("t", df)

    keys = [3, 11, 11, 42, 999]  # dup + missing key
    got = read_table_keyed(spark, tgt.conn, "T", "K", keys, keys_per_probe=2)
    # dup deduped -> 4 distinct keys -> ceil(4/2) = 2 probes = partitions
    assert got.rdd.getNumPartitions() == 2
    assert sorted(r[0] for r in got.select("K").collect()) == [3, 11, 42]

    empty = read_table_keyed(spark, tgt.conn, "T", "K", [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["K", "V", "P"]


def test_read_table_keyed_staged_string_key(spark, tgt):
    """A STRING key stages as a comparable VARCHAR, not Derby's CLOB
    default (which can be neither indexed nor joined on): the staged
    probe and the auto chooser forced onto it return the keyed rows, and
    the staging table is dropped."""
    from oracle_schema_copy_spark.sources.jdbc import (
        read_table_keyed_auto,
        read_table_keyed_staged,
    )

    df = spark.createDataFrame(
        [Row(k=f"key-{i}", v=i) for i in range(20)]
    )
    tgt.create_table("t", df.schema, primary_key=["k"])
    tgt.insert("t", df)
    keys = spark.createDataFrame([Row(k="key-3"), Row(k="key-17"), Row(k="nope")])

    staged = read_table_keyed_staged(spark, tgt.conn, "T", "K", keys)
    assert sorted(r["V"] for r in staged.collect()) == [3, 17]
    rows, path = read_table_keyed_auto(
        spark, tgt.conn, "T", "K", keys, max_inline_keys=0
    )
    assert path == "staged"
    assert sorted(r["V"] for r in rows.collect()) == [3, 17]
    with pytest.raises(Exception, match="does not exist"):
        read_query(spark, tgt.conn, "SELECT * FROM T_OSCS_PROBE_STG").collect()


def test_engine_db_target_over_derby_url(spark, tmp_path, sf_dir):
    """Engine.create_db_target over a plain ``jdbc:derby:`` URL applies the
    same identifier-case convention as DerbyTarget: copy, the staged-MERGE
    update, a keyed delete and a read-back all run against unquoted DDL."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine

    eng = Engine(spark, cat.tpch_catalog(sf_dir))
    db = str(tmp_path / "dbt")
    tgt = eng.create_db_target(derby.embedded_connection(spark, db))
    try:
        orders = eng.table("orders")
        ddl = get_dialect("derby").create_table_sql(
            "orders", orders.schema, primary_key=["o_orderkey"]
        )
        tgt.execute_sql([ddl])
        eng.copy(tgt, "orders")
        keys = [r[0] for r in orders.orderBy("o_orderkey").limit(4).collect()]
        changed = orders.filter(F.col("o_orderkey").isin(keys[:2])).withColumn(
            "o_orderpriority", F.lit("updated")
        )
        eng.update(tgt, "orders", changed)
        tgt.delete("orders", ["o_orderkey"], spark.createDataFrame([(keys[3],)], "k long"))

        back = derby.fold_names(
            read_query(spark, tgt.conn, "SELECT * FROM ORDERS"), orders.columns, orders.schema
        )
        assert back.count() == orders.count() - 1
        sample = back.filter(F.col("o_orderkey").isin(keys))
        priority = dict(sample.select("o_orderkey", "o_orderpriority").collect())
        assert sorted(priority) == sorted(keys[:3])
        assert priority[keys[0]] == priority[keys[1]] == "updated"
        assert priority[keys[2]] != "updated"
    finally:
        derby.shutdown(spark, db)
