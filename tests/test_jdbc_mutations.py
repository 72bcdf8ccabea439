"""JDBC mutation path: SQL generation + target plumbing (cf.
ExecuteTableUpdate.java:10-27, DeleteByPk.java:15-43,
ExecuteSqlList.java:11-40). The generated statements are the contract;
statement lists run through a recording executor, and the verbs that
stage rows run against embedded Derby, because staging needs a live
database."""

from __future__ import annotations

import datetime as dt

import pytest

from oracle_schema_copy_spark.engine import JdbcTarget
from oracle_schema_copy_spark.sources import derby, jdbc
from oracle_schema_copy_spark.sources import jdbc_mutations as jm
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection, read_query


def test_merge_sql_ansi():
    sql = jm.merge_sql("orders", "orders_stg", ["o_orderkey", "o_status", "o_total"], ["o_orderkey"])
    assert sql == (
        "MERGE INTO orders t USING orders_stg s ON (t.o_orderkey = s.o_orderkey) "
        "WHEN MATCHED THEN UPDATE SET t.o_status = s.o_status, t.o_total = s.o_total "
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_status, o_total) "
        "VALUES (s.o_orderkey, s.o_status, s.o_total)"
    )


def test_merge_sql_composite_key_and_all_key_columns():
    sql = jm.merge_sql("t", "t_stg", ["a", "b"], ["a", "b"])
    # all columns are keys: no UPDATE clause at all
    assert "WHEN MATCHED" not in sql
    assert "ON (t.a = s.a AND t.b = s.b)" in sql


def test_merge_sql_postgres_upsert():
    sql = jm.merge_sql("t", "t_stg", ["k", "v"], ["k"], dialect="postgres_upsert")
    assert sql.startswith("INSERT INTO t (k, v) SELECT k, v FROM t_stg")
    assert "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v" in sql
    # all columns are keys: DO NOTHING, never an empty SET list
    all_keys = jm.merge_sql("t", "t_stg", ["a", "b"], ["a", "b"], dialect="postgres_upsert")
    assert all_keys.endswith("ON CONFLICT (a, b) DO NOTHING")
    with pytest.raises(ValueError):
        jm.merge_sql("t", "s", ["k"], ["k"], dialect="mystery")


def test_sql_literals():
    assert jdbc.sql_literal(42) == "42"
    assert jdbc.sql_literal(None) == "NULL"
    assert jdbc.sql_literal("O'Brien") == "'O''Brien'"
    assert jdbc.sql_literal(dt.date(2024, 3, 1)) == "DATE '2024-03-01'"
    assert jdbc.sql_literal(dt.datetime(2024, 3, 1, 12, 30)) == "TIMESTAMP '2024-03-01 12:30:00'"
    # sub-second precision must survive (a truncated literal silently
    # matches the wrong rows on a timestamp key)
    assert (
        jdbc.sql_literal(dt.datetime(2024, 3, 1, 12, 30, 0, 123456))
        == "TIMESTAMP '2024-03-01 12:30:00.123456'"
    )


def test_delete_using_staging_sql():
    sql = jm.delete_using_staging_sql("orders", "orders_oscs_delete_stg", ["o_orderkey"])
    assert sql == (
        "DELETE FROM orders t WHERE EXISTS "
        "(SELECT 1 FROM orders_oscs_delete_stg s WHERE s.o_orderkey = t.o_orderkey)"
    )


@pytest.fixture
def derby_target(spark, tmp_path):
    t = derby.DerbyTarget(spark, f"{tmp_path}/db")
    t.execute_sql(["CREATE TABLE ORDERS (O_ORDERKEY BIGINT PRIMARY KEY)"])
    t.execute_sql([f"INSERT INTO ORDERS VALUES ({i})" for i in range(10)])
    yield t
    t.close()


def _orderkeys(spark, t):
    return sorted(r[0] for r in read_query(spark, t.conn, "SELECT O_ORDERKEY FROM ORDERS").collect())


def test_jdbc_delete_stages_distinct_keys_once(spark, derby_target):
    """Duplicate keys stage once (distinct) and one statement list runs
    through the executor: index the staged key, delete, drop."""
    recorded: list[str] = []
    staged: list[int] = []

    def executor(statements):
        recorded.extend(statements)
        q = "SELECT COUNT(*) AS N FROM ORDERS_OSCS_DELETE_STG"
        staged.append(read_query(spark, derby_target.conn, q).first()[0])
        derby_target.executor(statements)

    keys = spark.createDataFrame([(i,) for i in range(7)] + [(3,)], ["k"])
    stmts = jm.jdbc_delete(keys, derby_target.conn, "ORDERS", "O_ORDERKEY", executor=executor)
    assert staged == [7]
    assert recorded == stmts and len(stmts) == 3
    assert stmts[1] == jm.delete_using_staging_sql("ORDERS", "ORDERS_oscs_delete_stg", ["O_ORDERKEY"])
    assert _orderkeys(spark, derby_target) == [7, 8, 9]


def test_jdbc_target_execute_sql_and_prod_guard(spark):
    recorded: list[str] = []
    t = JdbcTarget(
        JdbcConnection(url="jdbc:h2:mem:test"), executor=recorded.extend
    )
    t.execute_sql(["CREATE TABLE x (a INT)", "ALTER TABLE x ADD b INT"])
    assert recorded == ["CREATE TABLE x (a INT)", "ALTER TABLE x ADD b INT"]

    from oracle_schema_copy_spark.sources.jdbc import ProductionGuardError

    with pytest.raises(ProductionGuardError):
        jm.jdbc_delete(
            spark.createDataFrame([(1,)], "k long"),
            JdbcConnection(url="jdbc:oracle:thin:@prod:1521/X"),
            "t",
            "k",
            executor=recorded.extend,
        )


def test_jdbc_target_delete_no_notimplemented(spark, derby_target):
    """The round-1 NotImplementedError stubs are gone: a JdbcTarget over a
    live URL deletes through the staged path with an injected executor."""
    recorded: list[str] = []

    def executor(statements):
        recorded.extend(statements)
        derby_target.executor(statements)

    t = JdbcTarget(derby_target.conn, executor=executor)
    keys = spark.createDataFrame([(1,), (2,)], ["o_orderkey"])
    t.delete("orders", "o_orderkey", keys)
    assert [s.split(" ")[0] for s in recorded] == ["CREATE", "DELETE", "DROP"]
    assert recorded[1].startswith("DELETE FROM ORDERS t WHERE EXISTS")
    assert _orderkeys(spark, derby_target) == [0, *range(3, 10)]


def test_staging_name_deterministic():
    assert jm.staging_name("orders", "upsert") == "orders_oscs_upsert_stg"


def test_jdbc_upsert_stages_then_merges(spark, monkeypatch):
    """Upsert = staged bulk write + one MERGE + drop staging, in order."""
    staged: list[tuple[str, str]] = []
    recorded: list[str] = []

    def fake_write(df, conn, table, **kw):
        staged.append((table, kw.get("mode", "append")))

    monkeypatch.setattr(jm, "write_table", fake_write)
    df = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "v"])
    stmts = jm.jdbc_upsert(
        df,
        JdbcConnection(url="jdbc:h2:mem:test"),
        "orders",
        "k",
        executor=recorded.extend,
    )
    assert staged == [("orders_oscs_upsert_stg", "overwrite")]
    assert recorded == stmts
    # staging key indexed BEFORE the merge: planners without staging
    # statistics (embedded Derby, measured) nested-loop the probe otherwise
    assert stmts[0] == "CREATE INDEX orders_oscs_upsert_stg_kix ON orders_oscs_upsert_stg (k)"
    assert stmts[1].startswith("MERGE INTO orders t USING orders_oscs_upsert_stg s")
    assert stmts[2] == "DROP TABLE orders_oscs_upsert_stg"


def test_read_table_keyed_adversarial_keys_roundtrip(spark, tmp_path):
    """Hypothesis property over the pushed probe's injection surface
    (VERDICT r11 #7): ``sql_literal`` renders the keys INTO the predicate
    text (`sources/jdbc.py` read_table_keyed), so adversarial key values —
    quotes, doubled quotes, unicode, empty string, negative ints — must
    round-trip identically through a LIVE Derby probe: every
    requested-and-present key comes back exactly once, absent keys return
    nothing, and a None key matches nothing (NULL never equality-matches).
    """
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from oracle_schema_copy_spark.sources import derby
    from oracle_schema_copy_spark.sources.jdbc import read_table_keyed

    tgt = derby.DerbyTarget(spark, f"{tmp_path}/advdb")
    seq = iter(range(10_000))

    # Derby compares VARCHAR with PAD SPACE semantics ('a' = 'a '), so keys
    # differing only in trailing spaces would collide on the PK — exclude
    # trailing spaces (an edge of Derby, not of the literal rendering).
    # Cc/Cs excluded: control chars and surrogates are not valid VARCHAR
    # payload; quotes are explicitly force-included via one_of.
    key_text = st.one_of(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            max_size=30,
        ),
        st.sampled_from(["O'Brien", "''", "'; DROP TABLE T; --", "a''b'", "日本語'キー"]),
    ).filter(lambda s: not s.endswith(" ") and s != "@absent-key@")

    schema = T.StructType(
        [T.StructField("K", T.StringType(), False), T.StructField("V", T.LongType())]
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=st.lists(key_text, min_size=1, max_size=12, unique=True),
        data=st.data(),
    )
    def run_text(keys, data):
        name = f"ADV{next(seq)}"
        df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)], schema)
        tgt.create_table(name, schema, primary_key=["K"])
        tgt.insert(name, df)
        want = data.draw(st.lists(st.sampled_from(keys), unique=True))
        probe = want + ["@absent-key@", None]
        got = read_table_keyed(spark, tgt.conn, name, "K", probe, keys_per_probe=3)
        assert sorted(r[0] for r in got.select("K").collect()) == sorted(want)

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(keys=st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=12, unique=True))
    def run_int(keys):
        name = f"ADV{next(seq)}"
        ischema = T.StructType([T.StructField("K", T.LongType(), False)])
        tgt.create_table(name, ischema, primary_key=["K"])
        tgt.insert(name, spark.createDataFrame([(k,) for k in keys], ischema))
        want = keys[::2]
        got = read_table_keyed(
            spark, tgt.conn, name, "K", want + [None], keys_per_probe=3
        )
        assert sorted(r[0] for r in got.select("K").collect()) == sorted(want)

    try:
        run_text()
        run_int()
    finally:
        tgt.close()
