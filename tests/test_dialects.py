"""Golden-SQL tests for the dialect matrix (VERDICT r9 #5): the Derby
path is proven live by tests/test_derby_live.py and the livedb queries;
Oracle and Postgres cannot run in-sandbox, so their generated DDL/DML
text is pinned here exactly — the portability claim is these strings.
Reference behavior: CopyUtils.java:939-964 (Oracle VARCHAR2-vs-CLOB LOB
split), ExecuteTableUpdate.java:10-27 (upsert), DeleteByPk.java:15-43.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from oracle_schema_copy_spark.sources import jdbc_mutations as jm
from oracle_schema_copy_spark.sources.dialects import DIALECTS, get_dialect

# One schema exercising every mapped family: integer widths, IEEE floats,
# decimal, boolean, date/timestamp, binary, short + oversize strings.
SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("tiny", T.ShortType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("ratio", T.FloatType()),
        T.StructField("amount", T.DecimalType(12, 2)),
        T.StructField("flag", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("name", T.StringType()),
    ]
)

GOLDEN_DDL = {
    "derby": (
        "CREATE TABLE T (ID BIGINT NOT NULL, QTY INTEGER, TINY SMALLINT, "
        "PRICE DOUBLE, RATIO REAL, AMOUNT DECIMAL(12,2), FLAG BOOLEAN, "
        "D DATE, TS TIMESTAMP, BLOB BLOB, NAME VARCHAR(1024), "
        "PRIMARY KEY (ID))"
    ),
    "oracle": (
        "CREATE TABLE T (ID NUMBER(19) NOT NULL, QTY NUMBER(10), "
        "TINY NUMBER(5), PRICE BINARY_DOUBLE, RATIO BINARY_FLOAT, "
        "AMOUNT NUMBER(12,2), FLAG NUMBER(1), D DATE, TS TIMESTAMP, "
        "BLOB BLOB, NAME VARCHAR2(1024 CHAR), PRIMARY KEY (ID))"
    ),
    "postgres": (
        "CREATE TABLE T (ID BIGINT NOT NULL, QTY INTEGER, TINY SMALLINT, "
        "PRICE DOUBLE PRECISION, RATIO REAL, AMOUNT NUMERIC(12,2), "
        "FLAG BOOLEAN, D DATE, TS TIMESTAMP, BLOB BYTEA, "
        "NAME VARCHAR(1024), PRIMARY KEY (ID))"
    ),
}


@pytest.mark.parametrize("dialect", sorted(DIALECTS))
def test_create_table_golden(dialect):
    sql = get_dialect(dialect).create_table_sql("t", SCHEMA, primary_key=["id"])
    assert sql == GOLDEN_DDL[dialect]


def test_oversize_string_policy():
    """Oracle LOB split at 4000 (CopyUtils.java:939-964); Postgres TEXT;
    Derby clamps to its VARCHAR max because Derby CLOB has no equality
    (would poison MERGE keys / DELETE predicates)."""
    s = T.StringType()
    assert get_dialect("oracle").column_type(s, varchar_len=4000) == "VARCHAR2(4000 CHAR)"
    assert get_dialect("oracle").column_type(s, varchar_len=4001) == "CLOB"
    assert get_dialect("postgres").column_type(s, varchar_len=70000) == "TEXT"
    assert get_dialect("derby").column_type(s, varchar_len=70000) == "VARCHAR(32672)"


def test_unknown_dialect_raises():
    with pytest.raises(ValueError, match="unknown dialect"):
        get_dialect("mysql")
    with pytest.raises(ValueError, match="no oracle mapping"):
        get_dialect("oracle").column_type(T.ArrayType(T.LongType()))


GOLDEN_MERGE = {
    # derby/oracle resolve to the ANSI MERGE the live path executes
    "oracle": (
        "MERGE INTO ORDERS t USING ORDERS_oscs_upsert_stg s "
        "ON (t.O_ORDERKEY = s.O_ORDERKEY) "
        "WHEN MATCHED THEN UPDATE SET t.O_STATUS = s.O_STATUS, "
        "t.O_TOTAL = s.O_TOTAL "
        "WHEN NOT MATCHED THEN INSERT (O_ORDERKEY, O_STATUS, O_TOTAL) "
        "VALUES (s.O_ORDERKEY, s.O_STATUS, s.O_TOTAL)"
    ),
    "postgres": (
        "INSERT INTO ORDERS (O_ORDERKEY, O_STATUS, O_TOTAL) "
        "SELECT O_ORDERKEY, O_STATUS, O_TOTAL FROM ORDERS_oscs_upsert_stg "
        "ON CONFLICT (O_ORDERKEY) DO UPDATE SET "
        "O_STATUS = EXCLUDED.O_STATUS, O_TOTAL = EXCLUDED.O_TOTAL"
    ),
}


@pytest.mark.parametrize("dialect", sorted(GOLDEN_MERGE))
def test_merge_golden(dialect):
    cols = ["O_ORDERKEY", "O_STATUS", "O_TOTAL"]
    sql = jm.merge_sql(
        "ORDERS", jm.staging_name("ORDERS", "upsert"), cols, ["O_ORDERKEY"],
        dialect=dialect,
    )
    assert sql == GOLDEN_MERGE[dialect]


def test_merge_dialect_names_resolve():
    """derby and oracle both take the ANSI MERGE text the Derby gate
    executes live; 'ansi' stays the spelled-out default."""
    cols = ["K", "V"]
    ansi = jm.merge_sql("T", "S", cols, ["K"], dialect="ansi")
    assert jm.merge_sql("T", "S", cols, ["K"], dialect="derby") == ansi
    assert jm.merge_sql("T", "S", cols, ["K"], dialect="oracle") == ansi
    pg = jm.merge_sql("T", "S", cols, ["K"], dialect="postgres")
    assert pg == jm.merge_sql("T", "S", cols, ["K"], dialect="postgres_upsert")


def test_delete_generators_are_dialect_portable():
    """One DELETE text serves all three dialects by construction: an
    EXISTS probe with one equality per key column (row-value constructors
    are not portable) and bare aliases (no 'AS' — Oracle rejects the
    keyword on table aliases)."""
    ex = jm.delete_using_staging_sql("T", "T_STG", ["A", "B"])
    assert ex == (
        "DELETE FROM T t WHERE EXISTS "
        "(SELECT 1 FROM T_STG s WHERE s.A = t.A AND s.B = t.B)"
    )
    assert " AS " not in ex
