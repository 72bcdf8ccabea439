from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark.operators import mutate
from oracle_schema_copy_spark.sources.tables import load_table


def test_merge_upsert_updates_and_inserts(spark, sf_dir):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, val double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (3, "c", 30.0)], "id long, name string, val double"
    )
    out = mutate.merge_upsert(target, updates, "id").orderBy("id").collect()
    assert [(r.id, r.name, r.val) for r in out] == [(1, "a", 10.0), (2, "b2", 99.0), (3, "c", 30.0)]


def test_merge_upsert_duplicate_key_guard(spark):
    target = spark.createDataFrame([(1, "a")], "id long, name string")
    updates = spark.createDataFrame([(1, "x"), (1, "y")], "id long, name string")
    with pytest.raises(AssertionError, match="duplicate key"):
        mutate.merge_upsert(target, updates, "id")


def test_merge_upsert_composite_key(spark):
    target = spark.createDataFrame([(1, 1, "a"), (1, 2, "b")], "k1 long, k2 long, v string")
    updates = spark.createDataFrame([(1, 2, "B"), (2, 1, "c")], "k1 long, k2 long, v string")
    out = mutate.merge_upsert(target, updates, ["k1", "k2"]).orderBy("k1", "k2").collect()
    assert [(r.k1, r.k2, r.v) for r in out] == [(1, 1, "a"), (1, 2, "B"), (2, 1, "c")]


def test_delete_by_keys_list_and_df(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    keys = [1, 2, 3]
    present = orders.filter(F.col("o_orderkey").isin(keys)).count()
    listed = spark.createDataFrame([(k,) for k in keys], "o_orderkey long")
    out = mutate.delete_by_keys(orders, "o_orderkey", listed)
    assert out.count() == n - present

    kdf = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    out2 = mutate.delete_by_keys(orders, "o_orderkey", kdf)
    assert out2.count() == orders.filter(F.col("o_orderkey") % 2 != 0).count()


def test_bulk_copy_projection_prunes(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    out = mutate.bulk_copy(cust, ["c_custkey", "c_name"])
    assert out.columns == ["c_custkey", "c_name"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "c_acctbal" not in plan  # column pruning reached the scan


def test_scd2_merge_versions(spark):
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.operators import mutate

    current = spark.createDataFrame(
        [
            (1, "a", "2000-01-01", "2001-01-01"),  # closed history
            (1, "b", "2001-01-01", "9999-12-31"),  # open, will change
            (2, "c", "2000-01-01", "9999-12-31"),  # open, unchanged
        ],
        ["id", "v", "valid_from", "valid_to"],
    ).select(
        "id", "v",
        F.col("valid_from").cast("date"), F.col("valid_to").cast("date"),
    )
    updates = spark.createDataFrame([(1, "B"), (2, "c"), (3, "new")], ["id", "v"])
    out = mutate.scd2_merge(current, updates, "id", effective_date="2002-06-01")
    rows = {(r.id, r.v): (str(r.valid_from), str(r.valid_to)) for r in out.collect()}
    assert rows == {
        (1, "a"): ("2000-01-01", "2001-01-01"),  # history untouched
        (1, "b"): ("2001-01-01", "2002-06-01"),  # closed at effective date
        (1, "B"): ("2002-06-01", "9999-12-31"),  # new open version
        (2, "c"): ("2000-01-01", "9999-12-31"),  # unchanged stays open
        (3, "new"): ("2002-06-01", "9999-12-31"),  # first version for new key
    }
