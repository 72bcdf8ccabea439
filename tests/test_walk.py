from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.operators import walk
from oracle_schema_copy_spark.sources.tables import load_tables

PATHS = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    c = cat.tpch_catalog(sf_dir)
    tables = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "part"))
    return c, tables


def test_walk_reaches_all_tables(spark, ctx):
    c, tables = ctx
    sels = walk.walk_linked(spark, tables, c, PATHS, [1, 2, 3])
    assert [s.table for s in sels] == ["customer", "orders", "lineitem"]
    n_orders = sels[1].probe.count()
    expected = (
        tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])).select("o_orderkey").distinct().count()
    )
    assert n_orders == expected


def test_walk_errors_on_unreached_parent(spark, ctx):
    c, tables = ctx
    with pytest.raises(ValueError, match="could not find path to part"):
        walk.walk_linked(
            spark, tables, c, ["CUSTOMER->ORDERS.O_CUSTKEY", "PART->LINEITEM.L_PARTKEY"], [1]
        )


def test_walk_dedupes_seed_keys(spark, ctx):
    c, tables = ctx
    sels = walk.walk_linked(spark, tables, c, PATHS, [1, 1, 2, 2, 2])
    assert sels[0].probe.count() == 2


def test_walk_unions_when_child_reached_twice(spark, ctx, sf_dir):
    """Documented delta from the reference: two edges into the same child
    UNION their key sets (the reference overwrites, CopyUtils.java:566-567)."""
    c, tables = ctx
    paths = [
        "CUSTOMER->ORDERS.O_CUSTKEY",
        "ORDERS->LINEITEM.L_ORDERKEY",
        "CUSTOMER->ORDERS.O_CUSTKEY",  # same child reached again
    ]
    sels = walk.walk_linked(spark, tables, c, paths, [1, 2])
    dedup = walk.walk_linked(spark, tables, c, PATHS, [1, 2])
    # frontiers tolerate duplicates (no per-edge dedup shuffle); compare SETS
    assert sels[1].probe.distinct().count() == dedup[1].probe.distinct().count()


def test_copy_selections_counts_match(spark, ctx):
    c, tables = ctx
    copied, rows = walk.copy_tree(spark, tables, c, PATHS, [1, 2, 3])
    n_li = copied["lineitem"].count()
    expected = (
        tables["lineitem"]
        .join(
            tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .count()
    )
    assert n_li == expected and n_li > 0
    assert rows == {t: df.count() for t, df in copied.items()}


def test_copy_selection_count_assertion_fires(spark, ctx):
    """Keys not present in the table must fail the coverage assertion."""
    c, tables = ctx
    sels = [
        walk.TableSelection(
            "customer", "c_custkey", walk.seed_frame(spark, "c_custkey", [1, 999999999])
        )
    ]
    with pytest.raises(AssertionError, match="matched 1 of 2"):
        walk.copy_selections(tables, sels)


def test_delete_tree_removes_exactly_subtree(spark, ctx):
    c, tables = ctx
    surviving = walk.delete_tree(spark, tables, c, PATHS, [1, 2, 3])
    total = tables["orders"].count()
    gone = tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])).count()
    assert surviving["orders"].count() == total - gone
    assert surviving["customer"].filter(F.col("c_custkey").isin([1, 2, 3])).count() == 0


def _composite_catalog(sf_dir):
    """orders declared with a composite PK so it exercises the
    composite-parent frontier path (orders parents the lineitem edge)."""
    c2 = cat.Catalog()
    c2.register("customer", f"{sf_dir}/customer.parquet", "c_custkey")
    c2.register("orders", f"{sf_dir}/orders.parquet", ("o_orderkey", "o_custkey"))
    c2.register("lineitem", f"{sf_dir}/lineitem.parquet", ("l_orderkey", "l_linenumber"))
    c2.add_edge("customer", "c_custkey", "orders", "o_custkey")
    c2.add_edge("orders", "o_orderkey", "lineitem", "l_orderkey")
    return c2


def test_walk_composite_parent_frontier(spark, ctx, sf_dir):
    """A composite-PK table that parents a later edge materializes its FULL
    composite frontier; the child edge probes via the projected FK column."""
    _, tables = ctx
    sels = walk.walk_linked(spark, tables, _composite_catalog(sf_dir), PATHS, [1, 2, 3])
    orders_sel = sels[1]
    assert orders_sel.key_columns == ("o_orderkey", "o_custkey")
    assert list(orders_sel.probe.columns) == ["o_orderkey", "o_custkey"]
    expected_orders = tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])).count()
    assert orders_sel.probe.count() == expected_orders
    li_sel = sels[2]
    assert not li_sel.exact and li_sel.on == ("l_orderkey",)
    expected_li = (
        tables["lineitem"]
        .join(
            tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .count()
    )
    assert walk.copy_selections(tables, [li_sel])[0]["lineitem"].count() == expected_li


def test_walk_pairs_root_frame_by_name(spark, ctx, sf_dir):
    """A composite root DataFrame whose columns hold the key names in
    another order pairs by name (walk.key_frame), not by position."""
    _, tables = ctx
    roots = (
        tables["orders"]
        .filter(F.col("o_custkey").isin([1, 2, 3]))
        .select("o_custkey", "o_orderkey")
    )
    sels = walk.walk_linked(
        spark, tables, _composite_catalog(sf_dir), ["ORDERS->LINEITEM.L_ORDERKEY"], roots
    )
    assert sels[0].probe.columns == ["o_orderkey", "o_custkey"]
    want = {tuple(r) for r in roots.select("o_orderkey", "o_custkey").collect()}
    assert {tuple(r) for r in sels[0].probe.collect()} == want and want


def test_walk_composite_seed_frame_copy(spark, ctx):
    """seed_frame with composite tuples → copy_selections composite
    semi-join + composite count_distinct coverage assert."""
    _, tables = ctx
    li = tables["lineitem"]
    seeds = [
        tuple(r)
        for r in li.filter(
            (F.col("l_orderkey") % 200 == 0) & (F.col("l_linenumber") <= 2)
        )
        .select("l_orderkey", "l_linenumber")
        .collect()
    ]
    assert seeds, "fixture should contain seed tuples"
    keys = walk.seed_frame(spark, ("l_orderkey", "l_linenumber"), seeds)
    sel = walk.TableSelection("lineitem", ("l_orderkey", "l_linenumber"), keys)
    frames, rows = walk.copy_selections({"lineitem": li}, [sel])
    # composite-PK rows: one row per seeded tuple, exactly
    assert frames["lineitem"].count() == rows["lineitem"] == len(seeds)


def test_walk_leaf_selection_is_its_fk_probe(spark, ctx):
    """A leaf table (no later probe) is selected by its FK column against
    the parent's probe itself: no PK frontier and no cache of its own. Seed
    values are not cached either; the one cached frame is the orders
    frontier, which a later edge probes."""
    c, tables = ctx
    sels = walk.walk_linked(spark, tables, c, PATHS, [1, 2, 3])
    root, orders, li_sel = sels
    try:
        assert li_sel.table == "lineitem" and not li_sel.exact
        assert li_sel.on == ("l_orderkey",) and li_sel.probe is orders.probe
        assert root.cached == [] and li_sel.cached == [] and len(orders.cached) == 1
        rows = walk.copy_selections(tables, [li_sel])[0]["lineitem"]
        expected = tables["lineitem"].join(
            tables["orders"].filter(F.col("o_custkey").isin([1, 2, 3])).select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
            "left_semi",
        )
        assert sorted(map(tuple, rows.collect())) == sorted(map(tuple, expected.collect()))
        assert rows.count() > 0
    finally:
        walk.release(sels)


def test_composite_seed_missing_key_fails_assert(spark, ctx):
    """The composite coverage assert fires on a seeded tuple absent from
    the table (wrong linenumber)."""
    _, tables = ctx
    li = tables["lineitem"]
    good = tuple(li.select("l_orderkey", "l_linenumber").limit(1).collect()[0])
    keys = walk.seed_frame(
        spark, ("l_orderkey", "l_linenumber"), [good, (good[0], 99)]
    )
    sel = walk.TableSelection("lineitem", ("l_orderkey", "l_linenumber"), keys)
    with pytest.raises(AssertionError, match="matched 1 of 2"):
        walk.copy_selections({"lineitem": li}, [sel])


def test_large_frontier_uses_shuffled_semi_join(spark, ctx):
    """Without a forced broadcast hint, a frontier above the broadcast
    threshold must plan as a shuffled semi-join (driver-OOM safety at
    scale); a small frontier still broadcasts under normal thresholds."""
    c, tables = ctx
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        old_aqe = None
    try:
        # model "frontier too big to broadcast" by disabling broadcast joins
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        frontier = spark.range(0, 200_000).select(F.col("id").alias("o_orderkey"))
        scanned = walk.keyed_scan(tables["orders"], "o_orderkey", frontier)
        plan = scanned._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        expected = tables["orders"].filter(F.col("o_orderkey") < 200_000).count()
        assert scanned.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
