"""Reference-surface queries: FK walk / mutations / graph metadata /
DDL / operation log (SURVEY.md §2.1-§2.4)."""

from __future__ import annotations

import uuid
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.operators import mutate, walk
from oracle_schema_copy_spark.queries import query
from oracle_schema_copy_spark.queries._scratch import scratch_dir
from oracle_schema_copy_spark.sources.tables import load_table, load_tables

# ---------------------------------------------------------------------------
# FK walk / subgraph extraction (SURVEY §2.3 G1-G4, §2.1 S2/S3)
# ---------------------------------------------------------------------------

FLAGSHIP_PATHS = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]


def _flagship_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seed frontier: every 10th customer key."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey")
    )


@query(
    "copy_tree_lineitem",
    """
    SELECT l.* FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0))
    """,
    headline=True,
    changed_in=12,
)
def q_copy_tree_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: FK-subgraph copy customer→orders→lineitem, return the copied
    lineitem rows (walk = ordered left-semi joins over cached key frontiers)."""
    c = cat.tpch_catalog(sf_dir)
    tables = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    copied, _ = walk.copy_tree(
        spark, tables, c, FLAGSHIP_PATHS, _flagship_roots(spark, sf_dir)
    )
    return copied["lineitem"]


@query(
    "copy_tree_summary",
    """
    SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0))
    """,
    changed_in=12,
)
def q_copy_tree_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table copied-row counts of the flagship walk (exercises the count
    assertions of copy_selections)."""
    c = cat.tpch_catalog(sf_dir)
    tables = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    _, rows = walk.copy_tree(
        spark, tables, c, FLAGSHIP_PATHS, _flagship_roots(spark, sf_dir)
    )
    # the counts ride on copy_selections' fused coverage check
    return spark.createDataFrame(
        list(rows.items()), "table_name string, n_rows bigint"
    )


@query(
    "delete_tree_orders",
    """
    SELECT o.* FROM orders o
    WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
    """,
    changed_in=12,
)
def q_delete_tree_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deleteTree: surviving orders rows after deleting the walked subgraph."""
    c = cat.tpch_catalog(sf_dir)
    tables = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    surviving = walk.delete_tree(
        spark, tables, c, FLAGSHIP_PATHS, _flagship_roots(spark, sf_dir)
    )
    return surviving["orders"]


@query(
    "copy_tree_lineitem_composite",
    """
    SELECT l.* FROM lineitem l
    WHERE l.l_orderkey % 200 = 0 AND l.l_linenumber <= 2
    """,
    changed_in=12,
)
def q_copy_tree_lineitem_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-PK selection copy: (l_orderkey, l_linenumber) tuples seeded
    driver-side through ``seed_frame`` — the reference's literal-id-list
    seeding mode (``walkLinked`` takes an id list, ``CopyUtils.java:533``),
    which the reference REFUSES for composite-PK tables
    (``CopyUtils.java:410-412``) and we support first-class. Copy goes
    through the full composite-key semi-join and the composite
    distinct-tuple coverage assert of ``copy_selections``.

    The seed list is a bounded deterministic collect of the PK projection
    (9 / 69 / 845 tuples at sf0.001/0.01/0.1) — literal seeding is
    driver-side BY DEFINITION; the data plane stays distributed."""
    li = load_table(spark, sf_dir, "lineitem")
    seed_rows = (
        li.filter((F.col("l_orderkey") % 200 == 0) & (F.col("l_linenumber") <= 2))
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    keys = walk.seed_frame(
        spark, ("l_orderkey", "l_linenumber"), [tuple(r) for r in seed_rows]
    )
    sel = walk.TableSelection("lineitem", ("l_orderkey", "l_linenumber"), keys)
    return walk.copy_selections({"lineitem": li}, [sel])[0]["lineitem"]


@query(
    "keyed_scan_orders",
    """
    SELECT o.* FROM orders o
    WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
    """,
    changed_in=11,
)
def q_keyed_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 keyed scan: orders whose o_custkey is in a key frontier (the
    reference's 500-element IN-list batching becomes one semi-join)."""
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey")
    )
    return walk.keyed_scan(orders, "o_custkey", keys)


@query(
    "linked_rows_probe",
    """
    SELECT DISTINCT l.l_orderkey FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
    """,
    changed_in=11,
)
def q_linked_rows_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 linked-rows probe: child PKs reachable from a parent key set."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part_keys = (
        load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40).select("p_partkey")
    )
    return walk.find_linked_rows(lineitem, "l_partkey", "l_orderkey", part_keys)


# ---------------------------------------------------------------------------
# Mutations (SURVEY §2.2 K3/K4/K5, §2.4 copy/update verbs)
# ---------------------------------------------------------------------------


@query(
    "upsert_orders",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    """,
    headline=True,
    changed_in=11,
)
def q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 upsert as a single set-oriented merge (vs the reference's per-row
    UPDATE-else-INSERT): updated rows replace, unmatched pass through."""
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    return mutate.merge_upsert(orders, updates, "o_orderkey")


@query(
    "delete_by_keys_lineitem",
    """
    SELECT l.* FROM lineitem l
    WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 13 = 0)
    """,
    changed_in=11,
)
def q_delete_by_keys_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 keyed delete: anti-join rewrite of lineitem."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey")
    )
    return mutate.delete_by_keys(lineitem, "l_orderkey", keys)


@query("bulk_copy_projection", "SELECT c_custkey, c_name, c_acctbal FROM customer")
def q_bulk_copy_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/K3 full-table copy with explicit column list (column pruning
    reaches the parquet scan — the reference built SELECT lists by hand)."""
    return mutate.bulk_copy(
        load_table(spark, sf_dir, "customer"), ["c_custkey", "c_name", "c_acctbal"]
    )


# ---------------------------------------------------------------------------
# Graph metadata operators (SURVEY §2.3 G5/G6/G7/G9)
# ---------------------------------------------------------------------------

_EDGE_VALUES = (
    "(VALUES ('region','nation','n_regionkey'), ('nation','customer','c_nationkey'), "
    "('nation','supplier','s_nationkey'), ('customer','orders','o_custkey'), "
    "('orders','lineitem','l_orderkey'), ('part','lineitem','l_partkey'), "
    "('supplier','lineitem','l_suppkey')) AS e(parent_t, child_t, child_col)"
)


@query(
    "topo_depth",
    f"""
    WITH RECURSIVE edges AS (SELECT * FROM {_EDGE_VALUES}),
    tabs AS (SELECT DISTINCT parent_t AS t FROM edges
             UNION SELECT DISTINCT child_t FROM edges),
    paths AS (
        SELECT t AS tbl, 0 AS d FROM tabs
        UNION ALL
        SELECT e.child_t, p.d + 1 FROM paths p JOIN edges e ON e.parent_t = p.tbl
    )
    SELECT tbl AS table_name, CAST(max(d) AS BIGINT) AS depth
    FROM paths GROUP BY tbl
    """,
)
def q_topo_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 dependency ordering, exposed as deterministic longest-path depth
    per table (any valid topo linearization respects ascending depth)."""
    c = cat.tpch_catalog(sf_dir)
    tables = sorted({e.parent_table for e in c.edges} | {e.child_table for e in c.edges})
    depth = cat.topo_depth(tables, c.edges)
    return spark.createDataFrame(
        [(t, d) for t, d in depth.items()], "table_name string, depth long"
    )


@query(
    "edge_exclusion_filter",
    f"""
    SELECT parent_t AS parent_table, child_t AS child_table, child_col AS child_column
    FROM {_EDGE_VALUES}
    WHERE NOT (parent_t = 'nation' AND child_t = 'customer')
      AND NOT (parent_t = 'supplier' AND child_t = 'lineitem')
    """,
)
def q_edge_exclusion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 FK-edge exclusion: drop edges named "C.ccol=P.pcol" (both
    orientations accepted), return the surviving edge list."""
    c = cat.tpch_catalog(sf_dir)
    kept = cat.filter_edges(
        c.edges,
        ["customer.c_nationkey=nation.n_nationkey", "supplier.s_suppkey=lineitem.l_suppkey"],
    )
    return spark.createDataFrame(
        [(e.parent_table, e.child_table, e.child_column) for e in kept],
        "parent_table string, child_table string, child_column string",
    )


@query(
    "edges_by_table",
    f"""
    WITH edges AS (SELECT * FROM {_EDGE_VALUES}),
    touches AS (
        SELECT parent_t AS t FROM edges UNION ALL SELECT child_t FROM edges
    )
    SELECT t AS table_name, CAST(count(*) AS BIGINT) AS n_edges
    FROM touches GROUP BY t
    """,
)
def q_edges_by_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 edges grouped by touching table (MultiMap analog) as edge counts."""
    c = cat.tpch_catalog(sf_dir)
    grouped = cat.edges_by_table(c.edges)
    counts = {t: len(es) for t, es in grouped.items()}
    return spark.createDataFrame(
        [(t, n) for t, n in counts.items()], "table_name string, n_edges long"
    )


@query(
    "table_exclusion",
    """
    SELECT t AS table_name FROM (VALUES ('region'),('nation'),('customer'),('supplier'),
        ('part'),('orders'),('lineitem')) AS tabs(t)
    WHERE t NOT IN ('part','supplier')
    """,
)
def q_table_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 table-set exclusion (excluded.dataTables semantics)."""
    tables = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
    kept = cat.exclude_tables(tables, {"part", "supplier"})
    return spark.createDataFrame([(t,) for t in kept], "table_name string")


# ---------------------------------------------------------------------------
# DDL + operation log (SURVEY §2.1 S8-S10, §2.2 K2/K6, §2.4 E1)
# ---------------------------------------------------------------------------


@query(
    "schema_ddl_catalog",
    """
    SELECT table_name, CAST(ordinal_position AS BIGINT) AS ordinal, column_name,
           CASE data_type
                WHEN 'INTEGER' THEN 'int'
                WHEN 'BIGINT' THEN 'bigint'
                WHEN 'DOUBLE' THEN 'double'
                WHEN 'VARCHAR' THEN 'string'
                WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
                ELSE lower(data_type) END AS data_type
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'customer', 'orders', 'lineitem')
    """,
)
def q_schema_ddl_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the column catalog backing DDL generation, as (table, ordinal,
    column, type) rows. The oracle derives the same rows independently from
    its own information_schema over the registered parquet views, with the
    engines' type vocabularies mapped (INTEGER<->int, VARCHAR<->string,
    TIMESTAMP<->timestamp_ntz). The generated CREATE TABLE text itself (S8)
    is covered by pytest + the export_all/oplog roundtrip queries."""
    tables = load_tables(spark, sf_dir, ("region", "nation", "customer", "orders", "lineitem"))
    rows = [
        (name, i + 1, f.name, f.dataType.simpleString())
        for name, df in sorted(tables.items())
        for i, f in enumerate(df.schema.fields)
    ]
    return spark.createDataFrame(
        rows, "table_name string, ordinal bigint, column_name string, data_type string"
    )


_TRIGGER_TAIL_SQL = r'ALTER TRIGGER\s+("?\w+"?\.)?"?\w+"?\s+ENABLE\s*;?\s*$'


@query(
    "ddl_rewrite",
    f"""
    WITH raw(ddl) AS (VALUES
      ('CREATE INDEX "S"."I1" ON "S"."T1"(C1)'),
      ('CREATE OR REPLACE TRIGGER trg BEFORE INSERT ON "S"."T1" BEGIN NULL; END;
ALTER TRIGGER "S"."TRG" ENABLE;'),
      ('CREATE TABLE "S"."T2" ("ID" NUMBER)'),
      ('CREATE TRIGGER t2 ...; ALTER TRIGGER t2 ENABLE; ALTER TRIGGER "S"."T2" ENABLE')
    )
    SELECT rtrim(regexp_replace(rtrim(regexp_replace(rtrim(regexp_replace(
             regexp_replace(ddl, '"S"\\.', '', 'g'),
             '(?i){_TRIGGER_TAIL_SQL}', '')), '(?i){_TRIGGER_TAIL_SQL}', '')),
             '(?i){_TRIGGER_TAIL_SQL}', '')) AS ddl
    FROM raw
    """,
)
def q_ddl_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 data-plane DDL rewrites: strip schema qualifiers, then
    iteratively strip trailing ALTER TRIGGER ... ENABLE statements."""
    from oracle_schema_copy_spark.plans import ddl

    rows = [
        ('CREATE INDEX "S"."I1" ON "S"."T1"(C1)',),
        (
            'CREATE OR REPLACE TRIGGER trg BEFORE INSERT ON "S"."T1" BEGIN NULL; END;\n'
            'ALTER TRIGGER "S"."TRG" ENABLE;',
        ),
        ('CREATE TABLE "S"."T2" ("ID" NUMBER)',),
        ('CREATE TRIGGER t2 ...; ALTER TRIGGER t2 ENABLE; ALTER TRIGGER "S"."T2" ENABLE',),
    ]
    df = spark.createDataFrame(rows, "ddl string")
    from oracle_schema_copy_spark.plans.ddl import drop_schema_name_col, strip_trigger_tail_col

    return df.select(
        strip_trigger_tail_col(drop_schema_name_col(F.col("ddl"), "S")).alias("ddl")
    )


@query(
    "partition_pruned_rollup",
    """
    SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY 1, 2
    """,
)
def q_partition_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partition pruning end-to-end: events written
    partitioned by event_type, read back with a partition-column
    predicate (only the matching DIRECTORIES are planned — see
    tests/test_partitioned.py for the PartitionFilters plan pin and the
    dynamic-overwrite semantics), then an hourly rollup. The oracle runs
    the same rollup on the unpartitioned source — identical rows prove
    the layout round-trips losslessly, including the partition column
    rehydrated from directory names. At 100 TB this layout is what makes
    an event_type- or date-scoped query touch 1/Nth of the store."""
    import shutil

    from oracle_schema_copy_spark.sources import partitioned

    base = scratch_dir("part_events")
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    partitioned.write_partitioned(ev, base, ["event_type"])
    back = partitioned.read_partitioned(spark, base).filter(
        F.col("event_type").isin("click", "error")
    )
    return back.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@query(
    "mor_read_orders",
    """
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0)
    SELECT * FROM orders
    WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT * FROM upd
    """,
    changed_in=16,
)
def q_mor_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read SEQUENCED mutation log (sources/mor.py): base orders
    + delete batch seq=1 (keys %13) + upsert batch seq=2 (%7, doubled
    price) replayed in order at read — the highest-seq mutation per key
    wins (the reference's ordered-replay semantic,
    CopyUtils.java:353-375), so the later upsert is visible where %91
    overlaps the earlier delete. Mutations cost O(|mutation|) writes,
    never a base rewrite; last-writer-wins is one argmax window over the
    log rows only, and the base contributes a broadcast anti-join. The
    oracle is the replay outcome in SQL."""
    import shutil

    from oracle_schema_copy_spark.sources.mor import MergeOnReadTable

    base = scratch_dir("mor_orders")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    t = MergeOnReadTable(spark, base, ["o_orderkey"])
    t.write_base(orders)
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
    )
    return t.read()


@query(
    "mor_time_travel_orders",
    "SELECT * FROM orders WHERE o_orderkey % 13 <> 0",
    changed_in=16,
)
def q_mor_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of the sequenced merge-on-read log: same table
    state as mor_read_orders (delete %13 at seq=1, upsert %7 at seq=2),
    read AS OF seq=1 — the upsert batch is not replayed, so the result is
    exactly base-minus-deletes. Snapshot reads are free on this layout
    (filter the append-only log by seq, nothing rewritten) — the
    Delta/Iceberg VERSION AS OF semantic on plain parquet. The oracle is
    the seq-1 state in SQL."""
    import shutil

    from oracle_schema_copy_spark.sources.mor import MergeOnReadTable

    base = scratch_dir("mor_tt")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    t = MergeOnReadTable(spark, base, ["o_orderkey"])
    t.write_base(orders)
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
    )
    return t.read(as_of_seq=1)


@query(
    "mor_compaction_equivalence",
    """
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0)
    SELECT * FROM orders
    WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT * FROM upd
    """,
    changed_in=16,
)
def q_mor_compaction_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read COMPACTION is invisible to readers: the same
    sequenced mutations as mor_read_orders (delete %13 at seq=1, upsert %7
    at seq=2) are folded into a fresh base by compact(), which replaces
    the base and retires the log in one warehouse commit; the emptied log
    is asserted, and the post-compaction
    read must match the SAME oracle as the merge-on-read path — one gated
    row proving fold-then-scan == merge-on-read. After compaction the plan
    is a single pruned parquet scan (no anti-join, no log window): this is
    the read-amplification bound that keeps the mutation log from growing
    unboundedly at 100 TB."""
    import shutil

    from oracle_schema_copy_spark.sources.mor import MergeOnReadTable

    base = scratch_dir("mor_compact")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    t = MergeOnReadTable(spark, base, ["o_orderkey"])
    t.write_base(orders)
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    )
    t.upsert(
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
    )
    t.compact()
    st = t.stats()
    if st["n_delete_batches"] or st["n_update_batches"]:
        raise RuntimeError(f"compaction left mutation log batches: {st}")
    return t.read()


@query(
    "oplog_roundtrip_orders",
    """
    WITH upserted AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT * FROM upserted WHERE o_orderkey % 13 <> 0
    """,
    changed_in=17,
)
def q_oplog_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2+S10 operation-log round trip: export insert+upsert+delete ops to a
    manifest+parquet log, replay into a fresh warehouse, read the result."""
    import shutil

    from oracle_schema_copy_spark.plans import oplog

    base = scratch_dir("oplog_roundtrip")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    dels = orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    with oplog.OperationLogWriter(f"{base}/log") as log:
        log.insert("orders", orders)
        log.upsert("orders", updates, "o_orderkey")
        log.delete("orders", "o_orderkey", dels)
    wh = oplog.Warehouse(spark, f"{base}/wh")
    oplog.replay(spark, f"{base}/log", wh)
    return wh.read("orders")


@query(
    "oplog_atomic_replay_orders",
    """
    WITH upserted AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT * FROM upserted WHERE o_orderkey % 13 <> 0
    """,
    changed_in=17,
)
def q_oplog_atomic_replay_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional twin of oplog_roundtrip_orders: the same
    insert+upsert+delete log replayed through ``replay_atomic`` — staged
    warehouse, one journal rename, roll-forward recovery — the
    reference's one-JDBC-transaction import semantics
    (``CopyUtils.java:353-375``, commit at ``:367``) on immutable storage.
    Same oracle as the plain replay: transactionality must not change the
    final state, only remove the partially-applied crash window (which
    ``tests/test_oplog.py`` kills a replay mid-log to verify)."""
    import shutil

    from oracle_schema_copy_spark.plans import oplog

    base = scratch_dir("oplog_atomic")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    dels = orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    with oplog.OperationLogWriter(f"{base}/log") as log:
        log.insert("orders", orders)
        log.upsert("orders", updates, "o_orderkey")
        log.delete("orders", "o_orderkey", dels)
    wh = oplog.Warehouse(spark, f"{base}/wh")
    oplog.replay_atomic(spark, f"{base}/log", wh)
    return wh.read("orders")


@query(
    "export_view_opaque_roundtrip",
    """
    SELECT n.n_name AS nation_name, r.r_name AS region_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    changed_in=17,
)
def q_export_view_opaque_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 other-object export: a VIEW definition plus trigger/sequence
    opaque SQL travel through the operation log with the data. Replay
    rebuilds the view over the imported tables (session temp view on the
    Spark target; executable DDL on JDBC); opaque entries are carried but
    skipped by non-JDBC targets. The returned rows are read THROUGH the
    replayed view, so the oracle checks the whole view path."""
    import shutil

    from oracle_schema_copy_spark.plans import oplog

    base = scratch_dir("view_roundtrip")
    shutil.rmtree(base, ignore_errors=True)
    tabs = load_tables(spark, sf_dir, ("region", "nation"))
    view_name = f"nation_regions_{uuid.uuid4().hex[:8]}"
    oplog.export_all(
        dict(tabs),
        f"{base}/log",
        topo_order=["region", "nation"],
        views={
            view_name: (
                "SELECT n.n_name AS nation_name, r.r_name AS region_name "
                "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"
            )
        },
        other_object_sql=[
            "CREATE SEQUENCE nation_seq START WITH 1 INCREMENT BY 1",
            "CREATE OR REPLACE TRIGGER nation_trg BEFORE INSERT ON nation "
            "FOR EACH ROW BEGIN :new.n_nationkey := nation_seq.NEXTVAL; END;",
        ],
    )
    wh = oplog.Warehouse(spark, f"{base}/wh")
    oplog.replay(spark, f"{base}/log", wh)
    return spark.table(view_name)


@query("export_all_roundtrip_nation", "SELECT * FROM nation", changed_in=17)
def q_export_all_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exportAll pipeline: DDL → data in topo order → constraints after
    data; replayed into a fresh warehouse, returning the imported nation."""
    import shutil

    from oracle_schema_copy_spark.plans import oplog

    base = scratch_dir("export_all")
    shutil.rmtree(base, ignore_errors=True)
    tabs = load_tables(spark, sf_dir, ("region", "nation"))
    oplog.export_all(
        dict(tabs),
        f"{base}/log",
        topo_order=["region", "nation"],
        constraint_sql=["ALTER TABLE nation ADD CONSTRAINT nation_fk FOREIGN KEY (n_regionkey) REFERENCES region"],
    )
    wh = oplog.Warehouse(spark, f"{base}/wh")
    oplog.replay(spark, f"{base}/log", wh)
    return wh.read("nation")




@query(
    "snapshot_diff_orders",
    """
    WITH cur AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 89 = 0
    )
    SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN c.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op
    FROM orders b FULL JOIN cur c ON b.o_orderkey = c.o_orderkey
    WHERE b.o_orderkey IS NULL OR c.o_orderkey IS NULL
       OR b.o_custkey       IS DISTINCT FROM c.o_custkey
       OR b.o_orderstatus   IS DISTINCT FROM c.o_orderstatus
       OR b.o_totalprice    IS DISTINCT FROM c.o_totalprice
       OR b.o_orderdate     IS DISTINCT FROM c.o_orderdate
       OR b.o_orderpriority IS DISTINCT FROM c.o_orderpriority
    """,
    changed_in=10,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: which keys changed between two table versions,
    and how (insert/update/delete) — the drift-detection half of the
    reference's copy verification (`CopyUtils` count asserts,
    `CopyUtils.java:907-917`) as a keyed operator. The current snapshot is
    derived in-query (deletes %97, price-doubles %101, re-keyed inserts
    %89) so both engines diff identical inputs."""
    orders = load_table(spark, sf_dir, "orders")
    kept = orders.filter(F.col("o_orderkey") % 97 != 0)
    current = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 89 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1000000000
        )
    )
    return mutate.snapshot_diff(orders, current, "o_orderkey")


def _checksum_cols() -> list[str]:
    return ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _integrity_oracle() -> str:
    from oracle_schema_copy_spark.operators import integrity

    return integrity.bucket_checksums_sql(
        "orders", "o_orderkey", _checksum_cols(), buckets=64
    )


@query("integrity_bucket_checksums", _integrity_oracle())
def q_integrity_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy checksums: 64 (bucket, count, exact
    integer md5-digest sum) rows localize any source/target divergence to
    a 1/64th key range — comparing two 100 TB tables costs one scan each
    and shuffles 64 rows, vs the reference's whole-table count asserts
    (`CopyUtils.java:907-917`). Spark and DuckDB digests come from ONE
    dialect-parameterized SQL generator, so the hash cannot drift."""
    from oracle_schema_copy_spark.operators import integrity

    return integrity.bucket_checksums(
        load_table(spark, sf_dir, "orders"), "o_orderkey", _checksum_cols(), buckets=64
    )


def _zorder_oracle() -> str:
    from oracle_schema_copy_spark.operators import integrity

    z = integrity.zorder_code_sql("l_partkey", "l_suppkey", bits=16, dialect="duckdb")
    return f"""
    SELECT CAST({z} // 65536 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_partkey) AS BIGINT) AS min_p,
           CAST(max(l_partkey) AS BIGINT) AS max_p,
           CAST(min(l_suppkey) AS BIGINT) AS min_s,
           CAST(max(l_suppkey) AS BIGINT) AS max_s
    FROM lineitem
    GROUP BY 1
    """


@query("zorder_locality_profile", _zorder_oracle())
def q_zorder_locality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) interleave of (l_partkey, l_suppkey) bucketed by
    the code's high bits: each bucket's min/max envelope is tight in BOTH
    dimensions — the property that makes range-partitioning by z-code
    (see integrity.cluster_by_zorder) yield data-skipping parquet layouts
    for 2-D predicates. The interleave SQL is emitted per-dialect by one
    generator, so Spark and the oracle compute identical codes."""
    from oracle_schema_copy_spark.operators import integrity

    li = load_table(spark, sf_dir, "lineitem")
    z = integrity.zorder_code("l_partkey", "l_suppkey", bits=16)
    return (
        li.withColumn("__z", z)
        .groupBy(F.expr("__z DIV 65536").cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").cast("long").alias("min_p"),
            F.max("l_partkey").cast("long").alias("max_p"),
            F.min("l_suppkey").cast("long").alias("min_s"),
            F.max("l_suppkey").cast("long").alias("max_s"),
        )
    )


@query(
    "scd2_customer_dimension",
    """
    WITH cur AS (
        SELECT c_custkey, c_name, c_acctbal,
               CAST('1995-01-01' AS DATE) AS valid_from,
               CAST('9999-12-31' AS DATE) AS valid_to
        FROM customer),
    upd AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
                   AS c_acctbal
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_acctbal
        FROM customer WHERE c_custkey % 301 = 0),
    changed AS (
        SELECT c.c_custkey FROM cur c JOIN upd u USING (c_custkey)
        WHERE c.c_name    IS DISTINCT FROM u.c_name
           OR c.c_acctbal IS DISTINCT FROM u.c_acctbal)
    SELECT c.c_custkey, c.c_name, c.c_acctbal, c.valid_from,
           CASE WHEN ch.c_custkey IS NOT NULL THEN CAST('2001-06-01' AS DATE)
                ELSE c.valid_to END AS valid_to
    FROM cur c LEFT JOIN changed ch ON ch.c_custkey = c.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.c_name, u.c_acctbal,
           CAST('2001-06-01' AS DATE), CAST('9999-12-31' AS DATE)
    FROM upd u JOIN changed ch ON ch.c_custkey = u.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.c_name, u.c_acctbal,
           CAST('2001-06-01' AS DATE), CAST('9999-12-31' AS DATE)
    FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM cur)
    """,
    changed_in=11,
)
def q_scd2_customer_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge over the customer dimension:
    changed keys (%11 acctbal bump) get their open version closed at the
    effective date plus a new open version; re-keyed inserts (%301) start
    a first version; everything else passes through. The operator's plan
    joins only the OPEN slice against the updates (closed history never
    shuffles) — the MERGE INTO plan Delta produces for SCD2, minus the
    table-format dependency."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    current = cust.withColumn(
        "valid_from", F.lit("1995-01-01").cast("date")
    ).withColumn("valid_to", F.lit("9999-12-31").cast("date"))
    updates = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 301 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + 1000000
        )
    )
    return mutate.scd2_merge(
        current, updates, "c_custkey", effective_date="2001-06-01"
    )


def _copy_verify_oracle() -> str:
    from oracle_schema_copy_spark.operators import integrity

    cks = integrity.bucket_checksums_sql(
        "orders", "o_orderkey", _checksum_cols(), buckets=64
    )
    return f"""
    WITH a AS ({cks}), b AS ({cks})
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN a.n_rows <> b.n_rows
                           OR a.checksum <> b.checksum THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatched
    FROM a JOIN b USING (bucket)
    """


@query("copy_verify_end_to_end", _copy_verify_oracle(), changed_in=17)
def q_copy_verify_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's mission as one gated row: COPY a table through the
    full operation-log pipeline (export -> manifest+parquet log -> replay
    into a fresh warehouse), then PROVE the copy with merkle bucket
    checksums of source vs replayed target. The oracle states the
    invariant (64 buckets, 0 mismatches — on the SQL side a faithful copy
    IS the identity); any corruption anywhere in the export/replay path
    shows up as a nonzero mismatch count and a red row."""
    import shutil

    from oracle_schema_copy_spark.operators import integrity
    from oracle_schema_copy_spark.plans import oplog

    base = scratch_dir("copy_verify")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    with oplog.OperationLogWriter(f"{base}/log") as log:
        log.insert("orders", orders)
    wh = oplog.Warehouse(spark, f"{base}/wh")
    oplog.replay(spark, f"{base}/log", wh)
    copied = wh.read("orders")
    a = integrity.bucket_checksums(orders, "o_orderkey", _checksum_cols(), buckets=64)
    b = integrity.bucket_checksums(copied, "o_orderkey", _checksum_cols(), buckets=64)
    bb = b.select(
        F.col("bucket"),
        F.col("n_rows").alias("__bn"),
        F.col("checksum").alias("__bc"),
    )
    joined = a.join(bb, "bucket")
    return joined.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when(
                (F.col("n_rows") != F.col("__bn"))
                | (F.col("checksum") != F.col("__bc")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatched"),
    )


# ---------------------------------------------------------------------------
# Declarative constraint validation (generalizes CopyUtils.java:44-46,
# :907-917 count asserts)
# ---------------------------------------------------------------------------


@query(
    "dq_constraint_checks",
    """
    SELECT 'orders_custkey_not_null' AS rule,
           CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orders_status_accepted',
           CAST(count(*) FILTER (o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(count(*) FILTER (o_totalprice IS NOT NULL
                AND (o_totalprice < 0 OR o_totalprice > 1e9)) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk_customer', CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def q_dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: five constraint families
    (not-null / PK-unique / accepted-values / range / referential
    integrity) over orders, each a (rule, n_violations) row. The four
    single-table rules compile into ONE aggregate pass (sibling
    conditional sums + count_distinct — one scan for N rules, where the
    oracle's UNION ALL text implies four); the FK rule is an anti-join
    count against the customer dimension. Generalizes the reference's
    copy count-asserts (`CopyUtils.java:44-46`, `:907-917`) into the
    dbt/Great-Expectations-style contract a 100 TB pipeline gates on."""
    from oracle_schema_copy_spark.operators import constraints as dq

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rules = [
        dq.Rule("orders_custkey_not_null", "not_null", ("o_custkey",)),
        dq.Rule("orders_orderkey_unique", "unique", ("o_orderkey",)),
        dq.Rule(
            "orders_status_accepted",
            "accepted_values",
            ("o_orderstatus",),
            values=("O", "F", "P"),
        ),
        dq.Rule(
            "orders_totalprice_positive",
            "in_range",
            ("o_totalprice",),
            lo=0.0,
            hi=1e9,
        ),
        dq.Rule(
            "orders_custkey_fk_customer",
            "foreign_key",
            ("o_custkey",),
            ref_column="c_custkey",
        ),
    ]
    return dq.validate(orders, rules, dims={"orders_custkey_fk_customer": cust})


@query(
    "oplog_history_source",
    """
    SELECT CAST(0 AS BIGINT) AS seq, 'ddl' AS kind,
           NULL AS table_name, 2 AS n_statements, CAST(0 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, 'insert', 'orders', 0,
           (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 100 = 0)
    UNION ALL
    SELECT 2, 'delete', 'orders', 0,
           (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 500 = 0)
    """,
    changed_in=14,
)
def q_oplog_history_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source (SPARK-44076) surface: the operation
    log read back as a TABLE — ``spark.read.format("oplog_history")`` —
    one row per op with footer-derived payload row counts (O(files), no
    data pages scanned; one InputPartition per op). The oracle states
    the expected history of the deterministic export: any drift in op
    sequencing, payload routing, or the source's stats turns the row
    red. File/byte columns are excluded from the gate — file count
    legitimately follows upstream partitioning."""
    import shutil

    from oracle_schema_copy_spark.plans import oplog
    from oracle_schema_copy_spark.sources import pyds

    base = scratch_dir("oplog_history")
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    with oplog.OperationLogWriter(f"{base}/log") as log:
        log.ddl(["CREATE TABLE t (x INT)", "ALTER TABLE t ADD COLUMN y INT"])
        log.insert("orders", orders.filter(F.col("o_orderkey") % 100 == 0))
        log.delete(
            "orders",
            "o_orderkey",
            orders.filter(F.col("o_orderkey") % 500 == 0).select("o_orderkey"),
        )
    pyds.register(spark)
    return (
        spark.read.format("oplog_history")
        .load(f"{base}/log")
        .select("seq", "kind", "table_name", "n_statements", "n_rows")
    )


# ---------------------------------------------------------------------------
# Dialect matrix (SURVEY §2.2 K6/K4 portability; VERDICT r9 #5)
# ---------------------------------------------------------------------------

_ORDERS_MERGE_SETS = ", ".join(
    f"t.{c} = s.{c}"
    for c in ("O_CUSTKEY", "O_ORDERSTATUS", "O_TOTALPRICE", "O_ORDERDATE", "O_ORDERPRIORITY")
)
_ORDERS_COLS = "O_ORDERKEY, O_CUSTKEY, O_ORDERSTATUS, O_TOTALPRICE, O_ORDERDATE, O_ORDERPRIORITY"
_ORDERS_SVALS = ", ".join(f"s.{c}" for c in _ORDERS_COLS.split(", "))
_ORDERS_EXCL = ", ".join(
    f"{c} = EXCLUDED.{c}"
    for c in ("O_CUSTKEY", "O_ORDERSTATUS", "O_TOTALPRICE", "O_ORDERDATE", "O_ORDERPRIORITY")
)


@query(
    "ddl_dialect_matrix",
    f"""
    SELECT * FROM (VALUES
      ('derby', 'nation', 'create_table',
       'CREATE TABLE NATION (N_NATIONKEY INTEGER NOT NULL, N_NAME VARCHAR(1024), N_REGIONKEY INTEGER, PRIMARY KEY (N_NATIONKEY))'),
      ('oracle', 'nation', 'create_table',
       'CREATE TABLE NATION (N_NATIONKEY NUMBER(10) NOT NULL, N_NAME VARCHAR2(1024 CHAR), N_REGIONKEY NUMBER(10), PRIMARY KEY (N_NATIONKEY))'),
      ('postgres', 'nation', 'create_table',
       'CREATE TABLE NATION (N_NATIONKEY INTEGER NOT NULL, N_NAME VARCHAR(1024), N_REGIONKEY INTEGER, PRIMARY KEY (N_NATIONKEY))'),
      ('derby', 'orders', 'create_table',
       'CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL, O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1024), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(1024), PRIMARY KEY (O_ORDERKEY))'),
      ('oracle', 'orders', 'create_table',
       'CREATE TABLE ORDERS (O_ORDERKEY NUMBER(19) NOT NULL, O_CUSTKEY NUMBER(19), O_ORDERSTATUS VARCHAR2(1024 CHAR), O_TOTALPRICE BINARY_DOUBLE, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR2(1024 CHAR), PRIMARY KEY (O_ORDERKEY))'),
      ('postgres', 'orders', 'create_table',
       'CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL, O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1024), O_TOTALPRICE DOUBLE PRECISION, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(1024), PRIMARY KEY (O_ORDERKEY))'),
      ('derby', 'orders', 'upsert_merge',
       'MERGE INTO ORDERS t USING ORDERS_oscs_upsert_stg s ON (t.O_ORDERKEY = s.O_ORDERKEY) WHEN MATCHED THEN UPDATE SET {_ORDERS_MERGE_SETS} WHEN NOT MATCHED THEN INSERT ({_ORDERS_COLS}) VALUES ({_ORDERS_SVALS})'),
      ('oracle', 'orders', 'upsert_merge',
       'MERGE INTO ORDERS t USING ORDERS_oscs_upsert_stg s ON (t.O_ORDERKEY = s.O_ORDERKEY) WHEN MATCHED THEN UPDATE SET {_ORDERS_MERGE_SETS} WHEN NOT MATCHED THEN INSERT ({_ORDERS_COLS}) VALUES ({_ORDERS_SVALS})'),
      ('postgres', 'orders', 'upsert_merge',
       'INSERT INTO ORDERS ({_ORDERS_COLS}) SELECT {_ORDERS_COLS} FROM ORDERS_oscs_upsert_stg ON CONFLICT (O_ORDERKEY) DO UPDATE SET {_ORDERS_EXCL}')
    ) AS t(dialect, object_name, stmt_kind, sql_text)
    """,
    changed_in=6,
)
def q_ddl_dialect_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6/K4 portability matrix: the dialect-parameterized DDL + upsert
    generators (``sources/dialects.py``, ``sources/jdbc_mutations.py``)
    applied to the live fixture schemas for derby (the dialect proven live
    by the jdbc_* gates), oracle (the reference's target —
    ``CopyUtils.java:939-964`` VARCHAR2/CLOB LOB split, NUMBER widths),
    and postgres. The oracle is the hand-written golden text of each
    statement, so a silent change in any generator diverges here.
    Driver-side generation by design: DDL strings are catalog-scale
    metadata (rows = tables x dialects), never data-plane."""
    from oracle_schema_copy_spark.sources import jdbc_mutations as jm
    from oracle_schema_copy_spark.sources.dialects import get_dialect

    rows = []
    for t, pk in (("nation", "n_nationkey"), ("orders", "o_orderkey")):
        schema = load_table(spark, sf_dir, t).schema
        for d in ("derby", "oracle", "postgres"):
            rows.append(
                (d, t, "create_table",
                 get_dialect(d).create_table_sql(t, schema, primary_key=[pk]))
            )
    ocols = [c.upper() for c in load_table(spark, sf_dir, "orders").columns]
    for d in ("derby", "oracle", "postgres"):
        rows.append(
            (d, "orders", "upsert_merge",
             jm.merge_sql("ORDERS", jm.staging_name("ORDERS", "upsert"),
                          ocols, ["O_ORDERKEY"], dialect=d))
        )
    return spark.createDataFrame(
        rows, "dialect string, object_name string, stmt_kind string, sql_text string"
    )
